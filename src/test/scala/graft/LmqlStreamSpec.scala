package graft

import org.apache.spark.sql.{Dataset, Row}

/** The streamed ingest Dirichlet-LM search (`s_lmql_stream`): stateless
  * stream-static search ⇒ the multi-batch result must equal the batch
  * `x_search_lmql_in` under any split of the arrivals, the end-to-end
  * file-source wrapper must match the batch form exactly, and a restart
  * from checkpoint with arrivals in the gap must converge to it. */
class LmqlStreamSpec extends SparkSpec {
  import spark.implicits._

  private def answers(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.select("query_id", "neighbor_id", "score_fp", "n_terms", "rnk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  test("LM answers accumulate across two micro-batches to the batch form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = graft.ops.Search.lmIngestIndex(spark, sf)
    val arriving = Tables.documents(spark, sf)
      .filter($"doc_id" % graft.ops.Similarity.knnBatchMod === 7)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(arriving.size >= 2, "need at least two arriving docs to split")
    val (c1, c2) = arriving.splitAt(arriving.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-slmql-t-")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(
          graft.ops.Search.lmqlProbe(b.toDF(), idx), id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = answers(graft.streaming.UpsertSink
      .resolve(spark, s"$sink/sink", Seq("query_id", "rnk")))
    val batch = answers(graft.ops.Search.lmqlIngestTopK(spark, sf))
    assert(streamed == batch, "two-batch answers diverged from the batch form")
    assert(streamed.nonEmpty)
    // ingest serving never retrieves other arrivals: the index excludes them
    assert(streamed.forall { case (_, n, _, _, _) =>
      n % graft.ops.Similarity.knnBatchMod != 7 })
  }

  test("golden: file-source streamed LM search equals the batch form") {
    val streamed = answers(SparkEntry.queries("s_lmql_stream")(spark, sf))
    val batch = answers(graft.ops.Search.lmqlIngestTopK(spark, sf))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stop mid-ingest + restart from checkpoint converges to the batch form") {
    val scratch = graft.ops.SpillMemo.scratchDir("graft-slmql-r-")
    val src = s"$scratch/src"
    val idx = graft.ops.Search.lmIngestIndex(spark, sf)
    val arriving = Tables.documents(spark, sf)
      .filter($"doc_id" % graft.ops.Similarity.knnBatchMod === 7)
      .select("doc_id", "text")
    arriving.filter($"doc_id" % 20 === 7).coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src).writeStream
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          graft.streaming.UpsertSink.writeBatch(
            graft.ops.Search.lmqlProbe(b.toDF(), idx), id, s"$scratch/sink")
        }
        .start()
      q.awaitTermination()
    }
    run() // drains the first half, stops
    val firstHalf = answers(graft.streaming.UpsertSink
      .resolve(spark, s"$scratch/sink", Seq("query_id", "rnk")))
    assert(firstHalf.nonEmpty, "first run must have served the early arrivals")
    arriving.filter($"doc_id" % 20 =!= 7).coalesce(1).write.mode("append").parquet(src)
    run() // restart: same checkpoint, only the new file is probed
    val streamed = answers(graft.streaming.UpsertSink
      .resolve(spark, s"$scratch/sink", Seq("query_id", "rnk")))
    val batch = answers(graft.ops.Search.lmqlIngestTopK(spark, sf))
    assert(streamed == batch,
      "restart from checkpoint diverged from the one-shot batch form")
    assert(firstHalf.subsetOf(streamed), "run-1 answers must persist unchanged")
    assert(streamed.size > firstHalf.size, "run 2 must have served the late arrivals")
  }
}
