package graft

import org.apache.spark.sql.{Dataset, Row}

/** The streamed MaxSim serving (`s_maxsim_stream`): stateless two-stage
  * stream-static retrieval ⇒ the multi-batch result must equal the batch
  * `x_search_maxsim_in` under any split of the arrivals, and the
  * file-source wrapper must match the batch form exactly — candidates
  * and doc tokens only from the standing corpus. */
class MaxsimStreamSpec extends SparkSpec {
  import spark.implicits._

  private def answers(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.select("query_id", "neighbor_id", "bm25_rnk", "maxsim_score", "mrnk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  test("answers accumulate across two micro-batches to the batch rerank") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (idx, fwd) = graft.ops.Search.rm3IngestIndex(spark, sf)
    val arriving = Tables.documents(spark, sf)
      .filter($"doc_id" % graft.ops.Similarity.knnBatchMod === 7)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(arriving.size >= 2)
    val (c1, c2) = arriving.splitAt(arriving.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-smaxsim-t-")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(
          graft.ops.Search.maxsimProbe(b.toDF(), idx, fwd), id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = answers(graft.streaming.UpsertSink
      .resolve(spark, s"$sink/sink", Seq("query_id", "mrnk")))
    val batch = answers(graft.ops.Search.maxsimIngest(spark, sf))
    assert(streamed == batch, "two-batch answers diverged from the batch rerank")
    assert(streamed.nonEmpty)
  }

  test("stop mid-ingest + restart from checkpoint converges to the batch rerank") {
    // the SearchStreamSpec/Rm3StreamSpec restart golden applied to the
    // two-stage probe: arrivals land in the gap; the restarted query (SAME
    // checkpoint) recalls and reranks only the new file, and the resolved
    // sink must equal the one-shot batch rerank
    val scratch = graft.ops.SpillMemo.scratchDir("graft-smaxsim-r-")
    val src = s"$scratch/src"
    val (idx, fwd) = graft.ops.Search.rm3IngestIndex(spark, sf)
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
            graft.ops.Search.maxsimProbe(b.toDF(), idx, fwd), id, s"$scratch/sink")
        }
        .start()
      q.awaitTermination()
    }
    run()
    val firstHalf = answers(graft.streaming.UpsertSink
      .resolve(spark, s"$scratch/sink", Seq("query_id", "mrnk")))
    assert(firstHalf.nonEmpty, "first run must have served the early arrivals")
    arriving.filter($"doc_id" % 20 =!= 7).coalesce(1).write.mode("append").parquet(src)
    run()
    val streamed = answers(graft.streaming.UpsertSink
      .resolve(spark, s"$scratch/sink", Seq("query_id", "mrnk")))
    val batch = answers(graft.ops.Search.maxsimIngest(spark, sf))
    assert(streamed == batch,
      "restart from checkpoint diverged from the one-shot batch rerank")
    assert(firstHalf.subsetOf(streamed), "run-1 answers must persist unchanged")
    assert(streamed.size > firstHalf.size, "run 2 must have served the late arrivals")
  }

  test("golden: file-source streamed MaxSim equals the batch rerank") {
    val streamed = answers(SparkEntry.queries("s_maxsim_stream")(spark, sf))
    val batch = answers(graft.ops.Search.maxsimIngest(spark, sf))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    assert(streamed.forall(_._2 % 10 != 7),
      "an arriving doc surfaced as a neighbor — the standing index must exclude arrivals")
  }
}
