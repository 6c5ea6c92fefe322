package graft

import org.apache.spark.sql.{Dataset, Row}

/** The streamed RM3 ingest search (`s_rm3_stream`): stateless two-round
  * stream-static search ⇒ the multi-batch result must equal the batch
  * `x_search_rm3_in` under any split of the arrivals, and the
  * file-source wrapper must match the batch form exactly — including
  * that feedback comes only from the standing corpus (an arrival's own
  * batch never feeds its expansion). */
class Rm3StreamSpec extends SparkSpec {
  import spark.implicits._

  private def answers(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.select("query_id", "neighbor_id", "score_m", "n_terms", "rnk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  test("answers accumulate across two micro-batches to the batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (idx, fwd) = graft.ops.Search.rm3IngestIndex(spark, sf)
    val arriving = Tables.documents(spark, sf)
      .filter($"doc_id" % graft.ops.Similarity.knnBatchMod === 7)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(arriving.size >= 2)
    val (c1, c2) = arriving.splitAt(arriving.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-srm3-t-")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(
          graft.ops.Search.rm3Probe(b.toDF(), idx, fwd), id, s"$sink/sink")
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
    val batch = answers(graft.ops.Search.rm3IngestSearch(spark, sf))
    assert(streamed == batch, "two-batch answers diverged from the batch search")
    assert(streamed.nonEmpty)
  }

  test("stop mid-ingest + restart from checkpoint converges to the batch search") {
    // The SearchStreamSpec restart golden applied to the two-round probe:
    // half the arrivals exist when the first run drains; the rest land while
    // the query is down. The restarted query (SAME checkpoint) must expand
    // and probe only the new file — feedback still from the standing corpus
    // only — and the resolved sink must equal the one-shot batch RM3.
    val scratch = graft.ops.SpillMemo.scratchDir("graft-srm3-r-")
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
            graft.ops.Search.rm3Probe(b.toDF(), idx, fwd), id, s"$scratch/sink")
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
    val batch = answers(graft.ops.Search.rm3IngestSearch(spark, sf))
    assert(streamed == batch,
      "restart from checkpoint diverged from the one-shot batch RM3")
    assert(firstHalf.subsetOf(streamed), "run-1 answers must persist unchanged")
    assert(streamed.size > firstHalf.size, "run 2 must have served the late arrivals")
  }

  test("golden: file-source streamed RM3 equals the batch search") {
    val streamed = answers(SparkEntry.queries("s_rm3_stream")(spark, sf))
    val batch = answers(graft.ops.Search.rm3IngestSearch(spark, sf))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    assert(streamed.forall(_._2 % 10 != 7),
      "an arriving doc surfaced as a neighbor — the standing index must exclude arrivals")
  }
}
