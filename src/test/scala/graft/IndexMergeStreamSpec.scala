package graft

import graft.streaming.{IngestStream, UpsertSink}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** The streamed index maintenance (`s_index_merge_stream`): per-batch TF
  * deltas must fold with the stored base state to the full-corpus rebuild
  * under any batching, and the per-batch overwrite must make replay a
  * no-op. */
class IndexMergeStreamSpec extends SparkSpec {
  import spark.implicits._

  private def postings(df: DataFrame): Set[(String, Long, Long)] =
    df.select("token", "doc_id", "imp_m")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("golden: file-source streamed index merge equals the full rebuild") {
    val streamed = postings(SparkEntry.queries("s_index_merge_stream")(spark, sf))
    val full = postings(graft.ops.Search
      .bm25IndexDocs(Tables.documents(spark, sf)).postings)
    assert(streamed == full, "streamed index diverged from the full rebuild")
    assert(streamed.nonEmpty)
  }

  test("stop mid-ingest + restart from checkpoint converges to the full rebuild") {
    val scratch = graft.ops.SpillMemo.scratchDir("graft-simerge-r-")
    val src = s"$scratch/src"
    val mod = graft.ops.Similarity.knnBatchMod
    val docs = Tables.documents(spark, sf)
    val arriving = docs.filter($"doc_id" % mod === 7).select("doc_id", "text")
    // arrivals are doc_id % 10 == 7, so % 20 splits them into {7} and {17}
    arriving.filter($"doc_id" % 20 === 7).coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src).writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          UpsertSink.writeBatch(IngestStream.tfState(b), id, s"$scratch/sink")
        }
        .start()
      q.awaitTermination()
    }
    run()
    val baseTf = IngestStream.tfState(docs.filter($"doc_id" % mod =!= 7))
    def folded(nd: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      postings(graft.ops.Search.indexFromState(
        baseTf.unionAll(UpsertSink.readAll(spark, s"$scratch/sink")), nd).postings)
    val half = docs.filter($"doc_id" % mod =!= 7 || $"doc_id" % 20 === 7)
    assert(folded(half.agg(count(lit(1)).as("n_docs"))) ==
      postings(graft.ops.Search.bm25IndexDocs(half).postings),
      "run 1 must index base + early arrivals exactly")
    arriving.filter($"doc_id" % 20 =!= 7).coalesce(1).write.mode("append").parquet(src)
    run()
    assert(folded(docs.agg(count(lit(1)).as("n_docs"))) ==
      postings(graft.ops.Search.bm25IndexDocs(docs).postings),
      "restart from checkpoint diverged from the full rebuild")
  }

  test("two-batch delivery folds to the full rebuild; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mod = graft.ops.Similarity.knnBatchMod
    val docs = Tables.documents(spark, sf)
    val arriving = docs.filter($"doc_id" % mod === 7)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(arriving.size >= 2, "need at least two arriving docs to split")
    val (c1, c2) = arriving.splitAt(arriving.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-simerge-t-")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        UpsertSink.writeBatch(IngestStream.tfState(b), id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val baseTf = IngestStream.tfState(docs.filter($"doc_id" % mod =!= 7))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    def folded: Set[(String, Long, Long)] = postings(graft.ops.Search
      .indexFromState(
        baseTf.unionAll(UpsertSink.readAll(spark, s"$sink/sink")), nd)
      .postings)
    val full = postings(graft.ops.Search.bm25IndexDocs(docs).postings)
    assert(folded == full, "two-batch fold diverged from the full rebuild")
    // replay batch 0 (same deterministic content): resolved state unchanged
    UpsertSink.writeBatch(
      IngestStream.tfState(c1.toDF("doc_id", "text")), 0L, s"$sink/sink")
    assert(folded == full, "batch replay changed the merged index")
  }
}
