package graft

import org.apache.spark.sql.{Dataset, Row}

/** The streamed quality gate (`s_model_gate_stream`): the census must
  * ACCUMULATE across micro-batches (update-mode aggregation + keyed
  * upsert), equal the batch rollup under any batching, and the end-to-end
  * file-source wrapper must match the batch census exactly. */
class GateStreamSpec extends SparkSpec {
  import spark.implicits._

  private def census(df: org.apache.spark.sql.DataFrame): Set[(String, Boolean, Long, Long)] =
    df.select("lang", "is_admit", "n_docs", "score_m_sum")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2), r.getLong(3))).toSet

  test("census accumulates across two micro-batches to the batch rollup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().toSeq
    assert(docs.size >= 2, "need at least two docs to split")
    val (c1, c2) = docs.splitAt(docs.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-sgate-t-")
    val in = MemoryStream[(Long, String, String)]
    val q = graft.ops.TextAnalysis
      .gateRollup(in.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(b, id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      // mid-stream: the census covers exactly the first chunk
      val mid = census(graft.streaming.UpsertSink
        .resolve(spark, s"$sink/sink", Seq("lang", "is_admit")))
      val midExpected = census(graft.ops.TextAnalysis.gateRollup(
        c1.toDF("doc_id", "lang", "text")))
      assert(mid == midExpected, "first-batch census must cover chunk 1 exactly")
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // end state: totals ACCUMULATED across batches equal the full batch rollup
    val streamed = census(graft.streaming.UpsertSink
      .resolve(spark, s"$sink/sink", Seq("lang", "is_admit")))
    val batch = census(graft.ops.TextAnalysis.gateRollup(
      Tables.documents(spark, sf).select("doc_id", "lang", "text")))
    assert(streamed == batch, "two-batch census diverged from the batch rollup")
    assert(streamed.nonEmpty)
  }

  test("golden: file-source streamed gate equals the batch census") {
    graft.functions.GraftFunctions.register(spark)
    val streamed = census(SparkEntry.queries("s_model_gate_stream")(spark, sf))
    val batch = census(graft.ops.TextAnalysis.gateRollup(
      Tables.documents(spark, sf).select("doc_id", "lang", "text")))
    assert(streamed == batch, "streamed gate census diverged from the batch rollup")
    assert(streamed.nonEmpty)
  }
}
