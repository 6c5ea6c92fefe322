package graft

import graft.ops.{Dedup, Sampling}
import graft.streaming.UpsertSink
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** The streamed leak-proof split gate (`s_split_gate_stream`): the resolved
  * assignment table must equal the batch `x_split_leakproof_in` under any
  * batching of the arriving slice. */
class SplitGateStreamSpec extends SparkSpec {
  import spark.implicits._

  private def table(df: DataFrame): Set[(Long, Boolean, Long, String)] =
    df.select("doc_id", "inherited", "split_key", "split")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        r.getString(3))).toSet

  test("golden: file-source split gate equals the batch ingest assignment") {
    val streamed = table(SparkEntry.queries("s_split_gate_stream")(spark, sf))
    val batch = table(Sampling.splitLeakproofIngest(spark, sf))
    assert(streamed == batch, "streamed split gate diverged from the batch form")
    assert(streamed.nonEmpty)
  }

  test("two-batch delivery lands the same assignments") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val isNew = $"doc_id" % Dedup.newMod === Dedup.newRem
    val arriving = Tables.documents(spark, sf).filter(isNew)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(arriving.size >= 2)
    val (c1, c2) = arriving.splitAt(arriving.size / 2)
    val (corpusSig, corpusBands) = Dedup.corpusSigIndex(spark, sf)
    val labels = Dedup.standingComponentLabels(spark, sf)
    val sink = graft.ops.SpillMemo.scratchDir("graft-ssplit-t-")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        UpsertSink.writeBatch(
          Sampling.splitLeakproofProbe(b.toDF(), corpusSig, corpusBands, labels),
          id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = table(
      UpsertSink.resolve(spark, s"$sink/sink", Seq("doc_id")))
    val batch = table(Sampling.splitLeakproofIngest(spark, sf))
    assert(streamed == batch, "two-batch split gate diverged from the batch form")
  }
}
