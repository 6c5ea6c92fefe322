package graft

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._

/** The streamed alignment gate (`s_mm_alignment_stream`): each document's
  * verdict must be complete within its own micro-batch (stateless decode +
  * static broadcast pair side), so a multi-batch split must equal the
  * batch `x_mm_alignment`, and the end-to-end file-source wrapper must
  * match the batch gate exactly. */
class AlignStreamSpec extends SparkSpec {
  import spark.implicits._

  private def verdicts(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] =
    df.select("doc_id", "align_fp", "is_aligned")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  test("two-batch streamed gate equals the batch gate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tv = ops.Lineage.cut(ops.MultimodalPipeline.textVectors(spark, sf))
    val ids = Tables.documents(spark, sf).select($"doc_id").as[Long].collect().toSeq
    val (c1, c2) = ids.splitAt(ids.size / 2)
    val scratch = ops.SpillMemo.scratchDir("graft-salign-t-")
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("doc_id").writeStream
      .option("checkpointLocation", s"$scratch/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        streaming.UpsertSink.writeBatch(
          ops.MultimodalPipeline.alignmentOf(
            ops.MultimodalPipeline.imageStatsOf(
              ops.MultimodalPipeline.imageRecordsOf(
                b.select(col("doc_id")).as[Long])),
            tv),
          id, s"$scratch/sink")
      }
      .start()
    try {
      in.addData(c1: _*); q.processAllAvailable()
      in.addData(c2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = verdicts(
      streaming.UpsertSink.resolve(spark, s"$scratch/sink", Seq("doc_id")))
    val batch = verdicts(ops.MultimodalPipeline.alignment(spark, sf))
    assert(streamed == batch, "two-batch gate diverged from the batch gate")
    assert(streamed.nonEmpty)
  }

  test("golden: file-source streamed gate equals the batch gate") {
    val streamed = verdicts(SparkEntry.queries("s_mm_alignment_stream")(spark, sf))
    val batch = verdicts(ops.MultimodalPipeline.alignment(spark, sf))
    assert(streamed == batch, "streamed alignment diverged from the batch form")
    assert(streamed.exists(_._3) && streamed.exists(!_._3),
      "the streamed gate must split the population like the batch gate")
  }
}
