package graft

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._

/** The maintained KMV sketches (`s_kmv_overlap_stream`): the standing
  * overlap table must equal the batch form, and the set-semantics
  * bottom-k must be idempotent under duplicate delivery — the property
  * that lets the raw event feed stream in with no dedup state. */
class KmvOverlapStreamSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet

  test("golden: file-source maintained sketches equal the batch overlap") {
    val streamed = rows(
      SparkEntry.queries("s_kmv_overlap_stream")(spark, sf))
    val batch = rows(graft.ops.Sketches.kmvOverlap(spark, sf))
    assert(streamed == batch, "maintained overlap diverged from the batch form")
  }

  test("duplicate delivery is idempotent: re-sent users never displace sketch slots") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val k = 8
    val agg = graft.functions.TopK.cut(k,
      graft.functions.TopKOrder.keyedId, graft.functions.TopKOrder.wholeRecord)
    val sink = ops.SpillMemo.scratchDir("graft-skmv-t-")
    val in = MemoryStream[(String, Long)]
    val q = in.toDF().toDF("event_type", "uid")
      .select(col("event_type"),
        substring(md5(col("uid").cast("string")), 1, 12).as("h"),
        col("uid").as("id"))
      .groupBy(col("event_type"))
      .agg(agg(col("h"), col("id")).as("bot"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch((b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(b, id, s"$sink/sink"))
      .start()
    val users = (1L to 30L).map(u => ("click", u))
    try {
      in.addData(users: _*)
      q.processAllAvailable()
      in.addData(users.take(20): _*) // second delivery of a prefix
      q.processAllAvailable()
    } finally q.stop()
    val got = graft.streaming.UpsertSink.resolve(spark, s"$sink/sink", Seq("event_type"))
      .select(explode(col("bot")).as("t")).select(col("t.id")).as[Long].collect().toSet
    val want = (1L to 30L)
      .sortBy(u => org.apache.commons.codec.digest.DigestUtils.md5Hex(u.toString).take(12))
      .take(k).toSet
    assert(got == want,
      s"sketch after duplicate delivery must be the k smallest DISTINCT hashes (got $got, want $want)")
  }
}
