package graft

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._

/** The streamed bottom-k sample (`s_sample_stream`): the standing sample
  * must equal the batch KMV sample under any batching of the source — the
  * bottom-k merge law made a test — and membership must be stable when
  * more data arrives (rows only leave when displaced by smaller hashes). */
class SampleStreamSpec extends SparkSpec {
  import spark.implicits._

  private def sample(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "h").as[(Long, String)].collect().sortBy(_._2).toSeq

  test("two-batch delivery equals the batch bottom-k sample") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val k = ops.Sampling.bottomK
    val docs = Tables.documents(spark, sf)
      .select("doc_id").as[Long].collect().toSeq
    assert(docs.size > k, "need more docs than k for the trim to matter")
    val (c1, c2) = docs.splitAt(docs.size / 3)
    val sink = ops.SpillMemo.scratchDir("graft-ssample-t-")
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("doc_id")
      .select($"doc_id", md5($"doc_id".cast("string")).as("h"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(
          b.orderBy($"h", $"doc_id").limit(k), id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = sample(graft.streaming.UpsertSink
      .resolve(spark, s"$sink/sink", Seq("doc_id"))
      .orderBy($"h", $"doc_id").limit(k))
    val batch = sample(ops.Sampling.bottomkSample(spark, sf))
    assert(streamed == batch, "two-batch KMV sample diverged from the batch form")
    assert(streamed.size == k)
  }

  test("golden: file-source streamed sample equals the batch sample") {
    val streamed = sample(SparkEntry.queries("s_sample_stream")(spark, sf))
    val batch = sample(ops.Sampling.bottomkSample(spark, sf))
    assert(streamed == batch, "streamed sample diverged from the batch form")
  }

  test("membership is monotone under growth: adding data only displaces, never reshuffles") {
    val k = ops.Sampling.bottomK
    val docs = Tables.documents(spark, sf)
    val half = docs.filter($"doc_id" % 2 === 0)
    def bk(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", md5($"doc_id".cast("string")).as("h"))
        .orderBy($"h", $"doc_id").limit(k)
        .select("doc_id").as[Long].collect().toSet
    val small = bk(half)
    val full = bk(docs)
    // every full-corpus sample member that exists in the half corpus must
    // already have been in the half-corpus sample (its hash rank only improves)
    val halfIds = half.select("doc_id").as[Long].collect().toSet
    assert(full.intersect(halfIds).subsetOf(small),
      "a surviving row was absent from the smaller corpus's sample")
  }
}
