package graft

import org.apache.spark.sql.{Dataset, Row}

/** The streamed DSIR admission (`s_dsir_stream`): stateless scoring
  * against standing weights + the mergeable top-quota trim ⇒ the
  * multi-batch result must equal the batch `x_sample_dsir_in` under any
  * split of the arrivals, and the end-to-end file-source wrapper must
  * match the batch form exactly. */
class DsirStreamSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Long)] =
    df.select("doc_id", "lang", "n_tokens", "score_mb")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("admissions accumulate across two micro-batches to the batch set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val weights = graft.ops.Lineage.cut(graft.ops.Sampling.dsirWeights(
      Tables.documents(spark, sf).filter(
        $"doc_id" % graft.ops.Dedup.newMod =!= graft.ops.Dedup.newRem)))
    val arriving = Tables.documents(spark, sf)
      .filter($"doc_id" % graft.ops.Dedup.newMod === graft.ops.Dedup.newRem)
      .select("doc_id", "lang", "text").as[(Long, String, String)].collect().toSeq
    assert(arriving.size >= 2)
    val (c1, c2) = arriving.splitAt(arriving.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-sdsir-t-")
    val in = MemoryStream[(Long, String, String)]
    val q = in.toDF().toDF("doc_id", "lang", "text").writeStream
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(
          graft.ops.Sampling.dsirTrim(
            graft.ops.Sampling.dsirScore(b.toDF(), weights)),
          id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = rows(graft.ops.Sampling.dsirTrim(
      graft.streaming.UpsertSink.resolve(spark, s"$sink/sink", Seq("doc_id"))))
    val batch = rows(graft.ops.Sampling.dsirIngest(spark, sf))
    assert(streamed == batch, "two-batch admissions diverged from the batch set")
    assert(streamed.nonEmpty)
  }

  test("stop mid-ingest + restart from checkpoint converges to the batch set") {
    // Restart golden across the TRIM's merge law: run 1 drains half the
    // arrivals and its per-batch trim may already evict; the rest land while
    // the query is down. The restarted query (SAME checkpoint) scores only
    // the new file against the standing weights, and the resolve-side
    // re-trim over both deltas must equal the one-shot batch admission set —
    // top-q(A ∪ B) = top-q(top-q(A) ∪ top-q(B)) holding across a restart.
    val scratch = graft.ops.SpillMemo.scratchDir("graft-sdsir-r-")
    val src = s"$scratch/src"
    val weights = graft.ops.Lineage.cut(graft.ops.Sampling.dsirWeights(
      Tables.documents(spark, sf).filter(
        $"doc_id" % graft.ops.Dedup.newMod =!= graft.ops.Dedup.newRem)))
    val arriving = Tables.documents(spark, sf)
      .filter($"doc_id" % graft.ops.Dedup.newMod === graft.ops.Dedup.newRem)
      .select("doc_id", "lang", "text")
    arriving.filter($"doc_id" % 20 === 7).coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src).writeStream
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          graft.streaming.UpsertSink.writeBatch(
            graft.ops.Sampling.dsirTrim(
              graft.ops.Sampling.dsirScore(b.toDF(), weights)),
            id, s"$scratch/sink")
        }
        .start()
      q.awaitTermination()
    }
    run() // drains the first half, stops
    val firstHalf = rows(graft.ops.Sampling.dsirTrim(
      graft.streaming.UpsertSink.resolve(spark, s"$scratch/sink", Seq("doc_id"))))
    assert(firstHalf.nonEmpty, "first run must have admitted early arrivals")
    arriving.filter($"doc_id" % 20 =!= 7).coalesce(1).write.mode("append").parquet(src)
    run() // restart: same checkpoint, only the new file is scored
    val streamed = rows(graft.ops.Sampling.dsirTrim(
      graft.streaming.UpsertSink.resolve(spark, s"$scratch/sink", Seq("doc_id"))))
    val batch = rows(graft.ops.Sampling.dsirIngest(spark, sf))
    assert(streamed == batch,
      "restart from checkpoint diverged from the one-shot batch admission set")
    assert(streamed.nonEmpty)
  }

  test("golden: file-source streamed DSIR equals the batch admission set") {
    val streamed = rows(SparkEntry.queries("s_dsir_stream")(spark, sf))
    val batch = rows(graft.ops.Sampling.dsirIngest(spark, sf))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    assert(streamed.forall(_._1 % 10 == 7), "only arrivals belong in the admission set")
  }
}
