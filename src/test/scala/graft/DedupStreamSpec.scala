package graft

import org.apache.spark.sql.{Dataset, Row}

/** The streamed ingest near-dup probe (`s_dedup_lsh_stream`): each arriving
  * doc's verdict must be complete within its own micro-batch (stateless
  * stream-static probe), the multi-batch result must equal the batch
  * `x_dedup_incremental` verdicts under any split of the ingest, and the
  * end-to-end file-source wrapper must match the batch form exactly. */
class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def verdicts(df: org.apache.spark.sql.DataFrame): Set[(Long, Option[Long], Long, Boolean)] =
    df.select("new_id", "dup_of", "n_matches", "is_dup")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), r.getBoolean(3))).toSet

  test("verdicts accumulate across two micro-batches to the batch incremental result") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (corpusSig, corpusBands) = graft.ops.Dedup.corpusSigIndex(spark, sf)
    val ingest = Tables.documents(spark, sf)
      .filter($"doc_id" % graft.ops.Dedup.newMod === graft.ops.Dedup.newRem)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(ingest.size >= 2, "need at least two arriving docs to split")
    val (c1, c2) = ingest.splitAt(ingest.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-sdedup-t-")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(
          graft.ops.Dedup.incrementalProbe(b.toDF(), corpusSig, corpusBands),
          id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      // mid-stream: chunk-1 docs already carry their final verdicts
      val mid = verdicts(graft.streaming.UpsertSink
        .resolve(spark, s"$sink/sink", Seq("new_id")))
      val midExpected = verdicts(graft.ops.Dedup.incrementalProbe(
        c1.toDF("doc_id", "text"), corpusSig, corpusBands))
      assert(mid == midExpected, "first-batch verdicts must cover chunk 1 exactly")
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = verdicts(graft.streaming.UpsertSink
      .resolve(spark, s"$sink/sink", Seq("new_id")))
    val batch = verdicts(graft.ops.Dedup.incremental(spark, sf))
    assert(streamed == batch, "two-batch verdicts diverged from the batch incremental form")
    assert(streamed.nonEmpty)
  }

  test("golden: file-source streamed dedup equals the batch incremental verdicts") {
    val streamed = verdicts(
      SparkEntry.queries("s_dedup_lsh_stream")(spark, sf))
    val batch = verdicts(graft.ops.Dedup.incremental(spark, sf))
    assert(streamed == batch, "streamed ingest dedup diverged from the batch form")
    assert(streamed.nonEmpty)
    // the fixture must actually exercise both verdict kinds
    assert(streamed.exists(_._4), "expected at least one near-dup at ingest")
    assert(streamed.exists(!_._4), "expected at least one admitted doc")
  }
}
