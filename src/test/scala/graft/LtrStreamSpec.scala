package graft

import org.apache.spark.sql.{Dataset, Row}

/** The streamed ingest feature logger (`s_ltr_stream`): stateless
  * stream-static ⇒ the multi-batch feature log must equal the batch
  * `x_search_ltr_in` under any split of the arrivals, and the end-to-end
  * file-source wrapper must match the batch form exactly — the
  * training/serving-skew guard pinned. */
class LtrStreamSpec extends SparkSpec {
  import spark.implicits._

  private def feats(df: org.apache.spark.sql.DataFrame): Set[Seq[Long]] =
    df.select("query_id", "neighbor_id", "rnk", "score_m", "n_terms",
      "lm_fp", "lm_terms", "dl", "n_q", "rel")
      .collect().map(r => (0 until 10).map(r.getLong)).toSet

  test("feature rows accumulate across two micro-batches to the batch form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bmIdx = graft.ops.Search.ingestIndex(spark, sf)
    val lmIdx = graft.ops.Search.lmIngestIndex(spark, sf)
    val meta = graft.ops.Lineage.cut(Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"source"))
    val arriving = Tables.documents(spark, sf)
      .filter($"doc_id" % graft.ops.Similarity.knnBatchMod === 7)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(arriving.size >= 2)
    val (c1, c2) = arriving.splitAt(arriving.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-sltr-t-")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(
          graft.ops.Search.ltrFeaturesOn(b.toDF(), bmIdx, lmIdx, meta),
          id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = feats(graft.streaming.UpsertSink
      .resolve(spark, s"$sink/sink", Seq("query_id", "neighbor_id")))
    val batch = feats(graft.ops.Search.ltrIngestFeatures(spark, sf))
    assert(streamed == batch, "two-batch feature log diverged from the batch form")
    assert(streamed.nonEmpty)
    // no arrival ever appears as a candidate: the indexes exclude them
    assert(streamed.forall(r => r(1) % graft.ops.Similarity.knnBatchMod != 7))
  }

  test("golden: file-source streamed feature log equals the batch form") {
    val streamed = feats(SparkEntry.queries("s_ltr_stream")(spark, sf))
    val batch = feats(graft.ops.Search.ltrIngestFeatures(spark, sf))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
