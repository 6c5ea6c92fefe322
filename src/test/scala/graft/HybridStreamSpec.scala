package graft

import org.apache.spark.sql.{Dataset, Row}

/** The streamed hybrid ingest search (`s_hybrid_stream`): stateless
  * stream-static fusion ⇒ the multi-batch result must equal the batch
  * `x_search_hybrid_in` under any split of the arrivals, the end-to-end
  * file-source wrapper must match the batch form, and the embedding
  * lookup must gate service (an arrival without a stored vector is not
  * answered). */
class HybridStreamSpec extends SparkSpec {
  import spark.implicits._

  private def answers(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.select("query_id", "neighbor_id", "rrf", "n_legs", "rnk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  test("answers accumulate across two micro-batches to the batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (idx, c, emb) = graft.ops.Search.hybridIngestIndex(spark, sf)
    val arriving = Tables.documents(spark, sf)
      .filter($"doc_id" % graft.ops.Similarity.knnBatchMod === 7)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(arriving.size >= 2, "need at least two arriving docs to split")
    val (c1, c2) = arriving.splitAt(arriving.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-shybrid-t-")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(
          graft.ops.Search.hybridProbe(b.toDF(), idx, c, emb), id, s"$sink/sink")
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
    val batch = answers(graft.ops.Search.hybridIngest(spark, sf))
    assert(streamed == batch, "two-batch answers diverged from the batch search")
    assert(streamed.nonEmpty)
  }

  test("golden: file-source streamed hybrid equals the batch search") {
    val streamed = answers(SparkEntry.queries("s_hybrid_stream")(spark, sf))
    val batch = answers(graft.ops.Search.hybridIngest(spark, sf))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("checkpoint replay: re-writing the last delta over its own output is a no-op") {
    // The recovery situation for a foreachBatch sink: after a crash between
    // the delta write and the commit-log append, the restarted query
    // re-invokes foreachBatch with the SAME batch id. The probe is
    // stream-static stateless, so the recomputed delta is identical and the
    // id-keyed overwrite must leave the resolved table unmoved — the
    // GraphInsertStreamSpec precedent, applied to the serving tier.
    val (idx, c, emb) = graft.ops.Search.hybridIngestIndex(spark, sf)
    val arriving = Tables.documents(spark, sf)
      .filter($"doc_id" % graft.ops.Similarity.knnBatchMod === 7)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val (c1, c2) = arriving.splitAt(arriving.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-shybrid-rp-") + "/sink"
    def delta(rows: Seq[(Long, String)]) = graft.ops.Search.hybridProbe(
      spark.createDataset(rows).toDF("doc_id", "text"), idx, c, emb)
    graft.streaming.UpsertSink.writeBatch(delta(c1), 0, sink)
    graft.streaming.UpsertSink.writeBatch(delta(c2), 1, sink)
    val before = answers(graft.streaming.UpsertSink
      .resolve(spark, sink, Seq("query_id", "rnk")))
    assert(before == answers(graft.ops.Search.hybridIngest(spark, sf)))
    graft.streaming.UpsertSink.writeBatch(delta(c2), 1, sink) // the replay
    val after = answers(graft.streaming.UpsertSink
      .resolve(spark, sink, Seq("query_id", "rnk")))
    assert(after == before, "replaying a delta over its own output moved the answers")
    assert(after.nonEmpty)
  }

  test("the embedding lookup gates service; legs fuse within bounds") {
    val out = graft.ops.Search.hybridIngest(spark, sf).collect()
    assert(out.nonEmpty)
    val vecIds = Tables.embeddings(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    out.foreach { r =>
      assert(r.getLong(0) % 10 == 7, "non-arriving query id")
      assert(vecIds.contains(r.getLong(0)),
        "served a query with no stored embedding — the lookup must gate")
      assert(r.getLong(3) == 1L || r.getLong(3) == 2L)
    }
  }
}
