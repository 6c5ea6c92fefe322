package graft

import org.apache.spark.sql.functions._

/** Maintained quantizer (r16 verdict #6): the mini-batch centroid update
  * must be the exact M-step over standing ∪ assigned arrivals (merge ≡
  * recompute), untouched cells must pass through unchanged, the drift
  * readout must recompose from the update rows, and the streamed
  * maintenance must equal the batch fold (mergeable state ⇒
  * batching-invariant). */
class QuantizerSpec extends SparkSpec {

  test("quantizer update: merge equals a from-scratch M-step over standing + assigned arrivals") {
    val upd = ops.Similarity.quantizerUpdate(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(upd.nonEmpty)
    // every arrival landed in exactly one cell: Σ (n1 − n0) over one dim
    // equals the arriving split's size
    val arrivals = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % ops.Similarity.knnBatchMod === 7).count()
    val dim0 = upd.filter(_._1._2 == 0L).values
    assert(dim0.map(d => d._2 - d._1).sum == arrivals,
      "membership deltas must account for every arrival exactly once")
    upd.foreach { case ((cl, dim), (n0, n1, c0, c1)) =>
      assert(n0 > 0 && n1 >= n0, s"cell ($cl, $dim) counts broken")
      if (n1 == n0) assert(c1 == c0,
        s"cell ($cl, $dim) had no arrivals but its centroid moved")
    }
    // drift readout recomposes from the update rows
    val drift = ops.Similarity.quantizerDrift(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    drift.foreach { case (cl, (nStand, nArr, d2)) =>
      val cells = upd.filter(_._1._1 == cl)
      assert(nStand == cells.values.map(_._1).max)
      assert(nArr == cells.values.map(v => v._2 - v._1).max)
      assert(d2 == cells.values.map(v => (v._4 - v._3) * (v._4 - v._3)).sum,
        s"cluster $cl drift2 must be the sum of its per-dim squared moves")
    }
  }

  test("route churn: a complete partition of the corpus, cells in range") {
    val m = ops.Similarity.quantizerRouteChurn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m.nonEmpty)
    val total = Tables.embeddings(spark, sf).count()
    assert(m.values.sum == total,
      "every vector must appear exactly once in the migration matrix")
    m.keys.foreach { case (o, n) =>
      assert(o >= 0 && o < 8 && n >= 0 && n < 8, s"cell ids out of range: ($o, $n)")
    }
    // the swap must not reroute everything: the diagonal carries mass
    assert(m.collect { case ((o, n), c) if o == n => c }.sum > 0,
      "zero diagonal mass — epoch-1 routing shares nothing with epoch-0")
  }

  test("quantizer store versioning: serving reads the LATEST epoch") {
    val store = ops.SpillMemo.scratchDir("graft-qver-")
    tools.IndexBuild.buildTo(spark, sf, store)
    // a maintenance close appends the next epoch's state; serving must
    // flip to it without a conf change
    ops.Similarity.standingQuantizerStateDerive(spark, sf)
      .withColumn("epoch", lit(1L)).withColumn("c0", col("c0") + 1)
      .write.mode("append").parquet(s"$store/${ops.IndexStore.quantizerState}")
    spark.conf.set(ops.IndexStore.indexDirConf, store)
    try {
      val served = ops.Similarity.standingQuantizerState(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
      val epoch0 = ops.Similarity.standingQuantizerStateDerive(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
      assert(served.keySet == epoch0.keySet)
      served.foreach { case (k, c) =>
        assert(c == epoch0(k) + 1, s"cell $k served a stale epoch") }
    } finally spark.conf.unset(ops.IndexStore.indexDirConf)
  }

  test("streamed quantizer maintenance equals the batch update") {
    val batch = ops.Similarity.quantizerUpdate(spark, sf).collect()
      .map(_.toSeq).toSet
    val streamed = SparkEntry.queries("s_quantizer_stream")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      "maintained state diverged from the batch fold — the monoid law broke")
    assert(streamed.nonEmpty)
  }

  test("quantizer stream under a TWO-BATCH split folds to the batch update (monoid)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.{Dataset, Row}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val st = ops.Lineage.cut(ops.Similarity.standingQuantizerState(spark, sf))
    val cents = ops.Lineage.cut(ops.Similarity.quantizerCentroidPanel(st))
    val arriving = ops.Similarity.arrivingQuantized(spark, sf)
      .as[(Long, Seq[Long])].collect().toSeq
    assert(arriving.size >= 2)
    val (b1, b2) = arriving.splitAt(arriving.size / 2)
    val sink = ops.SpillMemo.scratchDir("graft-squant-t-")
    val in = MemoryStream[(Long, Seq[Long])]
    val q = ops.Similarity
      .quantizerDeltasOf(in.toDF().toDF("vec_id", "q"), cents)
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        streaming.UpsertSink.writeBatch(b, id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = ops.Similarity.quantizerMergeOf(st,
      streaming.UpsertSink.resolve(spark, s"$sink/sink", Seq("cluster", "dim"))
        .select($"cluster", $"dim", $"q_suma", $"na"))
      .collect().map(_.toSeq).toSet
    val batch = ops.Similarity.quantizerUpdate(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(streamed == batch,
      "two-batch maintained state diverged from the batch fold")
    assert(streamed.nonEmpty)
  }

  test("epoch close appends the batch update as the next epoch; serving flips to it") {
    val upd = ops.Similarity.quantizerUpdate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getLong(5))).toMap
    val store = ops.SpillMemo.scratchDir("graft-qclose-")
    tools.IndexBuild.buildTo(spark, sf, store)
    val e = tools.QuantizerClose.close(spark, sf, store)
    assert(e == 1L, "first close must append epoch 1")
    spark.conf.set(ops.IndexStore.indexDirConf, store)
    try {
      val served = ops.Similarity.standingQuantizerState(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getLong(4))).toMap
      assert(served.keySet == upd.keySet)
      served.foreach { case (k, nc) =>
        assert(nc == upd(k),
          s"cell $k: served epoch-1 (n, c) $nc != batch update ${upd(k)}")
      }
    } finally spark.conf.unset(ops.IndexStore.indexDirConf)
  }
}
