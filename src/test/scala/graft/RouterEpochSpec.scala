package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dense chunk rung's ROUTER EPOCH SWAP (r17 verdict #2): serving
  * under the seed (trained epoch-0) panel and under a
  * [[graft.tools.QuantizerClose]]-promoted epoch must differ ONLY in the
  * routing data — (a) the physical plan shape is unchanged, (b) recall
  * against the brute rung is non-degraded, (c) the promote decision is
  * readable from the route-churn gate before the close, and (d) a repeat
  * close of the same window is a no-op (the CLOSES.json ledger —
  * ADVICE r17). */
class RouterEpochSpec extends SparkSpec {

  private def planShape(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case n => n.nodeName }

  private def meanRecallBp(): Double = {
    val r = ops.Search.chunkDenseRecall(spark, sf).collect()
    assert(r.nonEmpty)
    r.map(_.getLong(4)).sum.toDouble / r.length
  }

  test("router tunables: defaults pin the oracle constants; conf override retrains at the asked k") {
    // defaults = the constants the DuckDB oracle unrolls (conf unset)
    assert(ops.ChunkRouter.cellsOf(spark) == 64)
    // override: training seeds (and therefore cells) follow the conf —
    // the k ≈ √n growth path a deployment takes without an engine edit.
    // stateDerive (not standingState) on purpose: the session memo must
    // not be poisoned with non-default-k state for the other suites.
    spark.conf.set("spark.graft.chunkRouterCells", "16")
    try {
      val cells = ops.ChunkRouter.stateDerive(spark, ops.Search.chunkVectors(spark, sf))
        .select(col("cluster")).distinct().collect().map(_.getLong(0))
      assert(cells.length > 1 && cells.length <= 16,
        s"expected 2..16 live cells at k=16, got ${cells.length}")
      assert(cells.forall(c => c >= 0 && c < 16))
    } finally spark.conf.unset("spark.graft.chunkRouterCells")
  }

  test("bounded-sample training: the persisted state still counts every standing vector") {
    // force the sampled path (stride > 1) on the fixture: the Lloyd loop
    // runs on a vec_id-strided subset, but the state's (Σ, n) must
    // describe the FULL standing corpus — the epoch-close merge folds
    // arrival counts into corpus counts, not sample counts
    val standing = ops.ChunkRouter.quantizedOf(
      ops.Search.standingChunkVectors(spark, sf)).count()
    spark.conf.set("spark.graft.chunkRouterTrainCap", (standing / 4).toString)
    try {
      val st = ops.ChunkRouter.stateDerive(spark, ops.Search.chunkVectors(spark, sf))
      val counted = st.filter(col("dim") === 0L)
        .agg(sum(col("n0"))).head.getLong(0)
      assert(counted == standing,
        s"sampled training must still state all $standing standing vectors, got $counted")
      val live = st.select(col("cluster")).distinct().count()
      assert(live > 1, "sampled training collapsed to a single cell")
    } finally spark.conf.unset("spark.graft.chunkRouterTrainCap")
  }

  test("recall query stride: each surviving query's row is identical to its full-panel twin") {
    val full = ops.Search.chunkDenseRecall(spark, sf).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    spark.conf.set("spark.graft.recallQueryStride", "3")
    try {
      val strided = ops.Search.chunkDenseRecall(spark, sf).collect()
      assert(strided.nonEmpty && strided.length < full.size,
        s"stride 3 should subsample the ${full.size}-query panel, got ${strided.length}")
      strided.foreach { r =>
        assert(full(r.getLong(0)) == r.toSeq,
          s"strided row for query ${r.getLong(0)} differs from the full panel's")
      }
    } finally spark.conf.unset("spark.graft.recallQueryStride")
  }

  test("native cell_route equals the interpreted probe's top-1 on every corpus chunk") {
    import org.apache.spark.sql.functions.{broadcast, col, expr}
    graft.functions.GraftFunctions.register(spark)
    val panel = ops.ChunkRouter.servingPanel(spark, sf)
    val q = "transform(cvec, x -> CAST(x AS BIGINT))"
    val diverged = ops.Search.chunkVectors(spark, sf)
      .crossJoin(broadcast(panel))
      .withColumn("native",
        expr(s"cell_route($q, cents, ${ops.ChunkRouter.skeyScale}L)"))
      .withColumn("interp",
        expr(s"element_at(${ops.ChunkRouter.probeSql(q, 1)}, 1)"))
      .filter(col("native") =!= col("interp"))
      .count()
    assert(diverged == 0L,
      s"native kernel and interpreted probe disagree on $diverged chunks")
  }

  test("epoch swap: same plan shape, non-degraded recall, readable churn gate, idempotent close") {
    // a PARTIAL store carrying only the router state (partial stores are
    // legal — every other relation falls back to its session derivation)
    val store = ops.SpillMemo.scratchDir("graft-routerepoch-")
    ops.ChunkRouter.stateDerive(spark, ops.Search.chunkVectors(spark, sf))
      .write.mode("overwrite")
      .parquet(s"$store/${ops.IndexStore.chunkRouterState}")

    // the promote gate, read BEFORE the close (the deployment order):
    // the migration matrix partitions the chunk corpus exactly once and
    // carries diagonal (stay-put) mass — the promote-is-cheap signal
    val churn = ops.ChunkRouter.routerChurn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nChunks = ops.Search.chunkVectors(spark, sf).count()
    assert(churn.values.sum == nChunks,
      "every chunk must appear exactly once in the migration matrix")
    val stay = churn.collect { case ((o, n), c) if o == n => c }.sum
    assert(stay > 0, "zero diagonal mass — the promoted epoch shares no routing")

    spark.conf.set(ops.IndexStore.indexDirConf, store)
    try {
      // epoch 0 (the seed epoch): plan fingerprint + recall
      val ann0 = ops.Search.chunkDenseBucketTopK(spark, sf)
      val shape0 = planShape(ann0)
      val rows0 = ann0.collect()
      assert(rows0.nonEmpty)
      val recall0 = meanRecallBp()

      // promote: fold the arriving window, append epoch 1
      val e1 = tools.QuantizerClose.closeChunkRouter(spark, sf, store)
      assert(e1 == 1L, "first close must append epoch 1")
      val served = spark.read.parquet(s"$store/${ops.IndexStore.chunkRouterState}")
        .agg(max(col("epoch"))).head.getLong(0)
      assert(served == 1L)

      // epoch 1: SAME plan shape, answers may re-route, recall holds
      val ann1 = ops.Search.chunkDenseBucketTopK(spark, sf)
      assert(planShape(ann1) == shape0,
        "the epoch swap must not change the serving plan's shape")
      assert(ann1.collect().nonEmpty)
      val recall1 = meanRecallBp()
      assert(recall1 >= recall0 - 500.0,
        s"promoted epoch degraded recall: $recall1 bp vs $recall0 bp at epoch 0")

      // idempotency: re-closing the SAME window is a loud no-op — the
      // epoch stays 1 and the state rows do not double-count
      val n1 = spark.read.parquet(s"$store/${ops.IndexStore.chunkRouterState}")
        .count()
      val eAgain = tools.QuantizerClose.closeChunkRouter(spark, sf, store)
      assert(eAgain == 1L, "repeat close must no-op at the current epoch")
      assert(spark.read.parquet(s"$store/${ops.IndexStore.chunkRouterState}")
        .count() == n1, "repeat close must not append rows")
    } finally spark.conf.unset(ops.IndexStore.indexDirConf)
  }
}
