package graft.tools

import graft.ops.{ChunkRouter, IndexStore, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EPOCH CLOSE for the maintained quantizers — the write half of the
  * versioned mergeable-state contract ([[graft.ops.IndexStore]]), for
  * BOTH learned-cell families:
  *
  *  - `quantizer_state` — the embedding-space quantizer
  *    ([[graft.ops.Similarity.standingQuantizerState]], L2 assignment);
  *  - `chunk_router_state` — the dense chunk rung's spherical-cell
  *    router ([[graft.ops.ChunkRouter]], cosine assignment).
  *
  * A close folds the corpus dir's arriving split into the store's LATEST
  * epoch (the mini-batch (Σ, n) merge — exactly the corresponding
  * `*Update` query's arithmetic) and APPENDS the result as epoch e+1.
  * Serving flips to the new epoch on its next read with no conf change;
  * every prior epoch stays readable for audit/rollback. This is the
  * maintenance job a deployment schedules at window close — promote only
  * after reading the route-churn gate (`x_quantizer_route_churn` /
  * `x_chunk_router_churn`, the migration cost) against the drift readout
  * (the faithfulness gain).
  *
  * IDEMPOTENCY (ADVICE r17): an epoch close folds ONE arrival window,
  * and the window here is the sfDir's static arriving split — running
  * the same close twice would fold the same arrivals into two epochs,
  * double-counting (Σ, n). The store's `CLOSES.json` ledger records
  * every (relation, source) fold; a repeat close is a loud NO-OP that
  * returns the current epoch unchanged.
  *
  * ORACLE CAVEAT (documented contract): the DuckDB oracles derive
  * epoch-0 state from the corpus — a store whose maintenance promoted
  * epochs ≥ 1 intentionally serves DIFFERENT (fresher) state than the
  * oracles pin. Oracle checks therefore run against un-closed stores
  * (the driver's Verify configures no store at all); epoch-swap serving
  * semantics are spec-pinned instead (`QuantizerSpec`,
  * `RouterEpochSpec`).
  *
  * Usage: `runMain graft.tools.QuantizerClose <sfDir> <storeDir>` —
  * closes every maintained state the store carries (built by
  * [[IndexBuild]]). */
object QuantizerClose {

  // ---- the close ledger --------------------------------------------

  private def hfs(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def ledgerPath(storeDir: String) =
    new org.apache.hadoop.fs.Path(s"$storeDir/CLOSES.json")

  private def ledgerText(s: SparkSession, storeDir: String): String = {
    val p = ledgerPath(storeDir)
    val f = hfs(s, p)
    if (!f.exists(p)) ""
    else {
      val in = f.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
  }

  private def entryOf(relation: String, source: String): String =
    s"""{"relation": "$relation", "source": "$source"}"""

  private def recordClose(s: SparkSession, storeDir: String,
      relation: String, source: String): Unit = {
    val text = ledgerText(s, storeDir) + entryOf(relation, source) + "\n"
    val p = ledgerPath(storeDir)
    val out = hfs(s, p).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  // ---- the shared fold ----------------------------------------------

  /** Fold one relation's arriving deltas into its latest epoch and append
    * epoch e+1 — or no-op if this (relation, source) window was already
    * folded. `deltasOf` receives the latest epoch's state rows and
    * returns per-(cluster, dim) (q_suma, na) arrival deltas. */
  private def closeState(s: SparkSession, storeDir: String, relation: String,
      source: String, deltasOf: DataFrame => DataFrame): (Long, Boolean) = {
    val path = s"$storeDir/$relation"
    val all = s.read.parquet(path)
    val latest = all.agg(max(col("epoch"))).head.getLong(0)
    if (ledgerText(s, storeDir).contains(entryOf(relation, source))) {
      println(s"[quantizer-close] $relation: window '$source' already " +
        s"folded — no-op at epoch $latest")
      return (latest, false)
    }
    val st = all.filter(col("epoch") === latest)
      .select(col("cluster"), col("dim"), col("q_sum0"), col("n0"), col("c0"))
    // next epoch's state IN STATE FORM (merged sums/counts + recomputed
    // floored means) — what the next close folds into
    val next = st.join(deltasOf(st), Seq("cluster", "dim"), "left")
      .na.fill(0L, Seq("q_suma", "na"))
      .select(col("cluster"), col("dim"),
        (col("q_sum0") + col("q_suma")).as("q_sum0"),
        (col("n0") + col("na")).as("n0"))
      .withColumn("c0", expr("CAST(floor(CAST(q_sum0 AS DOUBLE) / n0) AS BIGINT)"))
      .withColumn("epoch", lit(latest + 1))
    next.write.mode("append").parquet(path)
    recordClose(s, storeDir, relation, source)
    (latest + 1, true)
  }

  /** Close the embedding-space quantizer (what `QuantizerSpec` drives):
    * fold `sfDir`'s arrivals into `storeDir`'s latest epoch and append
    * epoch+1. Returns the served epoch (new, or current on a no-op). */
  def close(s: SparkSession, sfDir: String, storeDir: String): Long =
    closeState(s, storeDir, IndexStore.quantizerState, sfDir, st =>
      Similarity.quantizerDeltasOf(
        Similarity.arrivingQuantized(s, sfDir),
        Similarity.quantizerCentroidPanel(st)))._1

  /** Close the dense chunk rung's cell router — same fold, spherical
    * assignment (what `RouterEpochSpec` drives). A promote also REWRITES
    * the store's routed relation (`chunk_routed`) under the new epoch's
    * panel when the store carries it — the inverted-list rewrite whose
    * off-diagonal cost `x_chunk_router_churn` prices; serving reads the
    * fresh lists with no plan change. */
  def closeChunkRouter(s: SparkSession, sfDir: String, storeDir: String): Long = {
    val (e, closed) = closeState(s, storeDir, IndexStore.chunkRouterState, sfDir, st =>
      ChunkRouter.deltasOf(
        ChunkRouter.arrivingQuantized(s, sfDir),
        ChunkRouter.panelOf(st)))
    val routedPath = new org.apache.hadoop.fs.Path(
      s"$storeDir/${IndexStore.chunkRouted}")
    if (closed && hfs(s, routedPath).exists(routedPath)) {
      val all = s.read.parquet(s"$storeDir/${IndexStore.chunkRouterState}")
      val st = all.filter(col("epoch") === e)
        .select(col("cluster"), col("dim"), col("q_sum0"), col("n0"), col("c0"))
      val tmp = graft.ops.SpillMemo.scratchDir("graft-routed-rewrite-")
      ChunkRouter.routedOf(graft.ops.Search.chunkVectors(s, sfDir),
        ChunkRouter.panelOf(st))
        .write.mode("overwrite").parquet(tmp)
      // stage through scratch: the rewrite reads chunk_vectors, never the
      // relation it replaces, but a direct overwrite would still race a
      // concurrent reader — write-then-swap is the cheap safe order
      s.read.parquet(tmp).write.mode("overwrite").parquet(routedPath.toString)
    }
    e
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: runMain graft.tools.QuantizerClose <sfDir> <storeDir>")
    val spark = graft.GraftSession.local()
    try {
      val e = close(spark, args(0), args(1))
      println(s"[quantizer-close] quantizer_state at epoch $e in ${args(1)}")
      val rp = new org.apache.hadoop.fs.Path(
        s"${args(1)}/${IndexStore.chunkRouterState}")
      if (hfs(spark, rp).exists(rp)) {
        val er = closeChunkRouter(spark, args(0), args(1))
        println(s"[quantizer-close] chunk_router_state at epoch $er in ${args(1)}")
      }
    } finally spark.stop()
  }
}
