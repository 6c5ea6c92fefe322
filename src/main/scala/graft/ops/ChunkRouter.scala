package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DATA-ADAPTIVE router for the dense chunk rung (r17 verdict #1).
  *
  * The dense half of the RAG serving index ([[Search.chunkVectors]])
  * needs a coarse router so a query rescoreds only a pruned slice of the
  * chunk corpus. The first cut was a static sign router (one bit per
  * dimension); measured on this corpus it degenerates — 2 of 256 sign
  * buckets held 75% of the chunks, so the "pruned" rung still rescored
  * ~75% of the corpus and its ×10 scale ratio ran at 40× (BASELINE.md
  * round 17). A fixed hyperplane cannot split whatever distribution the
  * data happens to have; the router must LEARN the partition.
  *
  * This object is that router: k SPHERICAL k-means cells (Dhillon &
  * Modha, Mach. Learn. 42, 2001 — cosine-metric Lloyd, the IVF coarse
  * quantizer a production ANN index trains) over the STANDING chunk
  * vectors, maintained exactly like the embedding-space quantizer tier
  * ([[Similarity.standingQuantizerState]]): the trained state is the
  * mergeable per-(cell, dim) (Σ, n, floored-mean) form, persisted
  * EPOCH-VERSIONED in the [[IndexStore]] (`chunk_router_state`) so a
  * maintenance close ([[graft.tools.QuantizerClose]]) folds an arrival
  * window in (Sculley, WWW'10 mini-batch update) and appends epoch e+1;
  * serving flips to the new epoch on its next read with no plan change.
  *
  * Why SPHERICAL (assignment by max cosine, not min L2): the rung's
  * rescoring metric is cosine, and these chunk vectors carry a strong
  * magnitude component (length of the chunk) that L2 cells would split
  * on — measured at sf0.01, L2 cells at equal fan-out price 58% recall
  * where spherical cells price 94% (= the sign router) while rescoring
  * 25% of what the sign router rescored. Assignment order is the exact
  * integer fixed-point skey of [[Similarity]]'s kNN chain —
  * sign(dot) · (dot² · [[skeyScale]] / nc) with nc the centroid's squared
  * norm — so both engines rank cells bit-identically; the M-step mean
  * keeps magnitude but cosine assignment is scale-invariant, so only the
  * mean DIRECTION matters, which is the spherical-k-means centroid.
  *
  * Arithmetic bounds (exactness contract): a chunk is ≤ 32 tokens and
  * each token contributes ascii(md5-hex-char) − 80 ∈ [−32, 22] per dim,
  * so |coordinate| ≤ ~1024 corpus-independently, dot ≤ 8·1024² ≈ 8.4e6,
  * and dot²·10⁴ ≤ 7e17 < 2⁶³ — the skey never overflows, at any corpus
  * size, because the bound rides the CHUNK length, not the corpus.
  *
  * Tunables, like [[Similarity.defaultKClusters]], are constants both
  * engines interpolate — retuning is one edit: [[cells]] must GROW with
  * the corpus (k ≈ √n keeps per-cell volume flat, SCALE.md §kmeans; at
  * 100 TB the training pass also moves to a bounded sample of the
  * standing corpus, which changes the learned panel but not one line of
  * the serving plan). Training runs ONCE per corpus snapshot —
  * `graft.tools.IndexBuild` persists epoch 0; a storeless session
  * memoizes the spilled state ([[SpillMemo]]).
  */
object ChunkRouter {

  /** Cell count k. Fixture-sized (√n for the ×10 sweep's ~10⁵ chunks);
    * grows ≈ √n_chunks at scale — see the object scaladoc. */
  private[graft] val cells = 64

  /** Cells each query probes (multi-probe fan-out): candidate volume and
    * cost scale linearly with it, recall monotonically recovers toward
    * brute force. 12/64 rescored ~21-25% of brute's candidates at recall
    * ≥ the sign router's on both fixture scales (BASELINE.md round 18). */
  private[graft] val probeCells = 12

  /** Conf override for the cell count — how a deployment GROWS the
    * router with its corpus without an engine edit (the k ≈ √n rule the
    * object scaladoc states). Every engine path except the [[routerCtes]]
    * oracle text is k-agnostic already (the panel is DATA — [[probeSql]]
    * sorts whatever cells it carries), so only seeding reads it. The
    * DuckDB oracles unroll training at the DEFAULT: oracle-checked runs
    * leave the conf unset, exactly the un-closed-store caveat's shape
    * ([[graft.tools.QuantizerClose]]). The probe fan-out is the constant
    * [[probeCells]]. */
  private[graft] def cellsOf(s: SparkSession): Int =
    s.conf.getOption("spark.graft.chunkRouterCells").map(_.toInt).getOrElse(cells)

  /** Training-sample cap — the object scaladoc's "at 100 TB the training
    * pass moves to a bounded sample" made real. A standing corpus at or
    * under the cap trains EXACTLY as before (the oracle-pinned path —
    * every driver fixture and the ×10 sweep corpus sit under the
    * default); above it, the Lloyd loop runs on a deterministic
    * `vec_id % stride` sample of ≤ cap vectors and ONE full-corpus
    * E+M pass under the sample-trained panel produces the state, so the
    * persisted (Σ, n) still describes every standing vector (the
    * epoch-close merge arithmetic requires corpus counts, not sample
    * counts). Training cost becomes O(cap·k·rounds) + one linear route
    * pass — the route pass is the same O(n·k) the build's `chunk_routed`
    * stage already pays, so sampling caps the SUPERLINEAR term. */
  private[graft] val trainCap = 250000L
  private[graft] def trainCapOf(s: SparkSession): Long =
    s.conf.getOption("spark.graft.chunkRouterTrainCap").map(_.toLong).getOrElse(trainCap)

  /** Lloyd iteration cap — the oracle unrolls exactly this many rounds;
    * the engine may stop earlier on convergence (a converged assignment
    * is a fixpoint, so the extra unrolled rounds are the identity —
    * [[Similarity.kmeansMaxRounds]]'s contract). */
  private[graft] val maxRounds = 15

  /** Fixed-point scale of the cosine² assignment key. */
  private[graft] val skeyScale = 10000L

  // ------------------------------------------------------------------
  // shared assignment texts (engine side)
  // ------------------------------------------------------------------

  /** Per-cell (skey, cluster) structs of a BIGINT-array column `q`
    * against the broadcast `cents` panel. The dot product is computed
    * ONCE per cell in an inner `transform` and the skey derives from the
    * bound `e.d` — higher-order lambdas evaluate interpreted (outside
    * whole-stage codegen), so a skey text that textually inlined the dot
    * would re-run the k·d fold three times per cell (measured: 3.7 s for
    * the full-corpus route at sf0.1 in that form; ~3× cheaper bound).
    * skey = sign(dot) · (dot² · scale div nc): dot² is non-negative, so
    * Spark's truncating `div` and DuckDB's flooring `//` agree. */
  private def skeysSql(q: String): String =
    s"""transform(
       |  transform(cents, ct -> named_struct(
       |    'd', aggregate(zip_with($q, ct.cv, (a, b) -> a * b), 0L, (s2, v) -> s2 + v),
       |    'nc', ct.nc, 'c', ct.cluster)),
       |  e -> named_struct(
       |    's', (CASE WHEN e.d >= 0L THEN 1L ELSE -1L END)
       |         * ((e.d * e.d * ${skeyScale}L) div e.nc),
       |    'c', e.c))""".stripMargin

  /** The [[probeCells]] nearest cells of a query vector, in-row: sort the
    * per-cell structs by (−skey, cluster) and slice — the multi-probe
    * fan-out, an array of cell ids to explode. */
  private[graft] def probeSql(q: String, p: Int = probeCells): String =
    s"""transform(slice(array_sort(
       |  transform(${skeysSql(q)}, e -> named_struct('ns', -e.s, 'c', e.c))),
       |  1, $p), e -> e.c)""".stripMargin

  // ------------------------------------------------------------------
  // state, panel, training
  // ------------------------------------------------------------------

  /** µ-quantized view of a chunk-vector relation: (vec_id, q BIGINT
    * array). The cvec coordinates are exact-integer doubles (sums of
    * centered md5-ascii codes — [[Search.hashVecOf]]), so the cast is
    * exact. */
  private[graft] def quantizedOf(cv: DataFrame): DataFrame =
    cv.select(col("chunk_key").as("vec_id"),
      expr("transform(cvec, x -> CAST(x AS BIGINT))").as("q"))

  /** The broadcastable one-row centroid panel of a router state: per cell
    * its dim-sorted centroid vector and squared norm (≥1 — a zero
    * centroid must not divide the skey by zero), cell-sorted so the
    * in-row fold's strict `>` tie-breaks to the lowest cell id. */
  private[graft] def panelOf(state: DataFrame): DataFrame =
    state.groupBy(col("cluster"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c0))), s -> s.c0)").as("cv"))
      .withColumn("nc",
        expr("greatest(aggregate(transform(cv, x -> x * x), 0L, (a, v) -> a + v), 1L)"))
      .groupBy()
      .agg(expr("array_sort(collect_list(struct(cluster, cv, nc)))").as("cents"))

  /** One-row panel for the CURRENT serving epoch, lineage-cut — what
    * every probe broadcasts at query start. */
  private[graft] def servingPanel(s: SparkSession, d: String): DataFrame =
    Lineage.cut(panelOf(standingState(s, d)))

  /** Map-side cell assignment of any relation: broadcast the one-row
    * panel, route each row's `qCol` vector with the NATIVE
    * [[graft.functions.CellRoute]] kernel. Three formulations were
    * measured before landing here (BASELINE.md round 18): the
    * interpreted higher-order fold paid closure dispatch per cell per
    * row (~25 s to route the ×10 corpus); splicing the panel as plan
    * LITERALS was row-fast but recompiled a k·d-literal tree per plan
    * (~2 s per Lloyd round, ~190 s for the chained churn query). The
    * kernel keeps the panel as broadcast DATA — stable expression tree
    * (compiled once, codegen-cached) AND a fused Java loop per row. */
  private def withCell(df: DataFrame, qCol: String, panel: DataFrame,
      outCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.crossJoin(broadcast(panel))
      .withColumn(outCol, expr(s"cell_route($qCol, cents, ${skeyScale}L)"))
      .drop("cents")
  }

  /** Assignment of a quantized (vec_id, q) relation against a panel:
    * (vec_id, cluster). */
  private[graft] def assignOf(vecs: DataFrame, panel: DataFrame): DataFrame =
    withCell(vecs, "q", panel, "cluster").select(col("vec_id"), col("cluster"))

  /** M-step in MERGEABLE state form over an assignment: per (cell, dim)
    * the member coordinate sum, member count, and floored mean — the
    * exact shape [[Similarity.quantizerMergeOf]] folds arrival deltas
    * into at epoch close. */
  private def stateOf(vecs: DataFrame, assign: DataFrame): DataFrame =
    vecs.join(assign.select(col("vec_id"), col("cluster")), "vec_id")
      .select(col("cluster"), posexplode(col("q")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim").cast("long").as("dim"))
      .agg(sum(col("x")).as("q_sum0"), count(lit(1)).as("n0"))
      .withColumn("c0", expr("CAST(floor(CAST(q_sum0 AS DOUBLE) / n0) AS BIGINT)"))

  /** Deterministic Forgy seeding: k ACTUAL standing vectors, strided by
    * id rank. Seeding matters here — the quantizer tier's modular
    * (`id % k`) seed CELLS average to k near-identical centroids, and
    * Lloyd from near-identical centroids collapses (measured: 4 of 64
    * cells alive at sf0.01, pruning nothing); seeding from k distinct
    * DATA POINTS keeps every cell anchored somewhere real (64/64 alive,
    * same measurement). The rank window is train-time-only and runs over
    * (id, 8 longs) rows; at 100 TB training reads a bounded sample. */
  private def seedsOf(st: DataFrame, n: Long, k: Int): DataFrame = {
    val stride = math.max(n / k, 1L)
    st.withColumn("rn", row_number().over(Window.orderBy(col("vec_id"))))
      .filter(expr(s"(rn - 1) % $stride = 0 AND (rn - 1) div $stride < $k"))
      .select(expr(s"(rn - 1) div $stride").as("cluster"),
        posexplode(col("q")).as(Seq("dim", "x")))
      .select(col("cluster"), col("dim").cast("long").as("dim"), col("x").as("c0"))
  }

  /** The trained epoch-0 state: spherical Lloyd to convergence (or the
    * [[maxRounds]] cap) over the STANDING slice of the chunk-vector
    * relation `cv` ([[Search.chunkVectors]], or the store's copy while a
    * store is being built), then the final assignment's mergeable M-step. Convergence = assignment unchanged —
    * a fixpoint (same assignment ⇒ same centroids ⇒ same assignment), so
    * the oracle's fixed [[maxRounds]] unroll agrees whenever the engine
    * stops early ([[Similarity.kmeansConverged]]'s contract). Each round
    * is one fused job: the new assignment's cut materializes inside the
    * convergence count ([[Lineage.cutFused]]). */
  private[graft] def stateDerive(s: SparkSession, cv: DataFrame): DataFrame = {
    val st = Lineage.cut(quantizedOf(Search.standingOf(cv)))
    val n = st.count()
    // bounded-sample training (see [[trainCap]]): stride 1 — every
    // oracle fixture — is byte-identical to the unsampled derivation
    val cap = math.max(trainCapOf(s), 1L)
    val stride = (n + cap - 1L) / cap
    val tr = if (stride > 1L) Lineage.cut(st.filter(col("vec_id") % stride === 0L)) else st
    val nt = if (stride > 1L) tr.count() else n
    var assign = Lineage.cut(assignOf(tr, Lineage.cut(panelOf(seedsOf(tr, nt, cellsOf(s))))))
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < maxRounds) {
      rounds += 1
      val p = Lineage.cut(panelOf(stateOf(tr, assign)))
      val next = Lineage.cutFused(
        assignOf(tr, p)
          .join(assign.withColumnRenamed("cluster", "prev"), "vec_id"))
      changed = next.filter(col("cluster") =!= col("prev")).count()
      assign = next.select(col("vec_id"), col("cluster"))
    }
    val full =
      if (stride > 1L) assignOf(st, Lineage.cut(panelOf(stateOf(tr, assign))))
      else assign
    stateOf(st, full).withColumn("epoch", lit(0L))
  }

  /** The STANDING router state — resolution order is the serving-index
    * standard ([[IndexStore.latest]] epoch → session [[SpillMemo]] spill
    * → derivation). A store whose maintenance closed epochs ≥ 1 serves the
    * promoted panel with NO plan change (the epoch-swap contract,
    * spec-pinned by `RouterEpochSpec`); the DuckDB oracles always derive
    * the epoch-0 state, so oracle checks assume an un-closed store —
    * the same caveat as the embedding quantizer's
    * ([[graft.tools.QuantizerClose]]). */
  private[graft] def standingState(s: SparkSession, d: String): DataFrame =
    IndexStore.latest(s, IndexStore.chunkRouterState, d).getOrElse(
      SpillMemo.spill(s, "chunkrouter", d)(
        stateDerive(s, Search.chunkVectors(s, d)).drop("epoch")))

  // ------------------------------------------------------------------
  // the routed relation — the IVF inverted-lists artifact
  // ------------------------------------------------------------------

  /** The ROUTED chunk-vector relation (chunk_key, cvec, bucket) under the
    * serving epoch — the production IVF posture: inverted lists are
    * STORED routed, not re-routed per query (the first cut routed the
    * corpus side in-row at query time; measured at ×10 that one
    * interpreted pass cost ~25 s per probe — BASELINE.md round 18).
    * Routing now happens ONCE per epoch: `IndexBuild` persists the
    * epoch-0 routed relation (`chunk_routed`); an epoch close
    * ([[graft.tools.QuantizerClose.closeChunkRouter]]) re-routes and
    * overwrites it — exactly the rewrite cost `x_chunk_router_churn`'s
    * off-diagonal mass prices. Resolution: store → session memo (keyed
    * by the serving EPOCH, so a promote in the same session re-derives
    * instead of serving stale cells) → derivation. */
  private[graft] def routedVectors(s: SparkSession, d: String): DataFrame =
    IndexStore.read(s, IndexStore.chunkRouted, d).getOrElse {
      val epoch = IndexStore.read(s, IndexStore.chunkRouterState, d)
        .map(_.agg(max(col("epoch"))).head.getLong(0)).getOrElse(-1L)
      SpillMemo.spill(s, "chunkrouted", d, epoch)(
        routedOf(Search.chunkVectors(s, d), Lineage.cut(panelOf(standingState(s, d)))))
    }

  /** Route a chunk-vector relation under a panel — one map-side kernel
    * pass ([[withCell]]), (chunk_key, cvec, bucket). */
  private[graft] def routedOf(cv: DataFrame, panel: DataFrame): DataFrame =
    withCell(cv, "transform(cvec, x -> CAST(x AS BIGINT))", panel, "bucket")
      .select(col("chunk_key"), col("cvec"), col("bucket"))

  /** The STANDING slice of the routed relation (arrival parents
    * excluded) — a chunk's cell depends only on its own vector and the
    * frozen panel, so the standing slice is literally a filter
    * ([[Search.standingChunkVectors]]'s argument, unchanged by routing). */
  private[graft] def standingRoutedVectors(s: SparkSession, d: String): DataFrame =
    routedVectors(s, d)
      .filter(expr(s"chunk_key div ${Search.chunkKeyMod}") % Similarity.knnBatchMod =!= 7)

  // ------------------------------------------------------------------
  // maintenance readouts (the promote gate)
  // ------------------------------------------------------------------

  /** The arriving chunk split, quantized — what an epoch close folds in. */
  private[graft] def arrivingQuantized(s: SparkSession, d: String): DataFrame =
    quantizedOf(Search.chunkVectors(s, d)
      .filter(expr(s"chunk_key div ${Search.chunkKeyMod}") % Similarity.knnBatchMod === 7))

  /** Per-(cell, dim) arrival deltas (Σ, n): arrivals assigned to the
    * FROZEN panel ([[withCell]]), one exploded aggregation —
    * [[Similarity.quantizerDeltasOf]] with the spherical assignment. */
  private[graft] def deltasOf(arrivals: DataFrame, panel: DataFrame): DataFrame =
    withCell(arrivals, "q", panel, "cluster")
      .select(col("cluster"), posexplode(col("q")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim").cast("long").as("dim"))
      .agg(sum(col("x")).as("q_suma"), count(lit(1)).as("na"))

  /** Mini-batch update readout (`x_chunk_router_state`'s maintenance
    * twin): standing state + arrival deltas merged to the next epoch's
    * (n0, n1, c0, c1) per cell·dim — [[Similarity.quantizerMergeOf]]
    * verbatim (the merge is metric-agnostic; only assignment differs). */
  private[graft] def routerUpdate(s: SparkSession, d: String): DataFrame = {
    val st = Lineage.cut(standingState(s, d))
    Similarity.quantizerMergeOf(st,
      deltasOf(arrivingQuantized(s, d), Lineage.cut(panelOf(st))))
  }

  /** ROUTE CHURN of the epoch swap (`x_chunk_router_churn`) — the promote
    * gate: every chunk vector assigned under BOTH the frozen epoch-0
    * panel and the arrivals-folded epoch-1 panel; the (old cell, new
    * cell) migration matrix is the cost of promoting — the off-diagonal
    * mass IS the `chunk_routed` rewrite the close pays
    * ([[routedVectors]]) — read against the drift the update promises;
    * [[Similarity.quantizerRouteChurn]]'s stance on this index. ONE
    * corpus pass, both broadcast panels routed by the native kernel on
    * the same rows — no join, no shuffle before the k²-bounded matrix
    * agg. */
  def routerChurn(s: SparkSession, d: String): DataFrame = {
    val upd = Lineage.cut(routerUpdate(s, d))
    val p0 = Lineage.cut(panelOf(upd.select(col("cluster"), col("dim"), col("c0"))))
    val p1 = Lineage.cut(panelOf(upd.select(col("cluster"), col("dim"), col("c1").as("c0"))))
    withCell(
      withCell(quantizedOf(Search.chunkVectors(s, d)), "q", p0, "cluster_old"),
      "q", p1, "cluster_new")
      .groupBy(col("cluster_old"), col("cluster_new"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** Full-corpus cell occupancy (`x_chunk_router_occupancy`) — the
    * balance readout that DIAGNOSED the sign router (2/256 buckets at
    * 75%): per live cell, how many chunks route there. A healthy router
    * keeps max-cell mass near n/k; this is the dashboard a deployment
    * watches to know when [[cells]] must grow. Reads the SERVED routed
    * relation — the dashboard must audit what serving actually probes. */
  def routerOccupancy(s: SparkSession, d: String): DataFrame =
    routedVectors(s, d)
      .groupBy(col("bucket").as("cluster"))
      .agg(count(lit(1)).as("n_chunks"))

  /** The trained router state itself (`x_chunk_router_state`): the
    * converged training loop is oracle-checked end to end — seeding,
    * every Lloyd round, the mergeable M-step. */
  def routerState(s: SparkSession, d: String): DataFrame =
    standingState(s, d)
      .select(col("cluster"), col("dim"), col("q_sum0"), col("n0"), col("c0"))

  // ------------------------------------------------------------------
  // oracle (DuckDB) — the same training unrolled
  // ------------------------------------------------------------------

  /** Oracle assignment CTE: vectors in long form (`vec_id, dim, v`)
    * against centroid rows (`cluster, dim, c`) — the skey order with the
    * centroid norm computed in-group (Σ c² over the same joined dims). */
  private def assignCte(out: String, src: String, cent: String,
      materialized: Boolean = true): String = {
    val m = if (materialized) " MATERIALIZED" else ""
    s"""$out AS$m (SELECT vec_id, cluster FROM (
       |  SELECT $src.vec_id, c.cluster,
       |    row_number() OVER (PARTITION BY $src.vec_id ORDER BY
       |      (CASE WHEN sum($src.v * c.c) >= 0 THEN 1 ELSE -1 END) *
       |      ((sum($src.v * c.c) * sum($src.v * c.c) * $skeyScale)
       |       // greatest(sum(c.c * c.c), 1)) DESC, c.cluster ASC) AS rn
       |  FROM $src JOIN $cent c USING (dim)
       |  GROUP BY $src.vec_id, c.cluster) WHERE rn = 1)""".stripMargin
  }

  /** Continuation CTEs (appended after [[Search]]'s dense chunk chain,
    * which defines `dcv`/`dqv`): quantize, split standing, seed, unroll
    * [[maxRounds]] Lloyd rounds, read out the state (`rstate`), route the
    * full corpus (`rfa`) and the query panel's [[probeCells]] probes
    * (`rqp`). Multiply-referenced CTEs are MATERIALIZED — the unrolled
    * recurrence otherwise plans exponentially
    * ([[Similarity.kmeansConvSqlCtes]]'s measured note). */
  private[ops] def routerCtes: String = {
    val mod = Search.chunkKeyMod
    val head =
      s""",
         |rq AS MATERIALIZED (SELECT chunk_key AS vec_id,
         |        list_transform(cvec, x -> CAST(x AS BIGINT)) AS q FROM dcv),
         |rst AS (SELECT * FROM rq
         |        WHERE (vec_id // $mod) % ${Similarity.knnBatchMod} <> 7),
         |rxp AS MATERIALIZED (SELECT vec_id, i - 1 AS dim, q[i] AS v
         |      FROM (SELECT vec_id, q, unnest(range(1, len(q) + 1)) AS i FROM rst)),
         |rsd AS (SELECT CAST((rn - 1) // stride AS BIGINT) AS cluster, q
         |        FROM (SELECT q, row_number() OVER (ORDER BY vec_id) AS rn,
         |                greatest(count(*) OVER () // $cells, 1) AS stride FROM rst)
         |        WHERE (rn - 1) % stride = 0 AND (rn - 1) // stride < $cells),
         |rc0 AS (SELECT cluster, i - 1 AS dim, q[i] AS c
         |        FROM (SELECT cluster, q, unnest(range(1, len(q) + 1)) AS i FROM rsd)),
         |${assignCte("ra0", "rxp", "rc0")}""".stripMargin
    val rounds = (1 to maxRounds).map { r =>
      s"""rc$r AS (SELECT a.cluster, rxp.dim,
         |        CAST(floor(CAST(sum(rxp.v) AS DOUBLE) / count(*)) AS BIGINT) AS c
         |      FROM rxp JOIN ra${r - 1} a USING (vec_id) GROUP BY 1, 2),
         |${assignCte(s"ra$r", "rxp", s"rc$r")}""".stripMargin
    }
    val tail =
      s"""rstate AS MATERIALIZED (SELECT CAST(a.cluster AS BIGINT) AS cluster,
         |        CAST(rxp.dim AS BIGINT) AS dim,
         |        CAST(sum(rxp.v) AS BIGINT) AS q_sum0,
         |        CAST(count(*) AS BIGINT) AS n0,
         |        CAST(floor(CAST(sum(rxp.v) AS DOUBLE) / count(*)) AS BIGINT) AS c0
         |      FROM rxp JOIN ra$maxRounds a USING (vec_id) GROUP BY 1, 2),
         |rcent AS MATERIALIZED (SELECT cluster, dim, c0 AS c FROM rstate),
         |rfxp AS MATERIALIZED (SELECT vec_id, i - 1 AS dim, q[i] AS v
         |      FROM (SELECT vec_id, q, unnest(range(1, len(q) + 1)) AS i FROM rq)),
         |${assignCte("rfa", "rfxp", "rcent")},
         |rqx AS (SELECT query_id AS vec_id, i - 1 AS dim,
         |          CAST(qvec[i] AS BIGINT) AS v
         |        FROM (SELECT query_id, qvec,
         |                unnest(range(1, len(qvec) + 1)) AS i FROM dqv)),
         |rqp AS (SELECT vec_id AS query_id, cluster FROM (
         |  SELECT rqx.vec_id, c.cluster,
         |    row_number() OVER (PARTITION BY rqx.vec_id ORDER BY
         |      (CASE WHEN sum(rqx.v * c.c) >= 0 THEN 1 ELSE -1 END) *
         |      ((sum(rqx.v * c.c) * sum(rqx.v * c.c) * $skeyScale)
         |       // greatest(sum(c.c * c.c), 1)) DESC, c.cluster ASC) AS rn
         |  FROM rqx JOIN rcent c USING (dim)
         |  GROUP BY rqx.vec_id, c.cluster) WHERE rn <= $probeCells)""".stripMargin
    (head +: rounds :+ tail).mkString(",\n")
  }

  /** The routed candidate rescore + rank, ending in `dbrk` — the same
    * terminal CTE name the sign rung used, so [[Search]]'s bucket, recall
    * and fused tails compose unchanged. */
  private[ops] def routedRankCtes: String =
    s""",
       |dbs AS (SELECT p.query_id, f.vec_id AS chunk_key,
       |          list_dot_product(q.qvec, c.cvec)
       |            / (sqrt(list_dot_product(q.qvec, q.qvec))
       |               * sqrt(list_dot_product(c.cvec, c.cvec))) AS score
       |        FROM rqp p JOIN rfa f USING (cluster)
       |        JOIN dcv c ON c.chunk_key = f.vec_id
       |        JOIN dqv q ON q.query_id = p.query_id
       |        WHERE f.vec_id // ${Search.chunkKeyMod} <> p.query_id),
       |dbrk AS (SELECT query_id, chunk_key,
       |          CAST(row_number() OVER (PARTITION BY query_id
       |                 ORDER BY score DESC, chunk_key ASC) AS BIGINT) AS rnk
       |        FROM dbs)""".stripMargin

  // ------------------------------------------------------------------
  // queries + oracles
  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_chunk_router_state" -> ((s, d) => routerState(s, d)),
    "x_chunk_router_occupancy" -> ((s, d) => routerOccupancy(s, d)),
    "x_chunk_router_churn" -> ((s, d) => routerChurn(s, d)))

  /** Shared oracle head: the member-form dense chunk chain (full chunk
    * corpus + member query panel) then the router chain. */
  private def oracleHead: String =
    "WITH " + Search.chunkDenseCtes("true",
      s"doc_id % ${Search.searchStride} = 0") + routerCtes

  val oracle: Map[String, String] = Map(
    "x_chunk_router_state" ->
      (oracleHead + "\nSELECT cluster, dim, q_sum0, n0, c0 FROM rstate"),
    "x_chunk_router_occupancy" ->
      (oracleHead +
        "\nSELECT cluster, CAST(count(*) AS BIGINT) AS n_chunks FROM rfa GROUP BY 1"),
    "x_chunk_router_churn" ->
      (oracleHead +
        s""",
           |xad AS (SELECT a.vec_id, a.cluster FROM (
           |  SELECT rfxp.vec_id, c.cluster,
           |    row_number() OVER (PARTITION BY rfxp.vec_id ORDER BY
           |      (CASE WHEN sum(rfxp.v * c.c) >= 0 THEN 1 ELSE -1 END) *
           |      ((sum(rfxp.v * c.c) * sum(rfxp.v * c.c) * $skeyScale)
           |       // greatest(sum(c.c * c.c), 1)) DESC, c.cluster ASC) AS rn
           |  FROM rfxp JOIN rcent c USING (dim)
           |  GROUP BY rfxp.vec_id, c.cluster) a WHERE rn = 1),
           |xdl AS (SELECT f.cluster, rfxp.dim,
           |          CAST(sum(rfxp.v) AS BIGINT) AS q_suma,
           |          CAST(count(*) AS BIGINT) AS na
           |        FROM rfxp JOIN xad f USING (vec_id)
           |        WHERE (rfxp.vec_id // ${Search.chunkKeyMod}) % ${Similarity.knnBatchMod} = 7
           |        GROUP BY 1, 2),
           |xc1 AS MATERIALIZED (SELECT s.cluster, s.dim,
           |          CAST(floor(CAST(s.q_sum0 + COALESCE(d.q_suma, 0) AS DOUBLE)
           |               / (s.n0 + COALESCE(d.na, 0))) AS BIGINT) AS c
           |        FROM rstate s LEFT JOIN xdl d
           |          ON d.cluster = s.cluster AND d.dim = s.dim),
           |${assignCte("xnew", "rfxp", "xc1", materialized = false)}
           |SELECT CAST(o.cluster AS BIGINT) AS cluster_old,
           |       CAST(n.cluster AS BIGINT) AS cluster_new,
           |       CAST(count(*) AS BIGINT) AS n_vecs
           |FROM rfa o JOIN xnew n USING (vec_id)
           |GROUP BY 1, 2""".stripMargin))
}
