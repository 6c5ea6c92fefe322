package graft.ops

import graft.functions.TopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Diversity-aware selection over the embedding corpus — the two forms a
  * curation/serving stack needs beyond plain nearest-neighbor ranking
  * (SURVEY §7.4 extension tier; the reference has no retrieval surface at
  * all, its analytics stop at windowed counts — `reporting/reporting.py`):
  *
  *  - '''MMR (maximal marginal relevance)''' re-ranking ([[mmrTopK]]):
  *    Carbonell & Goldstein '98 — greedily pick the next result maximizing
  *    `λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s)`, trading relevance against
  *    redundancy with the already-selected set S. The serving-side
  *    complement of the dedup family: near-dup CORPUS cleaning removes
  *    copies at rest ([[Dedup]]); MMR removes residual redundancy per
  *    QUERY at answer time (a RAG context window filled with five copies
  *    of the same passage is the failure mode this exists for).
  *  - '''Cluster-balanced sampling''' ([[clusterBalanced]]): equal-depth
  *    hash-ranked draws per learned k-means cell — the diversity-preserving
  *    subsample behind coverage-stratified eval/training sets (the
  *    SemDeDup-style observation that uniform sampling over-represents
  *    dense regions; per-cell quotas flatten that).
  *
  * Scale shape (100 TB): both operators run AFTER a corpus-bounded
  * reduction. MMR's input is a per-query candidate pool of fixed size
  * [[mmrPool]] from any ANN rung ([[Similarity]]'s ladder) — the greedy
  * loop touches |Q|·pool² dashboard-sized rows, corpus-independent, and
  * unrolls to [[mmrPicks]] chained joins on that tiny relation (no
  * iteration-over-collect; the same fixed-unroll idiom as [[Bpe]]).
  * Cluster-balanced sampling is one bounded-heap top-n per cell over the
  * assignment relation — map-side partial reduction cuts each partition to
  * n rows per cell before the exchange ([[graft.functions.TopK.Cut]]), so
  * the shuffle moves O(cells·n), never the corpus.
  *
  * Oracle strategy: every arithmetic step is either integer (hash ranks)
  * or an IEEE-identical double chain (the [[graft.functions.CosineSimilarity]]
  * kernel accumulates in DuckDB `list_dot_product`'s fold order, and the
  * MMR objective is the same two multiplies and a subtract on both sides),
  * so the DuckDB twins reproduce picks — and the emitted relevance values —
  * exactly; the greedy argmax tie-breaks on neighbor id in both engines.
  */
object Diversify {

  /** Query stride over vec_id — [[Similarity]]'s eval-panel convention. */
  private[graft] val mmrStride = 125

  /** Candidate-pool depth handed to the greedy loop (the ANN rung's k). */
  private[graft] val mmrPool = 10

  /** Number of diversified picks (the context-window budget). */
  private[graft] val mmrPicks = 5

  /** Relevance/diversity trade — 0.5 weighs them equally. Written as two
    * explicit multiplies (`0.5·rel − 0.5·maxsim`) so the oracle's
    * expression shape (and thus its float result) is bit-identical. */
  private val mmrLambda = 0.5

  /** MMR-diversified top-[[mmrPicks]] per query over a brute-scored
    * [[mmrPool]]-deep candidate pool.
    *
    * Plan: candidates via the broadcast-query scan + bounded-heap
    * [[TopK.topKScored]] (the [[Similarity.bruteForceTopK]] shape — in
    * production the pool comes from whichever ANN rung serves, the greedy
    * stage is rung-agnostic); candidate vectors join back by id
    * (|Q|·pool rows); the pool²-sized pairwise-similarity relation and
    * each greedy round's argmax are per-query-keyed aggregations over
    * those bounded relations. Each round r: anti-join the selected set,
    * max-similarity-to-selected via the pair relation, argmax of the MMR
    * objective through a struct max (ties → lowest neighbor id, the
    * oracle's `ORDER BY mmr DESC, neighbor_id ASC`). */
  def mmrTopK(s: SparkSession, d: String): DataFrame = {
    val c = Similarity.corpus(s, d)
    val q = c.filter(col("vec_id") % mmrStride === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    mmrFor(c, q)
  }

  /** [[mmrTopK]]'s core over any (query_id, qv) panel — shared with the
    * streamed serving twin ([[graft.streaming.IngestStream]]), whose arriving
    * micro-batch plays `q` against the standing corpus `c`. */
  /** The pool stage alone (uncut) — the corpus-touching part of MMR, split
    * out so its plan shape (broadcast panel over the scan, bounded-heap
    * pool aggregation) stays inspectable after [[mmrFor]] lineage-cuts it
    * (`PlanShapeSpec`). */
  private[graft] def mmrCandidates(c: DataFrame, q: DataFrame): DataFrame = {
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("rel", expr("cosine_sim(qv, v)"))
      .select(col("query_id"), col("rel"), col("vec_id").as("neighbor_id"))
    TopK.topKScored(scored, "query_id", "rel", "neighbor_id", mmrPool)
      .select(col("query_id"), col("neighbor_id"), col("score").as("rel"), col("rnk"))
  }

  private[graft] def mmrFor(c: DataFrame, q: DataFrame): DataFrame =
    mmrParts(c, q)._3

  /** The three relations of a greedy run — (candidate pool, pairwise
    * sims, picks), the first two lineage-cut — exposed so the diversity
    * eval ([[mmrDiversityEval]]) prices the picks against the plain
    * top-k WITHOUT re-deriving the pool. */
  private def mmrParts(c: DataFrame, q: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // Lineage cuts: the greedy unroll references `cand`/`pairs` once per
    // round, and round r's picks feed round r+1's anti-join — without the
    // cuts the final round's plan re-derives the corpus scan + pool
    // aggregation ~2^picks times (the [[Dedup.components]] lesson). Both
    // relations are |Q|·pool(²)-sized, so the cut is dashboard-cheap.
    val cand = Lineage.cut(mmrCandidates(c, q))
    // Candidate vectors ride a broadcast of the tiny pool relation over the
    // corpus scan (|Q|·pool rows — caller-bounded, not corpus-bounded).
    val cv = c.select(col("vec_id").as("neighbor_id"), col("v"))
      .join(broadcast(cand.select(col("query_id"), col("neighbor_id"))), Seq("neighbor_id"))
    val pairs = Lineage.cut(
      cv.select(col("query_id"), col("neighbor_id").as("a_id"), col("v").as("av"))
        .join(cv.select(col("query_id"), col("neighbor_id").as("b_id"), col("v").as("bv")),
          Seq("query_id"))
        .filter(col("a_id") =!= col("b_id"))
        .withColumn("sim", expr("cosine_sim(av, bv)"))
        .select(col("query_id"), col("a_id"), col("b_id"), col("sim")))
    var result = cand.filter(col("rnk") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rel"), lit(1L).as("pick"))
    for (r <- 2 to mmrPicks) {
      val sel = result.select(col("query_id"), col("neighbor_id"))
      val remaining = cand.join(sel, Seq("query_id", "neighbor_id"), "left_anti")
      val ms = pairs
        .join(sel.withColumnRenamed("neighbor_id", "b_id"), Seq("query_id", "b_id"))
        .groupBy(col("query_id"), col("a_id").as("neighbor_id"))
        .agg(max(col("sim")).as("maxs"))
      // Cut each round's picks: `result` is referenced twice per round
      // (anti-join + max-sim), so uncut the plan tree doubles per round —
      // with cut leaves it stays linear in the pick budget.
      val pick = Lineage.cut(remaining.join(ms, Seq("query_id", "neighbor_id"))
        .withColumn("mmr", lit(mmrLambda) * col("rel") - lit(1.0 - mmrLambda) * col("maxs"))
        .groupBy(col("query_id"))
        .agg(max(struct(col("mmr"), (-col("neighbor_id")).as("nid"), col("rel").as("r"))).as("m"))
        .select(col("query_id"), (-col("m.nid")).as("neighbor_id"),
          col("m.r").as("rel"), lit(r.toLong).as("pick")))
      result = result.unionByName(pick)
    }
    (cand, pairs,
      result.select(col("query_id"), col("pick"), col("neighbor_id"), col("rel")))
  }

  /** Fixed-point scale for the averaged pairwise similarity (micro-units:
    * per-pair quantization BEFORE the cross-row sum, so the sum is an
    * order-independent integer — the [[Similarity]] centroid stance). */
  private val ilsScale = 1000000L

  /** Diversity-gain eval: intra-list similarity (mean pairwise cosine,
    * micro-unit fixed point) of the plain relevance top-[[mmrPicks]] vs
    * the MMR picks, per query — the pricing row of the tier (every
    * operator ships with the number that justifies it: recall for the ANN
    * rungs, compression-loss for the quantizers, redundancy-drop here).
    * `gain_fp > 0` means MMR bought diversity; how much relevance it paid
    * is visible in the picks' own `rel` column. */
  def mmrDiversityEval(s: SparkSession, d: String): DataFrame = {
    val c = Similarity.corpus(s, d)
    val q = c.filter(col("vec_id") % mmrStride === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val (cand, pairs, picks) = mmrParts(c, q)
    // +1 shift keeps every quantized pair non-negative so Spark's
    // toward-zero `div` and DuckDB's floor `//` agree; the shift is an
    // exact integer (round(x·10⁶ + 10⁶) = round(x·10⁶) + 10⁶) and cancels
    // in `gain_fp` (equal pair counts on both legs).
    def ils(sel: DataFrame, name: String): DataFrame =
      pairs.filter(col("a_id") < col("b_id"))
        .join(sel.select(col("query_id"), col("neighbor_id").as("a_id")),
          Seq("query_id", "a_id"))
        .join(sel.select(col("query_id"), col("neighbor_id").as("b_id")),
          Seq("query_id", "b_id"))
        .groupBy(col("query_id"))
        .agg(expr(s"sum(CAST(round((sim + CAST(1 AS DOUBLE)) * $ilsScale) AS BIGINT))" +
          " div count(1)").as(name))
    ils(cand.filter(col("rnk") <= mmrPicks), "ils_topk_fp")
      .join(ils(picks, "ils_mmr_fp"), Seq("query_id"))
      .select(col("query_id"), col("ils_topk_fp"), col("ils_mmr_fp"),
        (col("ils_topk_fp") - col("ils_mmr_fp")).as("gain_fp"))
  }

  /** MMR at ingest — the asymmetric serving form: ARRIVING queries (the
    * [[Similarity.knnBatchMod]] stand-in partition, the ingest-family
    * convention) are diversified against the STANDING corpus only. This is
    * the steady-state RAG answer path: the query is not a corpus member,
    * its pool comes entirely from the standing side, and the greedy stage
    * is identical — [[mmrFor]] with the corpus restricted to standing
    * vectors. (The streamed twin `s_mmr_stream` runs the member-panel form
    * per micro-batch; this is the non-member form at batch eval size.) */
  def mmrIngest(s: SparkSession, d: String): DataFrame = {
    val c = Similarity.corpus(s, d)
    val standing = c.filter(col("vec_id") % Similarity.knnBatchMod =!= 7)
      .select(col("vec_id"), col("v"))
    val q = c.filter(col("vec_id") % Similarity.knnBatchMod === 7)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    mmrFor(standing, q)
  }

  /** Per-cell sample depth for [[clusterBalanced]]. */
  private[graft] val cbPerCluster = 16

  /** Cluster-balanced (coverage-stratified) sample: the [[cbPerCluster]]
    * lowest-hash members of every learned k-means cell, with the cell size
    * alongside — a deterministic, reproducible diversity sample (uniform
    * hash ranking WITHIN a cell, equal depth ACROSS cells regardless of
    * how skewed the cell populations are).
    *
    * Plan: one Lloyd assignment ([[Similarity.kmeansIter]] — integer-exact,
    * shared with the `x_embed_kmeans_iter` oracle), then a bounded-heap
    * top-n per cell on the 48-bit md5 rank (negated into the descending
    * heap; exact as a double, being < 2⁵³) plus the per-cell count riding
    * the same grouped relation. */
  def clusterBalanced(s: SparkSession, d: String): DataFrame = {
    val asg = Similarity.kmeansIter(s, d).select(col("vec_id"), col("cluster"))
    val sizes = asg.groupBy(col("cluster")).agg(count(lit(1)).as("n_cluster"))
    val ranked = TopK.topK(
      asg.select(col("cluster"),
        (-expr("CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
          .cast("double").as("sc"),
        col("vec_id")),
      "cluster", "sc", "vec_id", cbPerCluster)
    ranked.join(sizes, Seq("cluster"))
      .select(col("cluster"), col("n_cluster"),
        col("rnk").as("rk"), col("neighbor_id").as("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_sim_mmr" -> mmrTopK,
    "x_sim_mmr_in" -> mmrIngest,
    "x_sim_mmr_eval" -> mmrDiversityEval,
    "x_sample_cluster_balanced" -> clusterBalanced)

  /** DuckDB cosine matching the codegen kernel bit-for-bit (the
    * [[Similarity]] convention: same fold order, same `dot/(√na·√nb)`). */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** The greedy recurrence UNROLLED [[mmrPicks]] rounds (the `x_bpe_merges`
    * pattern); multi-referenced CTEs are `AS MATERIALIZED` so DuckDB does
    * not replan the chain per reference. */
  private def mmrOracle(
      queryPred: String = s"vec_id % $mmrStride = 0",
      corpusPred: String = "TRUE"): String =
    mmrCtes(queryPred, corpusPred) +
      s"\nSELECT query_id, pick, neighbor_id, rel FROM a$mmrPicks"

  /** The unrolled-greedy CTE chain (WITH included, ending in `a<picks>`
    * = the selected set), shared by the pick oracles and the
    * diversity-gain eval twin. */
  private def mmrCtes(
      queryPred: String = s"vec_id % $mmrStride = 0",
      corpusPred: String = "TRUE"): String = {
    val head =
      s"""WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (SELECT * FROM c0 WHERE $corpusPred),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM c0 WHERE $queryPred),
         |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |             ${cosSql("q.qv", "c.v")} AS rel
         |           FROM c, q WHERE c.vec_id <> q.query_id),
         |cand AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, rel
         |  FROM (SELECT query_id, neighbor_id, rel,
         |          row_number() OVER (PARTITION BY query_id
         |                 ORDER BY rel DESC, neighbor_id ASC) AS rn
         |        FROM scored) WHERE rn <= $mmrPool),
         |cv AS MATERIALIZED (
         |  SELECT cand.query_id, cand.neighbor_id, c.v
         |  FROM cand JOIN c ON cand.neighbor_id = c.vec_id),
         |pairs AS MATERIALIZED (
         |  SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
         |         ${cosSql("a.v", "b.v")} AS sim
         |  FROM cv a JOIN cv b
         |    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id),
         |a1 AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, rel, CAST(1 AS BIGINT) AS pick
         |  FROM (SELECT query_id, neighbor_id, rel,
         |          row_number() OVER (PARTITION BY query_id
         |                 ORDER BY rel DESC, neighbor_id ASC) AS rn
         |        FROM cand) WHERE rn = 1)""".stripMargin
    val rounds = (2 to mmrPicks).map { r =>
      s"""m$r AS (SELECT cd.query_id, cd.neighbor_id, cd.rel,
         |          0.5 * cd.rel - 0.5 * max(p.sim) AS mmr
         |        FROM cand cd
         |        JOIN pairs p ON p.query_id = cd.query_id AND p.a_id = cd.neighbor_id
         |        JOIN a${r - 1} s ON s.query_id = p.query_id AND s.neighbor_id = p.b_id
         |        WHERE NOT EXISTS (SELECT 1 FROM a${r - 1} x
         |                          WHERE x.query_id = cd.query_id
         |                            AND x.neighbor_id = cd.neighbor_id)
         |        GROUP BY cd.query_id, cd.neighbor_id, cd.rel),
         |s$r AS (SELECT query_id, neighbor_id, rel, CAST($r AS BIGINT) AS pick
         |        FROM (SELECT query_id, neighbor_id, rel,
         |                row_number() OVER (PARTITION BY query_id
         |                       ORDER BY mmr DESC, neighbor_id ASC) AS rn
         |              FROM m$r) WHERE rn = 1),
         |a$r AS MATERIALIZED (
         |  SELECT * FROM a${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  val oracle: Map[String, String] = Map(
    "x_sim_mmr" -> mmrOracle(),
    "x_sim_mmr_in" -> mmrOracle(
      queryPred = s"vec_id % ${Similarity.knnBatchMod} = 7",
      corpusPred = s"vec_id % ${Similarity.knnBatchMod} <> 7"),
    "x_sim_mmr_eval" -> (mmrCtes() +
      s""",
         |t5 AS (SELECT query_id, neighbor_id
         |       FROM (SELECT query_id, neighbor_id,
         |               row_number() OVER (PARTITION BY query_id
         |                      ORDER BY rel DESC, neighbor_id ASC) AS rn
         |             FROM cand) WHERE rn <= $mmrPicks),
         |pt AS (SELECT p.query_id,
         |         CAST(sum(CAST(round((p.sim + 1) * $ilsScale) AS BIGINT)) // count(*) AS BIGINT)
         |           AS ils_topk_fp
         |       FROM pairs p
         |       JOIN t5 a ON a.query_id = p.query_id AND a.neighbor_id = p.a_id
         |       JOIN t5 b ON b.query_id = p.query_id AND b.neighbor_id = p.b_id
         |       WHERE p.a_id < p.b_id GROUP BY 1),
         |pm AS (SELECT p.query_id,
         |         CAST(sum(CAST(round((p.sim + 1) * $ilsScale) AS BIGINT)) // count(*) AS BIGINT)
         |           AS ils_mmr_fp
         |       FROM pairs p
         |       JOIN a$mmrPicks a ON a.query_id = p.query_id AND a.neighbor_id = p.a_id
         |       JOIN a$mmrPicks b ON b.query_id = p.query_id AND b.neighbor_id = p.b_id
         |       WHERE p.a_id < p.b_id GROUP BY 1)
         |SELECT pt.query_id, pt.ils_topk_fp, pm.ils_mmr_fp,
         |       pt.ils_topk_fp - pm.ils_mmr_fp AS gain_fp
         |FROM pt JOIN pm USING (query_id)""".stripMargin),
    "x_sample_cluster_balanced" ->
      s"""WITH ${Similarity.kmeansAssignSqlCtes()},
         |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_cluster FROM ka GROUP BY 1),
         |h AS (SELECT cluster, vec_id,
         |        CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::UBIGINT AS BIGINT) AS hv
         |      FROM ka),
         |rkd AS (SELECT cluster, vec_id,
         |        CAST(row_number() OVER (PARTITION BY cluster
         |               ORDER BY hv ASC, vec_id ASC) AS BIGINT) AS rk
         |      FROM h)
         |SELECT rkd.cluster, sz.n_cluster, rkd.rk, rkd.vec_id
         |FROM rkd JOIN sz USING (cluster) WHERE rkd.rk <= $cbPerCluster""".stripMargin)
}
