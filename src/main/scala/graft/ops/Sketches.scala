package graft.ops

import graft.Tables
import graft.functions.{TopK, TopKOrder}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch aggregates — the third member of the approximate-
  * structure family (Bloom: [[Dedup.decontaminateBloom]]; the two here are
  * HyperLogLog++ distinct counting and t-digest quantiles). At 100 TB these
  * are not a nicety: `count(DISTINCT x)` over a high-cardinality key needs
  * the full key set on one reducer per group, while an HLL register array
  * is a few KB, merges associatively map-side, and turns the job
  * scan-bound; same story for exact percentiles (full sort per group) vs a
  * t-digest. The reference has no distinct-count or quantile surface at
  * all (SURVEY §2.6) — this is the scale path for the capabilities
  * `h_distinct_agg`/`h_quantiles` implement exactly.
  *
  * Oracle strategy: a sketch's raw estimate is engine-specific, so the
  * DuckDB twin cannot hash-match it. What IS portable is the sketch's
  * CONTRACT: the estimate must land inside its published error bound
  * around the exact truth. Each query therefore computes BOTH the exact
  * aggregate (oracle-checkable) and the in-engine sketch, and emits the
  * exact value plus a bound-check flag the oracle pins to `true` — a
  * differential test of the sketch against exact truth that runs on every
  * driver round, not just in the unit suite. The flag is deterministic:
  * Spark's HLL++ and t-digest are hash/order-independent for fixed data,
  * and the margins below are ≥3× the configured error.
  */
object Sketches {

  /** Relative-error target handed to `approx_count_distinct` (HLL++ rsd). */
  private[graft] val hllRsd = 0.05

  /** Accuracy handed to `approx_percentile`: rank error ≤ 1/accuracy. */
  private[graft] val tdigestAccuracy = 1000

  /** HLL++ distinct users per event type vs the exact count. `hll_ok` pins
    * the estimate within 3×rsd of truth (observed error on uniform keys is
    * ≪ rsd; 3× makes the flag stable while still failing on a broken
    * sketch). Plan: the DIFFERENTIAL query pays the exact side's two-phase
    * distinct (pre-aggregate on (type, key), exchange, merge — that cost is
    * the point of computing truth alongside); the HLL side rides it as
    * `partial_approx_count_distinct` register arrays merged map-side from
    * the first phase on. The production form drops `n_exact` and is a
    * single register-only exchange at any key cardinality — the shape
    * `PlanShapeSpec` pins. */
  def hllDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), hllRsd).as("n_hll"))
      .select(
        col("event_type"), col("n_exact"),
        (abs(col("n_hll") - col("n_exact")) <=
          lit(3 * hllRsd) * col("n_exact")).as("hll_ok"))

  /** t-digest median per lineitem return flag vs the exact interpolated
    * percentile pair bracketing it. `approx_percentile` returns an element
    * of the input multiset whose RANK is within n/accuracy of the target;
    * with accuracy=1000 the ±5-percentile exact bracket is ≥50× the
    * guaranteed rank error, so `td_ok` is stable and still meaningful.
    * The exact median is emitted in the `h_quantiles` centi-unit form. */
  def tdigestQuantile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("CAST(round(percentile(l_quantity, 0.5) * 100) AS BIGINT)").as("p50_qty_c"),
        expr(s"approx_percentile(l_quantity, 0.5, $tdigestAccuracy)").as("td"),
        expr("percentile(l_quantity, 0.45)").as("lo"),
        expr("percentile(l_quantity, 0.55)").as("hi"))
      .select(
        col("l_returnflag"), col("p50_qty_c"),
        (col("td") >= col("lo") && col("td") <= col("hi")).as("td_ok"))

  /** Count-min geometry: [[cmRows]] independent hash rows × [[cmWidth]]
    * counters — 256 longs total, a fixed-size sketch regardless of key
    * cardinality or data volume. Shared with the oracle twin. */
  private[graft] val cmRows = 4
  private[graft] val cmWidth = 64
  private[graft] val cmTopN = 20

  /** Per-event count-min cell coordinates for hash row `i`: the house
    * md5-prefix integer hash ([[Dedup]]'s minhash idiom), salted by the row
    * index, modulo [[cmWidth]]. */
  private def cmBucket(i: Int): org.apache.spark.sql.Column =
    expr(s"CAST(conv(substring(md5(concat('$i:', CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT)") % cmWidth

  /** The ×[[cmRows]] (row, bucket) cell fan-out of a `user_id` column —
    * shared by the batch grid build, the probe side, and the streaming
    * grid ([[graft.streaming.EventPipeline.streamedSketch]]). */
  private[graft] def cmCellStructs: Seq[org.apache.spark.sql.Column] =
    (0 until cmRows).map(i => struct(lit(i.toLong).as("r"), cmBucket(i).as("b")))

  /** [[cmHeavyHitters]]'s probe stage over an arbitrary `(r, b, cnt)`
    * counter grid: exact top-[[cmTopN]] users from `ev`, estimates read
    * off the BROADCAST grid (fixed 256 cells by construction). */
  private[graft] def cmProbe(counters: DataFrame, ev: DataFrame): DataFrame = {
    val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id").asc).limit(cmTopN)
    top
      .select(col("user_id"), col("n_exact"),
        explode(array(cmCellStructs: _*)).as("c"))
      .select(col("user_id"), col("n_exact"),
        col("c.r").as("r"), col("c.b").as("b"))
      .join(broadcast(counters), Seq("r", "b"))
      .groupBy(col("user_id"), col("n_exact"))
      .agg(min(col("cnt")).as("n_cm"))
      .select(col("user_id"), col("n_exact"), col("n_cm"),
        (col("n_cm") >= col("n_exact")).as("cm_ge_ok"))
  }

  /** Count-min heavy hitters — the frequency member of the sketch family
    * (Bloom: membership, HLL: cardinality, t-digest: rank, CM: counts).
    * Estimates per-user event counts from a [[cmRows]]×[[cmWidth]] integer
    * counter grid and compares them against exact truth for the exact
    * top-[[cmTopN]] users.
    *
    * Unlike HLL/t-digest, this sketch is built from DETERMINISTIC md5
    * hashes and integer increments, so the DuckDB twin reproduces the
    * ESTIMATE itself, not just a bound flag — the whole differential
    * hash-matches, making it the only member of the family whose
    * approximate values are engine-pinned exactly. The structural CM
    * guarantee (estimates never undercount: every cell a key hashes to
    * received all of that key's increments) is still emitted as `cm_ge_ok`.
    *
    * Plan / 100 TB story: the sketch build is one scan whose explode
    * (×[[cmRows]]) collapses map-side to ≤256 partial counters per task —
    * the exchange moves a few KB no matter how many events or distinct
    * users, which is the entire point of CM over exact `groupBy(key)`
    * counting (whose shuffle grows with key cardinality). The probe side
    * joins the top-k relation against the BROADCAST 256-row counter grid —
    * fixed-size by construction, so the hint is structurally safe (unlike
    * the corpus-derived stand-ins [[Dedup.incremental]] documents). The
    * exact side's full aggregation is paid only because this is the
    * differential form; the production form reads estimates for any probe
    * set straight off the grid. */
  def cmHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val counters = ev
      .select(explode(array(cmCellStructs: _*)).as("c"))
      .select(col("c.r").as("r"), col("c.b").as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("cnt"))
    cmProbe(counters, ev)
  }

  /** KMV size (k smallest hashes kept) and hash width: 12 hex chars =
    * 48 bits, chosen so `(k-1)·2⁴⁸` stays far inside BIGINT in both
    * engines (a 60-bit hash would overflow the numerator). The width
    * bounds hash collisions — a negligible estimator bias at any
    * realistic cardinality, and the SAME bias in both engines. */
  private[graft] val kmvK = 64
  private val kmvSpace = 1L << 48

  /** KMV (k-minimum-values) distinct estimator — the fourth distinct-count
    * option beside exact, HLL++ ([[hllDistinct]]) and the Datasketches
    * registers ([[MatView]]): keep the [[kmvK]] smallest 48-bit hashes of
    * the key per group; with fewer than k distinct keys the sketch IS the
    * key set (estimate exact), otherwise est = (k−1)·2⁴⁸ ÷ h_k (Bar-Yossef
    * et al., the classic bottom-k estimator). What KMV buys over HLL here:
    * the estimate is a PURE INTEGER FUNCTION of the data (order- and
    * engine-independent — no internal register layout), so the DuckDB twin
    * reproduces the ESTIMATE itself and the whole differential
    * hash-matches, the [[cmHeavyHitters]] stance. The k-set is also
    * trivially mergeable (union, keep k smallest — the
    * [[graft.ops.Sampling.bottomkSample]] property).
    *
    * Plan: one distinct-pair aggregation (the exact side needs it anyway —
    * differential form), then the bounded-heap [[kmvSketch]] cut
    * reduces each partition to ≤ k candidates before the exchange (md5
    * hex substrings are fixed-length lowercase, so the agg's UTF-8 string
    * order IS the numeric hash order); n_exact rides the same grouped
    * relation. Production form drops n_exact and keeps per-group state
    * of k longs. */
  def kmvDistinct(s: SparkSession, d: String): DataFrame =
    kmvOf(Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id")).distinct())

  /** [[kmvDistinct]]'s core over any distinct (event_type, user_id) pair
    * relation (exposed for the accuracy spec). */
  private[graft] def kmvOf(du: DataFrame): DataFrame =
    kmvSketch(du, count(lit(1)).as("n_exact"))
      .select(col("event_type"), col("n_exact"),
        when(col("n_exact") < kmvK, col("n_exact"))
          .otherwise(expr(
            s"CAST(${kmvK - 1}L * $kmvSpace AS BIGINT) div " +
              s"CAST(conv(element_at(bot, $kmvK).h, 16, 10) AS BIGINT)"))
          .as("n_kmv"))

  /** The KMV sketch every KMV query shares, over any (event_type, user_id)
    * frame, batch or streaming: per event type, the [[kmvK]] smallest
    * 12-hex `md5(user_id)` prefixes as the sorted
    * [[graft.functions.KeyedId]] array `bot`, with `extra` aggregates
    * alongside. The cut keeps set semantics, so a re-delivered user never
    * displaces a slot. */
  private[graft] def kmvSketch(users: DataFrame, extra: Column*): DataFrame =
    users
      .select(col("event_type"),
        substring(md5(col("user_id").cast("string")), 1, 12).as("h"),
        col("user_id").as("id"))
      .groupBy(col("event_type"))
      .agg(TopK.cut(kmvK, TopKOrder.keyedId, TopKOrder.wholeRecord).apply(
        col("h"), col("id")).as("bot"), extra: _*)

  /** KMV set algebra — the estimator family's UNION/INTERSECTION story
    * (Beyer et al., SIGMOD'07): for every event-type pair, estimate
    * |A∪B| and |A∩B| of the user sets from the two [[kmvK]]-sized
    * bottom-k sketches alone, against the exact intersection truth.
    *
    * Algebra: K(A∪B) = the k smallest hashes of S_A ∪ S_B (valid because
    * any union hash below that cut is below its own sketch's cut, hence
    * retained); est_union = (k−1)·2⁴⁸ ÷ h_k as usual, or exact when both
    * sketches are unsaturated (|S_A| < k AND |S_B| < k ⇒ each sketch IS
    * its side's complete hash set, so |A∪B| and |A∩B| are derivable
    * exactly even when the merged set reaches or passes k — the per-side
    * test is strictly wider than checking |S_A ∪ S_B| < k).
    * Intersection by the ratio estimator: the fraction ρ of
    * the union sketch's k hashes present in BOTH sketches is an unbiased
    * estimate of |A∩B|/|A∪B|, so est_inter = ρ·est_union — all integer
    * arithmetic (matches·est_union ÷ k; products ≪ 2⁶³), so the DuckDB
    * twin reproduces the ESTIMATES exactly, the [[kmvDistinct]] stance.
    *
    * Why this matters at 100 TB: cross-corpus overlap questions (shared
    * users/domains/vocab between two snapshots or domains) exactly-computed
    * need a distinct-join over both corpora per pair; with KMV each corpus
    * is sketched ONCE (one bounded-heap pass), and every pairwise overlap
    * is then arithmetic on two k-row arrays — P pairs cost O(P·k), not
    * P distinct-joins. The exact side here is the differential harness,
    * paid only because this is the eval form.
    *
    * Plan: the sketch relation is |types| rows (broadcast to the pair
    * cross), the exact side one distinct + self-join keyed on user_id, and
    * the estimate arithmetic runs in-row over the ≤2k-element arrays
    * (fixed-length lowercase hex: string sort = numeric hash sort). Pairs
    * with an empty exact intersection survive via the left join + zero
    * fill (both engines). */
  def kmvOverlap(s: SparkSession, d: String): DataFrame = {
    val du = distinctTypeUsers(s, d)
    overlapOf(kmvSketch(du), du)
  }

  /** The distinct (event_type, user_id) relation both overlap forms rest
    * on — the exact-truth leg of the differential. */
  private[graft] def distinctTypeUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id")).distinct()

  /** [[kmvOverlap]]'s pairwise tail over any per-type sketch relation
    * `bots` (event_type, bot: a [[kmvSketch]] array) — shared with the
    * maintained-sketch stream ([[graft.streaming.IngestStream]]), which
    * resolves `bots` from its keyed sink instead of a batch scan. */
  private[graft] def overlapOf(bots: DataFrame, du: DataFrame): DataFrame = {
    val sk = bots.select(col("event_type"), expr("transform(bot, x -> x.h)").as("hs"))
    val pairs = sk.select(col("event_type").as("type_a"), col("hs").as("ha"))
      .join(broadcast(sk.select(col("event_type").as("type_b"), col("hs").as("hb"))),
        col("type_a") < col("type_b"))
    val exact = du.select(col("event_type").as("type_a"), col("user_id"))
      .join(du.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_exact_inter"))
    pairs.join(exact, Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("n_exact_inter"))
      .withColumn("u", expr(s"slice(array_sort(array_union(ha, hb)), 1, $kmvK)"))
      .withColumn("m", expr("size(array_union(ha, hb))"))
      // Exactness holds whenever BOTH sides are unsaturated (|S| < k ⇒ the
      // sketch IS the side's complete hash set, so union/intersection are
      // derivable exactly even when the merged set reaches or passes k) —
      // strictly wider than the old m < k test, which m < k still implies.
      .withColumn("exact_ok", expr(s"size(ha) < $kmvK AND size(hb) < $kmvK"))
      .withColumn("matches", expr(
        "CAST(size(filter(u, x -> array_contains(ha, x) AND array_contains(hb, x))) AS BIGINT)"))
      .withColumn("n_kmv_union",
        when(col("exact_ok"), col("m").cast("long"))
          .otherwise(expr(
            s"CAST(${kmvK - 1}L * $kmvSpace AS BIGINT) div " +
              s"CAST(conv(element_at(u, $kmvK), 16, 10) AS BIGINT)")))
      .withColumn("n_kmv_inter",
        when(col("exact_ok"), expr(
          "CAST(size(filter(ha, x -> array_contains(hb, x))) AS BIGINT)"))
          .otherwise(expr(s"(matches * n_kmv_union) div ${kmvK}L")))
      .select(col("type_a"), col("type_b"), col("n_exact_inter"),
        col("n_kmv_inter"), col("n_kmv_union"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_sketch_distinct" -> hllDistinct,
    "x_sketch_kmv_distinct" -> kmvDistinct,
    "x_sketch_kmv_overlap" -> kmvOverlap,
    "x_sketch_quantile" -> tdigestQuantile,
    "x_sketch_heavy_hitters" -> cmHeavyHitters)

  /** The oracle computes the exact side and pins each bound flag to true —
    * DuckDB cannot reproduce the sketch, but it can (exactly) reproduce the
    * truth the sketch is contractually tied to.
    *
    * FIXTURE-DEPENDENCE of the pinned flags: HLL++'s rsd is a standard
    * deviation, not a hard bound, so `hll_ok`'s 3×rsd margin is a ~3σ
    * check — a new fixture or scale could legitimately (and then
    * persistently, the sketch being deterministic per dataset) exceed it
    * with a perfectly healthy sketch. On the shipped sf0.001/0.01/0.1
    * fixtures the observed error is ≪ rsd; if a future fixture trips the
    * flag, diagnose by comparing `n_hll` (re-add it to the select) against
    * `n_exact` before suspecting the sketch — and the same reading applies
    * to `td_ok`, whose rank-error bound is exact but fixture-measured. */
  val oracle: Map[String, String] = Map(
    "x_sketch_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS hll_ok
        |FROM events WHERE user_id IS NOT NULL GROUP BY 1""".stripMargin,
    // KMV is hash-deterministic, so the twin recomputes the ESTIMATE
    // exactly — rank the 48-bit hashes, read the k-th, same integer
    // division
    "x_sketch_kmv_distinct" ->
      s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events
         |           WHERE user_id IS NOT NULL),
         |h AS (SELECT event_type,
         |        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::UBIGINT AS BIGINT) AS hv
         |      FROM du),
         |r AS (SELECT event_type, hv,
         |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS nd
         |      FROM h),
         |sel AS (SELECT event_type, CAST(max(nd) AS BIGINT) AS n_exact,
         |          max(CASE WHEN rn = $kmvK THEN hv END) AS hk
         |        FROM r GROUP BY 1)
         |SELECT event_type, n_exact,
         |       CAST(CASE WHEN n_exact < $kmvK THEN n_exact
         |            ELSE (${kmvK - 1} * ${1L << 48}) // hk END AS BIGINT) AS n_kmv
         |FROM sel""".stripMargin,
    // KMV set algebra is hash-deterministic end-to-end: the twin rebuilds
    // both sketches (numeric 48-bit form — fixed-length hex order = numeric
    // order), merges, and reproduces BOTH estimates exactly.
    "x_sketch_kmv_overlap" ->
      s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events
         |            WHERE user_id IS NOT NULL),
         |h AS (SELECT event_type,
         |        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::UBIGINT AS BIGINT) AS hv
         |      FROM du),
         |r AS (SELECT event_type, hv,
         |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
         |      FROM h),
         |sk AS (SELECT event_type, list(hv ORDER BY hv) AS hs
         |       FROM r WHERE rn <= $kmvK GROUP BY 1),
         |ex AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |         CAST(count(*) AS BIGINT) AS n_exact_inter
         |       FROM du a JOIN du b
         |         ON a.user_id = b.user_id AND a.event_type < b.event_type
         |       GROUP BY 1, 2),
         |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |        a.hs AS ha, b.hs AS hb
         |      FROM sk a JOIN sk b ON a.event_type < b.event_type),
         |comb AS (SELECT type_a, type_b, ha, hb,
         |           list_sort(list_distinct(list_concat(ha, hb))) AS uall
         |         FROM p),
         |calc AS (SELECT type_a, type_b, len(uall) AS m,
         |           len(ha) < $kmvK AND len(hb) < $kmvK AS exact_ok,
         |           CAST(len(list_filter(uall[1:$kmvK],
         |                  x -> list_contains(ha, x) AND list_contains(hb, x))) AS BIGINT) AS matches,
         |           CAST(len(list_filter(ha, x -> list_contains(hb, x))) AS BIGINT) AS inter_full,
         |           CASE WHEN len(ha) < $kmvK AND len(hb) < $kmvK THEN CAST(len(uall) AS BIGINT)
         |                ELSE CAST((${kmvK - 1} * ${1L << 48}) // uall[$kmvK] AS BIGINT) END AS n_kmv_union
         |         FROM comb)
         |SELECT c.type_a, c.type_b, COALESCE(e.n_exact_inter, 0) AS n_exact_inter,
         |       CAST(CASE WHEN c.exact_ok THEN c.inter_full
         |            ELSE (c.matches * c.n_kmv_union) // $kmvK END AS BIGINT) AS n_kmv_inter,
         |       c.n_kmv_union
         |FROM calc c LEFT JOIN ex e USING (type_a, type_b)""".stripMargin,
    "x_sketch_quantile" ->
      """SELECT l_returnflag,
        |       CAST(round(quantile_cont(l_quantity, 0.5) * 100) AS BIGINT) AS p50_qty_c,
        |       true AS td_ok
        |FROM lineitem GROUP BY 1""".stripMargin,
    // CM is hash-deterministic, so this twin rebuilds the ENTIRE sketch
    // (same md5 row-salted buckets) and pins the estimates exactly.
    "x_sketch_heavy_hitters" ->
      s"""WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
         |rows_ AS (SELECT unnest(range($cmRows)) AS r),
         |cells AS (
         |  SELECT r.r,
         |         CAST(('0x' || substr(md5(r.r || ':' || CAST(e.user_id AS VARCHAR)), 1, 15))::UBIGINT
         |              % $cmWidth AS BIGINT) AS b
         |  FROM ev e CROSS JOIN rows_ r),
         |counters AS (SELECT r, b, count(*) AS cnt FROM cells GROUP BY 1, 2),
         |top AS (SELECT user_id, count(*) AS n_exact FROM ev GROUP BY 1
         |        ORDER BY n_exact DESC, user_id ASC LIMIT $cmTopN),
         |probes AS (
         |  SELECT t.user_id, t.n_exact, r.r,
         |         CAST(('0x' || substr(md5(r.r || ':' || CAST(t.user_id AS VARCHAR)), 1, 15))::UBIGINT
         |              % $cmWidth AS BIGINT) AS b
         |  FROM top t CROSS JOIN rows_ r)
         |SELECT p.user_id, p.n_exact, CAST(min(c.cnt) AS BIGINT) AS n_cm,
         |       min(c.cnt) >= p.n_exact AS cm_ge_ok
         |FROM probes p JOIN counters c USING (r, b)
         |GROUP BY 1, 2""".stripMargin)
}
