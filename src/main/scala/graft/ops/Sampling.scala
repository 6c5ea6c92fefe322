package graft.ops

import graft.Tables
import graft.functions.{TopK, TopKOrder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling pack for training-data curation: the step between filtering and
  * training where a corpus is rebalanced — per-stratum quotas (cap each
  * (lang, source) bucket so no domain dominates the mix) and a deterministic
  * uniform subsample. Both use HASH-ordered selection (md5 of the key)
  * instead of `rand()`: the sample is reproducible across runs, engines and
  * partitionings — the property a data pipeline needs for auditable training
  * sets, and the reason every row of the output is oracle-checkable at all.
  *
  * Scale: the quota sample is one shuffle on the stratum key; per-stratum
  * state is the rank counter, and the windows are as parallel as the stratum
  * count (here |lang|×|source| ≈ 80 — at 100 TB you'd subdivide hot strata
  * by a hash-salt prefix, same plan). The uniform sample is a pure map-side
  * filter — no shuffle at all, the same trick as hash-based train/test
  * splitting.
  */
object Sampling {

  private val quotaPerStratum = 5

  /** Per-(lang, source) quota: keep the `quotaPerStratum` docs with the
    * smallest md5(doc_id) in each stratum — a deterministic "random" draw
    * with an exact per-stratum cap. */
  def quotaSample(s: SparkSession, d: String): DataFrame =
    quotaSampleDocs(Tables.documents(s, d), quotaPerStratum)

  /** [[quotaSample]] over any frame with (doc_id, lang, source).
    *
    * Bounded-heap cut, not a window: a `row_number` window partitioned by
    * (lang, source) would put each STRATUM's entire candidate set in one
    * window partition — strata number in the dozens, so at 100 TB that is
    * a handful of multi-TB single-task sorts. The heap aggregation
    * ([[graft.functions.TopK.Cut]], bottom-`quota` by
    * (md5 ASC, doc_id ASC) — exact 128-bit hash order) instead reduces
    * every map-side partition's candidates to ≤ quota per stratum BEFORE
    * the exchange, at the source partitioning's full parallelism; the
    * survivors come back sorted, so `posexplode`'s ordinal IS the exact
    * rank — no window, no sort, one aggregation exchange. Output is
    * bit-identical to the window formulation (`SamplingPropsSpec` pins
    * equality against a driver-side selection, and the plan pin rejects a
    * window regression). */
  def quotaSampleDocs(docs: DataFrame, quota: Int): DataFrame = {
    val bot = docs
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("doc_id").cast("string")).as("h"))
      .groupBy(col("lang"), col("source"))
      .agg(TopK.cut(quota, TopKOrder.keyedId, TopKOrder.wholeRecord).apply(
        col("h"), col("doc_id")).as("bot"))
    TopK.ranked(bot, "bot", col("t.id").as("doc_id"), col("lang"), col("source"), col("rnk"))
  }

  /** Fixed sample size for [[bottomkSample]] / `s_sample_stream`. */
  private[graft] val bottomK = 64

  /** BOTTOM-K (KMV) UNIFORM SAMPLE: the `bottomK` documents with the
    * smallest `md5(doc_id)` — a FIXED-SIZE uniform sample, where
    * [[hashSample]]'s threshold predicate gives a fixed RATE. The bottom-k
    * set is the classic KMV sketch: deterministic (no RNG state to
    * coordinate across executors or replays), uniform (the hash is
    * pseudorandom in the id), and MERGEABLE — the global bottom-k of any
    * partition/batch union equals the bottom-k of the per-part bottom-ks,
    * which is what lets the streamed twin ([[graft.streaming.IngestStream]])
    * maintain it at ingest with k rows of state and lets a 1000-executor
    * cluster compute it as a TakeOrderedAndProject (per-partition heap of
    * k, then a driver merge of k×partitions candidates — no global sort,
    * no shuffle of the corpus). The hash column is part of the output: a
    * consumer refreshing the sample tomorrow keeps exactly the rows whose
    * hash still ranks in the bottom k, so membership is stable under
    * corpus growth — the property that makes KMV samples auditable. */
  def bottomkSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("doc_id").cast("string")).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(bottomK)

  /** Uniform ~25% subsample: keep docs whose md5(doc_id) falls in the first
    * quarter of hash space (first hex char in 0..3). Map-side only; the
    * complement is the held-out set, so the same predicate implements
    * train/test splitting. */
  def hashSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("doc_id").cast("string")).as("h"))
      .filter(substring(col("h"), 1, 1).isin("0", "1", "2", "3"))
      .select(col("doc_id"), col("lang"), col("source"))

  /** Domain-mixing weights: the per-stratum resampling factor that rebalances
    * the corpus toward a uniform-over-domains target mixture (weight > 10000
    * bp = upsample this stratum, < 10000 bp = downsample) — the knob behind
    * published training-mixture recipes where rare domains are upweighted
    * relative to their raw share. weight_bp = target_share / actual_share =
    * total / (n_strata × n_docs), in basis points; one integer division per
    * stratum, so exact and engine-portable. Plan: one shuffle for the stratum
    * counts (partial agg map-side), a 1-row global agg broadcast back —
    * stratum cardinality is |lang|×|source|, a constant next to corpus size. */
  def mixWeights(s: SparkSession, d: String): DataFrame = {
    val strata = Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = strata.agg(
      sum(col("n_docs")).as("total"), count(lit(1)).as("n_strata"))
    strata.crossJoin(broadcast(totals))
      .select(col("lang"), col("source"), col("n_docs"),
        expr("CAST(round(CAST(total * 10000 AS DOUBLE) / (n_strata * n_docs)) AS BIGINT)")
          .as("weight_bp"))
  }

  /** Token-budget multiplier and per-stratum epoch cap for [[mixEpochs]] —
    * TUNABLEs shared with the oracle. A real run sets the multiplier from
    * its compute budget (tokens to train on ÷ corpus tokens) and the cap
    * from how many repeats a domain tolerates before memorization outweighs
    * signal (the data-constrained-scaling rule of thumb of ~4 epochs). */
  private[ops] val epochBudgetMult = 3L
  private[ops] val maxEpochs = 4L

  /** EPOCH ALLOCATION UNDER A TOKEN BUDGET — the data-constrained-scaling
    * table a pipeline publishes when the training budget exceeds the
    * corpus: for a budget of [[epochBudgetMult]]× the corpus tokens spread
    * uniformly over strata (the [[mixWeights]] target mixture), how many
    * epochs of each (lang, source) stratum are actually scheduled, capped
    * at [[maxEpochs]] repeats — and how many budgeted tokens each
    * data-constrained stratum leaves on the table (`shortfall_tokens` > 0
    * means "this domain ran out of unique data"; the training-mix owner
    * redistributes or goes and collects more of it). Epochs are emitted in
    * basis points (40000 = the cap) — pure integer arithmetic end to end,
    * so the table is exact and engine-portable.
    *
    * Plan: one shuffle for the per-stratum token sums (partial agg
    * map-side over a 3-column projection), a 1-row global agg broadcast
    * back — stratum cardinality is |lang|×|source|, a constant next to
    * corpus size, identical to [[mixWeights]]'s shape. */
  def mixEpochs(s: SparkSession, d: String): DataFrame = {
    val strata = Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n")).as("n_tokens"))
    val totals = strata.agg(
      sum(col("n_tokens")).as("total"), count(lit(1)).as("n_strata"))
    strata.crossJoin(broadcast(totals))
      .select(col("lang"), col("source"), col("n_tokens"),
        expr(s"(total * $epochBudgetMult) div n_strata").as("ideal_tokens"))
      .select(col("lang"), col("source"), col("n_tokens"),
        expr(s"least(ideal_tokens, n_tokens * $maxEpochs)").as("alloc_tokens"),
        col("ideal_tokens"))
      .select(col("lang"), col("source"), col("n_tokens"), col("alloc_tokens"),
        expr("(alloc_tokens * 10000) div n_tokens").as("epochs_bp"),
        expr("ideal_tokens - alloc_tokens").as("shortfall_tokens"))
  }

  /** Power-of-two context caps for [[lengthBuckets]]. */
  private[graft] val lengthBucketCaps = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L)

  /** LENGTH-BUCKETED BATCHING LEDGER (`x_length_buckets`): documents
    * histogrammed into power-of-two context caps with the PADDING WASTE
    * each bucket pays — the table behind length-bucketed batching, the
    * alternative to [[packSequences]]' concatenation when cross-document
    * attention must never mix documents: every doc in a bucket pads to
    * the bucket cap, so `waste_bp` (padded ÷ capacity) is the fraction of
    * compute the bucketing burns, and the bucket whose waste dominates
    * tells the owner where to split caps finer. Documents longer than the
    * top cap land there with their overflow counted as
    * `truncated_tokens` — a nonzero value says to raise the cap or chunk
    * upstream ([[graft.ops.TextAnalysis]]'s chunker). Pure map-side CASE
    * assignment + one partial-agg shuffle on ≤ |caps| keys; all integer. */
  def lengthBuckets(s: SparkSession, d: String): DataFrame = {
    val caseSql = lengthBucketCaps.map(c => s"WHEN n_tokens <= $c THEN ${c}L")
      .mkString("CASE ", " ", s" ELSE ${lengthBucketCaps.max}L END")
    Tables.documents(s, d)
      .select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cap", expr(caseSql))
      .groupBy(col("cap")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(expr("greatest(cap - n_tokens, 0L)")).as("padding_tokens"),
        sum(expr("greatest(n_tokens - cap, 0L)")).as("truncated_tokens"))
      .withColumn("waste_bp", expr("(padding_tokens * 10000) div (n_docs * cap)"))
  }

  /** TEMPERATURE-SCALED MIXTURE (`x_mix_temperature`): per-stratum
    * sampling shares under temperature α = 1/2 — share ∝ √n instead of
    * ∝ n — next to the raw shares, plus the implied per-stratum
    * up/down-weight. This is the published multilingual sampling recipe
    * (exponentiated smoothing: raise each domain's mass to α < 1, then
    * renormalize), sitting between [[mixWeights]]' uniform-over-domains
    * target (α = 0) and raw proportional sampling (α = 1): big domains
    * shrink, small ones grow, nothing is flattened to equality.
    *
    * α = 1/2 specifically because it keeps the table EXACT and
    * engine-portable: IEEE `sqrt` is correctly rounded in every engine
    * (a general `pow(x, α)` is not), so `isqrt = floor(sqrt(n))` is the
    * same integer everywhere, and all downstream arithmetic is integer.
    * Plan: [[mixWeights]]' shape — one partial-agg shuffle to count
    * strata, a 1-row totals agg broadcast back. */
  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val strata = Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("isqrt_n", expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
    val totals = strata.agg(
      sum(col("n_docs")).as("total"), sum(col("isqrt_n")).as("t_sqrt"))
    strata.crossJoin(broadcast(totals))
      .select(col("lang"), col("source"), col("n_docs"),
        expr("(n_docs * 10000) div total").as("share_bp"),
        expr("(isqrt_n * 10000) div t_sqrt").as("temp_share_bp"))
      .withColumn("boost_bp",
        expr("CASE WHEN share_bp = 0 THEN NULL ELSE (temp_share_bp * 10000) div share_bp END"))
  }

  /** INGEST DISTRIBUTION DRIFT — the data-drift monitor a pipeline runs
    * on every arriving partition before admitting it to the corpus: the
    * per-`lang` composition of the ingest
    * (`doc_id % newMod == newRem`, [[graft.ops.Dedup.incremental]]'s
    * arriving-partition convention) against the standing corpus, as shares
    * in basis points plus their absolute difference. A large `drift_bp`
    * on any stratum means the upstream source changed shape — the signal
    * that pauses the pipeline before a skewed day poisons the training
    * mix (half the per-stratum sum of `drift_bp` is the total-variation
    * distance in bp). Pure integer arithmetic, so exact and
    * engine-portable; strata missing from one side keep a 0-count row
    * (the full-outer semantics a drift monitor needs — a BRAND-NEW
    * language arriving is the loudest drift of all).
    *
    * Plan: one partial-agg shuffle keyed by lang over a 2-column
    * projection, a 1-row total broadcast back — [[mixWeights]]'s shape.
    * The streaming twin (`s_drift_stream`,
    * [[graft.streaming.DriftStream]]) maintains the same census at ingest
    * and shares this oracle. */
  def ingestDrift(s: SparkSession, d: String): DataFrame =
    driftOf(ingestCounts(Tables.documents(s, d)))

  /** Per-lang (n_old, n_new) counts of a (doc_id, lang) frame under the
    * arriving-partition convention — the map-side census both the batch
    * and streamed drift forms roll up. */
  private[graft] def ingestCounts(docs: DataFrame): DataFrame = {
    val isNew = col("doc_id") % graft.ops.Dedup.newMod === graft.ops.Dedup.newRem
    docs.groupBy(col("lang")).agg(
      sum(when(!isNew, 1L).otherwise(0L)).as("n_old"),
      sum(when(isNew, 1L).otherwise(0L)).as("n_new"))
  }

  /** Shares + drift off a per-lang (n_old, n_new) census — shared by the
    * batch form and the streamed twin's post-resolve projection. */
  private[graft] def driftOf(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new"))
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_old"), col("n_new"),
        expr("(n_old * 10000) div t_old").as("share_old_bp"),
        expr("(n_new * 10000) div t_new").as("share_new_bp"))
      .withColumn("drift_bp", abs(col("share_new_bp") - col("share_old_bp")))
  }

  /** Deterministic stratified train/val/test split: the first hex char of
    * md5(doc_id) buckets each document 12/2/2 sixteenths into
    * train/val/test, and the query rolls up doc and token counts per
    * (split, lang) — the audit table a pipeline publishes alongside the
    * split itself. Membership is a pure function of the stable key, so the
    * split is reproducible across runs, engines and partitionings, docs
    * never migrate between splits as the corpus grows, and the held-out
    * sets stay leak-free without any coordination. Plan: map-side hash +
    * bucket, one shuffle for the ≤3×|lang| rollup rows. */
  def splitAssign(s: SparkSession, d: String): DataFrame = {
    val hx = substring(md5(col("doc_id").cast("string")), 1, 1)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_words"), hx.as("hx"))
      .withColumn("split",
        when(col("hx").isin("c", "d"), lit("val"))
          .when(col("hx").isin("e", "f"), lit("test"))
          .otherwise(lit("train")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
  }

  /** The 12/2/2-sixteenths hex-bucket split of a stable key — shared by
    * [[splitAssign]] (keyed by doc_id) and [[splitLeakproof]] (keyed by
    * the near-duplicate component label). */
  private def splitOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hx = substring(md5(key.cast("string")), 1, 1)
    when(hx.isin("c", "d"), lit("val"))
      .when(hx.isin("e", "f"), lit("test"))
      .otherwise(lit("train"))
  }

  /** Per-document LEAK-PROOF split assignment (exposed for the purity
    * spec): [[splitOf]] keyed by the document's near-duplicate COMPONENT
    * label ([[Dedup.components]] — the LSH min-label fixpoint), so every
    * member of a near-dup cluster lands in the same split by construction. */
  private[graft] def splitLeakproofDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(Dedup.components(s, d), "doc_id")
      .withColumn("split", splitOf(col("comp")))

  /** Leak-proof train/val/test split: [[splitAssign]]'s hash bucketing,
    * keyed by the NEAR-DUPLICATE COMPONENT instead of the document — the
    * fix for the classic eval leak where a test document's near-copy sits
    * in train and the held-out loss silently measures memorization.
    * Hashing the component label keeps every property [[splitAssign]]
    * has (pure function of a stable key — reproducible across runs,
    * engines, partitionings) and adds the group guarantee: a component
    * CANNOT straddle splits, because all its members share the key
    * (`SamplingPropsSpec` pins purity on the live fixture). Rolls up doc,
    * token and component counts per (split, lang).
    *
    * Plan / 100 TB story: the component labels are the memoized
    * [[Dedup.components]] fixpoint (edge-labeled docs only, read back
    * columnar; the corpus-wide dedup job a pipeline runs ONCE and every
    * downstream consumer reuses); the join is doc_id-keyed on both sides —
    * co-located for free on a lake bucketed by doc_id — and everything
    * after it is map-side hash + the ≤3×|lang| rollup exchange. */
  def splitLeakproof(s: SparkSession, d: String): DataFrame =
    splitLeakproofDocs(s, d)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"),
        countDistinct(col("comp")).as("n_comps"))

  /** INGEST-TIME leak-proof split assignment — [[splitLeakproof]]'s
    * serving twin: an arriving document must land in the SAME split as
    * its standing near-duplicates, decided at ingest without recomputing
    * any corpus-wide fixpoint. The arrival probes the standing MinHash
    * index ([[Dedup.incrementalProbe]] — band match + signature-Jaccard
    * verify, the `x_dedup_incremental` machinery verbatim); a matched
    * arrival inherits its smallest-id match's STANDING component label as
    * its split key, an unmatched one keys by its own id (indistinguishable
    * from [[splitAssign]] for genuinely novel content). Emits per arrival:
    * whether the key was inherited, the key, and the split.
    *
    * Approximation, stated: assignment-time inheritance cannot merge two
    * standing components an arrival newly bridges (a full recompute
    * would); the arrival lands deterministically in ONE of them — the
    * standard trade of online assignment, and the reason the offline
    * [[splitLeakproof]] table remains the periodic ground truth.
    *
    * Plan / 100 TB story: the standing component labels and the standing
    * signature/band index are both persisted session state (read-back
    * scans); the arrival batch pays map-side hashing plus the broadcast
    * band probe, and the label join is keyed by the matched doc —
    * per-arrival work independent of corpus size. */
  def splitLeakproofIngest(s: SparkSession, d: String): DataFrame = {
    val isNew = col("doc_id") % Dedup.newMod === Dedup.newRem
    val (corpusSig, corpusBands) = Dedup.corpusSigIndex(s, d)
    splitLeakproofProbe(
      Tables.documents(s, d).filter(isNew).select(col("doc_id"), col("text")),
      corpusSig, corpusBands, Dedup.standingComponentLabels(s, d))
  }

  /** The per-arrival assignment core — ONE definition shared by the batch
    * form and the streamed twin ([[graft.streaming.IngestStream]]), so
    * the two cannot drift. Each arrival's row depends only on its own text
    * plus the static index + label relations, so the probe is
    * batching-invariant. */
  private[graft] def splitLeakproofProbe(
      batch: DataFrame, corpusSig: DataFrame, corpusBands: DataFrame,
      labels: DataFrame): DataFrame =
    Dedup.incrementalProbe(batch, corpusSig, corpusBands)
      .join(labels.select(col("doc_id").as("dup_of"), col("comp")),
        Seq("dup_of"), "left")
      .select(col("new_id").as("doc_id"), col("is_dup").as("inherited"),
        when(col("is_dup"), coalesce(col("comp"), col("dup_of")))
          .otherwise(col("new_id")).as("split_key"))
      .withColumn("split", splitOf(col("split_key")))

  /** Shard fan-out for [[shuffleShard]] — a TUNABLE shared with the oracle;
    * a real training run sets it to the loader's file parallelism. */
  private val nShards = 8

  /** Deterministic global shuffle + shard assignment: the step that turns a
    * curated corpus into training shards read in pseudorandom order. Each
    * document is assigned a shard (its md5 hex prefix mod [[nShards]]) and
    * a position within the shard (rank by full md5) — a reproducible
    * permutation that is a pure function of the stable key, so re-running
    * the pipeline (or growing the corpus) never silently reorders existing
    * epochs' data the way `rand()`-ordered writes do.
    *
    * Plan: the shard id is map-side; the per-shard position is one shuffle
    * keyed by shard with a rank ordered by the hash. The window's
    * parallelism equals the shard count — which is exactly right, because
    * each shard is one output stream; at 100 TB you raise [[nShards]] to
    * the loader's file fan-out (thousands) and the same plan gives
    * thousands-way parallelism with per-shard state of one counter. */
  def shuffleShard(s: SparkSession, d: String): DataFrame =
    shuffleShardDocs(Tables.documents(s, d).select(col("doc_id"), col("lang")))

  /** [[shuffleShard]] over any frame with a `doc_id` key: appends (shard,
    * pos), passing every input column through — so composed pipelines
    * ([[curateShard]]) carry their payload columns into the shards. */
  def shuffleShardDocs(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    docs
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("shard",
        expr(s"(instr('0123456789abcdef', substring(h, 1, 1)) - 1) % $nShards").cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("h")
  }

  /** Global dense example index — contiguous ids 1..n over the shuffled
    * corpus WITHOUT a global sort: the two-phase offset pattern. A naive
    * `row_number() OVER (ORDER BY ...)` collapses the whole corpus into
    * ONE partition (the classic 100 TB killer); here the big relation only
    * pays [[shuffleShardDocs]]'s per-shard rank (parallel across shards),
    * then the [[nShards]]-row shard-count relation — and only it — takes
    * the single-partition running-sum window, and the offsets broadcast
    * back for a map-side add. `example_id = shard offset + in-shard pos`
    * is exactly the global rank by (shard, hash, doc_id), which is what
    * the oracle pins; the order itself is the deterministic md5 shuffle
    * order, so the index doubles as the epoch-reproducible sample order a
    * training loader needs. */
  def globalIndex(s: SparkSession, d: String): DataFrame =
    globalIndexDocs(Tables.documents(s, d).select(col("doc_id"), col("lang")))

  /** [[globalIndex]] over any frame with a `doc_id` key (exposed for the
    * dense-permutation property spec). */
  private[graft] def globalIndexDocs(docs: DataFrame): DataFrame = {
    // Cut after the per-shard rank: the shuffled+ranked relation (the
    // operator's real output, and what a loader would persist anyway)
    // materializes ONCE, and both the offsets rollup and the final join
    // read it — without the cut the offsets branch re-scans and
    // re-shuffles the whole corpus a second time.
    val sharded = Lineage.cut(shuffleShardDocs(docs))
    val offW = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("shard")).agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(sum(col("n")).over(offW), lit(0L)))
      .select(col("shard"), col("offset"))
    sharded.join(broadcast(offsets), "shard")
      .select(col("doc_id"), col("lang"), col("shard"), col("pos"),
        (col("offset") + col("pos")).as("example_id"))
  }

  /** Per-stratum relative quality gate: keep each (lang, source) stratum's
    * upper half by document length — the percentile-style cut real curation
    * recipes apply per domain (an absolute threshold that suits one domain
    * starves another; a relative cut adapts to each stratum's own
    * distribution). Exact integer formulation: rank by (n_words desc,
    * doc_id) and keep rows with 2·rank ≤ stratum count — no FP percentile,
    * so the kept set is identical across engines and partitionings.
    *
    * Plan: unlike [[quotaSample]] (whose constant-size cut two-levels
    * through a bounded heap), an exact MEDIAN cut keeps a fraction of each
    * stratum, so a bounded heap cannot express it — but the exact rank
    * still decomposes through a length HISTOGRAM (see
    * [[percentileGateDocs]]): histogram aggregate → tiny histogram-side
    * cumulative → broadcast-back → within-tie-class rank. EXACT at any
    * scale — no `approx_percentile` concession — with the only
    * document-sized window partitioned by (stratum, length). */
  def percentileGate(s: SparkSession, d: String): DataFrame =
    percentileGateDocs(Tables.documents(s, d))

  /** [[percentileGate]] over any frame with (doc_id, lang, source, text).
    *
    * HISTOGRAM TWO-PASS: the direct form — one rank window per
    * (lang, source) stratum — caps parallelism at the stratum count and
    * single-task-sorts each stratum. Since the rank key `n_words` is a
    * bounded-cardinality integer, the exact rank decomposes: aggregate a
    * per-stratum LENGTH HISTOGRAM (|strata|·|distinct lengths| rows —
    * dashboard-sized), take the strictly-above cumulative on the histogram
    * (a window over histogram rows, not documents), broadcast it back, and
    * rank each document as `above + its row_number WITHIN ITS (stratum,
    * length) tie class`. Identical output — rank, count and kept set are
    * bit-equal to the windowed form (`CorpusOpsSpec` pins both the fixture
    * semantics and the equivalence; `GatePlanSpec` pins that no
    * document-sized stratum-only window survives) — but the only window
    * over documents now partitions by (stratum, length): parallelism
    *  scales with the histogram, and the largest single sort is a tie
    * class, not a stratum. Rows whose tie class lies entirely below the
    * median (`above·2 > n_stratum`) are filtered BEFORE the rank window —
    * the window input is only the kept-plus-boundary half. */
  def percentileGateDocs(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_words"))
    val hw = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("n_words").desc)
    val hist = base.groupBy(col("lang"), col("source"), col("n_words"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("above", (sum(col("cnt")).over(hw) - col("cnt")).cast("long"))
      .withColumn("n_stratum",
        sum(col("cnt")).over(Window.partitionBy(col("lang"), col("source")))
          .cast("long"))
      .select(col("lang"), col("source"), col("n_words"),
        col("above"), col("n_stratum"))
    val tieW = Window.partitionBy(col("lang"), col("source"), col("n_words"))
      .orderBy(col("doc_id"))
    base.join(broadcast(hist), Seq("lang", "source", "n_words"))
      .filter(col("above") * 2 <= col("n_stratum"))
      .withColumn("rnk", (col("above") + row_number().over(tieW)).cast("long"))
      .filter(col("rnk") * 2 <= col("n_stratum"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_words"),
        col("rnk"), col("n_stratum"))
  }

  /** The full corpus-to-loader handoff, composed end to end: quality gate →
    * exact dedup ([[TextAnalysis.curatedDocs]]) → deterministic shuffle into
    * training shards ([[shuffleShardDocs]]), with each surviving document's
    * token count carried through — the artifact a training loader actually
    * mounts. Composition is the point: the gate fuses into the scan, the
    * keep-list is one content-hash shuffle, and the shard rank is one
    * shard-keyed shuffle — three exchanges total at any corpus size, and
    * the only rows that reach the shard shuffle are curated survivors. */
  def curateShard(s: SparkSession, d: String): DataFrame =
    shuffleShardDocs(TextAnalysis.curatedDocs(s, d)
      .select(col("doc_id"), col("lang"), col("n_words")))

  private[graft] val ctxLen = 2048

  /** Order-preserving bucket width for [[prefixSum]]: doc_ids are dense, so
    * 64 Ki-row buckets keep the bucket relation corpus/2¹⁶-sized. */
  private[graft] val packBucketWidth = 65536L

  /** DISTRIBUTED PER-STRATUM PREFIX SUM: the exact running
    * total `out = Σ value over rows before this one in `ord` order within
    * `strat`` — WITHOUT one sequential cumsum window per stratum, which
    * would push whole strata through |strat| tasks. Classic two-level scan:
    * rows bucket by `ord div bucketW` (monotone ⇒ order-preserving across
    * buckets); per-(stratum, bucket) totals aggregate into a corpus/B-row
    * relation whose own per-stratum cumulative is a window over BUCKET
    * rows, not documents; the exclusive bucket offset joins back on
    * (stratum, bucket) — the very partitioning the intra-bucket cumsum
    * window needs, so Catalyst reuses the exchange. Each row's total is
    * `bucket offset + its intra-bucket running sum`. Bit-identical to the
    * sequential window at any bucket width (`GatePlanSpec` pins equality
    * at multi-bucket widths); parallelism scales with corpus/B, and the
    * decomposition telescopes (re-bucket the bucket relation) if the
    * bucket relation itself ever outgrows one window task. */
  private[graft] def prefixSum(df: DataFrame, strat: String, ord: String,
      value: String, out: String,
      bucketW: Long = packBucketWidth): DataFrame = {
    val base = df.withColumn("bkt", expr(s"$ord div $bucketW"))
    val bw = Window.partitionBy(col(strat)).orderBy(col("bkt"))
    val bucketOff = base.groupBy(col(strat), col("bkt"))
      .agg(sum(col(value)).as("b_tot"))
      .withColumn("b_off", (sum(col("b_tot")).over(bw) - col("b_tot")).cast("long"))
      .select(col(strat), col("bkt"), col("b_off"))
    val iw = Window.partitionBy(col(strat), col("bkt")).orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(bucketOff, Seq(strat, "bkt"))
      .withColumn(out, col("b_off") + sum(col(value)).over(iw) - col(value))
      .drop("bkt", "b_off")
  }

  /** Training-sequence packing: the assembly step that concatenates a
    * corpus stream and cuts it into fixed-length context windows
    * ([[ctxLen]] whitespace tokens) — each document gets its start offset
    * in the stratum's token stream and the id of the sequence its first
    * token lands in (documents may span a boundary; the trainer's loader
    * slices by offset). Deterministic order (doc_id within lang) makes the
    * packing reproducible and oracle-checkable — the property an auditable
    * training set needs. Plan: the cumulative offset runs through
    * [[prefixSum]]'s two-level bucket scan — the sub-shard-the-stratum
    * plan this scaladoc used to defer to 100 TB is now the shipped shape,
    * with the stratum-sequential window demoted to bucket rows. */
  def packSequences(s: SparkSession, d: String): DataFrame =
    prefixSum(
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
      "lang", "doc_id", "n_tokens", "start_off")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("start_off"))
      .withColumn("seq_id", expr(s"start_off div $ctxLen"))

  /** BEST-FIT-DECREASING packing — the modern packer [[packSequences]]'s
    * concatenate-and-cut is not: no document is ever split across context
    * windows (cross-document attention contamination is the reason modern
    * loaders bin-pack instead of cut). Per stratum (lang), docs are taken
    * LONGEST FIRST (ties by doc_id) and each is placed WHOLE into the open
    * bin of capacity [[ctxLen]] with the SMALLEST remaining space that
    * still fits it (ties → lowest bin id); no fit opens a new bin. A doc
    * longer than [[ctxLen]] gets a bin of its own (its remaining goes
    * negative, so nothing joins it; chunk-first via `x_text_chunks` is the
    * pipeline's answer for those). Emits each doc's bin and the bin's
    * remaining capacity after placement — deterministic, so the loader
    * manifest is reproducible and every row oracle-checkable (the DuckDB
    * twin unrolls the identical fold as a recursive CTE over a
    * remaining-capacity list).
    *
    * Shape: BFD is inherently sequential WITHIN a stratum (each placement
    * depends on all earlier ones), so the stratum fold runs as typed
    * `flatMapGroups` — the extension ladder's last rung, justified because
    * no Catalyst operator expresses a data-dependent fold. Parallelism is
    * across strata; state per stratum is the open-bin capacity array —
    * O(bins), not O(docs). At 100 TB you pack per (stratum, curation
    * shard) — the shard key already exists ([[curateShard]]) and a loader
    * mounts shards independently, so the same plan runs one level down
    * with bounded group sizes. */
  def packBfd(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .as[(Long, String, Long)]
    docs.groupByKey(_._2).flatMapGroups { (lang, it) =>
      val sorted = it.toArray.sortBy { case (id, _, n) => (-n, id) }
      val rem = scala.collection.mutable.ArrayBuffer.empty[Long]
      sorted.iterator.map { case (id, _, n) =>
        val fit = rem.filter(_ >= n)
        if (fit.isEmpty) {
          rem += ctxLen - n
          (id, lang, n, rem.length.toLong, ctxLen - n)
        } else {
          val mr = fit.min
          val idx = rem.indexOf(mr) // first bin holding the min → lowest id
          rem(idx) = mr - n
          (id, lang, n, idx + 1L, mr - n)
        }
      }
    }.toDF("doc_id", "lang", "n_tokens", "bin_id", "bin_rem")
  }

  /** Draw size and ticket cap for [[weightedSample]] — TUNABLEs shared with
    * the oracle SQL. */
  private val weightedK = 50
  private val maxTickets = 8

  /** Weighted sampling without replacement, deterministic and exact: each
    * document holds `weight` lottery tickets (integer, 1 + n_words/100
    * capped at [[maxTickets]] — longer docs are proportionally likelier),
    * each ticket is the md5 of (doc_id, ticket#), the doc's draw key is its
    * MINIMUM ticket, and the sample is the [[weightedK]] smallest keys.
    * Since all tickets are i.i.d. uniform in hash space, each of a doc's w
    * tickets is equally likely to be the global minimum, so selection
    * probability is proportional to weight — the hash-seeded counterpart of
    * Efraimidis-Spirakis priority sampling, with the property the curation
    * pipeline needs: the draw is a pure function of stable keys, so it is
    * reproducible across runs, engines, and partitionings (and
    * oracle-checkable row for row).
    *
    * Plan: the ticket minimum is computed IN-ROW (`array_min` over a
    * `transform(sequence(...))` of ≤ [[maxTickets]] md5s — no explode, no
    * shuffle), and the global top-k compiles to `TakeOrderedAndProject`
    * (per-partition heap + driver merge of k rows, no global sort). Cost is
    * O(corpus) map work + k-row merge at any scale; for unbounded weights
    * switch the ticket loop to the exponential-key form (one ln per doc),
    * same plan. */
  def weightedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .withColumn("weight",
        least(expr("n_words div 100 + 1"), lit(maxTickets.toLong)).cast("long"))
      .withColumn("ticket",
        expr("array_min(transform(sequence(1, CAST(weight AS INT)), " +
          "j -> md5(concat(CAST(doc_id AS STRING), ':', CAST(j AS STRING)))))"))
      .orderBy(col("ticket"), col("doc_id"))
      .limit(weightedK)

  /** DSIR feature-space width (hashed unigram buckets), selection quota,
    * and the target distribution's language — tunables shared with the
    * oracle twin like `knnBits`. 64 buckets is the test-scale setting; the
    * published recipe uses 10⁴ hashed n-gram buckets at web scale — the
    * plan is bucket-count-independent (the weight table stays a broadcast
    * of `dsirBuckets` rows either way). */
  private[graft] val dsirBuckets = 64
  private[graft] val dsirQuota = 64
  private[graft] val dsirTargetLang = "en"

  /** Fixed-point log₂ in 1/1024-bit units, exact in both engines: the
    * integer bit length anchors the power of two and a 10-bit mantissa
    * interpolation — floor((x·1024) / 2^(bitlen−1)) — adds the fraction,
    * so log2fp(x) = (bitlen(x)−1)·1024 + frac − 1024. Monotone, pure
    * integer arithmetic (`bin`/`printf('%b')` + shift + floor-div), max
    * error vs true log₂ ≈ 0.086 bit. The finer sibling of
    * [[TextAnalysis.surprisal]]'s ⌈log₂⌉ device, which steps only at
    * powers of two — too coarse to rank likelihood ratios. */
  private[graft] def log2fpSpark(x: String): String =
    s"((length(bin($x)) - 1) * 1024 + (($x) * 1024) div " +
      s"shiftleft(CAST(1 AS BIGINT), length(bin($x)) - 1) - 1024)"

  private[graft] def log2fpDuck(x: String): String =
    s"((length(printf('%b', $x)) - 1) * 1024 + (($x) * 1024) // " +
      s"(1::BIGINT << (length(printf('%b', $x)) - 1)) - 1024)"

  /** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
    * 2023): score every document by the log-likelihood ratio of a TARGET
    * distribution over a RAW distribution in a hashed feature space, then
    * keep the highest-ratio documents. Here the feature space is
    * [[dsirBuckets]] md5-hashed unigram buckets (the house md5-prefix
    * integer hash), the target is the `lang = 'en'` sub-corpus standing in
    * for "looks like the high-quality reference distribution", and both
    * unigram LMs get add-1 smoothing. A document's score is
    * Σ_tokens [log₂ p̂_target(bucket) − log₂ p̂_raw(bucket)] in exact
    * 1/1024-bit fixed point ([[log2fpSpark]]) — an integer sum, so it
    * commutes across partitions, and the whole differential is
    * engine-exact with no float log anywhere. Selection is the
    * deterministic top-[[dsirQuota]] by (score, doc_id) — the Gumbel
    * resampling of the paper replaced by its deterministic limit, the
    * [[quotaSample]] hash-not-rand rationale.
    *
    * Plan / 100 TB: one tokenization feeds a [[dsirBuckets]]-row census
    * (map-side partial agg — bytes on the wire); the weight table is a
    * broadcast of 64 rows back onto the token stream, so scoring is
    * map-side; the per-doc sum partial-aggregates; the final cut is
    * `TakeOrderedAndProject` (bounded per-partition heaps, k-row driver
    * merge — the [[TextAnalysis.oov]] shape). Nothing data-sized is ever
    * globally sorted or collected. */
  def dsirSample(s: SparkSession, d: String): DataFrame =
    dsirSampleDocs(Tables.documents(s, d))

  /** (doc, lang, hashed feature bucket) token stream — shared by the
    * census and the scoring pass. */
  private def dsirTokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .withColumn("bucket",
        expr(s"CAST(conv(substring(md5(token), 1, 15), 16, 10) AS BIGINT) % $dsirBuckets"))

  /** The [[dsirBuckets]]-row weight table (bucket → fixed-point log-ratio)
    * from a CENSUS corpus frame — the standing artifact an ingest scorer
    * broadcasts. */
  private[graft] def dsirWeights(docs: DataFrame): DataFrame = {
    val toks = dsirTokens(docs)
    val raw = toks.groupBy(col("bucket")).agg(count(lit(1)).as("cnt_r"))
    val tgt = toks.filter(col("lang") === dsirTargetLang)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt_t"))
    val tot = raw.agg(sum(col("cnt_r")).as("n_r"))
      .crossJoin(tgt.agg(sum(col("cnt_t")).as("n_t")))
    raw.join(tgt, Seq("bucket"), "left")
      .na.fill(0L, Seq("cnt_t"))
      .crossJoin(broadcast(tot))
      .withColumn("w_mb", expr(
        s"${log2fpSpark("cnt_t + 1")} - ${log2fpSpark(s"n_t + $dsirBuckets")}" +
          s" - ${log2fpSpark("cnt_r + 1")} + ${log2fpSpark(s"n_r + $dsirBuckets")}"))
      .select(col("bucket"), col("w_mb"))
  }

  /** Map-side scoring of a docs frame against a broadcast weight table. */
  private[graft] def dsirScore(docs: DataFrame, weights: DataFrame): DataFrame =
    dsirTokens(docs).join(Hints.broadcastSmall(weights), "bucket")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_mb")).as("score_mb"))

  /** Deterministic top-[[dsirQuota]] trim — `TakeOrderedAndProject`, and
    * MERGEABLE: top-q(A ∪ B) = top-q(top-q(A) ∪ top-q(B)), the law the
    * streamed maintenance rides. */
  private[graft] def dsirTrim(scored: DataFrame): DataFrame =
    scored
      .orderBy(col("score_mb").desc, col("doc_id").asc)
      .limit(dsirQuota)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("score_mb"))

  /** [[dsirSample]] over any frame with (doc_id, lang, text). */
  private[graft] def dsirSampleDocs(docs: DataFrame): DataFrame =
    dsirTrim(dsirScore(docs, dsirWeights(docs)))

  /** DSIR AT INGEST: the weight table derives from the STANDING corpus
    * (`doc_id % 10 ≠ 7` — arrivals must not shift the reference
    * distributions they are judged against) and arriving documents
    * (`% 10 = 7`) are scored map-side against it; the admission set is
    * the top-[[dsirQuota]] arrivals. The streamed twin
    * ([[graft.streaming.IngestStream]]) maintains exactly this set as
    * batches arrive, riding [[dsirTrim]]'s merge law. */
  def dsirIngest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val weights = dsirWeights(docs.filter(
      col("doc_id") % graft.ops.Dedup.newMod =!= graft.ops.Dedup.newRem))
    dsirTrim(dsirScore(docs.filter(
      col("doc_id") % graft.ops.Dedup.newMod === graft.ops.Dedup.newRem), weights))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_sample_dsir" -> dsirSample,
    "x_sample_dsir_in" -> dsirIngest,
    "x_sample_quota" -> quotaSample,
    "x_sample_hash" -> hashSample,
    "x_sample_bottomk" -> bottomkSample,
    "x_mix_weights" -> mixWeights,
    "x_mix_epochs" -> mixEpochs,
    "x_mix_temperature" -> mixTemperature,
    "x_length_buckets" -> lengthBuckets,
    "x_ingest_drift" -> ingestDrift,
    "x_split_assign" -> splitAssign,
    "x_split_leakproof" -> splitLeakproof,
    "x_split_leakproof_in" -> splitLeakproofIngest,
    "x_pack_sequences" -> packSequences,
    "x_pack_bfd" -> packBfd,
    "x_shuffle_shard" -> shuffleShard,
    "x_global_index" -> globalIndex,
    "x_gate_percentile" -> percentileGate,
    "x_curate_shard" -> curateShard,
    "x_sample_weighted" -> weightedSample)

  /** [[ingestDrift]]'s twin — shared verbatim by `s_drift_stream` (the
    * streamed census accumulates to the same counts under any batching). */
  private[graft] def ingestDriftSql: String =
    s"""WITH c AS (SELECT lang,
       |             CAST(sum(CASE WHEN doc_id % ${graft.ops.Dedup.newMod} <> ${graft.ops.Dedup.newRem}
       |                           THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       |             CAST(sum(CASE WHEN doc_id % ${graft.ops.Dedup.newMod} = ${graft.ops.Dedup.newRem}
       |                           THEN 1 ELSE 0 END) AS BIGINT) AS n_new
       |           FROM documents GROUP BY 1),
       |t AS (SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
       |        CAST(sum(n_new) AS BIGINT) AS t_new FROM c)
       |SELECT lang, n_old, n_new,
       |       CAST((n_old * 10000) // t_old AS BIGINT) AS share_old_bp,
       |       CAST((n_new * 10000) // t_new AS BIGINT) AS share_new_bp,
       |       CAST(abs((n_new * 10000) // t_new - (n_old * 10000) // t_old)
       |            AS BIGINT) AS drift_bp
       |FROM c, t""".stripMargin

  /** DSIR oracle builder: `censusPred` scopes the weight-table corpus,
    * `scorePred` the scored documents — "true"/"true" is the member form,
    * the ingest twin splits them on the arrival remainder. Shared
    * verbatim by `s_dsir_stream` (stateless scoring + mergeable trim). */
  private[graft] def dsirSql(censusPred: String, scorePred: String): String =
    s"""WITH t0 AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
       |tk0 AS (SELECT doc_id, lang,
       |         CAST(('0x' || substr(md5(token), 1, 15))::UBIGINT % $dsirBuckets AS BIGINT) AS bucket
       |       FROM t0 WHERE length(token) > 0),
       |tkc AS (SELECT * FROM tk0 WHERE $censusPred),
       |tks AS (SELECT * FROM tk0 WHERE $scorePred),
       |raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_r FROM tkc GROUP BY 1),
       |tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_t
       |        FROM tkc WHERE lang = '$dsirTargetLang' GROUP BY 1),
       |tot AS (SELECT (SELECT CAST(sum(cnt_r) AS BIGINT) FROM raw) AS n_r,
       |               (SELECT CAST(sum(cnt_t) AS BIGINT) FROM tgt) AS n_t),
       |wb AS (SELECT raw.bucket, cnt_r, COALESCE(tgt.cnt_t, 0) AS cnt_t
       |       FROM raw LEFT JOIN tgt USING (bucket)),
       |wt AS (SELECT bucket,
       |         ${log2fpDuck("cnt_t + 1")} - ${log2fpDuck(s"n_t + $dsirBuckets")}
       |         - ${log2fpDuck("cnt_r + 1")} + ${log2fpDuck(s"n_r + $dsirBuckets")} AS w_mb
       |       FROM wb CROSS JOIN tot),
       |sc AS (SELECT tks.doc_id, tks.lang, CAST(count(*) AS BIGINT) AS n_tokens,
       |              CAST(sum(w_mb) AS BIGINT) AS score_mb
       |       FROM tks JOIN wt USING (bucket) GROUP BY 1, 2)
       |SELECT doc_id, lang, n_tokens, score_mb FROM sc
       |ORDER BY score_mb DESC, doc_id ASC LIMIT $dsirQuota""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_sample_dsir" -> dsirSql("true", "true"),
    "x_sample_dsir_in" -> dsirSql(
      s"doc_id % ${graft.ops.Dedup.newMod} <> ${graft.ops.Dedup.newRem}",
      s"doc_id % ${graft.ops.Dedup.newMod} = ${graft.ops.Dedup.newRem}"),
    "x_sample_weighted" ->
      s"""WITH b AS (SELECT doc_id, lang,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
         |           FROM documents),
         |w AS (SELECT doc_id, lang, n_words,
         |        CAST(least(n_words // 100 + 1, $maxTickets) AS BIGINT) AS weight
         |      FROM b),
         |t AS (SELECT doc_id, lang, n_words, weight,
         |        list_min(list_transform(range(1, CAST(weight AS INT) + 1),
         |          j -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)))) AS ticket
         |      FROM w)
         |SELECT doc_id, lang, n_words, weight, ticket
         |FROM t ORDER BY ticket, doc_id LIMIT $weightedK""".stripMargin,
    "x_curate_shard" ->
      s"""WITH ${TextAnalysis.curatedSqlCtes("lang")},
         |kh AS (SELECT doc_id, lang, n_words, md5(CAST(doc_id AS VARCHAR)) AS h FROM kd),
         |s AS (SELECT doc_id, lang, n_words, h,
         |        CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1) % $nShards
         |             AS BIGINT) AS shard
         |      FROM kh)
         |SELECT doc_id, lang, n_words, shard,
         |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
         |            AS BIGINT) AS pos
         |FROM s""".stripMargin,
    "x_shuffle_shard" ->
      s"""WITH b AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
         |           FROM documents),
         |s AS (SELECT doc_id, lang, h,
         |        CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1) % $nShards
         |             AS BIGINT) AS shard
         |      FROM b)
         |SELECT doc_id, lang, shard,
         |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
         |            AS BIGINT) AS pos
         |FROM s""".stripMargin,
    // The two-phase offset sum IS the global rank by (shard, hash, id) —
    // the oracle states that equivalence directly.
    "x_global_index" ->
      s"""WITH b AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
         |           FROM documents),
         |s AS (SELECT doc_id, lang, h,
         |        CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1) % $nShards
         |             AS BIGINT) AS shard
         |      FROM b)
         |SELECT doc_id, lang, shard,
         |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
         |            AS BIGINT) AS pos,
         |       CAST(row_number() OVER (ORDER BY shard, h, doc_id)
         |            AS BIGINT) AS example_id
         |FROM s""".stripMargin,
    "x_gate_percentile" ->
      """WITH b AS (SELECT doc_id, lang, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |           FROM documents),
        |r AS (SELECT doc_id, lang, source, n_words,
        |        CAST(row_number() OVER (PARTITION BY lang, source
        |               ORDER BY n_words DESC, doc_id) AS BIGINT) AS rnk,
        |        CAST(count(*) OVER (PARTITION BY lang, source) AS BIGINT) AS n_stratum
        |      FROM b)
        |SELECT doc_id, lang, source, n_words, rnk, n_stratum
        |FROM r WHERE rnk * 2 <= n_stratum""".stripMargin,
    "x_sample_quota" ->
      s"""WITH ranked AS (
         |  SELECT doc_id, lang, source,
         |         CAST(row_number() OVER (PARTITION BY lang, source
         |                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk
         |  FROM documents)
         |SELECT doc_id, lang, source, rnk FROM ranked WHERE rnk <= $quotaPerStratum""".stripMargin,
    "x_sample_hash" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')""".stripMargin,
    "x_sample_bottomk" ->
      s"""SELECT doc_id, lang, source, md5(CAST(doc_id AS VARCHAR)) AS h
         |FROM documents ORDER BY h, doc_id LIMIT $bottomK""".stripMargin,
    "x_ingest_drift" -> ingestDriftSql,
    "x_length_buckets" -> {
      val caseSql = lengthBucketCaps.map(c => s"WHEN n_tokens <= $c THEN $c")
        .mkString("CASE ", " ", s" ELSE ${lengthBucketCaps.max} END")
      s"""WITH lens AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |              FROM documents),
         |b AS (SELECT n_tokens, CAST($caseSql AS BIGINT) AS cap FROM lens)
         |SELECT cap, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |       CAST(sum(greatest(cap - n_tokens, 0)) AS BIGINT) AS padding_tokens,
         |       CAST(sum(greatest(n_tokens - cap, 0)) AS BIGINT) AS truncated_tokens,
         |       (CAST(sum(greatest(cap - n_tokens, 0)) AS BIGINT) * 10000)
         |         // (count(*) * cap) AS waste_bp
         |FROM b GROUP BY 1""".stripMargin
    },
    "x_mix_temperature" ->
      """WITH st AS (SELECT lang, source, count(*) AS n_docs,
        |              CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS isqrt_n
        |            FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
        |             CAST(sum(isqrt_n) AS BIGINT) AS t_sqrt FROM st)
        |SELECT lang, source, n_docs,
        |       (n_docs * 10000) // total AS share_bp,
        |       (isqrt_n * 10000) // t_sqrt AS temp_share_bp,
        |       CASE WHEN (n_docs * 10000) // total = 0 THEN NULL
        |            ELSE (((isqrt_n * 10000) // t_sqrt) * 10000) // ((n_docs * 10000) // total)
        |       END AS boost_bp
        |FROM st CROSS JOIN t""".stripMargin,
    "x_mix_epochs" ->
      s"""WITH st AS (SELECT lang, source,
         |              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |            FROM documents GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total, count(*) AS n_strata FROM st),
         |a AS (SELECT lang, source, n_tokens,
         |        (total * $epochBudgetMult) // n_strata AS ideal FROM st, t),
         |b AS (SELECT lang, source, n_tokens, ideal,
         |        least(ideal, n_tokens * $maxEpochs) AS alloc_tokens FROM a)
         |SELECT lang, source, n_tokens,
         |       CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
         |       CAST((alloc_tokens * 10000) // n_tokens AS BIGINT) AS epochs_bp,
         |       CAST(ideal - alloc_tokens AS BIGINT) AS shortfall_tokens
         |FROM b""".stripMargin,
    "x_mix_weights" ->
      """WITH strata AS (SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total, count(*) AS n_strata FROM strata)
        |SELECT lang, source, n_docs,
        |       CAST(round(CAST(total * 10000 AS DOUBLE) / (n_strata * n_docs)) AS BIGINT) AS weight_bp
        |FROM strata, t""".stripMargin,
    "x_split_assign" ->
      """WITH b AS (SELECT doc_id, lang,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hx
        |           FROM documents)
        |SELECT CASE WHEN hx IN ('c', 'd') THEN 'val'
        |            WHEN hx IN ('e', 'f') THEN 'test'
        |            ELSE 'train' END AS split,
        |       lang, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_tokens
        |FROM b GROUP BY 1, 2""".stripMargin,
    // standing components + incremental band-match verdict
    // ([[Dedup.leakproofIngestSqlCtes]]) + the [[splitAssign]] bucketing
    // keyed by the inherited key
    "x_split_leakproof_in" ->
      s"""${Dedup.leakproofIngestSqlCtes}
         |SELECT doc_id, inherited, split_key,
         |       CASE WHEN substr(md5(CAST(split_key AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
         |            WHEN substr(md5(CAST(split_key AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
         |            ELSE 'train' END AS split
         |FROM asg""".stripMargin,
    // the component chain is [[Dedup.componentSqlChain]] verbatim (the
    // same fixpoint the components oracle pins); the split tail is
    // [[splitAssign]]'s bucketing keyed by comp instead of doc_id
    "x_split_leakproof" ->
      s"""${Dedup.componentSqlChain},
         |b AS (SELECT d.doc_id, d.lang,
         |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
         |        c.comp,
         |        substr(md5(CAST(c.comp AS VARCHAR)), 1, 1) AS hx
         |      FROM documents d JOIN comp c USING (doc_id))
         |SELECT CASE WHEN hx IN ('c', 'd') THEN 'val'
         |            WHEN hx IN ('e', 'f') THEN 'test'
         |            ELSE 'train' END AS split,
         |       lang, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_tokens,
         |       count(DISTINCT comp) AS n_comps
         |FROM b GROUP BY 1, 2""".stripMargin,
    "x_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |              ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
         |      FROM t)
         |SELECT doc_id, lang, n_tokens, CAST(start_off AS BIGINT) AS start_off,
         |       CAST(start_off // $ctxLen AS BIGINT) AS seq_id
         |FROM c""".stripMargin,
    // [[packBfd]]'s twin: the identical longest-first best-fit fold,
    // unrolled as a recursive CTE that steps one doc per stratum per round,
    // carrying the open-bin remaining-capacity LIST as recursion state.
    // Best fit = list_min over the fitting capacities; its first position
    // is the lowest bin id (any bin holding that value fits by definition).
    "x_pack_bfd" ->
      s"""WITH RECURSIVE b AS (
         |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, lang, n,
         |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, doc_id)
         |              AS BIGINT) AS rn
         |  FROM b),
         |packed AS (
         |  SELECT lang, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS rem,
         |         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n,
         |         CAST(NULL AS BIGINT) AS bin_id, CAST(NULL AS BIGINT) AS bin_rem
         |  FROM (SELECT DISTINCT lang FROM d)
         |  UNION ALL
         |  SELECT p.lang, d.rn,
         |         CASE WHEN list_min(list_filter(p.rem, r -> r >= d.n)) IS NULL
         |              THEN list_append(p.rem, $ctxLen - d.n)
         |              ELSE list_transform(range(1, len(p.rem) + 1),
         |                     i -> CASE WHEN i = list_position(p.rem,
         |                                  list_min(list_filter(p.rem, r -> r >= d.n)))
         |                               THEN p.rem[i] - d.n ELSE p.rem[i] END)
         |         END,
         |         d.doc_id, d.n,
         |         CAST(CASE WHEN list_min(list_filter(p.rem, r -> r >= d.n)) IS NULL
         |              THEN len(p.rem) + 1
         |              ELSE list_position(p.rem,
         |                     list_min(list_filter(p.rem, r -> r >= d.n))) END AS BIGINT),
         |         CAST(CASE WHEN list_min(list_filter(p.rem, r -> r >= d.n)) IS NULL
         |              THEN $ctxLen - d.n
         |              ELSE list_min(list_filter(p.rem, r -> r >= d.n)) - d.n
         |              END AS BIGINT)
         |  FROM packed p JOIN d ON d.lang = p.lang AND d.rn = p.rn + 1)
         |SELECT doc_id, lang, n AS n_tokens, bin_id, bin_rem
         |FROM packed WHERE rn > 0""".stripMargin)
}
