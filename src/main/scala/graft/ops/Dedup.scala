package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication pack for LLM-training-data pipelines (SURVEY §7.4 /
  * BASELINE.json north star): exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * and embedding-cosine near-dup. The reference has no dedup at all
  * (SURVEY §2.6) — this is the engine's extension surface.
  *
  * Hash choice: every hash is derived from `md5` hex strings, which Spark and
  * DuckDB compute identically, so each operator is oracle-checkable bit for
  * bit. MinHash "permutations" are Kirsch-Mitzenmacher combinations
  * gᵢ = (h1 + i·h2) mod 2³¹−1 of the two md5 halves — one real hash per
  * shingle, i synthetic permutations, engine-portable integer arithmetic.
  *
  * Scale design: nothing here collects to the driver. Exact dedup is one
  * hash-shuffle. MinHash/SimHash signatures are one groupBy over the exploded
  * shingles (partial aggregation shrinks map-side). Candidate generation is
  * always *bounded* — LSH band buckets, or df-capped inverted lists whose
  * per-shingle pair fan-out is ≤ cap²/2 — never an all-pairs or uncapped
  * equality self-join, so candidate volume stays near-linear at 100 TB.
  */
object Dedup {

  /** 3-word shingle SET of `text` as an in-row array — the map-side form the
    * signature kernels consume. */
  private def shingleArrays(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), col("lang"), col("source"),
        // native fused loop (graft.functions.Shingles3) — byte-identical to
        // array_distinct(transform(sequence(1, size(words) - 2),
        //   i -> concat_ws(' ', slice(words, i, 3)))), which evaluates
        // interpreted (HOF) and allocated per shingle
        expr("shingles3(words)").as("shs"))
  }

  /** 3-word shingles (distinct, set semantics) of `text`, with block columns. */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    shingleArrays(s, d)
      .select(col("doc_id"), col("lang"), col("source"), explode(col("shs")).as("sh"))

  private val shingleSqlCtes =
    """WITH w AS (SELECT doc_id, lang, source, string_split(text, ' ') AS words FROM documents),
      |s AS (SELECT DISTINCT doc_id, lang, source, array_to_string(words[i:i+2], ' ') AS sh
      |      FROM (SELECT doc_id, lang, source, words,
      |              unnest(range(1, greatest(len(words) - 1, 1))) AS i
      |            FROM w))""".stripMargin

  /** Exact dedup: hash-group on content, keep the smallest doc_id per group.
    * One shuffle keyed by the content hash — the canonical 100 TB exact-dedup
    * plan (hash is computed map-side; the full text never shuffles). */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("content_hash"), col("keep_id"), col("n_copies"))

  /** Non-overlapping segment width (words) for [[segmentDedup]] — a TUNABLE
    * shared with the oracle SQL. Sized so the fixture's 31-word vocabulary
    * actually produces cross-document duplicate segments (~10% of segment
    * occurrences at sf0.01); a web-corpus pipeline runs paragraph- or
    * sentence-sized segments, same plan. */
  private[ops] val segLen = 4

  /** Segment-level dedup: split each document into non-overlapping
    * [[segLen]]-word segments, hash each, and score every document by the
    * fraction of its segments that also occur elsewhere in the corpus — the
    * paragraph-dedup pass (CCNet/RefinedWeb style) that removes repeated
    * boilerplate paragraphs WITHIN surviving documents, where document-level
    * dedup ([[exact]], [[minhashLsh]]) can only drop whole near-identical
    * docs. The trailing partial segment is dropped (standard: a tail
    * shorter than the segment width carries no stable dedup signal).
    *
    * Plan: segmentation + hashing are map-side (one pass per document),
    * global segment frequency is one aggregation keyed by the hash, and the
    * per-doc score joins hashes back then aggregates per doc — two shuffles
    * of a (hash, id) relation; the text itself never shuffles, the same
    * 100 TB-shape as [[exact]] and [[TextAnalysis.boilerplate]]. */
  def segmentDedup(s: SparkSession, d: String): DataFrame =
    segmentDedupDocs(Tables.documents(s, d))

  /** [[segmentDedup]] over any frame with (doc_id, text). */
  def segmentDedupDocs(docs: DataFrame): DataFrame = {
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= segLen)
      .select(col("doc_id"), col("words"),
        explode(expr(s"sequence(0L, size(words) div $segLen - 1)")).as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"),
        md5(concat_ws(" ",
          expr(s"slice(words, CAST(seg_idx * $segLen + 1 AS INT), $segLen)"))).as("h"))
    val freq = segs.groupBy(col("h")).agg(count(lit(1)).as("n_occ"))
    segs.join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_segs"))
      .withColumn("dup_seg_bp",
        expr("CAST(round(CAST(n_dup_segs AS DOUBLE) * 10000 / n_segs) AS BIGINT)"))
  }

  /** Document-frequency cap for the Jaccard candidate universe: a shingle
    * appearing in more docs than this (within one (lang, source) block) is
    * dropped before pair generation. This bounds per-shingle candidate pairs
    * at cap²/2 — without it a hot shingle in k docs emits k² pairs, the
    * classic near-dup skew killer. Capped-df Jaccard is the standard
    * formulation (ultra-common shingles carry no dedup signal anyway); the
    * oracle applies the identical cap. */
  private[ops] val maxShingleDf = 50

  /** N-gram Jaccard near-dup pairs via per-shingle inverted lists: group
    * shingles, drop those with df > [[maxShingleDf]], expand each remaining
    * list's pairs map-side (≤ cap²/2 per shingle), then count shared shingles
    * per pair. No self-join anywhere — one shuffle to build the inverted
    * lists, one for the pair counts — so candidate volume is linear in corpus
    * size times a constant, at any scale. The τ ≥ 0.5 test is pure integer
    * arithmetic (2·|∩| ≥ |∪|) over the capped universe — no FP in the cut. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    // Materialized once (Lineage.cut): the inverted lists feed BOTH the
    // per-doc shingle counts and the pair expansion — unmaterialized, the
    // whole shingle-explode + groupBy subtree would execute twice.
    val inv = Lineage.cut(shingleSets(s, d)
      .groupBy(col("lang"), col("source"), col("sh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) <= maxShingleDf))
    val counts = inv.select(explode(col("docs")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val pairs = inv
      .filter(size(col("docs")) >= 2)
      .select(explode(expr(
        """flatten(transform(docs, (a, i) ->
          |  transform(slice(docs, i + 2, size(docs)), b ->
          |    named_struct('doc_a', a, 'doc_b', b))))""".stripMargin)).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nsh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nsh", "n_b"), "doc_b")
      .filter(col("shared") * 2 >= col("n_a") + col("n_b") - col("shared"))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"))
  }

  // 8 bands of 2 rows: P(candidate) = 1-(1-J²)^8 ≈ 0.90 at J=0.5 (the 4-band
  // variant sat at 0.68 — too thin for a dedup recall target). Signature cost
  // stays O(nSeeds) md5s per shingle, map-side.
  private[graft] val nSeeds = 16
  private val bandSize = 2

  /** 2^31-1: Mersenne prime for the Kirsch-Mitzenmacher hash family. */
  private val kmPrime = 2147483647L

  /** Per-doc MinHash signature `sig: array<long>` (16 elements), via the
    * Kirsch-Mitzenmacher construction: ONE md5 per shingle yields two 60-bit
    * base hashes (hex halves), and permutation i is gᵢ = (h1 + i·h2) mod
    * 2³¹−1 — a 2-universal family with the same LSH guarantees as i
    * independent hashes (Kirsch & Mitzenmacher, ESA'06) at 1/16th the
    * hashing cost. All arithmetic stays under 2⁶³ (h2 reduced mod p before
    * the ≤15× multiply), so Spark and DuckDB agree exactly.
    *
    * Computed by the native kernel [[graft.functions.MinHashSig]]
    * (`minhash_sig`): the whole signature is one map-side codegen'd loop over
    * the in-row shingle array — no explode, no exchange. The earlier
    * explode → 16-min hash-aggregate twin shuffled |docs| signature partials
    * and paid per-shingle row materialization; this plan's only exchange is
    * the LSH band join itself, which is the operator's semantic shuffle. */
  private def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    shingleArrays(s, d)
      .select(col("doc_id"), expr(s"minhash_sig(shs, $nSeeds)").as("sig"))
  }

  /** Memo of the computed signature relation: (session identity, table dir)
    * → spilled parquet path. The signature table is the MinHash INDEX a
    * production near-dup pipeline persists beside its corpus — [[minhashLsh]]
    * bands it, [[jaccardEstimate]] and [[lshVerified]] read per-pair
    * estimates off it, [[incremental]] probes it per ingest batch. Deriving
    * it once per session and spilling to parquet (eviction-immune, like
    * [[pairsMemo]]) gives every consumer the persisted-index read path
    * instead of re-running shingle→md5→min per query; the derivation cost is
    * the first consumer's first sample (SpillMemo read-back semantics,
    * recorded in `bench_full.json`). */
  private val sigMemo =
    scala.collection.concurrent.TrieMap.empty[(Long, String), String]

  /** The per-session materialized signature index ([[sigMemo]]) — or the
    * cross-session [[IndexStore]] copy when one is configured (the
    * "persists beside its corpus" deployment this scaladoc describes,
    * made real; `IndexPersistSpec` pins mode equality). */
  private[graft] def signatures(s: SparkSession, d: String): DataFrame =
    IndexStore.read(s, IndexStore.minhashSignatures, d).getOrElse {
      val key = (SpillMemo.sessionId(s), d)
      val path = sigMemo.synchronized(sigMemo.getOrElseUpdate(key, {
        val out = SpillMemo.scratchDir("graft-minhashsig-")
        minhashSignatures(s, d).write.mode("overwrite").parquet(out)
        out
      }))
      s.read.parquet(path)
    }

  /** MinHash + LSH banding: docs sharing any of the 8 band keys become a
    * candidate pair. This is the scale path for near-dedup — signature is
    * O(1) per doc, and the only join is on band buckets whose size is
    * controlled by the banding parameters, not by corpus size.
    *
    * The signature table (|docs| rows of 16 longs — a rounding error next to
    * the corpus at any scale) is `localCheckpoint`ed before banding:
    * without the cut, the band relation appears on BOTH sides of the
    * candidate self-join, so the whole shingle→md5→min-agg subtree would be
    * planned and executed twice (and, in the earlier 8-way unionAll
    * formulation, up to 16×). Banding itself is a single map-side explode
    * over the materialized signatures. */
  def minhashLsh(s: SparkSession, d: String): DataFrame = {
    val key = (SpillMemo.sessionId(s), d)
    // synchronized: TrieMap's update is atomic but the spill thunk is not —
    // see [[SpillMemo]] (which also registers the dir for JVM-exit cleanup).
    val path = pairsMemo.synchronized(pairsMemo.getOrElseUpdate(key, {
      val out = SpillMemo.scratchDir("graft-lshpairs-")
      lshPairs(signatures(s, d))
        .write.mode("overwrite").parquet(out)
      out
    }))
    s.read.parquet(path)
  }

  /** Memo of the [[minhashLsh]] candidate-pair relation: (session identity,
    * table dir) → spilled parquet path. The pair graph is consumed by four
    * operators ([[minhashLsh]]'s own query, [[components]]'s fixpoint,
    * [[pagerank]], [[triangles]]) — the [[componentLabels]] "persisted
    * index" shape applied one level down: derive shingles → signatures →
    * band join once per session, then every graph consumer reads back a
    * tiny (doc_a, doc_b) long-pair table. Parquet, not cache, for the same
    * eviction-immunity reasons. */
  private val pairsMemo =
    scala.collection.concurrent.TrieMap.empty[(Long, String), String]

  /** The (doc_id, band, bkey) LSH band relation of a signature frame — one
    * map-side explode, 8 rows per doc. Shared by the self-join candidate
    * path ([[lshPairs]]) and the asymmetric incremental path
    * ([[incremental]]). */
  private[graft] def bandRelation(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until nSeeds / bandSize).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":",
          (b * bandSize until (b + 1) * bandSize).map(i => element_at(col("sig"), i + 1)): _*).as("bkey"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Band join over a MATERIALIZED signature relation (callers checkpoint —
    * the band relation sits on both sides of the candidate self-join, so an
    * unmaterialized signature subtree would be planned and executed twice). */
  private def lshPairs(sig: DataFrame): DataFrame = {
    val bands = bandRelation(sig)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Estimated Jaccard similarity for every LSH candidate pair, read
    * straight off the signatures: the fraction of agreeing MinHash
    * components is an unbiased estimator of J(A,B) (the probability two
    * sets' minhashes collide IS their Jaccard), so near-dup pipelines use it
    * to rank/threshold candidates WITHOUT re-touching the documents — at
    * 100 TB the verify step reads 16 longs per doc, not the text. Both
    * inputs come off the session's persisted indexes ([[signatures]] /
    * [[minhashLsh]]'s pair memo), so the estimate is two hash joins over
    * materialized parquet; the component comparison is an in-row `zip_with`
    * over 16 elements. Emits basis-point integers — exact,
    * engine-portable. */
  def jaccardEstimate(s: SparkSession, d: String): DataFrame = {
    val sig = signatures(s, d)
    minhashLsh(s, d)
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b)) AS BIGINT)")
          .as("n_match"))
      .withColumn("est_j_bp",
        expr(s"CAST(round(CAST(n_match AS DOUBLE) * 10000 / $nSeeds) AS BIGINT)"))
  }

  private val evalMod = 20
  private val minSharedShingles = 5

  /** Benchmark decontamination: flag training documents sharing ≥
    * [[minSharedShingles]] distinct 3-word shingles with any document of the
    * eval set (stand-in: doc_id ≡ 0 mod [[evalMod]]) — the overlap check an
    * LLM-data pipeline runs against its benchmark suite before training.
    * Plan shape is the decisive part at 100 TB: an eval/benchmark set is
    * FIXED-SIZE (it does not grow with the corpus), so its exploded shingle
    * list is broadcast, and the corpus side stays a map-side explode + hash
    * join — the only exchange is the partial-aggregated (doc, eval) overlap
    * count. The corpus text is never shuffled and never self-joined.
    *
    * Stand-in caveat: the broadcast is justified by the fixed-size
    * property of a REAL benchmark suite, but the doc_id-mod stand-in used
    * here for oracle-checkability is ~5% of the corpus and grows with it —
    * so the hint is the conf-gated [[Hints.broadcastSmall]] kind (a forced
    * `broadcast()` bypasses `spark.sql.autoBroadcastJoinThreshold` and
    * would OOM the driver): a caller with a corpus-proportional eval
    * relation sets `spark.graft.broadcastSmallSides=false` and the planner
    * picks the shuffle join. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = shingleSets(s, d).select(col("doc_id"), col("sh"))
    val eval = sh.filter(col("doc_id") % evalMod === 0)
      .select(col("sh"), col("doc_id").as("eval_id"))
    sh.filter(col("doc_id") % evalMod =!= 0)
      .join(Hints.broadcastSmall(eval), "sh")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minSharedShingles)
  }

  /** [[decontaminate]] behind a Bloom prefilter — the formulation for when
    * even the eval set's shingle ROWS are too many to broadcast as a hash
    * relation: the eval shingles aggregate into ONE Bloom filter (Spark's
    * own `BloomFilterAggregate`, the machinery behind its runtime join
    * filters — KBs per million entries), the filter broadcasts as a 1-row
    * relation, and the corpus discards non-matching shingles MAP-SIDE
    * before the exact join. The output is IDENTICAL to [[decontaminate]]:
    * Bloom filters have no false negatives, and the false positives the
    * filter admits are eliminated by the exact semi-join that follows — the
    * bloom is a prefilter, not the verdict — so the exact path's oracle
    * checks this plan too. At 100 TB the win is that the overwhelming
    * majority of corpus shingles never reach the join's build-probe
    * machinery at all. */
  def decontaminateBloom(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sh = shingleSets(s, d).select(col("doc_id"), col("sh"))
    sh.filter(col("doc_id") % evalMod === 0)
      .select(col("sh"), col("doc_id").as("eval_id"))
      .createOrReplaceTempView("graft_decontam_eval")
    sh.filter(col("doc_id") % evalMod =!= 0)
      .createOrReplaceTempView("graft_decontam_corpus")
    // `might_contain` requires the filter as a constant or scalar subquery
    // (Spark's own runtime-filter shape: the subquery runs once, its bytes
    // inject into the predicate as a literal) — hence SQL, not a join. The
    // exact-join hint is the SQL form of [[Hints.broadcastSmall]]'s gate:
    // same conf, same OOM escape hatch as [[decontaminate]].
    val hint =
      if (s.conf.getOption(Hints.broadcastSmallSidesConf).forall(_.toBoolean))
        "/*+ BROADCAST(e) */ " else ""
    s.sql(
      s"""SELECT ${hint}c.doc_id, e.eval_id, count(*) AS shared
         |FROM (SELECT doc_id, sh FROM graft_decontam_corpus
         |      WHERE bloom_might_contain(
         |        (SELECT bloom_agg(xxhash64(sh), 10000L, 100000L)
         |         FROM graft_decontam_eval),
         |        xxhash64(sh))) c
         |JOIN graft_decontam_eval e ON c.sh = e.sh
         |GROUP BY 1, 2 HAVING count(*) >= $minSharedShingles""".stripMargin)
  }

  /** The complete near-dup pipeline, candidates → EXACT verify: LSH band
    * pairs ([[minhashLsh]]) verified by true Jaccard over the documents'
    * shingle SETS. Where [[jaccardEstimate]] reads only the 16-long
    * signatures (cheap, ±1/√16 error), this reads the two shingle arrays of
    * each CANDIDATE pair — bounded by LSH candidate volume, never all pairs,
    * which is exactly how a production near-dup job prices its verify stage.
    * Plan: the memoized pair relation ([[minhashLsh]]) plus two hash joins
    * keyed by doc_id attaching the in-row shingle arrays,
    * then `array_intersect` computes |∩| map-side — the shingle sets
    * themselves never explode or shuffle. Emits exact basis-point Jaccard
    * (integer arithmetic end to end). */
  def lshVerified(s: SparkSession, d: String): DataFrame = {
    val shs = shingleArrays(s, d).select(col("doc_id"), col("shs"))
    minhashLsh(s, d)
      .join(shs.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")), "doc_a")
      .join(shs.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(size(array_intersect(shs_a, shs_b)) AS BIGINT)").as("inter"),
        expr("CAST(size(shs_a) AS BIGINT)").as("n_a"),
        expr("CAST(size(shs_b) AS BIGINT)").as("n_b"))
      .withColumn("j_bp",
        expr("CAST(round(CAST(inter * 10000 AS DOUBLE) / (n_a + n_b - inter)) AS BIGINT)"))
  }

  /** Per-document duplicate-shingle coverage: what fraction of a document's
    * distinct 3-shingles also occur in at least one OTHER document — the
    * per-doc "how much of this text is boilerplate" score web-corpus
    * pipelines threshold on after fuzzy dedup (a doc can evade pairwise
    * dedup yet still be 80% recycled fragments). Plan: one shuffle
    * aggregates shingle document-frequency, the df≥2 survivors (in a mostly
    * unique corpus, a small fraction of shingle space) join back against
    * the exploded shingles as a membership MARKER, and one per-doc
    * aggregation computes numerator and denominator together (count of all
    * shingles, count of marked ones) — two pair-keyed shuffles total, one
    * join, and the corpus text itself is never shuffled. (An earlier
    * formulation semi-joined then re-scanned the corpus for denominators:
    * three text scans and an extra doc-keyed join for the same answer.)
    * Emits basis points — integer, engine-portable. */
  def dupCoverage(s: SparkSession, d: String): DataFrame = {
    val sh = shingleSets(s, d).select(col("doc_id"), col("sh"))
    val dup = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("sh"), lit(1L).as("is_dup"))
    sh.join(dup, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("is_dup")), lit(0L)).as("n_dup"))
      .withColumn("dup_bp",
        expr("CAST(round(CAST(n_dup AS DOUBLE) * 10000 / n_shingles) AS BIGINT)"))
  }

  private val simBits = 32

  /** SimHash (32-bit): bit j is the sign of the sum over distinct shingles
    * of ±1 derived from the parity of hex char j of md5(shingle).
    *
    * Computed by the native kernel [[graft.functions.SimHash32]]
    * (`simhash32`): one fused codegen'd loop per document over the in-row
    * shingle array — strictly map-side, zero shuffles. Two earlier
    * formulations measured slower: 32 `aggregate` lambdas over the hash
    * array (higher-order-function lambdas evaluate interpreted — no
    * whole-stage codegen), and explode → 32 conditional sums through a hash
    * aggregate (partial agg kept the exchange small, but every shingle paid
    * row materialization plus 32 expression evals, and the plan carried a
    * shuffle purely to regroup per-document data). */
  def simhash(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    shingleArrays(s, d)
      .select(col("doc_id"), expr("simhash32(shs)").as("simhash"))
  }

  private val simBands = 4
  private val simHammingMax = 3

  /** SimHash near-dup pairs: band the 32-bit signature into 4 bytes (two
    * signatures within Hamming distance 3 MUST agree on at least one whole
    * byte — pigeonhole — so banding loses no true pair), join on band
    * buckets, verify `bit_count(xor) ≤ 3`. This closes the SimHash path
    * from signature to candidate pairs the same way [[minhashLsh]] does for
    * MinHash: candidate volume is governed by band-bucket sizes, never an
    * all-pairs comparison, and the verify reads two longs per pair. */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = Lineage.cut(simhash(s, d))
    val bands = sig.select(col("doc_id"), col("simhash"), explode(expr(
        s"transform(sequence(0, ${simBands - 1}), b -> named_struct(" +
          "'band', CAST(b AS BIGINT), 'bkey', shiftright(simhash, b * 8) & 255))")).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= simHammingMax)
  }

  /** Sign-bucket width (bits) for [[embeddingCosine]]'s LSH: 2^bits buckets
    * bound the within-bucket verify at ~n²/2^bits pairs. A TUNABLE like
    * [[maxShingleDf]] — 8 bits (256 buckets) fits the test corpora; at
    * 100 TB widen it (every extra bit halves the verify volume and the
    * per-bucket recall, the standard hyperplane-LSH trade; multi-probe —
    * also querying the Hamming-1 neighbor buckets — buys the recall back,
    * see SCALE.md). The oracle SQL derives from the same constant, so
    * changing it cannot silently diverge the check. */
  private[ops] val embedLshBits = 8

  /** Embedding near-dup via random-hyperplane-style LSH: bucket on the sign
    * pattern of the first [[embedLshBits]] dimensions, verify cosine ≥ 0.3
    * inside buckets with the native codegen'd `cosine_sim` kernel
    * ([[graft.functions.CosineSimilarity]] — same left-fold accumulation as
    * DuckDB, bit-identical scores). 2^[[embedLshBits]] buckets keep
    * within-bucket pair counts ~n²/2^bits — at 100 TB widen the constant,
    * same plan shape. */
  def embeddingCosine(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, d).select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"),
      concat((1 to embedLshBits).map(i => when(expr(s"embedding[${i - 1}] >= 0"), lit("1")).otherwise(lit("0"))): _*).as("bucket"))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", expr("cosine_sim(a.v, b.v)"))
      .filter(col("cosine") >= 0.3)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
  }

  /** Cosine threshold above which two same-cluster embeddings count as
    * semantic duplicates — a TUNABLE shared with the oracle SQL; real
    * SemDeDup deployments set it from a held-out precision target. */
  private[ops] val semCosMin = 0.3

  /** Semantic deduplication (SemDeDup — Abbas et al., 2023): cluster the
    * embedding corpus with the integer-exact k-means assignment
    * ([[Similarity.kmeansIter]] — the same pass that trains the IVF coarse
    * quantizer), then compare pairs ONLY within a cluster and drop every
    * vector that has a lower-id same-cluster neighbor with cosine ≥
    * [[semCosMin]]. Near-identical meaning lands in the same centroid cell,
    * so the clusters ARE the candidate generator: pair volume is Σ nᵢ²
    * ≈ n²/k instead of n², and at 100 TB k grows with the corpus (√n-ish,
    * SCALE.md §kmeans) to hold per-cluster volume flat — the published
    * method's own scale story, same bounded-verify shape as
    * [[embeddingCosine]]'s sign buckets but with LEARNED buckets. k is a
    * real parameter (default [[Similarity.defaultKClusters]], the same
    * constant the oracle SQL interpolates — SemDedupSpec runs two k values
    * to pin that the n²/k bound is actually expressible).
    *
    * Plan: the assignment is materialized once ([[Lineage.cut]] — it feeds
    * both sides of the pair join and the output), pairs shuffle on the
    * cluster key only, scoring runs the native `cosine_sim` kernel, and
    * the keep/drop verdict is a left-anti-style null check — no collect,
    * no all-pairs anywhere. */
  def semanticDedup(s: SparkSession, d: String,
      k: Int = Similarity.defaultKClusters): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val assign = Lineage.cut(
      Similarity.kmeansIter(s, d, k).select(col("vec_id"), col("cluster")))
    val vecs = Tables.embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val cv = assign.join(vecs, "vec_id")
    val dups = cv.as("a").join(cv.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .filter(expr("cosine_sim(a.v, b.v)") >= semCosMin)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assign.join(dups.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("is_dup").isNull.as("is_kept"))
  }

  /** Dedup cluster assignment: connected components over the MinHash-LSH
    * candidate graph, by iterative min-label propagation WITH pointer
    * jumping — each round every node takes the minimum of (its label, its
    * neighbors' labels, its label's label). Neighbor propagation alone needs
    * O(chain length) rounds on chain-shaped duplicate clusters (measured:
    * 100+ rounds at sf0.1); the pointer-jumping term compresses paths
    * geometrically, giving O(log n) rounds — the same trick as
    * large-star/small-star CC. Each round is two shuffle-joins against
    * cached relations plus a grouped min; adjacency and per-round labels are
    * persisted because iterative algorithms must cut lineage or round N
    * replays rounds 1..N-1.
    *
    * The fixpoint (min reachable id per node) is unique, so the result is
    * deterministic and oracle-checkable via a recursive reachability CTE.
    *
    * Lineage control: each round's labels are cut via [[Lineage.cutFused]] —
    * persisting alone caches the DATA but analysis still walks the full
    * logical plan, and the pointer-jump self-join would DOUBLE that plan
    * every round — measured 400+ s of pure driver planning at sf0.1 before
    * the checkpoint truncated the lineage to a LogicalRDD (O(1) plan per
    * round, the canonical fix for iterative DataFrame algorithms). In local
    * mode the cut is a LAZY localCheckpoint whose materialization fuses into
    * the convergence count — ONE job per round does both, halving per-round
    * driver syncs; with `spark.graft.reliableCheckpoints=true` each round is
    * durably checkpointed instead, so an hours-long 100 TB run survives
    * executor loss (see [[Lineage]] / SCALE.md).
    *
    * The converged labeling is memoized per (session, table dir, checkpoint
    * mode) as a SPILLED parquet relation ([[componentLabels]]): downstream
    * consumers in the same session ([[keepBest]], or a re-run of this query)
    * read the tiny (doc_id, comp) table back instead of re-running the whole
    * iteration — the "labeling is a persisted index" shape a production
    * pipeline uses, and the r6 fix for `x_dedup_keep_best` paying the full
    * fixpoint twice per suite. Parquet, not a cached DataFrame: cache
    * eviction (or a benchmark harness unpersisting between queries) cannot
    * invalidate files on disk. */
  def components(s: SparkSession, d: String): DataFrame = {
    val labels = componentLabels(s, d)
    Tables.documents(s, d).select(col("doc_id"))
      .join(labels.withColumnRenamed("comp", "edge_comp"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("edge_comp"), col("doc_id")).as("comp"))
  }

  /** Memo of [[componentLabels]] results: (session identity, table dir,
    * reliable-checkpoint mode) → spilled parquet path. Keyed on the
    * checkpoint mode so LineageSpec's reliable-mode run really re-executes
    * the iteration under reliable cuts instead of reading the local-mode
    * spill. */
  private val labelsMemo =
    scala.collection.concurrent.TrieMap.empty[(Long, String, Boolean), String]

  /** The iterative min-label fixpoint over the LSH candidate graph (see
    * [[components]]), spilled + memoized per session. */
  private def componentLabels(s: SparkSession, d: String): DataFrame = {
    val key = (SpillMemo.sessionId(s), d,
      s.conf.getOption(Lineage.reliableConf).exists(_.toBoolean))
    val path = labelsMemo.getOrElseUpdate(key, {
      val out = SpillMemo.scratchDir("graft-complabels-")
      computeComponentLabels(s, d).write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(path)
  }

  private def computeComponentLabels(s: SparkSession, d: String): DataFrame =
    labelsFromEdges(minhashLsh(s, d))

  /** Memo for [[standingComponentLabels]] — same keying discipline as
    * [[labelsMemo]]. */
  private val standingLabelsMemo =
    scala.collection.concurrent.TrieMap.empty[(Long, String, Boolean), String]

  /** Component labels of the STANDING corpus only (`doc_id % newMod !=
    * newRem` on both edge endpoints): the persisted label table an ingest
    * probe inherits split/cluster identity from
    * ([[Sampling.splitLeakproofIngest]]). Covers edge-incident standing
    * docs; a standing doc with no near-dup edge is its own singleton
    * component (callers coalesce to the doc id — the [[components]]
    * convention). */
  private[graft] def standingComponentLabels(s: SparkSession, d: String): DataFrame = {
    val key = (SpillMemo.sessionId(s), d,
      s.conf.getOption(Lineage.reliableConf).exists(_.toBoolean))
    val path = standingLabelsMemo.synchronized(standingLabelsMemo.getOrElseUpdate(key, {
      val out = SpillMemo.scratchDir("graft-scomplabels-")
      val standing = minhashLsh(s, d)
        .filter(col("doc_a") % newMod =!= newRem && col("doc_b") % newMod =!= newRem)
      labelsFromEdges(standing).write.mode("overwrite").parquet(out)
      out
    }))
    s.read.parquet(path)
  }

  /** The min-label fixpoint over an arbitrary (doc_a, doc_b) edge set —
    * [[computeComponentLabels]]'s loop, shared with the standing-only
    * variant. */
  private[graft] def labelsFromEdges(edges: DataFrame): DataFrame = {
    val adj = Lineage.cut(
      edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    // Only nodes incident to an edge can change labels — iterate over that
    // (small) vertex set and union the singleton identity rows at the end,
    // so per-round state is bounded by the candidate graph, not the corpus.
    var labels = Lineage.cut(adj.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("comp")))
    var changed = 1L
    while (changed > 0) {
      val prop = adj.join(labels.select(col("doc_id").as("dst"), col("comp")), "dst")
        .groupBy(col("src")).agg(min(col("comp")).as("nbr_min"))
      // pointer jump: the label of my label (labels keyed by doc_id = comp)
      val jump = labels.select(col("doc_id").as("comp"), col("comp").as("jump_min"))
      // Carry the previous label through the round so convergence is read off
      // the cut result — and the count below IS the materializing action
      // (Lineage.cutFused), so each round runs exactly one job locally.
      val updated = Lineage.cutFused(labels
        .withColumnRenamed("comp", "old_comp")
        .withColumn("comp", col("old_comp"))
        .join(prop.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
        .join(jump, Seq("comp"), "left")
        .select(col("doc_id"), col("old_comp"),
          least(col("old_comp"),
            coalesce(col("nbr_min"), col("old_comp")),
            coalesce(col("jump_min"), col("old_comp"))).as("comp")))
      changed = updated.filter(col("old_comp") =!= col("comp")).count()
      labels = updated.select(col("doc_id"), col("comp"))
    }
    labels
  }

  /** Survivor selection — the step that turns dedup CLUSTERS into a dedup
    * DECISION: per [[components]] cluster, keep the longest document
    * (n_words desc, doc_id tiebreak), the "keep best, drop the rest" policy
    * production near-dedup passes apply (length or quality argmax, rather
    * than [[exact]]'s arbitrary min-id, so boilerplate-trimmed fragments
    * lose to their fuller originals). Emits one row per cluster: the
    * survivor and how many members it displaced.
    *
    * Plan: components' labeling — read from the session's spilled memo when
    * `x_dedup_components` (or a prior keepBest) already converged it, the
    * full O(log n)-round iteration otherwise ([[components]]) — then ONE
    * aggregation keyed by cluster: the survivor is a struct-MAX over
    * (n_words, −doc_id) (lexicographic max ⇒ longest doc, ties to the
    * smallest id — identical to the `row_number` argmax it replaced, at
    * map-side-partial cost with NO per-cluster sort, so even a
    * pathological corpus-sized duplicate cluster costs a scan, not a
    * single-task sort) alongside the member count; the text itself never
    * shuffles (only (doc_id, comp, n_words) triples move). */
  def keepBest(s: SparkSession, d: String): DataFrame = {
    val len = Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_words"))
    components(s, d).join(len, "doc_id")
      .groupBy(col("comp"))
      .agg(
        max(struct(col("n_words"), (-col("doc_id")).as("neg_id"),
          col("doc_id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("comp"), col("best.doc_id").as("keep_id"),
        col("best.n_words").as("keep_words"), col("n_members"))
  }

  /** DEDUP SAVINGS REPORT — the ROI readout a pipeline owner reads after a
    * near-dup pass: per component SIZE, how many clusters exist, the docs
    * they hold, the docs a keep-one policy drops, and the characters those
    * dropped docs carry. The survivor is [[keepBest]]'s survivor — the
    * SAME (n_words DESC, doc_id ASC) argmax, its `chars` carried through
    * the struct-MAX — so the char accounting describes the keep-one policy
    * the engine actually applies (ADVICE r14: a chars-argmax here could
    * name a different survivor than keepBest when the longest-by-words
    * member isn't longest-by-chars, making the ROI numbers describe a
    * policy nobody runs). Plan: the memoized
    * component labels join the length projection once (a comp-keyed
    * aggregation — no per-component window), then a |distinct sizes|-row
    * rollup; singleton components
    * ride through as the size-1 row with zero savings, so the report's doc
    * total reconciles against the corpus count at any scale. */
  def dedupSavings(s: SparkSession, d: String): DataFrame = {
    val chars = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        length(col("text")).cast("long").as("chars"))
    components(s, d).join(chars, "doc_id")
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("sz"), sum(col("chars")).as("tot_chars"),
        max(struct(col("n_words"), (-col("doc_id")).as("neg_id"),
          col("chars"))).getField("chars").as("keep_chars"))
      .select(col("sz"), col("tot_chars"),
        (col("tot_chars") - col("keep_chars")).as("red_chars"))
      .groupBy(col("sz").as("comp_size"))
      .agg(count(lit(1)).as("n_components"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1).as("n_redundant"),
        sum(col("red_chars")).as("redundant_chars"))
  }

  /** Modulus selecting the stand-in "incoming batch" for [[incremental]]
    * (doc_id % [[newMod]] == [[newRem]], ~10% of the corpus) — a real
    * pipeline passes the actual new partition. Shared with the streaming
    * twin ([[graft.streaming.IngestStream]]), whose file source replays the
    * same partition as the arriving documents. */
  private[graft] val newMod = 10
  private[graft] val newRem = 7

  /** The standing corpus side of the near-dup index an ingest probe runs
    * against: the session's memoized signature relation and its band
    * relation, both restricted to the already-indexed partition
    * (`doc_id % newMod != newRem`). Both frames read off the spilled
    * parquet memo ([[signatures]]), so a streaming consumer's
    * per-micro-batch plans scan a static materialized index — no
    * re-derivation per trigger. */
  private[graft] def corpusSigIndex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val sig = signatures(s, d).filter(col("doc_id") % newMod =!= newRem)
    (sig, bandRelation(sig))
  }

  /** Map-side MinHash signatures of an ARRIVING document frame — the
    * ingest leg of the incremental probe. Unlike the corpus side (which
    * reads the persisted index), a genuinely new document has no index row
    * yet, so its signature is computed from the raw text: the same
    * shingle → md5 → Kirsch-Mitzenmacher loop as [[minhashSignatures]],
    * fused into the micro-batch projection. Docs shorter than one shingle
    * produce no signature row (and therefore no candidates — they are
    * admitted by the left join in [[incrementalProbe]]). */
  private[graft] def ingestSignatures(batch: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(batch.sparkSession)
    batch
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), expr("shingles3(words)").as("shs"))
      .select(col("doc_id"), expr(s"minhash_sig(shs, $nSeeds)").as("sig"))
  }

  /** The asymmetric ingest-vs-corpus probe — ONE definition shared by the
    * batch form ([[incremental]]) and the streaming form
    * ([[graft.streaming.IngestStream]]), so the two
    * cannot drift. `batch` carries the arriving (doc_id, text) rows;
    * candidates come from corpus bands × (conf-gated broadcast) ingest
    * bands — never corpus × corpus — and the verify step reads 16 longs
    * per doc off the signatures, never the text. Output: one verdict row
    * per arriving doc (dup_of, n_matches, is_dup). Each doc's verdict
    * depends only on its own text plus the static corpus index, so the
    * probe is batching-invariant: any partition of the ingest into
    * micro-batches lands the same rows. */
  private[graft] def incrementalProbe(
      batch: DataFrame, corpusSig: DataFrame, corpusBands: DataFrame): DataFrame = {
    val newSig = ingestSignatures(batch)
    val cand = corpusBands.as("o")
      .join(Hints.broadcastSmall(bandRelation(newSig).as("n")),
        col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct()
    val hits = cand
      .join(newSig.select(col("doc_id").as("new_id"), col("sig").as("sig_n")), "new_id")
      .join(corpusSig.select(col("doc_id").as("old_id"), col("sig").as("sig_o")), "old_id")
      .withColumn("n_match",
        expr("CAST(size(filter(zip_with(sig_n, sig_o, (x, y) -> x = y), b -> b)) AS BIGINT)"))
      .filter(col("n_match") * 2 >= nSeeds)
      .groupBy(col("new_id"))
      .agg(min(col("old_id")).as("dup_of"), count(lit(1)).as("n_matches"))
    batch.select(col("doc_id").as("new_id"))
      .join(hits, Seq("new_id"), "left")
      .select(col("new_id"), col("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Incremental (ingestion-time) dedup: match an incoming batch against the
    * already-indexed corpus WITHOUT re-deduping the corpus against itself —
    * the steady-state shape of a production pipeline, where full-corpus
    * dedup runs once and every later ingest only asks "is this new doc a
    * near-dup of anything I already have?". Candidates come from the same
    * MinHash band index as [[minhashLsh]], but the join is asymmetric:
    * new-batch bands × corpus bands, never corpus × corpus. A candidate
    * whose signature-estimated Jaccard is ≥ 1/2 marks the new doc a dup of
    * its smallest-id match; unmatched new docs are admitted.
    *
    * Plan ([[incrementalProbe]] — one definition shared with the streaming
    * twin): corpus-side signatures and bands come off the session's
    * persisted index ([[corpusSigIndex]]), while the arriving batch pays
    * its own map-side hashing from the raw text ([[ingestSignatures]] — a
    * new doc has no index row yet). The ingest band relation is broadcast
    * (a day's ingest is orders of magnitude smaller than the corpus), so
    * the corpus-side index scan joins with NO shuffle at all, and the
    * verify step reads 16 longs per doc off the signatures, never the
    * text. The broadcast is the [[Hints.broadcastSmall]] conf-gated kind:
    * the stand-in batch here is ~10% of the corpus (fine at test scales),
    * and a caller substituting a real ingest partition either keeps it
    * broadcast-sized or sets `spark.graft.broadcastSmallSides=false` to
    * take the shuffle join. Output is one row per new doc — dup verdict,
    * matched corpus doc, match count. */
  def incremental(s: SparkSession, d: String): DataFrame = {
    val (corpusSig, corpusBands) = corpusSigIndex(s, d)
    incrementalProbe(
      Tables.documents(s, d).filter(col("doc_id") % newMod === newRem)
        .select(col("doc_id"), col("text")),
      corpusSig, corpusBands)
  }

  /** INCREMENTAL COMPONENT-LABEL MAINTENANCE — one micro-batch's label
    * delta (r15 verdict #8: the dedup labeling was the one persisted index
    * without an incremental twin; full relabeling per ingest re-runs the
    * whole fixpoint over the corpus graph). The union-find-by-contraction
    * recipe, distributively:
    *
    *  1. the arriving docs' bands probe the standing band index AND the
    *     already-arrived bands (an additive sink of per-batch band
    *     relations — [[graft.streaming.UpsertSink.readAll]] state), plus
    *     the within-batch self-join: exactly the edges [[minhashLsh]]
    *     would emit for these endpoints, so the union over any batching
    *     is the full candidate graph;
    *  2. every edge endpoint is CONTRACTED to its current label
    *     (sink override → standing label → own id). The maintained
    *     invariant — every doc of a maintained component carries the
    *     component's min id — makes the contracted graph sound: nodes are
    *     component representatives, so min-label components OVER THE
    *     CONTRACTED GRAPH ([[labelsFromEdges]], the SAME fixpoint the
    *     batch form runs, now over ≤|batch|·bands nodes instead of the
    *     corpus graph) give each representative the merged component's
    *     min;
    *  3. the delta = arriving docs' new labels ∪ the REMAP rows — every
    *     doc whose current label a merge moved (a bridge arrival can
    *     fuse two standing components; the remap join against the label
    *     table is a broadcast of the tiny old→new map, and only changed
    *     keys write).
    *
    * Convergence to the batch [[components]] under ANY batching follows
    * by induction on the invariant; replay idempotence from excluding the
    * batch's own deltas from BOTH states (the [[incrementalProbe]] /
    * `exceptBatch` stance). `CompLabelStreamSpec` pins both; the stream's
    * oracle is `x_dedup_components`' recursive-CTE twin verbatim.
    *
    * Scale: per-trigger cost is the batch's banding + two band joins +
    * a fixpoint over the contracted (batch-sized) graph + one broadcast
    * remap join against the label table — nothing corpus-text-sized, no
    * corpus×corpus join; the label table IS the maintained index and at
    * 100 TB lives exactly where [[componentLabels]]' scaladoc puts it. */
  private[graft] def labelDelta(
      batch: DataFrame, batchId: Long, bandSink: String,
      labelSink: String, corpusBands: DataFrame,
      standingLabels: DataFrame): (DataFrame, DataFrame) = {
    val s = batch.sparkSession
    val newSig = ingestSignatures(batch)
    val newBands = Lineage.cut(bandRelation(newSig))
    val arrivedBands = {
      val base = new java.io.File(bandSink)
      val has = Option(base.listFiles()).exists(_.exists(f =>
        f.isDirectory && f.getName.startsWith("b") && f.getName != s"b$batchId"))
      if (has)
        Some(graft.streaming.UpsertSink.readAll(s, bandSink, Some(batchId)))
      else None
    }
    val oldBands = arrivedBands.fold(corpusBands)(corpusBands.unionAll)
    // 1. this batch's candidate edges (band-bucketed, never all-pairs)
    val eCross = oldBands.as("o")
      .join(Hints.broadcastSmall(newBands.as("n")),
        col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey"))
      .select(col("n.doc_id").as("doc_a"), col("o.doc_id").as("doc_b"))
    val eWithin = newBands.as("a").join(newBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val edges = Lineage.cut(eCross.unionAll(eWithin).distinct())
    // 2. current labels of every touched endpoint (sink → standing → self)
    val prior = {
      val base = new java.io.File(labelSink)
      val has = Option(base.listFiles()).exists(_.exists(f =>
        f.isDirectory && f.getName.startsWith("b") && f.getName != s"b$batchId"))
      if (has)
        graft.streaming.UpsertSink
          .resolve(s, labelSink, Seq("doc_id"), Some(batchId))
          .select(col("doc_id"), col("comp").as("sink_comp"))
      else standingLabels.limit(0)
        .select(col("doc_id"), col("comp").as("sink_comp"))
    }
    val curAll = Lineage.cut(standingLabels
      .select(col("doc_id"), col("comp").as("st_comp"))
      .join(prior, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("sink_comp"), col("st_comp"), col("doc_id")).as("comp")))
    val touched = edges.select(col("doc_a").as("doc_id"))
      .unionAll(edges.select(col("doc_b").as("doc_id"))).distinct()
    val curTouched = touched.join(curAll, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"))
    // 3. contract endpoints to labels, fixpoint over the contracted graph
    val contracted = edges
      .join(Hints.broadcastSmall(curTouched
        .select(col("doc_id").as("doc_a"), col("comp").as("la"))), "doc_a")
      .join(Hints.broadcastSmall(curTouched
        .select(col("doc_id").as("doc_b"), col("comp").as("lb"))), "doc_b")
      .filter(col("la") =!= col("lb"))
      .select(col("la").as("doc_a"), col("lb").as("doc_b"))
      .distinct()
    val remap = Lineage.cut(labelsFromEdges(contracted)
      .filter(col("doc_id") =!= col("comp"))
      .select(col("doc_id").as("old_comp"), col("comp").as("new_comp")))
    // 4. the delta: arriving docs' labels + every remapped existing row.
    // The remap universe is curAll ∪ the touched-but-never-labeled docs
    // (an edge-less STANDING doc a new cross edge just linked carries no
    // label row anywhere yet its implicit own-id label may have been
    // merged away — without this leg it would silently stay a singleton),
    // minus the batch docs (batchRows owns them — resolve requires one
    // row per key per delta).
    val batchRows = batch.select(col("doc_id"))
      .join(curTouched.withColumnRenamed("comp", "cur"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cur"), col("doc_id")).as("cur"))
      .join(Hints.broadcastSmall(remap), col("cur") === col("old_comp"), "left")
      .select(col("doc_id"), coalesce(col("new_comp"), col("cur")).as("comp"))
    val curUniverse = curAll.unionAll(
      curTouched.join(curAll.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    val remapRows = curUniverse
      .join(batch.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(Hints.broadcastSmall(remap), col("comp") === col("old_comp"))
      .select(col("doc_id"), col("new_comp").as("comp"))
    (batchRows.unionAll(remapRows), newBands)
  }

  /** PageRank iteration count — a fixed hyperparameter like [[Bpe.bpeRounds]]
    * (kept small so the unrolled oracle stays readable; the loop is
    * round-count-agnostic). */
  private[ops] val pagerankRounds = 3

  /** Fixed-point scale for integer-exact PageRank: rank 1.0 ≡ 10^9. */
  private val prScale = 1000000000L

  /** PageRank centrality over the near-dup candidate graph — the second
    * graph-analytics operator beside [[components]], and the curation signal
    * components cannot give: inside a dup cluster, WHICH document is the
    * hub (template/original) and which are leaf variants. Runs
    * [[pagerankRounds]] damped (0.85) power-iteration rounds over the
    * symmetrized [[minhashLsh]] pair graph, restricted to edge-incident
    * vertices (isolated docs have no centrality to compute).
    *
    * Arithmetic is integer FIXED-POINT ([[prScale]]; contributions and the
    * damping step use integer division) — the float formulation's
    * per-partition summation order is not engine-reproducible, the integer
    * one is exact in any summation order, which is what lets the DuckDB
    * twin unroll the same rounds and hash-match ([[Similarity]]'s
    * quantized-k-means trick applied to message passing).
    *
    * Plan, per round: contributions are one co-partitioned join of the
    * adjacency against (rank ⋈ degree) on src — only (dst, contrib) longs
    * move, never text — then one shuffle keyed by dst for the sum;
    * lineage-cut per round ([[Lineage]] reliable-mode contract applies).
    * State between rounds is one long per incident vertex. Rounds are a
    * fixed hyperparameter; at 100 TB the per-round cost is two exchanges
    * of the (bounded) candidate-graph relation, the same scale class as
    * one [[components]] round. */
  def pagerank(s: SparkSession, d: String): DataFrame = {
    val edges = minhashLsh(s, d)
    pagerankOf(
      edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
  }

  /** The [[pagerank]] power iteration over an arbitrary symmetrized
    * `(src, dst)` adjacency (exposed for the hand-computed spec). */
  private[graft] def pagerankOf(adjacency: DataFrame): DataFrame = {
    val adj = Lineage.cut(adjacency)
    val deg = Lineage.cut(adj.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    var rank = deg.select(col("src").as("doc_id"), lit(prScale).as("r"))
    for (_ <- 1 to pagerankRounds) {
      val contrib = adj
        .join(deg, "src")
        .join(rank.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst"), expr("r div deg").as("c"))
      val acc = contrib.groupBy(col("dst")).agg(sum(col("c")).as("acc"))
      rank = Lineage.cut(
        deg.select(col("src").as("doc_id"))
          .join(acc.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            (lit(15L * prScale / 100) +
              expr("(85 * coalesce(acc, 0L)) div 100")).as("r")))
    }
    rank.select(col("doc_id"), col("r").as("rank_fp"))
  }

  /** 2-hop reachability over the near-dup candidate graph — the fourth
    * graph-analytics operator: [[components]] says WHICH docs group,
    * [[pagerank]] WHO is the hub, [[triangles]] HOW tight the cluster is;
    * k-hop reach says HOW FAR contamination spreads — a doc whose 2-hop
    * neighborhood is 50× its direct one sits in a template web that
    * transitive near-dup collapse would chain through (the over-deletion
    * risk `x_mm_dedup_savings`' policy note documents for visual dedup,
    * quantified per vertex on the text graph). Emits per edge-incident
    * vertex its direct degree and distinct ≤2-hop reach (self excluded).
    *
    * Scale: the wedge relation is the one super-linear leg, O(Σ deg²) —
    * bounded here by construction because [[minhashLsh]]'s df-capped
    * inverted lists cap vertex degree; reach COUNTS then move as (long,
    * long) pairs through two exchanges. A deeper k would iterate the
    * same join ([[components]]' fixpoint machinery); 2 is the grain the
    * curation decision reads. */
  def khopReach(s: SparkSession, d: String): DataFrame =
    khopOf(minhashLsh(s, d))

  /** [[khopReach]] over an arbitrary `(doc_a < doc_b)` distinct pair
    * relation (exposed for the hand-computed spec). */
  private[graft] def khopOf(pairs: DataFrame): DataFrame = {
    val p = Lineage.cut(pairs)
    val sym = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val hop2 = sym.select(col("src"), col("dst").as("mid"))
      .join(sym.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .filter(col("dst") =!= col("src"))
      .select(col("src"), col("dst"))
    val reach = sym.select(col("src"), col("dst")).union(hop2).distinct()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("n_1hop"))
    deg.join(reach.groupBy(col("src")).agg(count(lit(1)).as("n_reach2")), Seq("src"))
      .select(col("src").as("doc_id"), col("n_1hop"), col("n_reach2"))
  }

  /** Triangle counting + local clustering coefficient over the near-dup
    * candidate graph — the third graph-analytics operator beside
    * [[components]] (WHICH docs group) and [[pagerank]] (WHO is the hub):
    * triangle density says HOW a dup cluster is shaped. A high-LCC vertex
    * sits in a clique (mirror sets, template families — safe to collapse
    * aggressively); a high-degree zero-LCC vertex is a star center
    * (boilerplate stitching otherwise-unrelated docs — collapsing the
    * neighborhood would over-delete). Emits, per edge-incident vertex, its
    * degree, triangle count, and LCC in basis points (floor division —
    * engine-exact).
    *
    * The 100 TB design choice is DEGREE ORIENTATION (the classic
    * compact-forward bound): orient each undirected edge from its
    * (degree, id)-lower endpoint to the higher, enumerate wedges only at
    * each triangle's lowest-rank vertex, and close them with one hash join
    * against the oriented edge list. Out-degrees under this orientation are
    * O(√m), so wedge volume — the only super-linear relation — is O(m^1.5)
    * regardless of skew; the naive id-ordered join the (tiny-graph) oracle
    * runs would instead explode on the hottest vertex. Only (long, long)
    * edges and wedges move; text never does. */
  def triangles(s: SparkSession, d: String): DataFrame =
    trianglesOf(minhashLsh(s, d))

  /** [[triangles]] over an arbitrary `(doc_a < doc_b)` distinct pair
    * relation (exposed for the hand-computed spec). */
  private[graft] def trianglesOf(pairs: DataFrame): DataFrame = {
    val p = Lineage.cut(pairs)
    val sym = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = Lineage.cut(
      sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("v"), col("deg")))
    // Orient low-rank → high-rank under the (deg, id) total order; keep the
    // head's rank key so the wedge join can order its two endpoints without
    // another degree lookup.
    val oriented = Lineage.cut(
      sym.join(deg.select(col("v").as("src"), col("deg").as("deg_s")), "src")
        .join(deg.select(col("v").as("dst"), col("deg").as("deg_d")), "dst")
        .filter(col("deg_s") < col("deg_d") ||
          (col("deg_s") === col("deg_d") && col("src") < col("dst")))
        .select(col("src"), col("dst"), col("deg_d")))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.deg_d") < col("e2.deg_d") ||
            (col("e1.deg_d") === col("e2.deg_d") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val tri = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val perNode = tri.select(col("u").as("doc_id"))
      .union(tri.select(col("v").as("doc_id")))
      .union(tri.select(col("w").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
    deg.select(col("v").as("doc_id"), col("deg"))
      .join(perNode, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc_bp",
        when(col("deg") < 2, lit(0L))
          .otherwise(expr("(20000 * n_tri) div (deg * (deg - 1))")))
  }

  /** Minimum repeated-run length (tokens) for [[dupSpans]] — the published
    * exact-substring dedup threshold is 50 BPE tokens on web corpora; 8
    * whitespace tokens is the same knob scaled to the fixture texts. */
  private[graft] val dupSpanLen = 8

  /** CROSS-DOCUMENT REPEATED-SPAN DETECTION (`x_dedup_spans`): the maximal
    * token ranges of each document that also appear verbatim in at least
    * one OTHER document — the exact-substring dedup of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"), whose
    * finding is that training corpora carry long verbatim repeats INSIDE
    * otherwise-distinct documents (boilerplate, licenses, quoted posts)
    * that document-level dedup ([[exact]], [[minhashLsh]]) cannot see, and
    * that models memorize. Emits per-document cut lists: `[span_start,
    * span_end]` token ranges (1-based, inclusive) plus their length — the
    * relation a curation pass subtracts before tokenization.
    *
    * Spark-first shape: the paper's suffix array is a single-machine
    * construction; the distributed equivalent is an inverted index of
    * length-L token windows — a position-annotated explode, one
    * partial-agg shuffle keyed by window to find windows with
    * `count(DISTINCT doc) >= 2`, a semi-join back, then per-document
    * ISLAND MERGE of surviving positions (windows at distance ≤ L union
    * into one contiguous covered range — lag/sum-over-window partitioned
    * by doc_id, so the sort is per-document). Every repeated substring of
    * length ≥ L contains a repeated L-window at its start, so span
    * RECALL is exact (the pigeonhole argument of [[simhashPairs]]'
    * banding); and because two matched windows merge only at start
    * distance ≤ L — where their L-token coverages overlap or abut — each
    * emitted span is the EXACT union of matched-window coverage: a novel
    * token is never included in a span (two repeats separated by g ≥ 1
    * novel tokens sit at window distance L + g > L and stay separate
    * islands). Precision is exact for the covered set; "conservative"
    * here means only that coverage is window-granular — a repeat's last
    * partial window extends the span to the full matched window. The windows relation is derived on both
    * sides of the df-filter join rather than checkpointed —
    * recompute-over-materialize, the documented [[dupCoverage]] trade. At
    * 100 TB the group-by key would be a 128-bit window fingerprint (16
    * bytes moved per window instead of ~L words; collisions 2⁻⁶⁴); the
    * string key here keeps the relation byte-comparable to the DuckDB
    * oracle. */
  /** Memo of the span cut lists: (session id, table dir) → spilled parquet.
    * Two consumers ([[dupSpans]] itself and the [[dupSpanStrip]] savings
    * report) read one derivation per corpus snapshot — the
    * compute-once-read-many pattern of the recall-truth memo
    * ([[graft.ops.Similarity]]); first consumer carries the cost, visible
    * in `bench_full.json`'s cold sample. */
  private val spansMemo =
    scala.collection.concurrent.TrieMap.empty[(Long, String), String]

  def dupSpans(s: SparkSession, d: String): DataFrame = {
    val key = (SpillMemo.sessionId(s), d)
    val path = spansMemo.synchronized(spansMemo.getOrElseUpdate(key, {
      val out = SpillMemo.scratchDir("graft-dupspans-")
      dupSpansOf(Tables.documents(s, d)).write.mode("overwrite").parquet(out)
      out
    }))
    s.read.parquet(path)
  }

  /** CUT-LIST APPLICATION (`x_dedup_span_strip`): what [[dupSpans]]'
    * repeated-span removal actually saves — per document, total tokens,
    * spans cut, tokens cut, tokens kept. Documents without any repeated
    * span keep an explicit zero row (the curation ledger must account for
    * every document, not just the flagged ones). Spans are disjoint by
    * the island-merge construction, so summing their lengths is exact.
    * Reads the memoized span relation — corpus text is re-scanned only
    * for the per-doc token counts (map-side). */
  def dupSpanStrip(s: SparkSession, d: String): DataFrame = {
    val cuts = dupSpans(s, d).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("n_dup_tokens")).as("n_cut"))
    Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(cuts, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"))
      .withColumn("n_kept", col("n_tokens") - col("n_cut"))
  }

  /** Core of [[dupSpans]] over any (doc_id, text) frame — split out so the
    * island-merge semantics are pinnable on synthetic corpora. */
  private[graft] def dupSpansOf(docs: DataFrame): DataFrame = {
    val L = dupSpanLen
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= L)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, size(words) - ${L - 1}), i -> array_join(slice(words, i, $L), ' '))"))
          .as(Seq("j", "gram")))
      .select(col("doc_id"), (col("j") + 1).cast("long").as("p"), col("gram"))
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("gram"))
    val matched = grams.join(dup, Seq("gram")).select(col("doc_id"), col("p"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val spans = matched
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(w) <= L, lit(0)).otherwise(lit(1)))
      .withColumn("span", sum(col("brk")).over(w))
    spans.groupBy(col("doc_id"), col("span"))
      .agg(min(col("p")).as("span_start"), (max(col("p")) + lit(L - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_dup_tokens"))
  }

  /** EVAL-SIDE CONTAMINATION SCORE (`x_decontam_overlap`): per eval
    * document, the fraction (basis points) of its distinct shingles found
    * anywhere in the training side — the complementary direction to
    * [[decontaminate]]: that query answers the CORPUS owner's question
    * ("which training docs must I drop"), this one answers the EVAL
    * owner's ("how compromised is each benchmark item, and is it a quote
    * or a verbatim copy") — the published benchmark-contamination
    * methodology reports exactly this per-item n-gram overlap
    * percentage, because a 30% overlap item gets flagged and a 95% item
    * gets removed.
    *
    * Plan keeps the corpus map-side: the eval shingle set (small by
    * construction) is lineage-cut once and its keys broadcast; the
    * training side is a single scan semi-joined against that broadcast
    * (no corpus shuffle), reduced to the ≤|eval-shingle| matched-key set;
    * the per-item score is then eval-sized arithmetic. Broadcasts go
    * through [[Hints.broadcastSmall]] — conf-escapable when an eval suite
    * outgrows the driver. */
  def decontamOverlap(s: SparkSession, d: String): DataFrame = {
    val sh = shingleSets(s, d).select(col("doc_id"), col("sh"))
    val eval = Lineage.cut(sh.filter(col("doc_id") % evalMod === 0)
      .select(col("doc_id").as("eval_id"), col("sh")))
    val evalKeys = eval.select(col("sh")).distinct()
    val hitShingles = sh.filter(col("doc_id") % evalMod =!= 0)
      .join(Hints.broadcastSmall(evalKeys), Seq("sh"), "left_semi")
      .select(col("sh")).distinct()
    val hits = eval.join(Hints.broadcastSmall(hitShingles), Seq("sh"), "left_semi")
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_hit"))
    eval.groupBy(col("eval_id")).agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("eval_id"), "left_outer")
      .select(col("eval_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("overlap_bp", expr("(n_hit * 10000) div n_shingles"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_dedup_exact" -> exact,
    "x_dedup_segments" -> segmentDedup,
    "x_dedup_ngram_jaccard" -> ngramJaccard,
    "x_dedup_minhash_lsh" -> minhashLsh,
    "x_dedup_jaccard_est" -> jaccardEstimate,
    "x_dedup_lsh_verified" -> lshVerified,
    "x_dup_coverage" -> dupCoverage,
    "x_decontaminate" -> decontaminate,
    "x_decontam_bloom" -> decontaminateBloom,
    "x_dedup_simhash" -> simhash,
    "x_dedup_simhash_pairs" -> simhashPairs,
    "x_dedup_embedding_cosine" -> embeddingCosine,
    "x_graph_pagerank" -> pagerank,
    "x_graph_khop" -> khopReach,
    "x_graph_triangles" -> triangles,
    "x_dedup_semantic" -> ((s, d) => semanticDedup(s, d)),
    "x_dedup_components" -> components,
    "x_dedup_keep_best" -> keepBest,
    "x_dedup_savings" -> dedupSavings,
    "x_dedup_incremental" -> incremental,
    "x_dedup_spans" -> dupSpans,
    "x_dedup_span_strip" -> dupSpanStrip,
    "x_decontam_overlap" -> decontamOverlap)

  /** Oracle for BOTH decontamination paths ([[decontaminate]],
    * [[decontaminateBloom]]) — bloom prefiltering cannot change the output. */
  private def decontaminateSql: String =
    s"""$shingleSqlCtes,
       |ev AS (SELECT sh, doc_id AS eval_id FROM s WHERE doc_id % $evalMod = 0),
       |tr AS (SELECT doc_id, sh FROM s WHERE doc_id % $evalMod <> 0)
       |SELECT tr.doc_id, ev.eval_id, count(*) AS shared
       |FROM tr JOIN ev USING (sh)
       |GROUP BY 1, 2 HAVING count(*) >= $minSharedShingles""".stripMargin

  private def minhashSqlMins =
    (0 until nSeeds).map(i => s"min((h1 + $i * h2) % $kmPrime) AS m$i").mkString(", ")

  /** Full recursive CTE chain ending in `comp (doc_id, comp)` — the DuckDB
    * twin of [[components]] (min reachable id per node == the
    * min-label-propagation fixpoint; UNION set semantics bound the
    * recursion). Shared by the components/keep-best oracles and
    * [[Sampling]]'s leak-proof split twin. */
  private[graft] def componentSqlChain: String =
    s"""${shingleSqlCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |$minhashPairsSqlCtes,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
       |comp AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS comp
       |         FROM reach GROUP BY 1)""".stripMargin

  /** Oracle CTE chain for the leak-proof INGEST split
    * ([[Sampling.splitLeakproofIngest]]), ending in
    * `asg (doc_id, inherited, split_key)`: standing-only components
    * (both edge endpoints standing), the [[incremental]] band-match +
    * signature-Jaccard verdict for arrivals, and key inheritance — a
    * matched arrival takes its match's standing component label, an
    * unmatched one keys by its own id. */
  private[graft] def leakproofIngestSqlCtes: String = {
    val nMatch = (0 until nSeeds)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    val standing = s"% $newMod <> $newRem"
    s"""${shingleSqlCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |$minhashPairsSqlCtes,
       |sedges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |           WHERE doc_a $standing AND doc_b $standing
       |           UNION SELECT doc_b AS src, doc_a AS dst FROM pairs
       |           WHERE doc_a $standing AND doc_b $standing),
       |sreach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents WHERE doc_id $standing
       |  UNION
       |  SELECT r.a, e.dst FROM sreach r JOIN sedges e ON r.b = e.src),
       |scomp AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS comp
       |          FROM sreach GROUP BY 1),
       |cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
       |         FROM bands n JOIN bands o
       |           ON n.band = o.band AND n.bkey = o.bkey
       |         WHERE n.doc_id % $newMod = $newRem AND o.doc_id $standing),
       |est AS (SELECT c.new_id, c.old_id, CAST($nMatch AS BIGINT) AS n_match
       |        FROM cand c JOIN m a ON c.new_id = a.doc_id
       |                    JOIN m b ON c.old_id = b.doc_id),
       |hit AS (SELECT new_id, CAST(min(old_id) AS BIGINT) AS dup_of
       |        FROM est WHERE n_match * 2 >= $nSeeds GROUP BY 1),
       |asg AS (SELECT d.doc_id, h.dup_of IS NOT NULL AS inherited,
       |          CAST(CASE WHEN h.dup_of IS NOT NULL THEN sc.comp
       |               ELSE d.doc_id END AS BIGINT) AS split_key
       |        FROM documents d LEFT JOIN hit h ON d.doc_id = h.new_id
       |        LEFT JOIN scomp sc ON sc.doc_id = h.dup_of
       |        WHERE d.doc_id % $newMod = $newRem)""".stripMargin
  }

  /** CTE chain `hv, m, bands, pairs` reproducing [[minhashLsh]] in DuckDB —
    * appended after [[shingleSqlCtes]] by the LSH and components oracles. */
  private def minhashPairsSqlCtes: String = {
    val bands = (0 until nSeeds / bandSize).map { b =>
      val key = (b * bandSize until (b + 1) * bandSize).map(i => s"m$i").mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM m"
    }.mkString(" UNION ALL ")
    s"""hk AS (SELECT doc_id, md5(sh) AS h FROM s),
       |hv AS (SELECT doc_id,
       |         CAST(('0x' || substr(h, 1, 15))::UBIGINT % $kmPrime AS BIGINT) AS h1,
       |         CAST(('0x' || substr(h, 17, 15))::UBIGINT % $kmPrime AS BIGINT) AS h2
       |       FROM hk),
       |m AS (SELECT doc_id, $minhashSqlMins FROM hv GROUP BY 1),
       |bands AS ($bands),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bands a JOIN bands b
       |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def simhashSqlTerms = {
    val sums = (1 to simBits)
      .map(j => s"sum(2 * (ascii(substr(md5(sh), $j, 1)) % 2) - 1) AS s$j").mkString(", ")
    val bits = (1 to simBits)
      .map(j => s"CASE WHEN s$j > 0 THEN CAST(${1L << (j - 1)} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    (sums, bits)
  }

  /** CTE chain ending in `spans(doc_id, span_start, span_end,
    * n_dup_tokens)` — [[dupSpansOf]] in DuckDB; shared by the
    * `x_dedup_spans` and `x_dedup_span_strip` oracles. */
  private def dupSpansSqlCtes: String = {
    val L = dupSpanLen
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |           WHERE len(string_split(text, ' ')) >= $L),
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS p,
       |        array_to_string(list_slice(words, i, i + ${L - 1}), ' ') AS gram
       |      FROM (SELECT doc_id, words,
       |              unnest(range(1, len(words) - ${L - 2})) AS i FROM w)),
       |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
       |m AS (SELECT g.doc_id, g.p FROM g JOIN dup USING (gram)),
       |b AS (SELECT doc_id, p,
       |        CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= $L
       |             THEN 0 ELSE 1 END AS brk
       |      FROM m),
       |sp AS (SELECT doc_id, p,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS span
       |       FROM b),
       |spans AS (SELECT doc_id, min(p) AS span_start, max(p) + ${L - 1} AS span_end,
       |            max(p) + ${L - 1} - min(p) + 1 AS n_dup_tokens
       |          FROM sp GROUP BY doc_id, span)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "x_dedup_exact" ->
      """SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "x_dedup_segments" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |g AS (SELECT doc_id,
         |        md5(array_to_string(
         |          words[i * $segLen + 1 : i * $segLen + $segLen], ' ')) AS h
         |      FROM (SELECT doc_id, words, unnest(range(0, len(words) // $segLen)) AS i
         |            FROM w WHERE len(words) >= $segLen)),
         |f AS (SELECT h, count(*) AS n_occ FROM g GROUP BY 1)
         |SELECT g.doc_id, count(*) AS n_segs,
         |       CAST(sum(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
         |       CAST(round(CAST(sum(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |                  * 10000 / count(*)) AS BIGINT) AS dup_seg_bp
         |FROM g JOIN f USING (h) GROUP BY 1""".stripMargin,
    "x_dedup_ngram_jaccard" ->
      s"""$shingleSqlCtes,
         |d AS (SELECT lang, source, sh, count(*) AS df FROM s GROUP BY 1, 2, 3),
         |k AS (SELECT s.* FROM s JOIN d USING (lang, source, sh) WHERE d.df <= $maxShingleDf),
         |n AS (SELECT doc_id, count(*) AS nsh FROM k GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |      FROM k a JOIN k b ON a.lang = b.lang AND a.source = b.source
         |                       AND a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared, na.nsh AS n_a, nb.nsh AS n_b
         |FROM p JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id
         |WHERE shared * 2 >= na.nsh + nb.nsh - shared""".stripMargin,
    "x_dedup_minhash_lsh" ->
      s"""$shingleSqlCtes,
         |$minhashPairsSqlCtes
         |SELECT doc_a, doc_b FROM pairs""".stripMargin,
    "x_dedup_jaccard_est" -> {
      val nMatch = (0 until nSeeds)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""$shingleSqlCtes,
         |$minhashPairsSqlCtes,
         |est AS (SELECT p.doc_a, p.doc_b, CAST($nMatch AS BIGINT) AS n_match
         |        FROM pairs p JOIN m a ON p.doc_a = a.doc_id
         |                     JOIN m b ON p.doc_b = b.doc_id)
         |SELECT doc_a, doc_b, n_match,
         |       CAST(round(CAST(n_match AS DOUBLE) * 10000 / $nSeeds) AS BIGINT) AS est_j_bp
         |FROM est""".stripMargin
    },
    "x_dup_coverage" ->
      s"""$shingleSqlCtes,
         |df AS (SELECT sh FROM s GROUP BY sh HAVING count(*) >= 2),
         |pd AS (SELECT doc_id, count(*) AS n_dup FROM s
         |       WHERE sh IN (SELECT sh FROM df) GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM s GROUP BY doc_id)
         |SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
         |       CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup,
         |       CAST(round(coalesce(pd.n_dup, 0) * 10000.0 / t.n_shingles) AS BIGINT) AS dup_bp
         |FROM tot t LEFT JOIN pd USING (doc_id)""".stripMargin,
    "x_decontaminate" -> decontaminateSql,
    // same oracle on purpose: the bloom is a prefilter with no false
    // negatives, and its false positives die in the exact join — the two
    // plans are output-equivalent by construction, which is the check
    "x_decontam_bloom" -> decontaminateSql,
    "x_dedup_lsh_verified" ->
      s"""$shingleSqlCtes,
         |$minhashPairsSqlCtes,
         |n AS (SELECT doc_id, count(*) AS nsh FROM s GROUP BY 1),
         |i AS (SELECT p.doc_a, p.doc_b, count(*) AS inter
         |      FROM pairs p JOIN s a ON a.doc_id = p.doc_a
         |                   JOIN s b ON b.doc_id = p.doc_b AND b.sh = a.sh
         |      GROUP BY 1, 2)
         |SELECT p.doc_a, p.doc_b,
         |       CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
         |       na.nsh AS n_a, nb.nsh AS n_b,
         |       CAST(round(CAST(COALESCE(i.inter, 0) * 10000 AS DOUBLE)
         |                  / (na.nsh + nb.nsh - COALESCE(i.inter, 0))) AS BIGINT) AS j_bp
         |FROM pairs p
         |JOIN n na ON p.doc_a = na.doc_id
         |JOIN n nb ON p.doc_b = nb.doc_id
         |LEFT JOIN i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b""".stripMargin,
    "x_graph_khop" ->
      s"""$shingleSqlCtes,
         |$minhashPairsSqlCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |h2 AS (SELECT e1.src, e2.dst FROM edges e1
         |       JOIN edges e2 ON e1.dst = e2.src WHERE e2.dst <> e1.src),
         |reach AS (SELECT src, dst FROM edges UNION SELECT src, dst FROM h2),
         |deg AS (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS n_1hop
         |        FROM edges GROUP BY 1),
         |r2 AS (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS n_reach2
         |       FROM reach GROUP BY 1)
         |SELECT d.doc_id, d.n_1hop, r2.n_reach2
         |FROM deg d JOIN r2 USING (doc_id)""".stripMargin,
    "x_graph_pagerank" -> {
      // Unrolled integer fixed-point power iteration — DuckDB's `//` floor
      // division matches Spark's `div` on the all-positive ranks, and
      // integer sums are order-independent, so the hashes can't drift.
      val rounds = (1 to pagerankRounds).map { i =>
        s"""acc$i AS (SELECT e.dst AS doc_id, SUM(r.r // g.deg) AS acc
           |          FROM edges e
           |          JOIN pr${i - 1} r ON e.src = r.doc_id
           |          JOIN deg g ON e.src = g.doc_id
           |          GROUP BY 1),
           |pr$i AS (SELECT d.doc_id,
           |           CAST(${15L * prScale / 100} + (85 * COALESCE(a.acc, 0)) // 100
           |                AS BIGINT) AS r
           |         FROM deg d LEFT JOIN acc$i a USING (doc_id))""".stripMargin
      }.mkString(",\n")
      s"""$shingleSqlCtes,
         |$minhashPairsSqlCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |deg AS (SELECT src AS doc_id, count(*) AS deg FROM edges GROUP BY 1),
         |pr0 AS (SELECT doc_id, CAST($prScale AS BIGINT) AS r FROM deg),
         |$rounds
         |SELECT doc_id, r AS rank_fp FROM pr$pagerankRounds""".stripMargin
    },
    "x_graph_triangles" ->
      // Naive id-ordered triangle enumeration (a<b<c, each once) — fine on
      // the oracle's tiny graph; the Spark side's degree orientation finds
      // the SAME triangle set (orientation changes where a triangle is
      // enumerated, never whether), so the per-node rollups hash-match.
      s"""$shingleSqlCtes,
         |$minhashPairsSqlCtes,
         |tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         |        FROM pairs e1
         |        JOIN pairs e2 ON e2.doc_a = e1.doc_b
         |        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
         |tn AS (SELECT a AS doc_id FROM tri
         |       UNION ALL SELECT b FROM tri
         |       UNION ALL SELECT c FROM tri),
         |tc AS (SELECT doc_id, count(*) AS n_tri FROM tn GROUP BY 1),
         |ed AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |       UNION ALL SELECT doc_b, doc_a FROM pairs),
         |dg AS (SELECT src AS doc_id, count(*) AS deg FROM ed GROUP BY 1)
         |SELECT d.doc_id, d.deg, CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
         |       CAST(CASE WHEN d.deg < 2 THEN 0
         |                 ELSE (20000 * COALESCE(t.n_tri, 0)) // (d.deg * (d.deg - 1))
         |            END AS BIGINT) AS lcc_bp
         |FROM dg d LEFT JOIN tc t USING (doc_id)""".stripMargin,
    "x_dedup_components" ->
      // min reachable id per node == the min-label-propagation fixpoint;
      // UNION (set semantics) bounds the recursion.
      s"""$componentSqlChain
         |SELECT doc_id, comp FROM comp""".stripMargin,
    "x_dedup_keep_best" ->
      s"""$componentSqlChain,
         |len AS (SELECT doc_id,
         |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
         |        FROM documents),
         |r AS (SELECT c.comp, c.doc_id, l.n_words,
         |        row_number() OVER (PARTITION BY c.comp
         |          ORDER BY l.n_words DESC, c.doc_id) AS rnk,
         |        count(*) OVER (PARTITION BY c.comp) AS n_members
         |      FROM comp c JOIN len l USING (doc_id))
         |SELECT comp, doc_id AS keep_id, n_words AS keep_words,
         |       CAST(n_members AS BIGINT) AS n_members
         |FROM r WHERE rnk = 1""".stripMargin,
    // per-size rollup of the same components; the survivor is keepBest's
    // (n_words DESC, doc_id ASC) pick, so redundant chars = total - ITS chars
    "x_dedup_savings" ->
      s"""$componentSqlChain,
         |ch AS (SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |         CAST(length(text) AS BIGINT) AS chars
         |       FROM documents),
         |rk AS (SELECT c.comp, ch.chars,
         |         row_number() OVER (PARTITION BY c.comp
         |           ORDER BY ch.n_words DESC, c.doc_id) AS rnk
         |       FROM comp c JOIN ch USING (doc_id)),
         |pc AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz,
         |         CAST(sum(chars) AS BIGINT) AS tot_chars,
         |         CAST(max(CASE WHEN rnk = 1 THEN chars END) AS BIGINT) AS keep_chars
         |       FROM rk GROUP BY 1)
         |SELECT sz AS comp_size,
         |       CAST(count(*) AS BIGINT) AS n_components,
         |       CAST(sum(sz) AS BIGINT) AS n_docs,
         |       CAST(sum(sz - 1) AS BIGINT) AS n_redundant,
         |       CAST(sum(tot_chars - keep_chars) AS BIGINT) AS redundant_chars
         |FROM pc GROUP BY 1""".stripMargin,
    "x_dedup_incremental" -> {
      val nMatch = (0 until nSeeds)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""$shingleSqlCtes,
         |$minhashPairsSqlCtes,
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |         FROM bands n JOIN bands o
         |           ON n.band = o.band AND n.bkey = o.bkey
         |         WHERE n.doc_id % $newMod = $newRem
         |           AND o.doc_id % $newMod <> $newRem),
         |est AS (SELECT c.new_id, c.old_id, CAST($nMatch AS BIGINT) AS n_match
         |        FROM cand c JOIN m a ON c.new_id = a.doc_id
         |                    JOIN m b ON c.old_id = b.doc_id),
         |hit AS (SELECT new_id, CAST(min(old_id) AS BIGINT) AS dup_of,
         |          count(*) AS n_matches
         |        FROM est WHERE n_match * 2 >= $nSeeds GROUP BY 1)
         |SELECT d.doc_id AS new_id, h.dup_of,
         |       CAST(coalesce(h.n_matches, 0) AS BIGINT) AS n_matches,
         |       h.dup_of IS NOT NULL AS is_dup
         |FROM documents d LEFT JOIN hit h ON d.doc_id = h.new_id
         |WHERE d.doc_id % $newMod = $newRem""".stripMargin
    },
    "x_dedup_simhash" -> {
      val (sums, bits) = simhashSqlTerms
      s"""$shingleSqlCtes,
         |sums AS (SELECT doc_id, $sums FROM s GROUP BY 1)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM sums""".stripMargin
    },
    "x_dedup_simhash_pairs" -> {
      val (sums, bits) = simhashSqlTerms
      s"""$shingleSqlCtes,
         |sums AS (SELECT doc_id, $sums FROM s GROUP BY 1),
         |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM sums),
         |bands AS (SELECT doc_id, simhash, b.b AS band,
         |            (simhash >> (b.b * 8)) & 255 AS bkey
         |          FROM sh, (SELECT unnest(range(0, $simBands)) AS b) b),
         |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |      FROM bands a JOIN bands b
         |        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= $simHammingMax""".stripMargin
    },
    "x_dedup_embedding_cosine" -> {
      val bucket = (1 to embedLshBits)
        .map(i => s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, ($bucket) AS bucket
         |           FROM embeddings),
         |en AS (SELECT vec_id, v, bucket, sqrt(list_dot_product(v, v)) AS nrm FROM e)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |FROM en a JOIN en b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.3""".stripMargin
    },
    "x_dedup_semantic" ->
      s"""WITH ${Similarity.kmeansAssignSqlCtes()},
         |cc AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM cc),
         |dup AS (SELECT DISTINCT y.vec_id
         |        FROM ka x JOIN ka y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |        JOIN en p ON p.vec_id = x.vec_id
         |        JOIN en q ON q.vec_id = y.vec_id
         |        WHERE list_dot_product(p.v, q.v) / (p.nrm * q.nrm) >= $semCosMin)
         |SELECT ka.vec_id, ka.cluster,
         |       ka.vec_id NOT IN (SELECT vec_id FROM dup) AS is_kept
         |FROM ka""".stripMargin,
    "x_dedup_spans" -> s"$dupSpansSqlCtes\nSELECT doc_id, span_start, span_end, n_dup_tokens FROM spans",
    "x_dedup_span_strip" ->
      s"""$dupSpansSqlCtes,
         |cuts AS (SELECT doc_id, count(*) AS n_spans,
         |           CAST(sum(n_dup_tokens) AS BIGINT) AS n_cut
         |         FROM spans GROUP BY 1),
         |lens AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |         FROM documents)
         |SELECT lens.doc_id, lens.n_tokens,
         |       COALESCE(cuts.n_spans, 0) AS n_spans,
         |       COALESCE(cuts.n_cut, 0) AS n_cut,
         |       lens.n_tokens - COALESCE(cuts.n_cut, 0) AS n_kept
         |FROM lens LEFT JOIN cuts USING (doc_id)""".stripMargin,
    "x_decontam_overlap" ->
      s"""$shingleSqlCtes,
         |ev AS (SELECT doc_id AS eval_id, sh FROM s WHERE doc_id % $evalMod = 0),
         |hit AS (SELECT DISTINCT s.sh FROM s
         |        JOIN (SELECT DISTINCT sh FROM ev) ek ON s.sh = ek.sh
         |        WHERE s.doc_id % $evalMod <> 0),
         |tot AS (SELECT eval_id, count(*) AS n_shingles FROM ev GROUP BY 1),
         |h AS (SELECT ev.eval_id, count(*) AS n_hit FROM ev
         |      JOIN hit ON ev.sh = hit.sh GROUP BY 1)
         |SELECT tot.eval_id, tot.n_shingles, COALESCE(h.n_hit, 0) AS n_hit,
         |       (COALESCE(h.n_hit, 0) * 10000) // tot.n_shingles AS overlap_bp
         |FROM tot LEFT JOIN h USING (eval_id)""".stripMargin)
}
