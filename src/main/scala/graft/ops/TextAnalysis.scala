package graft.ops

import graft.Tables
import graft.functions.{TopK, TopKOrder}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis pack over `documents` (SURVEY §7.4): language ID (stopword
  * heuristic), quality scoring, token counting, and winnowing document
  * fingerprints. All per-document map-side work (narrow, codegen'd) except
  * the fingerprint windows — exactly the profile a 100 TB text pipeline
  * wants: no shuffle until an aggregation the caller adds.
  *
  * Ratios are emitted as integer basis points (round(x·10⁴)) so outputs stay
  * FP-drift-proof under oracle hashing; the underlying division is a single
  * IEEE op, identical in Spark and DuckDB.
  */
object TextAnalysis {

  private val stoplists: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  /** Stopword-hit count via the native [[graft.functions.StopwordHits]]
    * kernel — byte-equivalent to the interpreted HOF twin
    * `size(filter(words, x -> array_contains(array(...), x)))` it replaced
    * (equivalence pinned in HashKernelsSpec); callers must have
    * [[graft.functions.GraftFunctions.register]]ed the session. */
  private def hitsExpr(words: String, list: Seq[String]): String = {
    val arr = list.map(w => s"'$w'").mkString(", ")
    s"stopword_hits($words, array($arr))"
  }

  private def hitsSql(words: String, list: Seq[String]): String = {
    val arr = list.map(w => s"'$w'").mkString(", ")
    s"len(list_filter($words, x -> list_contains([$arr], x)))"
  }

  /** The curation gate's per-document features: the `keep` columns
    * (evaluated over `docs` plus its `words` split), then `n_words`, the
    * English stopword count `n_stop` and the punctuation count `n_punct`.
    * The one projection every gate consumer reads ([[quality]],
    * [[docBase]], [[curatedOf]], [[gateMapSide]], [[modelTrainDocs]]);
    * columns a consumer drops prune away in Catalyst. Callers must have
    * [[graft.functions.GraftFunctions.register]]ed the session. */
  private[graft] def gateFeatures(docs: DataFrame, keep: Column*): DataFrame =
    docs.withColumn("words", split(col("text"), " "))
      .select(keep ++ Seq(
        size(col("words")).cast("long").as("n_words"),
        expr(hitsExpr("words", stoplists.toMap.apply("en"))).cast("long").as("n_stop"),
        expr("CAST(regexp_count(text, '[^a-z0-9 ]') AS BIGINT)").as("n_punct")): _*)

  /** [[gateFeatures]]' oracle twin, the CTE pair `w`/`f`: per document
    * `doc_id`, the `pass` columns of `documents`, `n_words`, `n_stop` and
    * `n_punct`. */
  private def gateFeatureSqlCtes(pass: String*): String = {
    val keep = "doc_id" +: pass
    s"""w AS (SELECT ${(keep :+ "text").distinct.mkString(", ")}, string_split(text, ' ') AS words
       |           FROM documents),
       |f AS (SELECT ${keep.mkString(", ")},
       |        CAST(len(words) AS BIGINT) AS n_words,
       |        CAST(${hitsSql("words", stoplists.toMap.apply("en"))} AS BIGINT) AS n_stop,
       |        CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS n_punct
       |      FROM w)""".stripMargin
  }

  /** The heuristic quality rule over (n_words, n_stop): 20 to 2000 words
    * and at least one English stopword. */
  private[graft] val qualityRule: Column =
    col("n_words") >= 20 && col("n_words") <= 2000 && col("n_stop") >= 1

  /** [[qualityRule]]'s oracle twin. */
  private val qualitySql = "n_words >= 20 AND n_words <= 2000 AND n_stop >= 1"

  /** Language ID: argmax of per-language stopword hit counts, deterministic
    * tie-break in stoplist order (de, en, es, fr). */
  def langId(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("words"))
    val scored = stoplists.foldLeft(base) { case (df, (l, list)) =>
      df.withColumn(s"s_$l", expr(hitsExpr("words", list)).cast("long"))
    }
    val pred = when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
      .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
      .when(col("s_es") >= col("s_fr"), "es")
      .otherwise("fr")
    scored.select(col("doc_id"), pred.as("lang_pred"), col("lang"),
      (pred === col("lang")).as("is_match"))
  }

  /** Quality scoring: length gates, stopword density, mean word length —
    * the usual cheap pre-filters before expensive dedup/training steps. */
  def quality(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    gateFeatures(Tables.documents(s, d),
        col("doc_id"), length(col("text")).cast("long").as("n_chars_m"))
      .select(col("doc_id"), col("n_words"), col("n_chars_m"), col("n_stop"))
      .withColumn("avg_word_len_c",
        expr("CAST(round(CAST(n_chars_m - (n_words - 1) AS DOUBLE) / n_words * 100) AS BIGINT)"))
      .withColumn("stop_bp",
        expr("CAST(round(CAST(n_stop AS DOUBLE) * 10000 / n_words) AS BIGINT)"))
      .withColumn("is_quality", qualityRule)
  }

  /** Token counting: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / digit runs / single other non-space). */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      expr("CAST(regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS BIGINT)").as("re_tokens"),
      length(col("text")).cast("long").as("n_chars_m"))

  /** Winnowing fingerprints: md5 over positional 3-word shingles, minimum
    * per sliding window of 4 shingles, distinct per doc — the standard
    * near-dup fingerprint set (Schleimer et al., SIGMOD'03).
    *
    * The computation is strictly per-document, so it stays map-side — the
    * native kernel [[graft.functions.WinnowFp]] (`winnow_fp`): one fused
    * loop per document (hash shingles, sliding minima with tail-shrinking
    * windows, keep-first distinct), then explode. Zero shuffles — the
    * explode+`Window.partitionBy(doc_id)` formulation would shuffle AND
    * sort the entire exploded shingle set, and the intermediate
    * `transform`/`array_min`/`slice` HOF twin it previously used evaluated
    * interpreted, allocating per window. */
  def winnow(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(expr("winnow_fp(words)")).as("fp"))
  }

  /** Corpus vocabulary: top-20 tokens per language by term frequency — the
    * counting pass behind tokenizer/vocab construction. Plan: explode →
    * partial count map-side (the heavy reduction happens before the shuffle;
    * only distinct (lang, token) partials move) → final count → per-lang
    * bounded-heap head cut ([[graft.functions.TopK.Cut]]), not a per-lang
    * `row_number` window, which would cap parallelism at |langs| and sort
    * each language's ENTIRE aggregated vocab in one task — at web scale a
    * language's distinct-token table is 10⁸+ rows.
    * The aggregator's map-side partials bound state at 20 per partition
    * per lang at the tf relation's full parallelism, and `posexplode` of
    * the sorted survivors IS the rank — no window, no vocab-wide sort. */
  def vocab(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("tf"))
    TopK.ranked(
      tf.groupBy(col("lang"))
        .agg(TopK.cut(20, TopKOrder.countKeyed).apply(col("tf"), col("token")).as("top")),
      "top", col("lang"), col("t.key").as("token"), col("t.c").as("tf"), col("rnk"))
  }

  /** Token-rarity scoring: mean corpus frequency of a doc's tokens — low
    * scores flag documents made of rare/garbage tokens, high scores flag
    * boilerplate; the cheap corpus-statistics quality filter between the
    * map-side gates ([[quality]]) and expensive dedup. All-integer (counts
    * summed exactly; one final division quantized to centi-units) so the
    * result is partitioning-independent. Plan: one shuffle to build the tf
    * table, one join keyed by token + per-doc agg — at 100 TB the head of
    * the tf table (the only skewed part) is broadcastable and the tail is
    * uniform, the classic frequency-join split. */
  def rarity(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    toks.join(tf, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("tf")).as("tf_sum"))
      .select(col("doc_id"), col("n_tokens"), col("tf_sum"),
        expr("CAST(round(CAST(tf_sum AS DOUBLE) / n_tokens * 100) AS BIGINT)").as("mean_tf_c"))
  }

  /** Unigram-surprisal quality score — the engine-exact stand-in for the
    * language-model perplexity filter LLM pipelines run between heuristics
    * and dedup (CCNet-style: score each doc by how surprising its tokens
    * are under a corpus LM; prune both tails). The per-token surprisal
    * −log₂ p(tok) = log₂ N − log₂ tf is quantized to INTEGER BIT LENGTHS:
    * bitlen(N) − bitlen(tf) (⌈log₂⌉ resolution). Floats would make the
    * per-doc sum partition-order-dependent and `ln` library-dependent;
    * bit length is exact in both engines (`length(bin(x))` here,
    * `length(printf('%b', x))` in the twin), so sums commute and the
    * result is reproducible on any cluster layout.
    *
    * Plan: one corpus scan builds (doc, token); the unigram table is one
    * count aggregation (map-side partials shrink it before the exchange);
    * N is a 1-row broadcast scalar; the score join is the same
    * frequency-join shape as [[rarity]] — at 100 TB the skewed head of the
    * unigram table is broadcastable, the tail uniform, and the final
    * per-doc agg is partial-aggregated. The corpus text moves only as
    * (token, doc_id) pairs, never re-joined to itself. */
  def surprisal(s: SparkSession, d: String): DataFrame =
    surprisalDocs(Tables.documents(s, d))

  /** [[surprisal]] over an arbitrary documents frame (exposed for the
    * hand-computed bit-length spec). */
  private[graft] def surprisalDocs(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val n = tf.agg(sum(col("tf")).as("n_corpus"))
    toks.join(tf, "token")
      .crossJoin(broadcast(n))
      .withColumn("s_bits",
        expr("CAST(length(bin(n_corpus)) - length(bin(tf)) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s_bits")).as("bits_sum"))
      .select(col("doc_id"), col("n_tokens"), col("bits_sum"),
        expr("(100 * bits_sum) div n_tokens").as("mean_bits_c"))
  }

  /** CTE chain ending in `surp` (doc_id, n_tokens, bits_sum, mean_bits_c),
    * [[surprisalDocs]]' oracle twin. Bit length via binary printf is the
    * integer-exact twin of Spark's `length(bin(x))`; the HUGEINT sum is
    * cast back per the house rule. */
  private val surprisalSqlCtes =
    """t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tk AS (SELECT doc_id, token FROM t WHERE length(token) > 0),
      |tf AS (SELECT token, count(*) AS tf FROM tk GROUP BY 1),
      |n AS (SELECT CAST(sum(tf) AS BIGINT) AS n_corpus FROM tf),
      |sagg AS (SELECT doc_id, count(*) AS n_tokens,
      |           CAST(sum(length(printf('%b', n.n_corpus))
      |                    - length(printf('%b', tf.tf))) AS BIGINT) AS bits_sum
      |         FROM tk JOIN tf USING (token) CROSS JOIN n GROUP BY 1),
      |surp AS (SELECT doc_id, n_tokens, bits_sum,
      |           CAST((100 * bits_sum) // n_tokens AS BIGINT) AS mean_bits_c
      |         FROM sagg)""".stripMargin

  /** Log₂-bucketed token-count histogram — the sequence-length profile a
    * training-data pipeline computes BEFORE choosing context length and
    * packing strategy ([[graft.ops.Sampling]]'s `ctxLen`/`x_pack_sequences`
    * consume exactly this distribution: how many docs fit a context raw,
    * how many need chunking, where the token mass sits). Buckets are
    * integer bit lengths (bucket b holds docs with 2^(b-1) ≤ tokens <
    * 2^b) — the [[surprisal]] ilog2 device, so bucketing is exact in both
    * engines. Per bucket: doc count, total tokens, and the min/max
    * within the bucket (a self-check that bucket edges are honored).
    * Plan: the count is map-side arithmetic on the scan; the rollup
    * partial-aggregates to ≤~20 groups per task, so the exchange is
    * bytes at any corpus size — the profile is effectively free next to
    * the scan it shares with ingest. */
  def tokenHistogram(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr("CAST(length(bin(n_tokens)) AS BIGINT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_sum"),
        min(col("n_tokens")).as("min_tokens"), max(col("n_tokens")).as("max_tokens"))

  /** Token-distribution Shannon entropy per document, in the
    * [[Sampling.log2fpSpark]] 1/1024-bit fixed point — the
    * compression-proxy quality signal beside [[quality]]'s surface ratios
    * and [[repetition]]'s n-gram recurrence: a low-entropy document is
    * dominated by few repeated tokens (boilerplate, keyword stuffing,
    * degenerate generations) however long it is. H = log₂n − (Σ c·log₂c)/n
    * over the per-doc token counts — every step integer (the DSIR
    * fixed-point log₂, exact in both engines), so the score is
    * oracle-pinned, not approximated.
    *
    * Plan: explode → two partial-aggregating groupBys keyed by doc (the
    * [[tokenCounts]] shape); nothing moves but (doc, token-hashable)
    * counts, and the arithmetic is in-row on the final grouped relation —
    * linear in input bytes at any corpus size. */
  def entropy(s: SparkSession, d: String): DataFrame =
    entropyOf(Tables.documents(s, d))

  /** [[entropy]] over any (doc_id, text) relation (exposed for the
    * hand-computed spec). */
  private[graft] def entropyOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_distinct"),
        sum(expr(s"c * ${Sampling.log2fpSpark("c")}")).as("sc"))
      .select(col("doc_id"), col("n"), col("n_distinct"),
        expr(s"CAST(${Sampling.log2fpSpark("n")} - (sc div n) AS BIGINT)")
          .as("entropy_fp"))

  /** The per-session materialized feature base: one row per doc with
    * `(doc_id, lang, n_words, n_chars_m, n_stop, n_punct, h, n_tokens,
    * bits_sum)` — the [[graft.ops.Dedup]] `signatures` pattern applied to
    * the feature family. The base is the compact per-doc integer row that
    * [[docFeatures]], [[modelGate]] and [[modelTrain]] all consume;
    * deriving it once per session means the corpus TEXT is read once per
    * snapshot and every consumer reads back a few-ints-per-doc parquet —
    * at 100 TB that read is orders of magnitude under a text re-scan.
    * Derivation cost lands in the first consumer's first bench sample
    * ([[SpillMemo]] read-back semantics). The map-side family (counts +
    * md5) fuses into one scan; the [[surprisal]] sums need the
    * token-frequency join and contribute their own passes — once per
    * session, not per query. */
  private[ops] def docBase(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    SpillMemo.spill(s, "docbase", d) {
      val docs = Tables.documents(s, d)
      val mapSide = gateFeatures(docs, col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars_m"), md5(col("text")).as("h"))
      val sp = surprisalDocs(docs).select(col("doc_id"), col("n_tokens"), col("bits_sum"))
      // LEFT join: the surprisal leg only has docs with ≥1 non-empty token
      // (its tokenizer filters empty strings), but the base relation must
      // cover EVERY document — map-side consumers ([[modelGate]],
      // [[modelTrain]]) score all docs, and an inner join here would
      // silently drop zero-token docs while their oracles keep them.
      mapSide.join(sp, Seq("doc_id"), "left")
        .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
        .withColumn("bits_sum", coalesce(col("bits_sum"), lit(0L)))
    }
  }

  /** Per-document FEATURE TABLE — the labeled matrix a quality-classifier
    * training run (or a hand-tuned curation policy) actually consumes,
    * composed from three independent per-doc signal families: the
    * heuristic [[quality]] gates (length / stopword coverage), the
    * corpus-LM [[surprisal]] score, and an exact-duplicate flag (has a
    * lower-id doc with identical content hash — the [[graft.ops.Dedup]]
    * survivor convention). All three come off the ONE materialized
    * [[docBase]] relation, so the corpus is scanned once and the dup
    * flag's window and the derived ratios run over the compact integer
    * base, with no join of per-family results. At 100 TB this is the
    * table you export once per corpus snapshot and train every downstream
    * policy against. */
  def docFeatures(s: SparkSession, d: String): DataFrame = {
    val dupW = Window.partitionBy(col("h"))
    docBase(s, d)
      // The feature table's contract (and its oracle's inner join on the
      // surprisal CTE) excludes zero-token docs — the base keeps them for
      // the map-side consumers, so re-impose the cut here.
      .filter(col("n_tokens") > 0)
      .withColumn("is_dup", col("doc_id") > min(col("doc_id")).over(dupW))
      .select(
        col("doc_id"), col("n_words"),
        expr("CAST(round(CAST(n_stop AS DOUBLE) * 10000 / n_words) AS BIGINT)").as("stop_bp"),
        qualityRule.as("is_quality"),
        col("n_tokens"), col("bits_sum"),
        expr("(100 * bits_sum) div n_tokens").as("mean_bits_c"),
        col("is_dup"))
  }

  /** TF-IDF top terms: the 3 most characteristic tokens per document, scored
    * tf × N / df (the raw inverse-document-frequency ratio rather than its
    * log — one exact integer product and ONE IEEE division, so the score is
    * bit-identical across engines and partitionings, where `ln` would be
    * library-dependent; the ranking it induces is the same). Plan: tf from
    * one (doc, token) aggregation, df as a second aggregation OVER the tf
    * relation (already distinct per doc — no re-scan of the corpus), corpus
    * size broadcast as a 1-row scalar, and the per-doc top-3 via a window
    * whose partitions are bounded by per-doc vocabulary. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token").asc)
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        expr("CAST(round(score * 100) AS BIGINT)").as("score_c"), col("rnk"))
  }

  /** Size of the closed vocabulary [[oov]] scores against — a TUNABLE
    * like `Similarity.knnBits` (the oracle interpolates the same constant;
    * `BoundedHeapSpec` re-runs the operator at 4096 to prove the cut is a
    * real bounded heap, not a toy-size accident). */
  private[graft] val oovVocabSize = 16

  /** Out-of-vocabulary rate per document against the corpus's top-N token
    * vocabulary — the coverage check run before committing to a tokenizer
    * vocab (docs with high OOV rates are the ones a closed vocab will
    * mangle). Plan: one aggregation builds the term-frequency table, the
    * top-N cut is a TakeOrderedAndProject over the AGGREGATED relation
    * (bounded per-partition heaps — no global sort at any scale), and the
    * vocab is broadcast back onto the token stream, so the per-doc scoring
    * pass is map-side. Deterministic cut: (tf desc, token asc). */
  def oov(s: SparkSession, d: String, vocabSize: Int = oovVocabSize): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    // orderBy+limit, not a row_number window: Spark plans this as
    // TakeOrderedAndProject (per-partition bounded heaps + a k-row driver
    // merge), so the vocab cut never materializes the tf relation on one
    // partition — at 100 TB the token vocabulary is millions of rows, and
    // the single-partition WindowExec this replaces was the one data-sized
    // global sort in the operator. Same deterministic cut (tf desc, token
    // asc); identical survivors by construction.
    val vocab = tf.orderBy(col("tf").desc, col("token").asc).limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_bp",
        expr("CAST(round(CAST(n_oov AS DOUBLE) * 10000 / n_tokens) AS BIGINT)"))
  }

  /** Repetition filtering (the Gopher/MassiveText quality rules): fraction
    * of duplicate bigram occurrences and of the single most frequent token —
    * boilerplate and keyword-stuffed documents score high on both. Strictly
    * per-document map-side array work, zero shuffles.
    *
    * The top-token count uses the sorted-runs trick — sort the token array,
    * find run boundaries, diff adjacent boundaries, take the max run — which
    * is O(n log n) per document where the naive
    * `transform(words, w -> size(filter(words, eq w)))` is O(n²): the
    * difference between "fine on 50-word test docs" and "fine on 100k-token
    * web documents". Ratios quantized to basis points (integer) like the
    * rest of the pack. */
  def repetition(s: SparkSession, d: String): DataFrame =
    repetitionDocs(Tables.documents(s, d))

  /** [[repetition]] over any frame with (doc_id, text). */
  def repetitionDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 2)
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_bigrams", (col("n_words") - 1).cast("long"))
      .withColumn("n_dist_bigrams", expr(
        """CAST(size(array_distinct(
          |  transform(sequence(1, size(words) - 1), i -> concat_ws(' ', slice(words, i, 2)))
          |)) AS BIGINT)""".stripMargin))
      .withColumn("sorted", array_sort(col("words")))
      .withColumn("bnd", expr(
        // 1-based positions where a new token run starts in the sorted array
        "filter(sequence(1, size(sorted)), i -> if(i = 1, true, element_at(sorted, i) != element_at(sorted, i - 1)))"))
      .withColumn("max_tok", expr(
        // run lengths = diffs of adjacent boundaries (next boundary or end+1)
        """CAST(array_max(zip_with(bnd,
          |  concat(slice(bnd, 2, size(bnd) - 1), array(size(sorted) + 1)),
          |  (a, b) -> b - a)) AS BIGINT)""".stripMargin))
      .select(col("doc_id"), col("n_words"), col("n_bigrams"), col("n_dist_bigrams"), col("max_tok"),
        expr("CAST(round(CAST(n_bigrams - n_dist_bigrams AS DOUBLE) * 10000 / n_bigrams) AS BIGINT)")
          .as("dup_bigram_bp"),
        expr("CAST(round(CAST(max_tok AS DOUBLE) * 10000 / n_words) AS BIGINT)").as("top_tok_bp"))
      .withColumn("is_repetitive", col("dup_bigram_bp") > 2000 || col("top_tok_bp") > 1000)

  /** Chunk geometry — TUNABLES shared with the oracle SQL. Sized so the
    * fixture (10-99 words/doc, median 56) exercises both the single-chunk
    * and the multi-chunk overlap path; a real RAG/context-window pipeline
    * runs 512/384-token chunks, same plan. */
  private[graft] val chunkLen = 32
  private[graft] val chunkStride = 24

  /** Document chunking: overlapping fixed-length word windows (length
    * [[chunkLen]], stride [[chunkStride]]) — the retrieval/context-window
    * splitter every RAG and long-document training pipeline runs between
    * curation and embedding. Each chunk carries its offset geometry and a
    * content hash (the downstream join key for embedding/dedup over
    * chunks). Chunk count is exact integer arithmetic
    * (`1 + ceil((n-len)/stride)` via `div`), so the chunking is
    * reproducible across engines and partitionings; the final chunk is
    * allowed to run short rather than re-reading the tail twice.
    *
    * Plan: strictly per-document map-side explode — zero shuffles, and the
    * fan-out factor is n_words/stride ≈ 1.3-4× here (bounded by document
    * length over stride, not corpus size), so the operator scales linearly
    * with input bytes at 100 TB. */
  def chunks(s: SparkSession, d: String): DataFrame =
    chunksDocs(Tables.documents(s, d))

  /** One chunk-geometry expansion shared by [[chunksDocs]] (hash output)
    * and [[chunkTextDocs]] (text output — the indexed unit chunk-level
    * retrieval consumes): the two views CANNOT disagree on offsets. */
  private def chunkGeom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_chunks", expr(
        s"""CASE WHEN n_words <= $chunkLen THEN 1L
           |     ELSE 1L + (n_words - $chunkLen + $chunkStride - 1) div $chunkStride
           |END""".stripMargin))
      .select(col("doc_id"), col("words"), col("n_words"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_id"))
      .withColumn("start_w", col("chunk_id") * chunkStride)
      .withColumn("len_w", least(lit(chunkLen.toLong), col("n_words") - col("start_w")))

  /** [[chunks]] over any frame with (doc_id, text). */
  def chunksDocs(docs: DataFrame): DataFrame =
    chunkGeom(docs)
      .select(col("doc_id"), col("chunk_id"), col("start_w"), col("len_w"),
        md5(concat_ws(" ",
          expr(s"slice(words, CAST(start_w + 1 AS INT), $chunkLen)"))).as("chunk_h"))

  /** Chunk rows WITH their text — what chunk-level retrieval indexes
    * ([[graft.ops.Search]] RAG family): same geometry
    * expansion as [[chunksDocs]], the final chunk running short rather
    * than re-reading the tail. Map-side explode, zero shuffles. */
  private[graft] def chunkTextDocs(docs: DataFrame): DataFrame =
    chunkGeom(docs)
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ",
          expr(s"slice(words, CAST(start_w + 1 AS INT), $chunkLen)")).as("text"))

  /** Per-language n-gram top-k rank depth — TUNABLE shared with the oracle. */
  private val ngramTopN = 10

  /** Corpus n-gram statistics: the [[ngramTopN]] most document-frequent
    * 3-word shingles per language — the head of the n-gram frequency table
    * that drives boilerplate lists, stopword induction, and contamination
    * screens. Counts DOCUMENT frequency (each doc contributes its distinct
    * shingle set once, via the fused [[graft.functions.Shingles3]] kernel),
    * so a single repetitive document cannot dominate the corpus statistic.
    *
    * Plan: map-side kernel + explode, one shuffle for the (lang, shingle)
    * count with map-side partial aggregation, then the per-lang
    * bounded-heap head cut ([[graft.functions.TopK.Cut]], as in [[vocab]],
    * where it matters MORE: the distinct-shingle table dwarfs the vocab at
    * any scale, and a per-lang window would sort all of it in |langs|
    * tasks). Deterministic cut:
    * (df desc, shingle asc); `posexplode` of the sorted survivors is the
    * rank. */
  def ngramTopK(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    ngramTopKDocs(Tables.documents(s, d))
  }

  /** [[ngramTopK]] over any frame with (lang, text); callers must have
    * [[graft.functions.GraftFunctions.register]]ed the session. */
  def ngramTopKDocs(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("lang"), explode(expr("shingles3(split(text, ' '))")).as("sh"))
    val df = sh.groupBy(col("lang"), col("sh")).agg(count(lit(1)).as("df"))
    TopK.ranked(
      df.groupBy(col("lang"))
        .agg(TopK.cut(ngramTopN, TopKOrder.countKeyed).apply(col("df"), col("sh"))
          .as("top")),
      "top", col("lang"), col("t.key").as("sh"), col("t.c").as("df"), col("rnk"))
  }

  /** PMI workload tunables — shared with the oracle. */
  private[graft] val pmiMinCount = 2L
  private[graft] val pmiTopN = 20

  /** POINTWISE MUTUAL INFORMATION over adjacent word pairs (Church &
    * Hanks, CL'90) — the association statistic that separates collocations
    * ("new york") from frequency accidents ("of the"): pmi = log₂ of the
    * observed pair rate over the rate independence predicts. Complements
    * [[ngramTopK]] (raw frequency head) with association STRENGTH — the
    * signal phrase-vocabulary induction and tokenizer-merge audits read.
    * Emits the [[pmiTopN]] strongest pairs at support ≥ [[pmiMinCount]].
    *
    * Engine-exactness: the score is a SUM OF FIXED-POINT LOGS
    * ([[Sampling.log2fpSpark]] — the DSIR 1/1024-bit device): log₂fp(c12)
    * + 2·log₂fp(N_uni) − log₂fp(c1) − log₂fp(c2) − log₂fp(N_bi), pure
    * integer arithmetic, identical in both engines; the log-of-ratio is
    * DEFINED as this sum (each term ≤0.086 bit off true log₂), so no
    * product can overflow at any corpus size.
    *
    * Plan / 100 TB story: ONE tokenization feeds both the unigram and the
    * in-row bigram aggregation (type-sized outputs — distinct tokens and
    * distinct pairs move, never occurrences); the support filter cuts the
    * pair table BEFORE the two marginal joins (token-keyed, co-partitioned
    * on a lake bucketed by token); totals are 1-row broadcasts and the
    * final cut is TakeOrderedAndProject. */
  def pmiPairs(s: SparkSession, d: String): DataFrame =
    pmiDocs(Tables.documents(s, d))

  /** [[pmiPairs]] over any frame with `text` (exposed for the spec). */
  private[graft] def pmiDocs(docs: DataFrame): DataFrame = {
    val base = docs.select(split(col("text"), " ").as("w"))
    val uni = base.select(explode(col("w")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val nUni = uni.agg(sum(col("c")).as("n_uni"))
    val bi = base
      .select(explode(expr(
        "transform(CASE WHEN size(w) < 2 THEN CAST(array() AS ARRAY<INT>) " +
          "ELSE sequence(1, size(w) - 1) END, " +
          "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val nBi = bi.agg(sum(col("c12")).as("n_bi"))
    import graft.ops.Sampling.log2fpSpark
    bi.filter(col("c12") >= pmiMinCount)
      .join(uni.select(col("t").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .withColumn("pmi_fp", expr(
        s"${log2fpSpark("c12")} + 2 * ${log2fpSpark("n_uni")} " +
          s"- ${log2fpSpark("c1")} - ${log2fpSpark("c2")} " +
          s"- ${log2fpSpark("n_bi")}").cast("long"))
      .orderBy(col("pmi_fp").desc, col("w1").asc, col("w2").asc)
      .limit(pmiTopN)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        col("pmi_fp"))
  }

  /** Vocabulary-size checkpoints for [[vocabCoverage]]. */
  private[graft] val coverageNs = Seq(10L, 20L, 50L, 100L, 200L)

  /** VOCABULARY COVERAGE CURVE (`x_vocab_coverage`): the fraction of all
    * corpus token OCCURRENCES covered by the top-N vocabulary, at
    * [[coverageNs]] checkpoints — the curve a tokenizer owner reads to
    * size a vocabulary (where it flattens, additional entries buy almost
    * nothing; the knee is the budget). Complements [[vocab]] (which lists
    * the entries) and [[fertility]] (which prices what falls OUTSIDE the
    * vocab) with the sizing decision itself.
    *
    * Plan: one explode → partial-count shuffle builds the global tf
    * relation (distinct tokens move, not occurrences); the candidate cut
    * is a TakeOrderedAndProject at the largest checkpoint (bounded heap,
    * no global sort — the [[bpePairs]] shape); ranks and the per-
    * checkpoint cumulative sums are then arithmetic over ≤ max(N) rows
    * against a broadcast 1-row total. Checkpoints past the true
    * vocabulary size report full coverage of whatever exists. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val totals = tf.agg(sum(col("tf")).as("total_tokens"))
    val top = tf.orderBy(col("tf").desc, col("token").asc).limit(coverageNs.max.toInt)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("tf").desc, col("token").asc)).cast("long"))
    top.select(col("tf"), col("rnk"),
        explode(typedLit(coverageNs)).as("n_vocab"))
      .filter(col("rnk") <= col("n_vocab"))
      .groupBy(col("n_vocab")).agg(sum(col("tf")).as("covered_tokens"))
      .crossJoin(broadcast(totals))
      .withColumn("coverage_bp", expr("(covered_tokens * 10000) div total_tokens"))
  }

  /** Merge-candidate rank depth for [[bpePairs]] — TUNABLE shared with the
    * oracle (`BoundedHeapSpec` re-runs the cut at 4096). */
  private[graft] val bpeTopN = 20

  /** BPE merge counting: the corpus-wide top-[[bpeTopN]] adjacent-pair
    * OCCURRENCE counts — the statistic a BPE/WordPiece tokenizer trainer
    * computes at every merge iteration (argmax pair → merge → recount);
    * this is one iteration's counting pass at word granularity. Unlike
    * [[ngramTopK]] (document frequency, per language) this counts every
    * occurrence globally: a pair repeated 50× in one document IS 50 merge
    * opportunities.
    *
    * Plan: pair expansion is map-side array work, the count is one shuffle
    * with map-side partial aggregation (only distinct pairs move — the
    * reduction happens before the exchange), and the global top-N is a
    * TakeOrderedAndProject over the already-aggregated relation — same
    * bounded-heap shape as [[oov]]'s vocab cut; only the N survivors see a
    * window. Deterministic cut: (n desc, pair asc). */
  def bpePairs(s: SparkSession, d: String, topN: Int = bpeTopN): DataFrame =
    bpePairsDocs(Tables.documents(s, d), topN)

  /** [[bpePairs]] over any frame with a `text` column. */
  def bpePairsDocs(docs: DataFrame, topN: Int = bpeTopN): DataFrame = {
    val pairs = docs
      .select(split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 2) // sequence(1, 0) would DESCEND in Spark
      .select(explode(expr(
        "transform(sequence(1, size(words) - 1), i -> concat_ws(' ', slice(words, i, 2)))"))
        .as("pair"))
    val counts = pairs.groupBy(col("pair")).agg(count(lit(1)).as("n"))
    // Global top-N via orderBy+limit (TakeOrderedAndProject — bounded heaps,
    // no single-partition sort of the |distinct pairs| relation, which grows
    // with the corpus), then rank the N survivors: the only window sorts
    // [[bpeTopN]] rows, the [[graft.ops.Sampling.globalIndex]] offset-table
    // size class. Cut and rank share the (n desc, pair asc) order, so the
    // output is identical to ranking the full relation.
    val top = counts.orderBy(col("n").desc, col("pair").asc).limit(topN)
    val w = Window.orderBy(col("n").desc, col("pair").asc)
    top.withColumn("rnk", row_number().over(w).cast("long"))
  }

  /** Minimum document frequency at which a winnow fingerprint counts as
    * boilerplate — a TUNABLE shared with the oracle SQL like
    * [[Dedup.maxShingleDf]]; real pipelines set it from the corpus's
    * site/template fan-out. */
  private val boilerMinDf = 2

  /** Boilerplate detection: the fraction of a document's winnowing
    * fingerprints shared by ≥ [[boilerMinDf]] documents — headers, footers,
    * navigation chrome, and license blocks fingerprint identically across a
    * template's pages, so a high shared-fingerprint fraction flags
    * boilerplate-heavy pages the way CCNet/RefinedWeb-style pipelines do
    * before training. Plan: the fingerprint sets come from the fused
    * [[graft.functions.WinnowFp]] kernel (map-side), document frequency is
    * one aggregation over (fp) — hashes move, never text — and the per-doc
    * score joins fps back on fp then aggregates per doc: two shuffles of a
    * fingerprint relation whose width is one hash + one id. At 100 TB the
    * df head (true boilerplate — the most frequent fps) is the only skewed
    * part and is exactly the part a frequency-split broadcast handles, same
    * as [[rarity]]. */
  def boilerplate(s: SparkSession, d: String): DataFrame = {
    val fps = winnow(s, d)
    val df = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    fps.join(df, "fp")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_fps"),
        sum(when(col("df") >= boilerMinDf, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_bp",
        expr("CAST(round(CAST(n_boiler AS DOUBLE) * 10000 / n_fps) AS BIGINT)"))
  }

  /** Text canonicalization ahead of content hashing: NFC + lowercase +
    * whitespace-collapse + trim via the native [[graft.functions.NormText]]
    * kernel — the normalize-before-dedup stage every web-corpus pipeline
    * runs (byte-different encodings of the same rendered text must hash
    * together). The corpus fixture is pure lowercase ASCII, so the query
    * injects deterministic case + whitespace noise (uppercased prefix, a
    * tab-space run, an uppercase suffix) IDENTICALLY in the Spark and
    * oracle expressions — the normalizer's fold/collapse/trim paths all
    * execute against driver-provided table data. Strictly map-side; the
    * emitted md5 commits the entire normalized string to the oracle
    * comparison. */
  def normalize(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), concat(
        upper(substring(col("text"), 1, 10)), expr("substring(text, 11)"),
        lit("\t "), lit("END")).as("raw"))
      .withColumn("norm", expr("norm_text(raw)"))
      .select(col("doc_id"), md5(col("norm")).as("norm_h"),
        length(col("raw")).cast("long").as("n_raw"),
        length(col("norm")).cast("long").as("n_norm"),
        (col("raw") =!= col("norm")).as("is_changed"))
  }

  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val numPat = "\\d{4,}"

  /** PII scrubbing: staged regex redaction (emails → IPv4 → long digit
    * runs) with per-stage match counts and the scrubbed-text hash — the
    * compliance pass a training-data pipeline runs before packing. The
    * synthetic corpus contains no natural PII, so the query injects a
    * deterministic PII tail (email always; a second email and an IP on
    * doc_id-dependent schedules; a long numeric ref) IDENTICALLY in both
    * engines — match counts vary per document and every redaction branch
    * executes. Patterns are in the RE2-compatible subset (character
    * classes, bounded repeats, ASCII `\b`), so Java and DuckDB agree
    * byte-for-byte. Strictly map-side: three regex passes per document,
    * zero shuffles, and the staged order means counts are over already-
    * redacted text (an email's digits are not double-counted as a number
    * run). */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id").cast("string")
    val injected = Tables.documents(s, d).select(col("doc_id"), concat(
      col("text"),
      lit(" contact user"), did, lit("@mail.example.com"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" cc admin"), (col("doc_id") % 7).cast("string"), lit("@ex.org")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 =!= 0,
        concat(lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0."),
          ((col("doc_id") * 31) % 256).cast("string")))
        .otherwise(lit("")),
      lit(" ref "), (col("doc_id") * 7919).cast("string")).as("raw"))
    injected
      .withColumn("n_emails", regexp_count(col("raw"), lit(emailPat)).cast("long"))
      .withColumn("s1", regexp_replace(col("raw"), emailPat, "<EMAIL>"))
      .withColumn("n_ips", regexp_count(col("s1"), lit(ipPat)).cast("long"))
      .withColumn("s2", regexp_replace(col("s1"), ipPat, "<IP>"))
      .withColumn("n_nums", regexp_count(col("s2"), lit(numPat)).cast("long"))
      .withColumn("scrub_h", md5(regexp_replace(col("s2"), numPat, "<NUM>")))
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_nums"), col("scrub_h"))
  }

  /** Quality gate → exact-dedup keep-list, the curated document set
    * [[curation]] (the funnel rollup), [[packCurated]] (the training-set
    * assembly) and [[Sampling.curateShard]] consume. */
  private[graft] def curatedDocs(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    curatedOf(Tables.documents(s, d))
  }

  /** [[curatedDocs]] over any (doc_id, lang, source, text) frame: the
    * [[gateFeatures]] rows passing [[qualityRule]], each kept only if it
    * is the lowest doc_id among the passing rows with its exact text.
    * Callers must have registered the kernels. */
  private[graft] def curatedOf(docs: DataFrame): DataFrame = {
    val quality = gateFeatures(docs, col("doc_id"), col("lang"), col("source"), col("text"))
      .filter(qualityRule)
    val keep = quality
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    quality.join(keep, Seq("doc_id"), "left_semi")
  }

  /** [[curatedOf]]'s oracle twin, a CTE chain ending in `kd`: the gate
    * features with `text` and the `pass` columns carried (`w`/`f`), the
    * rows passing [[qualitySql]] (`q`), the lowest doc_id per exact text
    * (`k`) and the kept rows (`kd`). */
  private[ops] def curatedSqlCtes(pass: String*): String =
    s"""${gateFeatureSqlCtes(pass :+ "text": _*)},
       |q AS (SELECT * FROM f WHERE $qualitySql),
       |k AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM q GROUP BY md5(text)),
       |kd AS (SELECT * FROM q WHERE doc_id IN (SELECT doc_id FROM k))""".stripMargin

  /** The full curation funnel in ONE composed query — quality gate →
    * exact-dedup survivor selection → per-(lang, source) corpus stats —
    * because a training-data engine is judged on composed pipelines, not
    * single operators. Stage fusion is Catalyst's job: the quality gate is a
    * map-side filter fused into the scan, dedup survival is one
    * content-hash aggregation joined back semi-style, and the rollup reuses
    * the already-filtered stream. */
  def curation(s: SparkSession, d: String): DataFrame =
    curatedDocs(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_words")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"))

  /** The full training-set assembly, composed end to end: quality gate →
    * exact dedup → per-stratum sequence packing ([[Sampling.packSequences]]
    * over the CURATED set instead of the raw corpus). Each surviving
    * document gets its offset and context-window id in its stratum's token
    * stream — the handoff artifact between a curation pipeline and a
    * training loader. Same plan shapes as the parts: gate is map-side, the
    * keep-list is one content-hash shuffle, packing is
    * [[Sampling.prefixSum]]'s two-level bucket scan (the stratum-sequential
    * cumsum demoted to bucket rows, same as `x_pack_sequences`). */
  def packCurated(s: SparkSession, d: String): DataFrame =
    Sampling.prefixSum(
      curatedDocs(s, d).select(col("doc_id"), col("lang"), col("n_words")),
      "lang", "doc_id", "n_words", "start_off")
      .select(col("doc_id"), col("lang"), col("n_words"), col("start_off"))
      .withColumn("seq_id", expr(s"start_off div ${Sampling.ctxLen}"))

  /** Integer milli-unit weights of the linear quality-classifier gate
    * ([[modelGate]]) — stand-ins for offline-trained values (a fastText-
    * style filter's logistic layer), shared with the oracle SQL. */
  private val gwStop = 4L
  private val gwPunct = -3L
  private val gwLen = 2L
  private val gwBias = -900L
  private val gwLenCap = 500L

  /** Model-based quality gate: a linear classifier over cheap per-doc
    * features (stopword per-mille, punctuation per-mille, capped length),
    * admitting docs with non-negative score — the shape of the trained
    * quality filters (fastText / logistic over handcrafted features) that
    * curation pipelines run after the rule gates in [[quality]]. A logistic
    * output layer is monotone in the logit, so thresholding p ≥ 1/2 IS
    * thresholding the linear score at 0 — the gate needs no exp/sigmoid,
    * keeping every value integer-exact and engine-portable (weights are
    * integer milli-units; swap in trained values without changing the
    * plan).
    *
    * Plan: a pure map-side projection over the materialized [[docBase]]
    * integer relation — no shuffle, no text re-scan; the gate's whole cost
    * is a read of the compact feature parquet (the base derivation — one
    * corpus text pass per session — is where the scan lives). */
  def modelGate(s: SparkSession, d: String): DataFrame =
    gateScore(docBase(s, d)
      .select(col("doc_id"), col("n_words"), col("n_stop"), col("n_punct")))

  /** Per-mille stopword and punctuation rates over (n_words, n_stop,
    * n_punct): the features both [[gateScore]] and [[trainFeatures]] read. */
  private val stopPm = expr("n_stop * 1000 div n_words")
  private val punctPm = expr("n_punct * 1000 div n_words")

  /** The gate's scoring columns over any frame with (n_words, n_stop,
    * n_punct) — ONE definition of the decision arithmetic, shared by the
    * batch gate (off the memoized base) and the streamed ingest gate (off
    * map-side counts), so the weights cannot drift between the two. */
  private def gateScore(df: DataFrame): DataFrame =
    df.withColumn("stop_pm", stopPm)
      .withColumn("punct_pm", punctPm)
      .withColumn("score_m",
        expr(s"$gwStop * stop_pm + ($gwPunct) * punct_pm" +
          s" + $gwLen * least(n_words, $gwLenCap) + ($gwBias)"))
      .withColumn("is_admit", col("score_m") >= 0)

  /** [[gateScore]]'s logit in DuckDB, over (stop_pm, punct_pm, n_words). */
  private val gateScoreSql =
    s"""$gwStop * stop_pm + ($gwPunct) * punct_pm
       |             + $gwLen * least(n_words, $gwLenCap) + ($gwBias)""".stripMargin

  /** PER-LANGUAGE SCORE CALIBRATION (`x_quality_calibrate`): each
    * document's quality-gate score re-expressed as its PERCENTILE WITHIN
    * ITS LANGUAGE (basis points). Quality classifiers are biased toward
    * the language that dominates their features (here the stopword list),
    * so one global score threshold silently over-prunes every other
    * language; production pipelines therefore calibrate per stratum and
    * threshold on the percentile — "keep the top 40% of each language",
    * not "keep score ≥ c" — which this table makes a single filter.
    * `pct_bp = (rank − 1)·10000 div (n_lang − 1)`: integer-exact, 0 for
    * each language's worst document, 10000 for its best.
    *
    * Plan: the gate score comes off the memoized per-doc feature base
    * ([[docBase]] — corpus text is not re-read). The per-language rank
    * does not run as one window per language (parallelism ceiling |langs|,
    * one task sorting each language): `score_m` is a bounded integer, so
    * the rank decomposes through a per-language SCORE HISTOGRAM —
    * aggregate (lang, score_m) counts, take the strictly-below cumulative
    * on the histogram rows, broadcast back, and rank each doc as `below +
    * row_number WITHIN ITS (lang, score_m) tie class`. Bit-identical
    * ranks/percentiles (`TextKernelsSpec` pins the fixture semantics,
    * `GatePlanSpec` the plan shape); the only document-sized window
    * partitions by (lang, score_m). */
  def qualityCalibrate(s: SparkSession, d: String): DataFrame = {
    // lang rides the memoized base relation — re-joining the documents
    // table here would pay a corpus scan plus a shuffle for a column the
    // memo already carries
    val scored = gateScore(docBase(s, d)
      .select(col("doc_id"), col("lang"), col("n_words"), col("n_stop"), col("n_punct")))
      .select(col("doc_id"), col("lang"), col("score_m"))
    val hw = Window.partitionBy(col("lang")).orderBy(col("score_m"))
    val hist = scored.groupBy(col("lang"), col("score_m"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("below", (sum(col("cnt")).over(hw) - col("cnt")).cast("long"))
      .withColumn("n_lang",
        sum(col("cnt")).over(Window.partitionBy(col("lang"))).cast("long"))
      .select(col("lang"), col("score_m"), col("below"), col("n_lang"))
    val tieW = Window.partitionBy(col("lang"), col("score_m"))
      .orderBy(col("doc_id"))
    scored.join(broadcast(hist), Seq("lang", "score_m"))
      .withColumn("rnk", (col("below") + row_number().over(tieW)).cast("long"))
      .withColumn("pct_bp", expr("((rnk - 1) * 10000) div greatest(n_lang - 1, 1)"))
      .select(col("doc_id"), col("lang"), col("score_m"),
        col("rnk"), col("n_lang"), col("pct_bp"))
  }

  /** CURRICULUM ORDERING — the data-ordering step before training:
    * documents are scheduled cleanest-first by their gate score (the
    * annealing heuristic: high-confidence data early, noisier data late),
    * interleaved round-robin across (lang, source) strata so no domain
    * forms a long contiguous run in the schedule. Runs over the whole
    * corpus — curation is a separate composable step (apply [[modelGate]]
    * or [[graft.ops.Sampling.percentileGate]]-style cuts upstream and the
    * ordering machinery is unchanged). Each doc gets its stratum `wave` (row_number by gate
    * score DESC within stratum) and a GLOBAL curriculum position equal to
    * `row_number() OVER (ORDER BY wave, lang, source)` — wave 1 of every
    * stratum first, then wave 2, strata in lexicographic order inside a
    * wave.
    *
    * The global position is computed WITHOUT a global sort: strata
    * cardinality is dashboard-small (|lang|×|source|, the [[mixWeights]]
    * assumption), so the per-stratum admitted counts collect into ONE
    * array broadcast to every row, and each doc derives its position
    * map-side as Σₜ min(nₜ, wave−1) (docs in strictly earlier waves) plus
    * the count of strata still alive at its wave with key ≤ its own (its
    * 1-based slot inside the wave). `CurriculumSpec`-style equivalence to
    * the global window is pinned in `TextKernelsSpec`. The per-stratum
    * wave rank decomposes through a (stratum, score) HISTOGRAM — the
    * [[qualityCalibrate]] shape: strictly-above cumulative on histogram
    * rows, broadcast back, tie rank within the (stratum, score) class —
    * so the only document-sized window partitions by (stratum, score),
    * not the stratum alone. */
  def curriculumOrder(s: SparkSession, d: String): DataFrame = {
    val scored = modelGate(s, d).select(col("doc_id"), col("score_m"))
    val strataKeys = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"))
    val base = scored.join(strataKeys, "doc_id")
    val hw = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("score_m").desc)
    val hist = base.groupBy(col("lang"), col("source"), col("score_m"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("above", (sum(col("cnt")).over(hw) - col("cnt")).cast("long"))
      .select(col("lang"), col("source"), col("score_m"), col("above"))
    val tieW = Window.partitionBy(col("lang"), col("source"), col("score_m"))
      .orderBy(col("doc_id"))
    val waved = base.join(broadcast(hist), Seq("lang", "source", "score_m"))
      .withColumn("wave", (col("above") + row_number().over(tieW)).cast("long"))
    val dir = base.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_s"))
      .agg(sort_array(collect_list(
        struct(col("lang").as("l"), col("source").as("src"), col("n_s")))).as("dir"))
    waved.crossJoin(broadcast(dir))
      .select(col("doc_id"), col("lang"), col("source"), col("score_m"), col("wave"),
        expr(
          """aggregate(dir, 0L, (acc, t) ->
            |  acc + least(t.n_s, wave - 1) +
            |  (CASE WHEN t.n_s >= wave AND
            |             (t.l < lang OR (t.l = lang AND t.src <= source))
            |        THEN 1L ELSE 0L END))""".stripMargin).as("pos"))
  }

  /** The gate applied MAP-SIDE to a raw (doc_id, lang, text) frame — the
    * at-ingest formulation: counts fuse into the scan/stream projection,
    * no memo, no shuffle, so it is exactly what a streaming micro-batch
    * can run (caller must have registered the kernels on the session that
    * OWNS the frame). Keeps `lang` for the per-stratum rollup. */
  private[graft] def gateMapSide(docs: DataFrame): DataFrame =
    gateScore(gateFeatures(docs, col("doc_id"), col("lang")))

  /** [[gateMapSide]] rolled up per (lang, decision) — the census the
    * streamed gate maintains in update mode (and the spec's batch
    * reference). */
  private[graft] def gateRollup(docs: DataFrame): DataFrame =
    gateMapSide(docs)
      .groupBy(col("lang"), col("is_admit"))
      .agg(count(lit(1)).as("n_docs"), sum(col("score_m")).as("score_m_sum"))

  /** The streamed gate's oracle: the batch gate CTEs widened with `lang`,
    * rolled up per (lang, decision) — shared with `s_model_gate_stream`. */
  private[graft] def gateRollupSql: String =
    s"""WITH ${modelGateSqlCtes("lang")}
       |SELECT lang, is_admit, count(*) AS n_docs,
       |       CAST(sum(score_m) AS BIGINT) AS score_m_sum
       |FROM mg GROUP BY 1, 2""".stripMargin

  /** Perceptron training rounds for [[modelTrain]] — a fixed hyperparameter
    * like `Similarity.pcaRounds`; the oracle unrolls exactly this many. */
  private[ops] val trainRounds = 3

  /** TRAINING the quality classifier [[modelGate]] only applies: batch
    * perceptron (hinge-subgradient) rounds over the same integer gate
    * features, supervised by a deterministic stand-in label (is the doc
    * English — the langid-style signal real pipelines bootstrap quality
    * filters from). Each round scores every doc against the broadcast
    * weight vector, sums y·x over the misclassified set (the exact batch
    * subgradient of hinge loss at margin ≤ 0), and adds it to the weights —
    * additive integer updates, no learning-rate division, no sigmoid, so
    * the trajectory is bit-identical across engines and partitionings (the
    * [[graft.ops.Similarity.pcaPower]] loop shape applied to supervised
    * learning).
    *
    * Plan: the feature relation comes off the materialized [[docBase]]
    * (four integers + label per doc — the corpus text is read once per
    * SESSION, not per training run); each round is ONE pass over it
    * (map-side partial aggregation into a 1-row gradient, no shuffle of
    * doc rows), with the 1-row weight state broadcast — per-round cost is
    * a compact-parquet scan and nothing else, weights never touch the
    * driver. Emits (round, n_mis, weights) per round: the training curve
    * IS the output, so convergence is oracle-checkable. */
  def modelTrain(s: SparkSession, d: String): DataFrame =
    modelTrainFeats(trainFeatures(docBase(s, d)))

  /** [[modelTrain]] over any frame with (lang, text) — exposed for the
    * hand-computed spec (caller must have registered the kernels). */
  private[graft] def modelTrainDocs(docs: DataFrame): DataFrame =
    modelTrainFeats(Lineage.cut(trainFeatures(gateFeatures(docs, col("lang")))))

  /** The perceptron's rows (y, stop_pm, punct_pm, len_c) over any frame
    * with (lang, n_words, n_stop, n_punct): label +1 for English, −1
    * otherwise. */
  private def trainFeatures(df: DataFrame): DataFrame =
    df.select(
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      stopPm.as("stop_pm"), punctPm.as("punct_pm"),
      expr(s"least(n_words, $gwLenCap)").as("len_c"))

  /** The perceptron loop over an already-materialized feature relation
    * (parquet-backed [[docBase]] projection or a lineage-cut derivation —
    * either way each round re-reads materialized rows, never re-derives). */
  private def modelTrainFeats(feats: DataFrame): DataFrame = {
    var w = feats.sparkSession.range(1).select(
      lit(0L).as("ws"), lit(0L).as("wp"), lit(0L).as("wl"), lit(0L).as("wb"))
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to trainRounds) {
      val g = feats.crossJoin(broadcast(w))
        .filter(expr("y * (ws * stop_pm + wp * punct_pm + wl * len_c + wb)") <= 0)
        .agg(count(lit(1)).as("n_mis"),
          coalesce(sum(expr("y * stop_pm")), lit(0L)).as("gs"),
          coalesce(sum(expr("y * punct_pm")), lit(0L)).as("gp"),
          coalesce(sum(expr("y * len_c")), lit(0L)).as("gl"),
          coalesce(sum(col("y")), lit(0L)).as("gb"))
      val wn = Lineage.cut(g.crossJoin(broadcast(w)).select(
        col("n_mis"),
        (col("ws") + col("gs")).as("ws"), (col("wp") + col("gp")).as("wp"),
        (col("wl") + col("gl")).as("wl"), (col("wb") + col("gb")).as("wb")))
      rounds += wn.select(lit(r.toLong).as("round"), col("n_mis"),
        col("ws").as("w_stop"), col("wp").as("w_punct"),
        col("wl").as("w_len"), col("wb").as("w_bias"))
      w = wn.select(col("ws"), col("wp"), col("wl"), col("wb"))
    }
    rounds.reduce(_ unionAll _)
  }

  /** Dataset card: the one-row corpus summary a curated training set ships
    * with — document/token volume, language and source diversity, exact-dup
    * rate, mean document length. Exact distinct counts keep the card
    * oracle-checkable; at 100 TB the same query swaps them for
    * `approx_count_distinct` (one pass, no Expand) since a card tolerates
    * ±2% HLL error. Plan: one corpus scan into a multi-distinct aggregate
    * (Catalyst expands one stream per distinct — 4 streams of (key) rows,
    * text reduced to its md5 map-side), then constant-folding arithmetic on
    * the single result row. */
  def datasetCard(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("text")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("h")).as("n_unique"))
      .withColumn("n_dup_docs", expr("n_docs - n_unique"))
      .withColumn("dup_bp",
        expr("CAST(round(CAST(n_dup_docs AS DOUBLE) * 10000 / n_docs) AS BIGINT)"))
      .withColumn("mean_words_c",
        expr("CAST(round(CAST(n_tokens AS DOUBLE) * 100 / n_docs) AS BIGINT)"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_model_train" -> modelTrain,
    "x_model_gate" -> modelGate,
    "x_quality_calibrate" -> qualityCalibrate,
    "x_vocab_coverage" -> vocabCoverage,
    "x_curriculum_order" -> curriculumOrder,
    "x_dataset_card" -> datasetCard,
    "x_text_chunks" -> chunks,
    "x_ngram_topk" -> ngramTopK,
    "x_text_pmi" -> pmiPairs,
    "x_bpe_pairs" -> ((s: SparkSession, d: String) => bpePairs(s, d)),
    "x_text_boilerplate" -> boilerplate,
    "x_text_normalize" -> normalize,
    "x_pii_scrub" -> piiScrub,
    "x_curation_pipeline" -> curation,
    "x_pack_curated" -> packCurated,
    "x_text_oov" -> ((s: SparkSession, d: String) => oov(s, d)),
    "x_text_repetition" -> repetition,
    "x_text_tfidf" -> tfidf,
    "x_text_langid" -> langId,
    "x_text_quality" -> quality,
    "x_text_rarity" -> rarity,
    "x_text_surprisal" -> surprisal,
    "x_token_histogram" -> tokenHistogram,
    "x_doc_features" -> docFeatures,
    "x_text_tokens" -> tokenCounts,
    "x_text_entropy" -> entropy,
    "x_text_vocab" -> vocab,
    "x_text_winnow" -> winnow)

  /** CTE chain ending in `fps` (the distinct per-doc winnow fingerprint
    * set) — the oracle twin of [[winnow]], shared by the `x_text_winnow`
    * and `x_text_boilerplate` oracles. */
  private val winnowSqlCtes =
    """w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |s AS (SELECT doc_id, i AS pos, md5(array_to_string(words[i:i+2], ' ')) AS h
      |      FROM (SELECT doc_id, words, unnest(range(1, greatest(len(words) - 1, 1))) AS i
      |            FROM w)),
      |f AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |      FROM s),
      |fps AS (SELECT DISTINCT doc_id, fp FROM f)""".stripMargin

  /** [[modelTrain]]'s unrolled twin: the [[modelGate]] feature CTEs plus
    * one (gradient, weights) CTE pair per round generated from
    * [[trainRounds]]. The rounds are pure comparisons and additions over
    * the gate's non-negative per-mille rates, so there is no
    * floor/truncation seam between the engines. */
  private def modelTrainSql: String = {
    val margin = "y * (ws * stop_pm + wp * punct_pm + wl * len_c + wb)"
    val rounds = (1 to trainRounds).map { r =>
      s"""g$r AS (
         |  SELECT count(*) AS n_mis,
         |         CAST(coalesce(sum(y * stop_pm), 0) AS BIGINT) AS gs,
         |         CAST(coalesce(sum(y * punct_pm), 0) AS BIGINT) AS gp,
         |         CAST(coalesce(sum(y * len_c), 0) AS BIGINT) AS gl,
         |         CAST(coalesce(sum(y), 0) AS BIGINT) AS gb
         |  FROM tx, r${r - 1} WHERE $margin <= 0),
         |r$r AS (
         |  SELECT g$r.n_mis AS n_mis, ws + gs AS ws, wp + gp AS wp,
         |         wl + gl AS wl, wb + gb AS wb
         |  FROM g$r, r${r - 1})""".stripMargin
    }.mkString(",\n")
    val out = (1 to trainRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, n_mis, ws AS w_stop, wp AS w_punct,
         |       wl AS w_len, wb AS w_bias FROM r$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${modelGateSqlCtes("lang")},
       |tx AS (SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
       |         stop_pm, punct_pm, CAST(least(n_words, $gwLenCap) AS BIGINT) AS len_c
       |       FROM p),
       |r0 AS (SELECT CAST(0 AS BIGINT) AS ws, CAST(0 AS BIGINT) AS wp,
       |              CAST(0 AS BIGINT) AS wl, CAST(0 AS BIGINT) AS wb),
       |$rounds
       |$out""".stripMargin
  }

  /** CTE chain ending in `mg` — the model-gate decision per document
    * (features → per-mille rates `p` → integer logit → `is_admit`), with
    * `doc_id` and the `pass` columns of `documents` carried. Shared by the
    * gate, calibration, curriculum, training and streamed-gate oracles and
    * the multimodal curation ledger ([[MultimodalPipeline]]
    * `x_mm_curation`), so the gate arithmetic has one SQL spelling. */
  private[graft] def modelGateSqlCtes(pass: String*): String = {
    val keep = ("doc_id" +: pass).mkString(", ")
    s"""${gateFeatureSqlCtes(pass: _*)},
       |p AS (SELECT $keep, n_words, n_stop, n_punct,
       |        CAST(n_stop * 1000 // n_words AS BIGINT) AS stop_pm,
       |        CAST(n_punct * 1000 // n_words AS BIGINT) AS punct_pm
       |      FROM f),
       |mg AS (SELECT $keep, n_words, n_stop, n_punct, stop_pm, punct_pm,
       |        CAST($gateScoreSql AS BIGINT) AS score_m,
       |        ($gateScoreSql) >= 0 AS is_admit
       |       FROM p)""".stripMargin
  }

  val oracle: Map[String, String] = {
    val hits = (l: String) => hitsSql("words", stoplists.toMap.apply(l))
    Map(
      "x_model_train" -> modelTrainSql,
      "x_model_gate" ->
        s"""WITH ${modelGateSqlCtes()}
           |SELECT doc_id, n_words, n_stop, n_punct, stop_pm, punct_pm,
           |       score_m, is_admit
           |FROM mg""".stripMargin,
      "x_vocab_coverage" ->
        s"""WITH tf AS (SELECT t AS token, count(*) AS tf
           |            FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
           |            WHERE len(t) > 0 GROUP BY 1),
           |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total_tokens FROM tf),
           |top AS (SELECT tf, CAST(row_number() OVER (ORDER BY tf DESC, token ASC) AS BIGINT) AS rnk
           |        FROM tf ORDER BY tf DESC, token ASC LIMIT ${coverageNs.max}),
           |ck AS (SELECT unnest([${coverageNs.mkString(", ")}]) AS n_vocab)
           |SELECT CAST(ck.n_vocab AS BIGINT) AS n_vocab,
           |       CAST(sum(top.tf) AS BIGINT) AS covered_tokens,
           |       tot.total_tokens,
           |       (CAST(sum(top.tf) AS BIGINT) * 10000) // tot.total_tokens AS coverage_bp
           |FROM ck JOIN top ON top.rnk <= ck.n_vocab CROSS JOIN tot
           |GROUP BY ck.n_vocab, tot.total_tokens""".stripMargin,
      "x_quality_calibrate" ->
        s"""WITH ${modelGateSqlCtes("lang")},
           |r AS (SELECT doc_id, lang, score_m,
           |        CAST(row_number() OVER (PARTITION BY lang ORDER BY score_m, doc_id) AS BIGINT) AS rnk,
           |        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
           |      FROM mg)
           |SELECT doc_id, lang, score_m, rnk, n_lang,
           |       ((rnk - 1) * 10000) // greatest(n_lang - 1, 1) AS pct_bp
           |FROM r""".stripMargin,
      "x_curriculum_order" ->
        s"""WITH ${modelGateSqlCtes("lang", "source")},
           |wv AS (SELECT doc_id, lang, source, score_m,
           |         CAST(row_number() OVER (PARTITION BY lang, source
           |                ORDER BY score_m DESC, doc_id) AS BIGINT) AS wave
           |       FROM mg)
           |SELECT doc_id, lang, source, score_m, wave,
           |       CAST(row_number() OVER (ORDER BY wave, lang, source) AS BIGINT) AS pos
           |FROM wv""".stripMargin,
      "x_dataset_card" ->
        """WITH b AS (SELECT doc_id, lang, source, md5(text) AS h,
          |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
          |           FROM documents),
          |a AS (SELECT count(*) AS n_docs,
          |        CAST(sum(n_words) AS BIGINT) AS n_tokens,
          |        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          |        CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          |        CAST(count(DISTINCT h) AS BIGINT) AS n_unique
          |      FROM b)
          |SELECT n_docs, n_tokens, n_langs, n_sources, n_unique,
          |       n_docs - n_unique AS n_dup_docs,
          |       CAST(round(CAST(n_docs - n_unique AS DOUBLE) * 10000 / n_docs)
          |            AS BIGINT) AS dup_bp,
          |       CAST(round(CAST(n_tokens AS DOUBLE) * 100 / n_docs)
          |            AS BIGINT) AS mean_words_c
          |FROM a""".stripMargin,
      "x_text_chunks" ->
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           |b AS (SELECT doc_id, words, CAST(len(words) AS BIGINT) AS n_words FROM w),
           |n AS (SELECT doc_id, words, n_words,
           |        CASE WHEN n_words <= $chunkLen THEN 1
           |             ELSE 1 + (n_words - $chunkLen + $chunkStride - 1) // $chunkStride
           |        END AS n_chunks
           |      FROM b),
           |c AS (SELECT doc_id, words, n_words,
           |        CAST(unnest(range(0, n_chunks)) AS BIGINT) AS chunk_id
           |      FROM n)
           |SELECT doc_id, chunk_id,
           |       CAST(chunk_id * $chunkStride AS BIGINT) AS start_w,
           |       CAST(least($chunkLen, n_words - chunk_id * $chunkStride) AS BIGINT) AS len_w,
           |       md5(array_to_string(
           |         words[chunk_id * $chunkStride + 1 : chunk_id * $chunkStride + $chunkLen],
           |         ' ')) AS chunk_h
           |FROM c""".stripMargin,
      "x_ngram_topk" ->
        s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
           |s AS (SELECT DISTINCT doc_id, lang, array_to_string(words[i:i+2], ' ') AS sh
           |      FROM (SELECT doc_id, lang, words,
           |              unnest(range(1, greatest(len(words) - 1, 1))) AS i
           |            FROM w)),
           |df AS (SELECT lang, sh, count(*) AS df FROM s GROUP BY 1, 2)
           |SELECT lang, sh, df, rnk FROM (
           |  SELECT lang, sh, df,
           |         CAST(row_number() OVER (PARTITION BY lang
           |                ORDER BY df DESC, sh ASC) AS BIGINT) AS rnk
           |  FROM df) WHERE rnk <= $ngramTopN""".stripMargin,
      // same sum-of-fixed-point-logs the Spark plan compiles
      // ([[Sampling.log2fpDuck]] is the engine twin of log2fpSpark)
      "x_text_pmi" -> {
        import graft.ops.Sampling.log2fpDuck
        s"""WITH base AS (SELECT string_split(text, ' ') AS w FROM documents),
           |u0 AS (SELECT unnest(w) AS t FROM base),
           |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c
           |        FROM u0 WHERE length(t) > 0 GROUP BY 1),
           |nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
           |b0 AS (SELECT w[i] AS w1, w[i + 1] AS w2
           |       FROM (SELECT w, unnest(range(1, len(w))) AS i FROM base)),
           |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b0
           |       WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY 1, 2),
           |nb AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bi FROM bi),
           |sc AS (SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
           |         CAST(${log2fpDuck("b.c12")} + 2 * ${log2fpDuck("n_uni")}
           |           - ${log2fpDuck("u1.c")} - ${log2fpDuck("u2.c")}
           |           - ${log2fpDuck("n_bi")} AS BIGINT) AS pmi_fp
           |       FROM bi b JOIN uni u1 ON u1.t = b.w1
           |       JOIN uni u2 ON u2.t = b.w2
           |       CROSS JOIN nu CROSS JOIN nb
           |       WHERE b.c12 >= $pmiMinCount)
           |SELECT w1, w2, c12, c1, c2, pmi_fp FROM sc
           |ORDER BY pmi_fp DESC, w1 ASC, w2 ASC LIMIT $pmiTopN""".stripMargin
      },
      "x_bpe_pairs" ->
        s"""WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
           |p AS (SELECT array_to_string(words[i:i+1], ' ') AS pair
           |      FROM (SELECT words, unnest(range(1, len(words))) AS i
           |            FROM w WHERE len(words) >= 2)),
           |c AS (SELECT pair, count(*) AS n FROM p GROUP BY 1)
           |SELECT pair, n, rnk FROM (
           |  SELECT pair, n,
           |         CAST(row_number() OVER (ORDER BY n DESC, pair ASC) AS BIGINT) AS rnk
           |  FROM c) WHERE rnk <= $bpeTopN""".stripMargin,
      "x_text_boilerplate" ->
        s"""WITH $winnowSqlCtes,
           |df AS (SELECT fp, count(*) AS df FROM fps GROUP BY 1)
           |SELECT fps.doc_id, count(*) AS n_fps,
           |       CAST(sum(CASE WHEN df.df >= $boilerMinDf THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           |       CAST(round(CAST(sum(CASE WHEN df.df >= $boilerMinDf THEN 1 ELSE 0 END) AS DOUBLE)
           |                  * 10000 / count(*)) AS BIGINT) AS boiler_bp
           |FROM fps JOIN df USING (fp) GROUP BY 1""".stripMargin,
      "x_text_normalize" ->
        """WITH r AS (SELECT doc_id,
          |             upper(text[1:10]) || text[11:] || chr(9) || ' ' || 'END' AS raw
          |           FROM documents),
          |n AS (SELECT doc_id, raw,
          |        trim(regexp_replace(lower(nfc_normalize(raw)), '[ \t\r\n]+', ' ', 'g')) AS norm
          |      FROM r)
          |SELECT doc_id, md5(norm) AS norm_h,
          |       CAST(length(raw) AS BIGINT) AS n_raw,
          |       CAST(length(norm) AS BIGINT) AS n_norm,
          |       raw <> norm AS is_changed
          |FROM n""".stripMargin,
      "x_pii_scrub" -> {
        // literal backslashes: DuckDB '' strings do not process escapes
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val num = "\\d{4,}"
        s"""WITH r AS (SELECT doc_id,
           |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
           |    || CASE WHEN doc_id % 3 = 0
           |            THEN ' cc admin' || CAST(doc_id % 7 AS VARCHAR) || '@ex.org'
           |            ELSE '' END
           |    || CASE WHEN doc_id % 5 <> 0
           |            THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
           |                 || CAST((doc_id * 31) % 256 AS VARCHAR)
           |            ELSE '' END
           |    || ' ref ' || CAST(doc_id * 7919 AS VARCHAR) AS raw
           |  FROM documents),
           |s1 AS (SELECT doc_id,
           |         CAST(len(regexp_extract_all(raw, '$email')) AS BIGINT) AS n_emails,
           |         regexp_replace(raw, '$email', '<EMAIL>', 'g') AS t FROM r),
           |s2 AS (SELECT doc_id, n_emails,
           |         CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ips,
           |         regexp_replace(t, '$ip', '<IP>', 'g') AS t FROM s1),
           |s3 AS (SELECT doc_id, n_emails, n_ips,
           |         CAST(len(regexp_extract_all(t, '$num')) AS BIGINT) AS n_nums,
           |         md5(regexp_replace(t, '$num', '<NUM>', 'g')) AS scrub_h FROM s2)
           |SELECT doc_id, n_emails, n_ips, n_nums, scrub_h FROM s3""".stripMargin
      },
      "x_curation_pipeline" ->
        s"""WITH ${curatedSqlCtes("lang", "source")}
           |SELECT lang, source, count(*) AS n_kept,
           |       CAST(sum(n_words) AS BIGINT) AS n_tokens,
           |       CAST(min(doc_id) AS BIGINT) AS min_doc_id
           |FROM kd GROUP BY 1, 2""".stripMargin,
      "x_pack_curated" ->
        s"""WITH ${curatedSqlCtes("lang")},
           |c AS (SELECT doc_id, lang, n_words,
           |        sum(n_words) OVER (PARTITION BY lang ORDER BY doc_id
           |              ROWS UNBOUNDED PRECEDING) - n_words AS start_off
           |      FROM kd)
           |SELECT doc_id, lang, n_words, CAST(start_off AS BIGINT) AS start_off,
           |       CAST(start_off // ${Sampling.ctxLen} AS BIGINT) AS seq_id
           |FROM c""".stripMargin,
      "x_text_oov" ->
        s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |tk AS (SELECT doc_id, token FROM t WHERE length(token) > 0),
           |tf AS (SELECT token, count(*) AS tf FROM tk GROUP BY 1),
           |v AS (SELECT token FROM (
           |        SELECT token, row_number() OVER (ORDER BY tf DESC, token ASC) AS rnk
           |        FROM tf) WHERE rnk <= $oovVocabSize)
           |SELECT tk.doc_id, count(*) AS n_tokens,
           |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           |       CAST(round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |                  * 10000 / count(*)) AS BIGINT) AS oov_bp
           |FROM tk LEFT JOIN v ON tk.token = v.token GROUP BY 1""".stripMargin,
      "x_text_repetition" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
          |base AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words, words
          |         FROM w WHERE len(words) >= 2),
          |bi AS (SELECT doc_id, array_to_string(words[i:i+1], ' ') AS bg
          |       FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS i FROM base)),
          |bstat AS (SELECT doc_id, count(*) AS n_bigrams,
          |                 count(DISTINCT bg) AS n_dist_bigrams
          |          FROM bi GROUP BY 1),
          |tok AS (SELECT doc_id, unnest(words) AS t FROM base),
          |tstat AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_tok
          |          FROM (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2)
          |          GROUP BY 1)
          |SELECT b.doc_id, b.n_words, s.n_bigrams, s.n_dist_bigrams, t.max_tok,
          |  CAST(round(CAST(s.n_bigrams - s.n_dist_bigrams AS DOUBLE) * 10000 / s.n_bigrams) AS BIGINT) AS dup_bigram_bp,
          |  CAST(round(CAST(t.max_tok AS DOUBLE) * 10000 / b.n_words) AS BIGINT) AS top_tok_bp,
          |  (dup_bigram_bp > 2000 OR top_tok_bp > 1000) AS is_repetitive
          |FROM base b JOIN bstat s USING (doc_id) JOIN tstat t USING (doc_id)""".stripMargin,
      "x_text_tfidf" ->
        """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          |tk AS (SELECT doc_id, token FROM t WHERE length(token) > 0),
          |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
          |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |scored AS (
          |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
          |         CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score
          |  FROM tf JOIN df USING (token) CROSS JOIN n),
          |ranked AS (
          |  SELECT doc_id, token, tf, df, score,
          |         CAST(row_number() OVER (PARTITION BY doc_id
          |                ORDER BY score DESC, token ASC) AS BIGINT) AS rnk
          |  FROM scored)
          |SELECT doc_id, token, tf, df,
          |       CAST(round(score * 100) AS BIGINT) AS score_c, rnk
          |FROM ranked WHERE rnk <= 3""".stripMargin,
      "x_text_langid" ->
        s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
           |scored AS (SELECT doc_id, lang,
           |  CAST(${hits("de")} AS BIGINT) AS s_de, CAST(${hits("en")} AS BIGINT) AS s_en,
           |  CAST(${hits("es")} AS BIGINT) AS s_es, CAST(${hits("fr")} AS BIGINT) AS s_fr
           |FROM w)
           |SELECT doc_id,
           |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
           |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
           |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred,
           |  lang,
           |  (CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
           |        WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
           |        WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END) = lang AS is_match
           |FROM scored""".stripMargin,
      "x_text_quality" ->
        s"""WITH ${gateFeatureSqlCtes("text")},
           |base AS (SELECT doc_id, n_words, CAST(length(text) AS BIGINT) AS n_chars_m, n_stop
           |  FROM f)
           |SELECT doc_id, n_words, n_chars_m, n_stop,
           |  CAST(round(CAST(n_chars_m - (n_words - 1) AS DOUBLE) / n_words * 100) AS BIGINT) AS avg_word_len_c,
           |  CAST(round(CAST(n_stop AS DOUBLE) * 10000 / n_words) AS BIGINT) AS stop_bp,
           |  ($qualitySql) AS is_quality
           |FROM base""".stripMargin,
      "x_text_entropy" ->
        s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |           FROM documents),
           |cnt AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
           |        FROM t GROUP BY 1, 2),
           |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
           |          CAST(count(*) AS BIGINT) AS n_distinct,
           |          CAST(sum(c * ${Sampling.log2fpDuck("c")}) AS BIGINT) AS sc
           |        FROM cnt GROUP BY 1)
           |SELECT doc_id, n, n_distinct,
           |       CAST(${Sampling.log2fpDuck("n")} - (sc // n) AS BIGINT) AS entropy_fp
           |FROM agg""".stripMargin,
      "x_text_tokens" ->
        """SELECT doc_id,
          |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
          |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
          |  CAST(length(text) AS BIGINT) AS n_chars_m
          |FROM documents""".stripMargin,
      "x_text_rarity" ->
        """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          |tk AS (SELECT doc_id, token FROM t WHERE length(token) > 0),
          |tf AS (SELECT token, count(*) AS tf FROM tk GROUP BY 1)
          |SELECT doc_id, count(*) AS n_tokens, CAST(sum(tf.tf) AS BIGINT) AS tf_sum,
          |  CAST(round(CAST(sum(tf.tf) AS DOUBLE) / count(*) * 100) AS BIGINT) AS mean_tf_c
          |FROM tk JOIN tf USING (token) GROUP BY 1""".stripMargin,
      "x_text_surprisal" ->
        s"""WITH $surprisalSqlCtes
           |SELECT doc_id, n_tokens, bits_sum, mean_bits_c FROM surp""".stripMargin,
      "x_doc_features" ->
        s"""WITH ${gateFeatureSqlCtes()},
           |qual AS (SELECT doc_id, n_words,
           |           CAST(round(CAST(n_stop AS DOUBLE) * 10000 / n_words) AS BIGINT) AS stop_bp,
           |           ($qualitySql) AS is_quality
           |         FROM f),
           |$surprisalSqlCtes,
           |dup AS (SELECT doc_id,
           |          doc_id > min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
           |        FROM documents)
           |SELECT q.doc_id, q.n_words, q.stop_bp, q.is_quality,
           |       s.n_tokens, s.bits_sum, s.mean_bits_c, dup.is_dup
           |FROM qual q JOIN surp s USING (doc_id) JOIN dup USING (doc_id)""".stripMargin,
      "x_token_histogram" ->
        """WITH n AS (SELECT CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
          |           FROM documents)
          |SELECT CAST(length(printf('%b', n_tokens)) AS BIGINT) AS bucket,
          |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
          |       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
          |FROM n GROUP BY 1""".stripMargin,
      "x_text_vocab" ->
        """WITH tf AS (
          |  SELECT lang, t.token, count(*) AS tf
          |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents) t
          |  WHERE length(t.token) > 0
          |  GROUP BY 1, 2),
          |ranked AS (
          |  SELECT lang, token, tf,
          |         CAST(row_number() OVER (PARTITION BY lang
          |                ORDER BY tf DESC, token ASC) AS BIGINT) AS rnk
          |  FROM tf)
          |SELECT lang, token, tf, rnk FROM ranked WHERE rnk <= 20""".stripMargin,
      "x_text_winnow" ->
        s"""WITH $winnowSqlCtes
           |SELECT doc_id, fp FROM fps""".stripMargin)
  }
}
