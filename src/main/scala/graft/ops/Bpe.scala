package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BPE merge training, corpus-scale: the inner loop of a BPE/WordPiece
  * tokenizer trainer — count adjacent token pairs, learn the most frequent
  * pair, REWRITE the whole corpus applying that merge left-greedily, and
  * repeat ([[bpeRounds]] rounds). [[TextAnalysis.bpePairs]] is one COUNTING
  * pass of this loop; this operator closes it into the actual trainer:
  * selection counts feed a corpus-wide rewrite whose output feeds the next
  * round's counts, which is what makes merge #2 depend on merge #1 (the
  * part a single aggregation can't express).
  *
  * Semantics (standard BPE, pinned in `BpeSpec`):
  *  - selection counts ALL adjacent occurrences (overlaps included:
  *    `a a a` contributes (a,a) twice), ties broken lexicographically;
  *  - application is LEFT-GREEDY and non-overlapping: within each maximal
  *    run of consecutive candidate starts, the 1st/3rd/5th… merge and the
  *    even offsets are absorbed (`a a a` → `[a a, a]`, not `[a, a a]`);
  *  - merged symbols join with a space, so later rounds can merge merged
  *    symbols into longer n-grams.
  *
  * Plan, per round: pair counts are one shuffle with map-side partials
  * (the relation is (tok, ntok) pairs — the corpus reduces before it
  * moves); the top pair is a 1-row `TakeOrderedAndProject` broadcast back;
  * candidate selection and the rewrite are doc-keyed windows (lead,
  * island-numbering, renumber) — ONE exchange by doc reused across them;
  * and the token relation is lineage-cut ([[Lineage]]) so round r+1 plans
  * over a materialized relation, not r stacked rewrites (same contract as
  * [[Dedup.components]]: `spark.graft.reliableCheckpoints=true` on a real
  * cluster). State between rounds is (doc_id, pos, tok) — linear in corpus
  * token count, never quadratic; rounds are a FIXED hyperparameter (a real
  * trainer runs 30-50k, same plan per round).
  */
object Bpe {

  /** Merge rounds — a TUNABLE shared with the oracle SQL (kept small so the
    * unrolled oracle stays readable; the loop is round-count-agnostic). */
  private[ops] val bpeRounds = 3

  /** (doc_id, pos, tok) with dense 0-based positions per doc. */
  private[graft] def tokenize(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("idx", "tok")))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), (row_number().over(w) - 1).cast("long").as("pos"), col("tok"))
  }

  /** One learn+apply round over a MATERIALIZED token relation. Returns the
    * (summaryRow, rewrittenTokens) pair; the caller cuts the tokens. */
  private[graft] def round(toks: DataFrame, r: Int): (DataFrame, DataFrame) = {
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val paired = toks.withColumn("ntok", lead(col("tok"), 1).over(wDoc))
    val top = paired.filter(col("ntok").isNotNull)
      .groupBy(col("tok"), col("ntok")).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("tok"), col("ntok")).limit(1)
      .select(col("tok").as("m_a"), col("ntok").as("m_b"), col("n_occ"))
    val cand = paired.join(broadcast(top),
        col("tok") === col("m_a") && col("ntok") === col("m_b"))
      .select(col("doc_id"), col("pos"))
    // left-greedy: islands of consecutive candidate starts; odd offsets win
    val island = (col("pos") - row_number().over(wDoc)).as("island")
    val merges = cand.select(col("doc_id"), col("pos"), island)
      .withColumn("off", row_number().over(
        Window.partitionBy(col("doc_id"), col("island")).orderBy(col("pos"))))
      .filter(col("off") % 2 === 1)
      .select(col("doc_id"), col("pos"), lit(true).as("is_m"))
    // the merge set is the top pair's occurrence list — orders of magnitude
    // smaller than the corpus (and re-derived per round), so it broadcasts:
    // a shuffle join here would sort the full token relation twice per
    // round. BUT the list scales with corpus size (the most frequent pair
    // in natural language is ~1% of all tokens), so at a scale where one
    // pair's occurrences outgrow the driver the hint must go — which is a
    // CONF (`spark.graft.broadcastSmallSides=false`, [[Lineage]]/[[Hints]]),
    // not a code edit: the join keys are the windows' doc partitioning, so
    // the shuffle alternative co-partitions cheaply.
    val rewritten = paired
      .join(Hints.broadcastSmall(merges), Seq("doc_id", "pos"), "left")
      .join(Hints.broadcastSmall(merges.select(col("doc_id"), (col("pos") + 1).as("pos"),
          lit(true).as("absorbed"))), Seq("doc_id", "pos"), "left")
      .filter(col("absorbed").isNull)
      .select(col("doc_id"), col("pos").as("old_pos"),
        when(col("is_m"), concat(col("tok"), lit(" "), col("ntok")))
          .otherwise(col("tok")).as("tok"))
      .select(col("doc_id"),
        (row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("old_pos"))) - 1).cast("long").as("pos"),
        col("tok"))
    val summary = top.select(
      lit(r.toLong).as("round"),
      concat(col("m_a"), lit(" "), col("m_b")).as("merged_tok"),
      col("n_occ"))
    (summary, rewritten)
  }

  /** The full trainer over a document frame: [[bpeRounds]] learn+apply
    * rounds. Returns (per-round summaries, FINAL rewritten token relation)
    * — the second component is the corpus ENCODED with the learned merges,
    * which is what [[bpeEncode]] profiles. */
  private[graft] def train(docs: DataFrame): (DataFrame, DataFrame) = {
    var toks = Lineage.cut(tokenize(docs))
    val summaries = (1 to bpeRounds).map { r =>
      val (summary, rewritten) = round(toks, r)
      toks = Lineage.cut(rewritten)
      summary.crossJoin(broadcast(
        toks.agg(count(lit(1)).as("n_tokens_after"))))
    }
    (summaries.reduce(_ unionAll _), toks)
  }

  /** [[bpeRounds]] learn+apply rounds; one summary row per round (the
    * learned merge, its selection count, and the corpus token count after
    * applying it). */
  def bpeMergesDocs(docs: DataFrame): DataFrame = train(docs)._1

  /** Trainer memo: (session identity, table dir) → spilled parquet paths of
    * (summaries, final tokens) — the [[Similarity.kmeansConverged]] pattern:
    * the 3-round loop runs once per session and BOTH consumers
    * (`x_bpe_merges`, `x_bpe_encode`) read the tiny materialized relations
    * back instead of re-running the rewrites. */
  private val trainMemo =
    scala.collection.concurrent.TrieMap.empty[(Long, String), (String, String)]

  private def trainedPaths(s: SparkSession, d: String): (String, String) =
    // one training run yields BOTH relations, so this pair keeps its own
    // locked memo: [[SpillMemo.spill]] serves one relation per derivation
    trainMemo.synchronized(trainMemo.getOrElseUpdate((SpillMemo.sessionId(s), d), {
      val dir = SpillMemo.scratchDir("graft-bpe-")
      val (summaries, toks) = train(Tables.documents(s, d))
      summaries.write.mode("overwrite").parquet(s"$dir/summaries")
      toks.write.mode("overwrite").parquet(s"$dir/tokens")
      (s"$dir/summaries", s"$dir/tokens")
    }))

  def bpeMerges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(trainedPaths(s, d)._1)

  /** Tokenizer APPLICATION — the other half of the trainer: the corpus
    * encoded with the learned merges, profiled per document. `n_tokens` is
    * the doc's post-merge token count (what a sequence-length budget sees),
    * `n_merged` counts multi-word merged symbols, and `n_chars` sums
    * non-space characters per token — an end-to-end integrity invariant,
    * since merging rearranges boundaries but never characters, so per doc it
    * must equal the pre-merge non-space character count (pinned in BpeSpec).
    * Plan: the memoized encoded relation is scanned once; the profile is one
    * partial-agg shuffle on doc_id. */
  def bpeEncodeDocs(toks: DataFrame): DataFrame =
    toks.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("tok").contains(" "), 1L).otherwise(0L)).as("n_merged"),
      sum(length(translate(col("tok"), " ", ""))).cast("long").as("n_chars"))

  def bpeEncode(s: SparkSession, d: String): DataFrame =
    bpeEncodeDocs(s.read.parquet(trainedPaths(s, d)._2))

  /** TOKENIZER FERTILITY PER LANGUAGE — the multilingual-fairness eval a
    * tokenizer report publishes: post-merge tokens per word, by `lang`, in
    * basis points. A trained merge table compresses the languages its
    * training mix favored (fertility well below 10000 bp here — merges
    * only fuse, so tokens ≤ non-empty words with this word-seeded trainer;
    * a subword tokenizer reads the same ratio above 10000) and leaves
    * under-represented languages paying more tokens for the same text —
    * exactly the signal that decides whether the mix (or the merge budget)
    * needs rebalancing before a production training run.
    *
    * Plan: the encoded corpus comes off the trainer's session memo (no
    * re-tokenization), word counts are a map-side projection of the
    * documents scan, and the rollup is one partial-agg shuffle keyed by
    * lang. Docs whose text has no non-empty token (hence no encoded rows)
    * still count words as 0 — the LEFT join + coalesce keeps coverage
    * total, the [[graft.ops.TextAnalysis]] docBase convention. */
  def bpeFertility(s: SparkSession, d: String): DataFrame = {
    val enc = bpeEncode(s, d).select(col("doc_id"), col("n_tokens"))
    val words = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)")
          .as("n_words"))
    words.join(enc, Seq("doc_id"), "left")
      .select(col("lang"), col("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"), sum(col("n_tokens")).as("n_tokens"))
      .filter(col("n_words") > 0)
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        expr("(n_tokens * 10000) div n_words").as("fertility_bp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_bpe_merges" -> bpeMerges,
    "x_bpe_encode" -> bpeEncode,
    "x_bpe_fertility" -> bpeFertility)

  /** One unrolled round of the oracle twin: t$r from t${r-1}. */
  private def roundSql(r: Int): String =
    s"""p$r AS (SELECT doc_id, pos, tok,
       |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS ntok
       |        FROM t${r - 1}),
       |top$r AS (SELECT tok AS m_a, ntok AS m_b, count(*) AS n_occ
       |          FROM p$r WHERE ntok IS NOT NULL
       |          GROUP BY 1, 2 ORDER BY 3 DESC, 1, 2 LIMIT 1),
       |cd$r AS (SELECT p.doc_id, p.pos,
       |           p.pos - row_number() OVER (PARTITION BY p.doc_id ORDER BY p.pos) AS island
       |         FROM p$r p, top$r t WHERE p.tok = t.m_a AND p.ntok = t.m_b),
       |m$r AS (SELECT doc_id, pos FROM (
       |          SELECT doc_id, pos,
       |            row_number() OVER (PARTITION BY doc_id, island ORDER BY pos) AS off
       |          FROM cd$r) WHERE off % 2 = 1),
       |t$r AS (SELECT doc_id,
       |          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
       |               AS BIGINT) AS pos,
       |          CASE WHEN m.pos IS NOT NULL THEN p.tok || ' ' || p.ntok
       |               ELSE p.tok END AS tok
       |        FROM p$r p LEFT JOIN m$r m USING (doc_id, pos)
       |        WHERE NOT EXISTS (SELECT 1 FROM m$r x
       |                          WHERE x.doc_id = p.doc_id AND x.pos = p.pos - 1))""".stripMargin

  /** Shared oracle prefix: tokenization + the unrolled round chain, ending
    * with the final relation `t$bpeRounds`. */
  private def corpusCtes: String = {
    val rounds = (1 to bpeRounds).map(roundSql).mkString(",\n")
    s"""WITH raw AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |ex AS (SELECT doc_id, unnest(range(1, len(words) + 1)) AS idx, words FROM raw),
       |tk AS (SELECT doc_id, idx, words[idx] AS tok FROM ex WHERE length(words[idx]) > 0),
       |t0 AS (SELECT doc_id,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY idx) - 1
       |              AS BIGINT) AS pos, tok
       |       FROM tk),
       |$rounds""".stripMargin
  }

  private def mergesSql: String = {
    val out = (1 to bpeRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, m_a || ' ' || m_b AS merged_tok,
         |       n_occ, (SELECT count(*) FROM t$r) AS n_tokens_after FROM top$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$corpusCtes\n$out"
  }

  private def encodeSql: String =
    s"""$corpusCtes
       |SELECT doc_id, count(*) AS n_tokens,
       |       CAST(sum(CASE WHEN tok LIKE '% %' THEN 1 ELSE 0 END) AS BIGINT) AS n_merged,
       |       CAST(sum(length(replace(tok, ' ', ''))) AS BIGINT) AS n_chars
       |FROM t$bpeRounds GROUP BY 1""".stripMargin

  private def fertilitySql: String =
    s"""$corpusCtes,
       |enc AS (SELECT doc_id, count(*) AS n_tokens FROM t$bpeRounds GROUP BY 1),
       |wd AS (SELECT doc_id, lang,
       |         CAST(len(list_filter(string_split(text, ' '),
       |           w -> length(w) > 0)) AS BIGINT) AS n_words
       |       FROM documents),
       |j AS (SELECT w.lang, w.n_words, coalesce(e.n_tokens, 0) AS n_tokens
       |      FROM wd w LEFT JOIN enc e USING (doc_id))
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_words) AS BIGINT) AS n_words,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST((sum(n_tokens) * 10000) // sum(n_words) AS BIGINT) AS fertility_bp
       |FROM j GROUP BY 1 HAVING sum(n_words) > 0""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_bpe_merges" -> mergesSql,
    "x_bpe_encode" -> encodeSql,
    "x_bpe_fertility" -> fertilitySql)
}
