package graft.ops

import graft.Tables
import graft.functions.{TopK, TopKOrder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over the `documents` table — the lexical half of the
  * retrieval stack the embedding family ([[Similarity]]) is the dense half
  * of:
  *
  *  - '''BM25 top-k''' (`x_search_bm25`): Okapi BM25 (Robertson et al.,
  *    TREC-3) with k₁=1.2, b=0.75 over whitespace tokens. Member queries
  *    (every [[searchStride]]-th document, the `x_sim_topk_*` convention)
  *    are reduced to their [[qTerms]] most characteristic terms (the
  *    [[TextAnalysis.tfidf]] tf·N/df cut — the low-df terms that actually
  *    discriminate), then scored against the inverted index.
  *  - '''Ingest serving twin''' (`x_search_ingest` /
  *    `s_search_stream`): the index is built over the standing corpus
  *    (`doc_id % 10 ≠ 7`) and ARRIVING documents (`% 10 = 7`, the ingest
  *    convention shared with [[Similarity.knnIncremental]]) are the
  *    queries — one probe definition ([[bm25Probe]]) serves the batch form
  *    and the streamed twin so the two cannot drift.
  *  - '''Hybrid RRF fusion''' (`x_search_hybrid_rrf`): reciprocal-rank
  *    fusion (Cormack et al., SIGIR'09; k=60) of the BM25 ranking with the
  *    exact cosine ranking over the same query ids — the
  *    lexical+semantic hybrid every RAG retrieval tier runs. Fusion is
  *    leg-agnostic (it reads only (query_id, neighbor_id, rnk)), so a
  *    deployment swaps the brute leg for [[Similarity.graphBeamTopK]]
  *    without touching the fusion.
  *
  * Cross-engine exactness: every per-term BM25 score is quantized to an
  * integer milli-score BEFORE the per-document sum ([[scoreSql]] — the
  * house integer-quantization rule), so document scores are
  * order-independent integer sums; the double arithmetic inside one term
  * is a fixed parenthesization of IEEE mul/div on identical inputs, and
  * `avgdl` is one division of two exact integers — bit-identical in both
  * engines, no `ln` anywhere (the raw (N−df+0.5)/(df+0.5) ratio replaces
  * the usual log-IDF exactly as [[TextAnalysis.tfidf]] documents; the
  * per-term ranking it induces against df is the same).
  *
  * Scale plan (100 TB): the index build is two aggregations off one
  * tokenization pass (tf, then df/dl OVER the aggregated tf — never a
  * second corpus scan), then the impact-ordered prune: each posting's
  * full BM25 term score is precomputed and quantized AT BUILD TIME and
  * each list cut to its [[prunePerTerm]] top impacts, so probe cost is
  * bounded by queries·[[qTerms]]·cap regardless of df — the property that
  * keeps lexical serving latency-bounded on a corpus where common terms
  * match everything. Query terms are a Q×[[qTerms]]-row broadcast; the
  * probe is a broadcast join over matched pruned lists plus an INTEGER
  * SUM (zero per-probe float work); the per-(query, doc) aggregation
  * partial-reduces map-side, and the final cut is the bounded-heap
  * [[graft.functions.TopK.Cut]] (shuffle moves O(k·partitions·queries)
  * rows). The candidate relation is lineage-cut once so the score
  * join-back reads materialized blocks instead of re-running the search.
  * The RRF stage fuses two already-top-k relations — dashboard-sized at
  * any corpus size.
  */
object Search {

  /** Every `searchStride`-th document plays a member query. */
  private[graft] val searchStride = 100

  /** Query terms kept per query — the tf·N/df top terms. */
  private[graft] val qTerms = 5

  private[graft] val topK = 10

  /** RRF dampening constant (the k=60 of Cormack et al.) and the integer
    * scale: one leg's contribution is `rrfScale div (rrfK + rnk)` — exact
    * integer division in both engines, no float summation. */
  private[graft] val rrfK = 60
  private[graft] val rrfScale = 1000000L

  /** Static index pruning depth: each posting list keeps only its
    * `prunePerTerm` highest-impact postings (Carmel et al., SIGIR'01 —
    * the design Lucene's impact-ordered/WAND world ships). This is what
    * bounds probe cost by the CAP, not by df: the synthetic fixture is
    * the lexical worst case (31-token vocabulary, df/N ≈ 0.87 for every
    * term — no Zipf tail to hide in), and an unpruned probe there scores
    * ~10M candidates for 500 arrivals; pruned, ≤ queries·qTerms·cap.
    * 256 ≫ k=10 per matched term, so head ranks are stable; documents
    * outside every matched term's impact top-256 are unreachable — the
    * published, deliberate trade. */
  private[graft] val prunePerTerm = 256

  /** The static BM25 index: `postings` (token, doc_id, imp_m) — the
    * impact-ORDERED pruned lists, each posting carrying its precomputed
    * integer milli-impact (the full BM25 term score: idf × saturated tf),
    * so a probe does NO arithmetic beyond summing matched impacts;
    * `tokenDf` (token, df) for query-term selection; `stats` one row
    * (n_docs, avgdl). */
  private[graft] case class Bm25Index(
      postings: DataFrame, tokenDf: DataFrame, stats: DataFrame)

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)

  /** One per-term milli-score — IDENTICAL text in the Spark plan and the
    * DuckDB twin (`0.5e0`-style literals parse as DOUBLE in both): the
    * rational IDF × the k₁/b-saturated tf, scaled to integer milli-points
    * before the per-document sum so the sum commutes. */
  private[graft] val scoreSql: String =
    "CAST(round(((n_docs - df + 0.5e0) / (df + 0.5e0)) * " +
      "((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * (dl / avgdl)))) " +
      "* 1.0e3) AS BIGINT)"

  /** Build the BM25 index over an arbitrary corpus frame (doc_id, text).
    * One tokenization feeds the tf aggregation; df and dl are aggregations
    * OVER tf (already per-(doc, token) distinct / already counted), so the
    * corpus text is scanned once per relation Spark materializes, never
    * re-joined to itself. The per-posting impact is computed HERE (index
    * build time) and each list pruned to its [[prunePerTerm]] top impacts
    * through the bounded-heap [[graft.functions.TopK.Cut]]: each
    * map-side partition reduces a token's candidates to ≤ cap BEFORE the
    * exchange, so a skewed token (this fixture's 31-token vocabulary with
    * df ≈ 0.87·N is the worst case by construction) costs per-partition
    * heaps of 256, never a df-sized single-task window sort — a
    * `row_number` prune here put each token's ENTIRE posting list in one
    * window partition, capping build parallelism at |vocab| tasks and
    * making each a multi-GB sort at 100 TB. The survivor's impact rides
    * through the heap as the exact double of an integer milli-score
    * (< 2⁵³ — lossless both ways), so no join-back against the
    * corpus-sized scored relation is needed; the pruned OUTPUT is
    * bit-identical to the window formulation (same (imp_m DESC, doc_id
    * ASC) total order — `SearchSpec` pins the equality and the plan
    * shape). */
  private[graft] def bm25IndexDocs(corpusDocs: DataFrame): Bm25Index =
    indexFromState(
      tokens(corpusDocs)
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")),
      corpusDocs.agg(count(lit(1)).as("n_docs")))

  /** Index derivation from the raw TF STATE — the (doc_id, token, tf)
    * relation plus a 1-row doc count. Everything downstream of
    * tokenization lives here so [[bm25IndexDocs]] (one corpus) and
    * [[indexMerge]] (stored base state ∪ delta state) derive THE SAME
    * df/dl/stats/impacts/prune from their tf by construction. */
  private[graft] def indexFromState(tf: DataFrame, nd: DataFrame): Bm25Index = {
    val dfr = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val dlr = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dlr.agg(sum(col("dl")).as("dl_sum")).crossJoin(broadcast(nd))
      .select(col("n_docs"),
        (col("dl_sum").cast("double") / col("n_docs")).as("avgdl"))
    val postings = TopK.topKScored(
      tf.join(dfr, "token").join(dlr, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("imp_m", expr(scoreSql))
        .select(col("token"), col("imp_m").cast("double").as("score"), col("doc_id")),
      "token", "score", "doc_id", prunePerTerm)
      .select(col("token"), col("neighbor_id").as("doc_id"),
        col("score").cast("bigint").as("imp_m"))
    Bm25Index(postings, dfr, stats)
  }

  /** The ingest-serving index: built over the standing corpus only
    * (arriving docs are NOT in it — df/avgdl/postings all exclude them,
    * the [[Similarity.ingestGraphIndex]] stance), each relation
    * lineage-cut so the streamed twin's triggers read materialized blocks
    * instead of re-deriving the index per micro-batch. When an
    * [[IndexStore]] is configured and carries the trio, it is READ from
    * the persisted layout instead (already materialized — parquet scans
    * need no cut): the build-once/serve-many deployment posture,
    * identical answers pinned by `IndexPersistSpec`. */
  private[graft] def ingestIndex(s: SparkSession, d: String): Bm25Index =
    (IndexStore.read(s, IndexStore.bm25Postings, d),
      IndexStore.read(s, IndexStore.bm25TokenDf, d),
      IndexStore.read(s, IndexStore.bm25Stats, d)) match {
      case (Some(p), Some(t), Some(st)) => Bm25Index(p, t, st)
      case _ =>
        val idx = bm25IndexDocs(
          Tables.documents(s, d).filter(col("doc_id") % Similarity.knnBatchMod =!= 7))
        Bm25Index(Lineage.cut(idx.postings), Lineage.cut(idx.tokenDf),
          Lineage.cut(idx.stats))
    }

  /** The MEMBER (full-corpus) BM25 index — the index the member-workload
    * family (the plain top-k search, the eval matrix, RM3, snippet,
    * maxsim, the rank/scorer diffs, the hybrid text leg) probes: built
    * over ALL documents, where [[ingestIndex]] excludes the arriving
    * split. When an [[IndexStore]] carries the member trio it is READ
    * from the persisted layout — build-once/serve-many: ~17 member
    * queries per sweep each re-derived this index in-plan (re-tokenize +
    * tf/df/dl + prune, the dominant cost of every one of them), where a
    * deployment builds it once per corpus snapshot. Without a store the
    * in-plan derivation is byte-identical to before; store ≡ memo answers
    * pinned by `IndexPersistSpec`. */
  private[graft] def memberIndex(s: SparkSession, d: String): Bm25Index =
    (IndexStore.read(s, IndexStore.bm25MemberPostings, d),
      IndexStore.read(s, IndexStore.bm25MemberTokenDf, d),
      IndexStore.read(s, IndexStore.bm25MemberStats, d)) match {
      case (Some(p), Some(t), Some(st)) => Bm25Index(p, t, st)
      case _ => bm25IndexDocs(Tables.documents(s, d))
    }

  /** Term selection: tf·N/df over the QUERY's own term frequencies, df
    * from the index (tokens the corpus never saw can't retrieve — inner
    * join drops them). The per-query window runs over ≤ |query vocab|
    * rows — bounded by document length, not corpus size. Emits
    * (query_id, token). */
  private[graft] def queryTerms(
      queryDocs: DataFrame, idx: Bm25Index, nTerms: Int = qTerms): DataFrame =
    queryTermsOn(queryDocs, idx.tokenDf, idx.stats.select(col("n_docs")), nTerms)

  /** [[queryTerms]] against bare (token, df) + 1-row n_docs relations —
    * the form scorers that never build BM25 impacts ([[lmqlTopK]]) share,
    * so every retrieval family selects the SAME terms per query. */
  private[graft] def queryTermsOn(
      queryDocs: DataFrame, tokenDf: DataFrame, nDocs: DataFrame,
      nTerms: Int): DataFrame = {
    val qt = queryDocs
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("query_id"), col("token")).agg(count(lit(1)).as("qtf"))
    val selW = Window.partitionBy(col("query_id"))
      .orderBy(col("sel").desc, col("token").asc)
    tokenDf.join(Hints.broadcastSmall(qt), "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("sel", expr("CAST(qtf AS DOUBLE) * n_docs / df"))
      .withColumn("trk", row_number().over(selW))
      .filter(col("trk") <= nTerms)
      .select(col("query_id"), col("token"))
  }

  /** Conjunctive term count for the boolean form. */
  private[graft] val boolTerms = 2

  /** BOOLEAN (conjunctive) retrieval: documents containing ALL of the
    * query's [[boolTerms]] most characteristic terms — the filter mode a
    * retrieval stack runs beside ranked BM25 (alerts, compliance scans,
    * corpus slicing). Membership reads the UNPRUNED forward relation:
    * impact pruning is a ranked-retrieval trade and would silently drop
    * conjunctive matches, exactly the kind of semantic coupling an index
    * design has to keep straight. The matched-term count per (query, doc)
    * compares against the query's own selected-term count (≤ boolTerms —
    * short or out-of-vocabulary queries demand only what they have).
    * Output is the complete match set (a filter, not a top-k). */
  def booleanSearch(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val idx = memberIndex(s, d)
    val terms = Lineage.cut(
      queryTerms(
        docs.filter(col("doc_id") % searchStride === 0)
          .select(col("doc_id"), col("text")),
        idx, boolTerms))
    val nq = terms.groupBy(col("query_id")).agg(count(lit(1)).as("n_q"))
    memberForward(s, d)
      .join(Hints.broadcastSmall(terms), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matched"))
      .join(Hints.broadcastSmall(nq), "query_id")
      .filter(col("n_matched") === col("n_q"))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        col("n_matched"))
  }

  /** Facet counts over the member BM25 result set: per query, how its
    * top-k distributes over (lang, source) — the results-page facet
    * panel, and a quick slice-skew readout. Joins only the k-per-query
    * hit relation against the document metadata. */
  def facetSearch(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val hits = bm25Probe(
      docs.filter(col("doc_id") % searchStride === 0)
        .select(col("doc_id"), col("text")),
      memberIndex(s, d))
      .select(col("query_id"), col("neighbor_id"))
    hits
      .join(docs.select(col("doc_id"), col("lang"), col("source")),
        col("neighbor_id") === col("doc_id"))
      .groupBy(col("query_id"), col("lang"), col("source"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Score a (query_id, token) term set against the pruned index — the
    * probe core, also fed directly by the RM3 expanded set. Candidates:
    * matched PRUNED postings only, impacts precomputed — join + integer
    * sum, no arithmetic. The member form's self-match is excluded (a
    * no-op for ingest queries, whose ids aren't indexed). (score_m,
    * n_terms) ride the bounded heap ([[TopK.topKPayload]]) so the cut is
    * ONE aggregation — no eager checkpoint of the scored relation and no
    * join-back to recover the payload (ranks unchanged: payloads never
    * participate in the (score DESC, id ASC) comparison, and the
    * groupBy(query, doc) input gives each id exactly one row). */
  private[graft] def probeTerms(terms: DataFrame, idx: Bm25Index): DataFrame = {
    val scored =
      idx.postings.join(Hints.broadcastSmall(terms), "token")
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("imp_m")).as("score_m"), count(lit(1)).as("n_terms"))
    TopK.topKPayload(
      scored.select(col("query_id"),
        col("score_m").cast("double").as("score"), col("doc_id"),
        col("score_m"), col("n_terms")),
      "query_id", "score", "doc_id", "score_m", "n_terms", topK)
      .select(col("query_id"), col("neighbor_id"),
        col("score_m"), col("n_terms"), col("rnk"))
  }

  /** Score query docs (doc_id, text, …) against an index — ONE definition
    * shared by the member search, the batch ingest twin and the streamed
    * twin. Emits (query_id, neighbor_id, score_m, n_terms, rnk ≤ k). */
  private[graft] def bm25Probe(queryDocs: DataFrame, idx: Bm25Index): DataFrame =
    probeTerms(queryTerms(queryDocs, idx), idx)

  /** Member BM25 search: strided query docs against the full-corpus index. */
  def bm25TopK(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    bm25Probe(
      docs.filter(col("doc_id") % searchStride === 0).select(col("doc_id"), col("text")),
      memberIndex(s, d))
  }

  /** Batch form of ingest-time serving: arriving docs (`% 10 = 7`) probe
    * the standing-corpus index. The streamed twin
    * ([[graft.streaming.IngestStream]]) runs THIS probe per micro-batch. */
  def bm25IngestTopK(s: SparkSession, d: String): DataFrame =
    bm25Probe(
      Tables.documents(s, d)
        .filter(col("doc_id") % Similarity.knnBatchMod === 7)
        .select(col("doc_id"), col("text")),
      ingestIndex(s, d))

  // -------- CHUNK-LEVEL RETRIEVAL (RAG shape) --------

  /** Chunk-key synthesis: `doc_id · chunkKeyMod + chunk_id`. 2²⁰ chunks
    * per doc covers a ~25M-word document at the [[graft.ops.TextAnalysis]]
    * stride; with corpus ids held under the multimodal keyspace bound
    * (10M, `MultimodalPipeline.requireOriginalId`) the key stays < 2⁴⁴ —
    * exact BIGINT arithmetic in both engines, parent recoverable by
    * integer division (ids non-negative, so truncating `div` and DuckDB
    * `//` agree). */
  private[graft] val chunkKeyMod = 1048576L

  /** Chunk candidates kept per query before the document rollup. */
  private[graft] val chunkK = 20

  /** The chunk corpus: [[graft.ops.TextAnalysis.chunkTextDocs]] keyed into
    * one BIGINT id space so the whole lexical stack (index build, term
    * selection, pruning, probe) runs over chunks UNCHANGED — the RAG
    * posture where the retrievable unit is the passage, not the document. */
  private[graft] def chunkCorpus(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysis.chunkTextDocs(docs)
      .select((col("doc_id") * chunkKeyMod + col("chunk_id")).as("doc_id"),
        col("text"))

  /** Probe a query frame against a CHUNK index: [[probeTerms]]'s shape
    * with (a) self-matches excluded by PARENT id — a query document must
    * not retrieve its own chunks — and (b) the deeper [[chunkK]] cut (the
    * rollup needs several chunks per doc to aggregate). One definition
    * for the member form, the batch ingest twin and the streamed twin. */
  private[graft] def chunkProbe(queryDocs: DataFrame, idx: Bm25Index): DataFrame = {
    val terms = queryTerms(queryDocs, idx)
    val scored =
      idx.postings.join(Hints.broadcastSmall(terms), "token")
        .filter(expr(s"doc_id div $chunkKeyMod") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("imp_m")).as("score_m"), count(lit(1)).as("n_terms"))
    TopK.topKPayload(
      scored.select(col("query_id"),
        col("score_m").cast("double").as("score"), col("doc_id"),
        col("score_m"), col("n_terms")),
      "query_id", "score", "doc_id", "score_m", "n_terms", chunkK)
      .select(col("query_id"), col("neighbor_id").as("chunk_key"),
        col("score_m"), col("n_terms"), col("rnk"))
  }

  /** The member chunk-hit relation, spilled per session — it feeds BOTH the
    * chunk emission and the document rollup (the [[ltrFeatures]] lesson:
    * shared upstream relations are spilled, never re-derived per query). */
  private[graft] def chunkHits(s: SparkSession, d: String): DataFrame =
    SpillMemo.spill(s, "chunkhits", d) {
      val docs = Tables.documents(s, d)
      chunkProbe(
        docs.filter(col("doc_id") % searchStride === 0)
          .select(col("doc_id"), col("text")),
        bm25IndexDocs(chunkCorpus(docs)))
    }

  /** CHUNK-LEVEL member search: BM25 over the chunk corpus, emitted with
    * the chunk key decomposed back to (parent doc, chunk offset) — the
    * passage hit list a RAG pipeline feeds its context assembler.
    * Plan: identical to [[bm25TopK]]'s (the chunk expansion is a map-side
    * explode before the index build); candidate volume stays bounded by
    * queries·qTerms·[[prunePerTerm]] regardless of the ~n_words/stride
    * chunk fan-out, because pruning happens per TOKEN, not per document. */
  def chunkTopK(s: SparkSession, d: String): DataFrame =
    chunkHits(s, d).select(
      col("query_id"),
      expr(s"chunk_key div $chunkKeyMod").as("neighbor_id"),
      (col("chunk_key") % chunkKeyMod).as("chunk_id"),
      col("score_m"), col("n_terms"), col("rnk"))

  /** DOCUMENT ROLLUP of chunk hits — the retrieve-passages-then-rank-docs
    * aggregation every RAG serving stack runs: per (query, parent doc),
    * the best chunk's score becomes the document score (max-pooling — the
    * standard passage-to-document aggregation), the best chunk's offset
    * rides along as the snippet pointer, and `n_chunk_hits` counts how
    * much of the document surfaced. Deterministic ties: best chunk =
    * (score DESC, chunk_id ASC) rank 1; doc rank = (best score DESC,
    * doc ASC). Every window runs over the ≤[[chunkK]]-per-query hit
    * relation — candidate-budget-sized at any corpus scale. */
  def chunkDocRollup(s: SparkSession, d: String): DataFrame =
    rollupOf(chunkHits(s, d))

  /** Ingest-serving twin of the rollup: arriving docs' passage hits
    * ([[chunkIngestIndex]] probe) max-pooled to document answers — the
    * full RAG serving response (which documents, via which passage) for
    * each arrival. */
  def chunkIngestRollup(s: SparkSession, d: String): DataFrame =
    rollupOf(chunkProbe(
      Tables.documents(s, d)
        .filter(col("doc_id") % Similarity.knnBatchMod === 7)
        .select(col("doc_id"), col("text")),
      chunkIngestIndex(s, d)))

  /** The passage→document max-pooling core over any [[chunkProbe]] hit
    * relation — ONE definition for the member and ingest forms. */
  private[graft] def rollupOf(hits: DataFrame): DataFrame = {
    val ch = hits.select(
      col("query_id"),
      expr(s"chunk_key div $chunkKeyMod").as("parent"),
      (col("chunk_key") % chunkKeyMod).as("chunk_id"),
      col("score_m"))
    val bestW = Window.partitionBy(col("query_id"), col("parent"))
      .orderBy(col("score_m").desc, col("chunk_id").asc)
    val hitsPerDoc = ch.groupBy(col("query_id"), col("parent"))
      .agg(count(lit(1)).as("n_chunk_hits"))
    val docW = Window.partitionBy(col("query_id"))
      .orderBy(col("score_m").desc, col("parent").asc)
    ch.withColumn("crk", row_number().over(bestW))
      .filter(col("crk") === 1)
      .join(Hints.broadcastSmall(hitsPerDoc), Seq("query_id", "parent"))
      .withColumn("rnk", row_number().over(docW).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("parent").as("neighbor_id"),
        col("score_m").as("best_m"), col("chunk_id").as("best_chunk"),
        col("n_chunk_hits"), col("rnk"))
  }

  /** The standing CHUNK index (arriving docs' chunks excluded — the
    * [[ingestIndex]] stance applied to the passage unit), store-served
    * when an [[IndexStore]] carries the trio. */
  private[graft] def chunkIngestIndex(s: SparkSession, d: String): Bm25Index =
    (IndexStore.read(s, IndexStore.chunkPostings, d),
      IndexStore.read(s, IndexStore.chunkTokenDf, d),
      IndexStore.read(s, IndexStore.chunkStats, d)) match {
      case (Some(p), Some(t), Some(st)) => Bm25Index(p, t, st)
      case _ =>
        val idx = chunkIngestIndexDerive(s, d)
        Bm25Index(Lineage.cut(idx.postings), Lineage.cut(idx.tokenDf),
          Lineage.cut(idx.stats))
    }

  /** The from-scratch standing chunk index `tools.IndexBuild` persists. */
  private[graft] def chunkIngestIndexDerive(s: SparkSession, d: String): Bm25Index =
    bm25IndexDocs(chunkCorpus(
      Tables.documents(s, d).filter(col("doc_id") % Similarity.knnBatchMod =!= 7)))

  /** Batch form of chunk-level ingest serving: arriving docs probe the
    * standing chunk index. The streamed twin
    * ([[graft.streaming.IngestStream]]) runs THIS per micro-batch. */
  def chunkIngestTopK(s: SparkSession, d: String): DataFrame =
    chunkProbe(
      Tables.documents(s, d)
        .filter(col("doc_id") % Similarity.knnBatchMod === 7)
        .select(col("doc_id"), col("text")),
      chunkIngestIndex(s, d))
      .select(col("query_id"),
        expr(s"chunk_key div $chunkKeyMod").as("neighbor_id"),
        (col("chunk_key") % chunkKeyMod).as("chunk_id"),
        col("score_m"), col("n_terms"), col("rnk"))

  // ---- DENSE CHUNK RETRIEVAL: the RAG tier's dense leg ----

  /** Deterministic hash-projection TEXT vector over a (id, text) frame —
    * the [[simSql]] token device mean-pooled per unit: each token maps to
    * its [[maxsimDims]]-dim centered-md5-ascii vector, and the unit's
    * vector is the per-dim INTEGER SUM over its tokens (cosine is
    * scale-invariant, so the un-divided sum ranks identically to the mean
    * AND keeps every coordinate an exact integer — dots/norms of 8-dim
    * integer vectors are exact in doubles, so both engines compute
    * bit-identical cosines; the swappable-model stance of [[simSql]]
    * applies: a deployment plugs its encoder, the contract is the vector
    * column). Zero-token units are dropped (no vector to serve). */
  private[graft] def hashVecOf(units: DataFrame, idCol: String): DataFrame =
    units
      .withColumn("hs", expr(
        "transform(filter(split(text, ' '), t -> length(t) > 0), t -> md5(t))"))
      .filter(size(col("hs")) > 0)
      .select(col(idCol),
        expr(s"transform(sequence(1, $maxsimDims), i -> " +
          "CAST(aggregate(hs, 0L, (acc, h) -> acc + ascii(substring(h, i, 1)) - 80) AS DOUBLE))")
          .as("hv"))

  /** The CHUNK-VECTOR relation (chunk_key, cvec) over the full chunk
    * corpus — the dense half of the RAG serving index, resolving like
    * every serving relation through [[IndexStore.served]] (store →
    * session spill → derivation). At 100 TB this is the chunk-id-keyed embedding store the
    * ANN ladder's bucketed rungs index; the brute probe below is the
    * ladder's baseline rung over that same relation. */
  private[graft] def chunkVectors(s: SparkSession, d: String): DataFrame =
    IndexStore.served(s, IndexStore.chunkVectors, d)(chunkVectorsDerive(s, d))

  /** The from-scratch chunk-vector derivation `tools.IndexBuild`
    * persists: one in-row pass over the chunk corpus. */
  private[graft] def chunkVectorsDerive(s: SparkSession, d: String): DataFrame =
    hashVecOf(chunkCorpus(Tables.documents(s, d)), "doc_id")
      .select(col("doc_id").as("chunk_key"), col("hv").as("cvec"))

  /** The STANDING slice of the chunk-vector relation (arrival parents
    * excluded) — the dense half of ingest-time RAG serving. A chunk's
    * vector depends only on its OWN text (no df-style corpus coupling,
    * unlike the lexical chunk index), so the standing relation is
    * literally a filter of the one stored relation — no second store
    * entry needed. */
  private[graft] def standingChunkVectors(s: SparkSession, d: String): DataFrame =
    standingOf(chunkVectors(s, d))

  /** The standing slice of a chunk-vector relation. */
  private[graft] def standingOf(cv: DataFrame): DataFrame =
    cv.filter(expr(s"chunk_key div $chunkKeyMod") % Similarity.knnBatchMod =!= 7)

  /** Dense chunk probe at the chunk-key grain — a (doc_id, text) query
    * frame's text vectors against a chunk-vector relation,
    * parent-self-excluded, bounded-heap top-[[chunkK]] per query. ONE
    * definition for the member form, the batch ingest twin and the
    * streamed twin. The brute rung: every scale statement of
    * [[graft.ops.Similarity.bruteForceTopK]] applies (the corpus side
    * never shuffles; the query panel broadcasts). */
  private[graft] def chunkDenseProbe(queryDocs: DataFrame, cv: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(queryDocs.sparkSession)
    val qv = hashVecOf(queryDocs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id").as("query_id"), col("hv").as("qv"))
    TopK.topK(
      cv.join(broadcast(qv), expr(s"chunk_key div $chunkKeyMod") =!= col("query_id"))
        .withColumn("score", expr("cosine_sim(qv, cvec)"))
        .select(col("query_id"), col("score"), col("chunk_key")),
      "query_id", "score", "chunk_key", chunkK)
      .select(col("query_id"), col("neighbor_id").as("chunk_key"), col("rnk"))
  }

  /** Member dense chunk hits: strided query docs against the full
    * chunk-vector relation. */
  private[graft] def chunkDenseHits(s: SparkSession, d: String): DataFrame =
    chunkDenseProbe(
      Tables.documents(s, d).filter(col("doc_id") % searchStride === 0),
      chunkVectors(s, d))

  /** ROUTED dense chunk hits — the SCALE PATH of the dense leg
    * ([[chunkDenseProbe]]'s scaladoc promise made real): chunk vectors
    * route into the [[ChunkRouter]]'s learned spherical k-means cells,
    * each query probes its [[ChunkRouter.probeCells]] nearest cells
    * (multi-probe), and only candidates sharing a probed cell are
    * exactly rescored. The router REPLACED a static sign router that
    * measurably degenerated on this corpus (2/256 buckets held 75% of
    * the chunks; [[ChunkRouter]]'s scaladoc has the
    * measurements). At 100 TB the cell assignment is one in-row fold
    * against the broadcast epoch panel riding the persisted chunk-vector
    * scan, and the scan prunes on the broadcast probe set; nothing
    * corpus-sized shuffles. `x_search_chunks_dense_recall` prices what
    * the pruning costs against the brute rung. */
  private[graft] def chunkDenseBucketHits(s: SparkSession, d: String): DataFrame =
    chunkDenseBucketProbe(
      Tables.documents(s, d).filter(col("doc_id") % searchStride === 0),
      ChunkRouter.routedVectors(s, d),
      ChunkRouter.servingPanel(s, d))

  /** The routed probe core over an arbitrary (doc_id, text) query frame,
    * a ROUTED chunk-vector relation (chunk_key, cvec, bucket —
    * [[ChunkRouter.routedVectors]], the stored inverted lists) and the
    * router epoch panel (query-side probes only) — ONE definition for
    * the member rung, the fused ingest serving and the streamed twin.
    * Router-agnostic by construction: a maintenance epoch close swaps
    * the routed relation + panel ([[graft.tools.QuantizerClose]]) and
    * this plan does not change shape (`RouterEpochSpec` pins it). */
  private[graft] def chunkDenseBucketProbe(
      queryDocs: DataFrame, cv: DataFrame, panel: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(queryDocs.sparkSession)
    val probes = hashVecOf(queryDocs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id").as("query_id"), col("hv").as("qv"))
      .withColumn("q", expr("transform(qv, x -> CAST(x AS BIGINT))"))
      .crossJoin(broadcast(panel))
      .select(col("query_id"), col("qv"),
        explode(expr(ChunkRouter.probeSql("q"))).as("bucket"))
    TopK.topK(
      cv.join(Hints.broadcastSmall(probes), Seq("bucket"))
        .filter(expr(s"chunk_key div $chunkKeyMod") =!= col("query_id"))
        .withColumn("score", expr("cosine_sim(qv, cvec)"))
        .select(col("query_id"), col("score"), col("chunk_key")),
      "query_id", "score", "chunk_key", chunkK)
      .select(col("query_id"), col("neighbor_id").as("chunk_key"), col("rnk"))
  }

  /** Routed dense chunk retrieval (`x_search_chunks_dense_ann`) — the
    * pruned rung, same output grain as [[chunkDenseTopK]]. */
  def chunkDenseBucketTopK(s: SparkSession, d: String): DataFrame =
    chunkDenseBucketHits(s, d).select(
      col("query_id"),
      expr(s"chunk_key div $chunkKeyMod").as("neighbor_id"),
      (col("chunk_key") % chunkKeyMod).as("chunk_id"),
      col("rnk"))

  /** Recall@[[chunkK]] of the routed rung against the brute rung —
    * what the [[ChunkRouter.probeCells]]-of-[[ChunkRouter.cells]]
    * pruning costs, per query ([[graft.ops.Similarity.recallOf]], the
    * ladder's shared pricing definition). */
  def chunkDenseRecall(s: SparkSession, d: String): DataFrame = {
    // `spark.graft.recallQueryStride` (default 1 = the oracle-pinned
    // full member panel): an extra deterministic stride on the query
    // side only, because recall is a per-query readout — a strided
    // subsample prices the same rung at corpora where the brute ground
    // truth over the full panel is prohibitive (the ×100 sweep). Both
    // rungs share ONE query frame, so each surviving query_id's row is
    // identical to its full-panel twin (`RouterEpochSpec` pins this).
    val extra = s.conf.getOption("spark.graft.recallQueryStride")
      .map(_.toLong).getOrElse(1L)
    val qd = Tables.documents(s, d)
      .filter(col("doc_id") % (searchStride * extra) === 0)
    Similarity.recallOf(
      chunkDenseProbe(qd, chunkVectors(s, d))
        .select(col("query_id"), col("chunk_key").as("neighbor_id")),
      chunkDenseBucketProbe(qd, ChunkRouter.routedVectors(s, d),
          ChunkRouter.servingPanel(s, d))
        .select(col("query_id"), col("chunk_key").as("neighbor_id")),
      "n_bucket")
  }

  /** DENSE chunk retrieval (`x_search_chunks_dense`): the passage hit
    * list by embedding similarity — the leg the lexical [[chunkTopK]]
    * was missing. Same output grain as the lexical form (parent, chunk,
    * rank), so the two legs fuse rank-for-rank. */
  def chunkDenseTopK(s: SparkSession, d: String): DataFrame =
    chunkDenseHits(s, d).select(
      col("query_id"),
      expr(s"chunk_key div $chunkKeyMod").as("neighbor_id"),
      (col("chunk_key") % chunkKeyMod).as("chunk_id"),
      col("rnk"))

  /** HYBRID chunk rollup (`x_search_chunk_rollup_fused`): RRF-fuse the
    * lexical and dense passage legs AT THE CHUNK GRAIN ([[fuseRrf]] —
    * one fusion definition across every hybrid form), keep the top
    * [[topK]] fused passages per query, then max-pool to documents
    * through the SAME [[rollupOf]] the lexical rollup runs — the full
    * RAG answer path (sparse recall + dense recall + fusion + document
    * assembly) in one oracle-checked query. Cost: the two legs are
    * already memo/store-served; fusion and rollup work k-per-query
    * relations at any corpus size. */
  def chunkFusedRollup(s: SparkSession, d: String): DataFrame =
    chunkFusedOf(chunkHits(s, d), chunkDenseHits(s, d))

  /** The fuse-then-rollup core over any pair of chunk-grain hit
    * relations (each carrying query_id, chunk_key, rnk) — ONE definition
    * for the member form, the batch ingest twin and the streamed twin. */
  private[graft] def chunkFusedOf(textHits: DataFrame, denseHits: DataFrame): DataFrame =
    rollupOf(fuseRrf(
      textHits.select(col("query_id"), col("chunk_key").as("neighbor_id"), col("rnk")),
      denseHits.select(col("query_id"), col("chunk_key").as("neighbor_id"), col("rnk")))
      .select(col("query_id"), col("neighbor_id").as("chunk_key"),
        col("rrf").as("score_m")))

  /** Batch form of DENSE chunk ingest serving: arriving docs' text
    * vectors probe the standing chunk vectors — the dense leg of the
    * RAG answer path at ingest (the [[chunkIngestTopK]] stance; arrival
    * parents are not in the standing slice, so self-exclusion holds by
    * construction). */
  def chunkDenseIngestTopK(s: SparkSession, d: String): DataFrame =
    chunkDenseIngestHits(s, d).select(
      col("query_id"),
      expr(s"chunk_key div $chunkKeyMod").as("neighbor_id"),
      (col("chunk_key") % chunkKeyMod).as("chunk_id"),
      col("rnk"))

  private[graft] def chunkDenseIngestHits(s: SparkSession, d: String): DataFrame =
    chunkDenseProbe(
      Tables.documents(s, d).filter(col("doc_id") % Similarity.knnBatchMod === 7),
      Lineage.cut(standingChunkVectors(s, d)))

  /** HYBRID chunk ingest rollup: the FULL RAG serving response for each
    * arrival — sparse passage recall (standing chunk index) + dense
    * passage recall via the BUCKETED rung over the standing chunk
    * vectors + RRF fusion + document max-pooling, all against standing
    * state. The serving path takes the pruned rung where the member
    * analytics form takes brute — the production posture
    * ([[chunkDenseProbe]]'s scaladoc promise; the ×10 sweep measured the
    * brute leg's per-arrival cost growing WITH the corpus, which no
    * serving path can carry — BASELINE.md). The streamed twin
    * ([[graft.streaming.IngestStream]]) runs THIS per micro-batch. */
  def chunkFusedIngestRollup(s: SparkSession, d: String): DataFrame = {
    val arriving = Tables.documents(s, d)
      .filter(col("doc_id") % Similarity.knnBatchMod === 7)
      .select(col("doc_id"), col("text"))
    chunkFusedOf(
      chunkProbe(arriving, chunkIngestIndex(s, d)),
      chunkDenseBucketProbe(arriving,
        Lineage.cut(ChunkRouter.standingRoutedVectors(s, d)),
        ChunkRouter.servingPanel(s, d)))
  }

  /** Dirichlet prior μ for [[lmqlTopK]] — an integer so every fixed-point
    * log₂ argument stays integral (engine-exact). 300 suits the fixture's
    * short documents; the plan is μ-independent. */
  private[graft] val lmMu = 300L

  /** QUERY-LIKELIHOOD retrieval with Dirichlet smoothing (Ponte & Croft,
    * SIGIR'98; Zhai & Lafferty, SIGIR'01) — the language-model scoring
    * family a retrieval stack runs beside BM25 (the classic lexical
    * triad: probabilistic BM25, LM query likelihood, positional
    * proximity). Full QL scores every query term against every document;
    * the standard rank-equivalent decomposition makes it index-servable:
    * dropping the doc-independent Σ_t log(μ·P(t|C)) term,
    *
    *   score(q,d) ≍ Σ_{t∈q∩d} log((tf·C + μ·cf) / (μ·cf))
    *                − |q| · log((dl + μ) / μ)
    *
    * with C the collection token count and cf the collection frequency —
    * only MATCHED postings plus the candidate's length are touched. Both
    * logs are the exact 1/1024-bit [[Sampling.log2fpSpark]] integers, so
    * the per-term sum commutes and both engines agree bit-for-bit
    * (arguments stay < 2⁶³/1024 up to tf·C ≈ 5·10¹⁴ — petabyte corpora).
    *
    * The index analog of BM25's impact prune: each token's posting list
    * keeps its [[prunePerTerm]] highest-tf postings (the matched
    * contribution is monotone in tf, so tf-ordering IS impact-ordering
    * here), cut by the bounded-heap [[graft.functions.TopK.Cut]] —
    * map-side ≤cap heaps, never a df-sized window sort. cf rides on the
    * PRUNED lists (an index-sized token join at build), the collection
    * total is a 1-row broadcast, and the candidate relation — bounded by
    * queries·terms·cap — broadcasts onto the corpus-sized length relation
    * rather than shuffling it. Emits (query_id, neighbor_id, score_fp,
    * n_terms, rnk ≤ k); score_fp is negative when the length penalty
    * outweighs the matches — ranks, not probabilities. */
  def lmqlTopK(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    lmqlProbe(
      docs.filter(col("doc_id") % searchStride === 0)
        .select(col("doc_id"), col("text")),
      lmMemberIndex(s, d))
  }

  /** The Dirichlet-LM serving index — the [[Bm25Index]] analog: tf-pruned
    * postings carrying their collection frequencies (token, doc_id, tf,
    * cf), document lengths (the per-candidate penalty input), term df
    * (term selection only), and the two 1-row broadcast stats. */
  private[graft] case class LmIndex(postings: DataFrame, dlr: DataFrame,
      dfr: DataFrame, ct: DataFrame, nDocs: DataFrame)

  /** Build the LM index over a corpus frame — one tokenization feeding
    * every relation; the posting prune is the bounded-heap cut (tf-order
    * IS impact-order for the matched contribution). */
  private[graft] def lmIndexDocs(docs: DataFrame): LmIndex = {
    val tf = Lineage.cut(
      tokens(docs).groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf")))
    val cfr = tf.groupBy(col("token")).agg(sum(col("tf")).as("cf"))
    val dlr = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val lmPost = TopK.topKScored(
      tf.select(col("token"), col("tf").cast("double").as("score"), col("doc_id")),
      "token", "score", "doc_id", prunePerTerm)
      .select(col("token"), col("neighbor_id").as("doc_id"),
        col("score").cast("bigint").as("tf"))
      .join(cfr, "token")
    LmIndex(lmPost, dlr,
      tf.groupBy(col("token")).agg(count(lit(1)).as("df")),
      dlr.agg(sum(col("dl")).as("c_tot")),
      docs.agg(count(lit(1)).as("n_docs")))
  }

  /** Score query docs against an LM index — ONE definition shared by the
    * member search, the batch ingest twin and the streamed twin (the
    * [[bm25Probe]] stance). The member form's self-match exclusion is a
    * no-op for ingest queries, whose ids aren't indexed. */
  private[graft] def lmqlProbe(queryDocs: DataFrame, idx: LmIndex): DataFrame = {
    import graft.ops.Sampling.log2fpSpark
    val terms = Lineage.cut(queryTermsOn(queryDocs, idx.dfr, idx.nDocs, qTerms))
    val cand = idx.postings.join(Hints.broadcastSmall(terms), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(idx.ct))
      .withColumn("c_fp", expr(
        s"${log2fpSpark(s"tf * c_tot + $lmMu * cf")} - ${log2fpSpark(s"$lmMu * cf")}"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c_fp")).as("m_fp"), count(lit(1)).as("n_terms"))
    val nq = terms.groupBy(col("query_id")).agg(count(lit(1)).as("n_q"))
    val scored =
      Hints.broadcastSmall(cand.join(Hints.broadcastSmall(nq), "query_id"))
        .join(idx.dlr, "doc_id")
        .withColumn("score_fp", col("m_fp") - col("n_q") *
          expr(s"${log2fpSpark(s"dl + $lmMu")} - ${log2fpSpark(lmMu.toString)}"))
        .select(col("query_id"), col("doc_id"), col("score_fp"), col("n_terms"))
    TopK.topKPayload(
      scored.select(col("query_id"),
        col("score_fp").cast("double").as("score"), col("doc_id"),
        col("score_fp"), col("n_terms")),
      "query_id", "score", "doc_id", "score_fp", "n_terms", topK)
      .select(col("query_id"), col("neighbor_id"),
        col("score_fp"), col("n_terms"), col("rnk"))
  }

  /** [[lmqlTopK]]'s core over arbitrary (corpus, query) frames — exposed
    * for the hand-checked spec. */
  private[graft] def lmqlDocs(docs: DataFrame, queryDocs: DataFrame): DataFrame =
    lmqlProbe(queryDocs, lmIndexDocs(docs))

  /** The LM ingest-serving index: standing corpus only (arrivals are NOT
    * in it — cf/dl/df/c_tot all exclude them, the [[ingestIndex]] stance),
    * every relation lineage-cut so the streamed twin's triggers read
    * materialized blocks instead of re-deriving the index per micro-batch.
    * When an [[IndexStore]] carries the LM quartet, it is READ from the
    * persisted layout instead (the 1-row stats relation splits back into
    * the c_tot / n_docs broadcasts) — identical answers pinned by
    * `IndexPersistSpec`. */
  private[graft] def lmIngestIndex(s: SparkSession, d: String): LmIndex =
    (IndexStore.read(s, IndexStore.lmPostings, d),
      IndexStore.read(s, IndexStore.lmDocLen, d),
      IndexStore.read(s, IndexStore.lmTokenDf, d),
      IndexStore.read(s, IndexStore.lmStats, d)) match {
      case (Some(p), Some(dl), Some(df), Some(st)) =>
        LmIndex(p, dl, df, st.select(col("c_tot")), st.select(col("n_docs")))
      case _ =>
        val idx = lmIndexDocs(
          Tables.documents(s, d).filter(col("doc_id") % Similarity.knnBatchMod =!= 7))
        LmIndex(Lineage.cut(idx.postings), Lineage.cut(idx.dlr),
          Lineage.cut(idx.dfr), Lineage.cut(idx.ct), Lineage.cut(idx.nDocs))
    }

  /** The MEMBER (full-corpus) LM index — [[memberIndex]]'s Dirichlet-LM
    * twin, probed by the LM eval rows, the scorer A/B and the member
    * `lmql` search. Store-served when the [[IndexStore]] carries the
    * member quartet; the fallback derivation is unchanged. */
  private[graft] def lmMemberIndex(s: SparkSession, d: String): LmIndex =
    (IndexStore.read(s, IndexStore.lmMemberPostings, d),
      IndexStore.read(s, IndexStore.lmMemberDocLen, d),
      IndexStore.read(s, IndexStore.lmMemberTokenDf, d),
      IndexStore.read(s, IndexStore.lmMemberStats, d)) match {
      case (Some(p), Some(dl), Some(df), Some(st)) =>
        LmIndex(p, dl, df, st.select(col("c_tot")), st.select(col("n_docs")))
      case _ => lmIndexDocs(Tables.documents(s, d))
    }

  /** Batch form of LM ingest serving: arriving docs (`% 10 = 7`) probe the
    * standing-corpus LM index. The streamed twin
    * ([[graft.streaming.IngestStream]]) runs THIS probe per micro-batch. */
  def lmqlIngestTopK(s: SparkSession, d: String): DataFrame =
    lmqlProbe(
      Tables.documents(s, d)
        .filter(col("doc_id") % Similarity.knnBatchMod === 7)
        .select(col("doc_id"), col("text")),
      lmIngestIndex(s, d))

  /** LEARNING-TO-RANK training-example emission — the dataset a reranker
    * (LambdaMART, a cross-encoder distillation target) trains on, and the
    * step that turns this retrieval stack into a TRAINING-DATA pipeline:
    * candidate generation by the production BM25 probe, one feature row
    * per (query, candidate) joining every lexical signal plus the graded
    * label ([[ndcgEval]]'s deterministic metadata-agreement convention —
    * the stand-in for human judgments, swappable without touching the
    * feature plumbing).
    *
    * Features: `score_m`/`n_terms`/`rnk` ride FROM the candidate
    * generator; `lm_fp`/`lm_terms` are the Dirichlet-LM score of the SAME
    * pair under the SAME term selection and pruned postings as
    * [[lmqlTopK]] (pairs with no matched LM posting keep the pure length
    * penalty — the Σ-over-empty-set reading, left-join + coalesce 0);
    * `dl`/`n_q` are the length normalizers a trainer wants raw.
    *
    * Plan: candidates are k-per-query — every join broadcasts them onto
    * the corpus-sized side (lengths, metadata) or onto index-sized
    * postings; nothing corpus-sized shuffles. The LM leg costs one
    * pair-restricted matched-postings sum, NOT a second retrieval.
    * `SearchSpec` pins lm_fp equality with [[lmqlTopK]] on shared pairs.
    *
    * SERVED, NOT RE-DERIVED: this relation feeds
    * NINE queries (the feature emission itself, the CE rerank + its two
    * eval rows, distillation pairs, preference pairs, and the ingest/
    * streamed forms' eval joins) — at ~3.5–4 s a derivation that was ~30 s
    * of repeated identical work per sweep while `baseTf`/signatures were
    * memoized. It is also the textbook FEATURE LOG: in deployment the
    * trainer and the reranker read the logged table, they don't re-run
    * retrieval — so the store/memo posture here is the honest production
    * shape, not just a bench trick. Resolution order matches every other
    * serving index ([[IndexStore.served]]: the cross-session store built
    * by `graft.tools.IndexBuild` → session spill → derivation);
    * `IndexPersistSpec` pins store ≡ memo. */
  def ltrFeatures(s: SparkSession, d: String): DataFrame =
    IndexStore.served(s, IndexStore.ltrFeatureLog, d)(ltrFeaturesDerive(s, d))

  /** The from-scratch derivation of [[ltrFeatures]] — what
    * `graft.tools.IndexBuild` persists and the session memo spills. */
  private[graft] def ltrFeaturesDerive(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    ltrFeaturesDeriveOn(s, d, bm25IndexDocs(docs), lmIndexDocs(docs))
  }

  /** [[ltrFeaturesDerive]] against caller-supplied member indexes — the
    * form `graft.tools.IndexBuild` drives with the member relations it
    * has ALREADY written, instead of re-deriving both full-corpus indexes
    * a second time inside the same build. */
  private[graft] def ltrFeaturesDeriveOn(s: SparkSession, d: String,
      bmIdx: Bm25Index, lmIdx: LmIndex): DataFrame = {
    val docs = Tables.documents(s, d)
    ltrFeaturesOn(
      docs.filter(col("doc_id") % searchStride === 0)
        .select(col("doc_id"), col("text")),
      bmIdx, lmIdx,
      docs.select(col("doc_id"), col("lang"), col("source")))
  }

  /** Batch form of INGEST-TIME FEATURE LOGGING: arriving docs probe the
    * standing indexes and their feature rows are emitted by the SAME
    * [[ltrFeaturesOn]] definition the training emission uses — the
    * training/serving-skew guard (features logged at serving time are
    * byte-identical to features computed at training-set build time,
    * because they are one definition). The streamed twin
    * ([[graft.streaming.IngestStream]]) runs THIS per micro-batch. */
  def ltrIngestFeatures(s: SparkSession, d: String): DataFrame =
    ltrFeaturesOn(
      Tables.documents(s, d)
        .filter(col("doc_id") % Similarity.knnBatchMod === 7)
        .select(col("doc_id"), col("text")),
      ingestIndex(s, d), lmIngestIndex(s, d),
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")))

  /** [[ltrFeatures]]'s core over arbitrary query docs / indexes / label
    * metadata — ONE definition across the member emission, the batch
    * ingest twin and the streamed logger. */
  private[graft] def ltrFeaturesOn(queryDocs: DataFrame, bmIdx: Bm25Index,
      lmIdx: LmIndex, meta: DataFrame): DataFrame = {
    import graft.ops.Sampling.log2fpSpark
    val hits = Lineage.cut(bm25Probe(queryDocs, bmIdx))
    val terms = Lineage.cut(queryTermsOn(queryDocs, lmIdx.dfr, lmIdx.nDocs, qTerms))
    val nq = terms.groupBy(col("query_id")).agg(count(lit(1)).as("n_q"))
    val pairs = hits.select(col("query_id"), col("neighbor_id").as("doc_id"))
    val lmPairs = lmIdx.postings.join(Hints.broadcastSmall(terms), "token")
      .join(Hints.broadcastSmall(pairs), Seq("query_id", "doc_id"))
      .crossJoin(broadcast(lmIdx.ct))
      .withColumn("c_fp", expr(
        s"${log2fpSpark(s"tf * c_tot + $lmMu * cf")} - ${log2fpSpark(s"$lmMu * cf")}"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c_fp")).as("m_fp"), count(lit(1)).as("lm_terms"))
    Hints.broadcastSmall(hits)
      .join(lmIdx.dlr.select(col("doc_id").as("neighbor_id"), col("dl")), "neighbor_id")
      .join(Hints.broadcastSmall(nq), "query_id")
      .join(Hints.broadcastSmall(lmPairs.select(col("query_id"),
          col("doc_id").as("neighbor_id"), col("m_fp"), col("lm_terms"))),
        Seq("query_id", "neighbor_id"), "left")
      .join(meta.select(col("doc_id").as("query_id"),
        col("lang").as("q_lang"), col("source").as("q_source")), "query_id")
      .join(meta.select(col("doc_id").as("neighbor_id"),
        col("lang").as("n_lang"), col("source").as("n_source")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("score_m"), col("n_terms"),
        (coalesce(col("m_fp"), lit(0L)) - col("n_q") *
          expr(s"${log2fpSpark(s"dl + $lmMu")} - ${log2fpSpark(lmMu.toString)}"))
          .as("lm_fp"),
        coalesce(col("lm_terms"), lit(0L)).as("lm_terms"),
        col("dl"), col("n_q"),
        when(col("n_lang") === col("q_lang") && col("n_source") === col("q_source"), 2L)
          .when(col("n_lang") === col("q_lang"), 1L)
          .otherwise(0L).as("rel"))
  }

  /** INDEX-BUILD DIAGNOSTICS — the posting-mass profile an operator reads
    * before promoting an index: per df-band (band = ⌊log₂ df⌋, the exact
    * fixed-point-log₂ integer both engines compute bit-for-bit), the vocab
    * count, the raw posting mass Σdf, the mass the [[prunePerTerm]] impact
    * cut actually keeps (Σ min(df, cap) — the head bands are where pruning
    * pays; the long df-1 tail is untouched), and the band's max df. Runs
    * entirely on the vocab-sized df relation — index-sized, never
    * corpus-sized, output ≤ 64 rows at any scale. */
  def indexStats(s: SparkSession, d: String): DataFrame =
    indexStatsOfTokenDf(memberIndex(s, d).tokenDf)

  /** [[indexStats]] over any (doc_id, text) frame — exposed for the
    * hand-checked spec. */
  private[graft] def indexStatsDocs(docs: DataFrame): DataFrame =
    indexStatsOfTokenDf(bm25IndexDocs(docs).tokenDf)

  /** The banding aggregation over any (token, df) relation — ONE
    * definition for the served and spec forms. */
  private def indexStatsOfTokenDf(tokenDf: DataFrame): DataFrame = {
    import graft.ops.Sampling.log2fpSpark
    tokenDf
      .withColumn("band", expr(s"(${log2fpSpark("df")}) div 1024"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("df")).as("total_postings"),
        sum(least(col("df"), lit(prunePerTerm.toLong))).as("kept_postings"),
        max(col("df")).as("max_df"))
  }

  /** CROSS-ENCODER-SHAPE RERANK HEAD — one SQL text both engines evaluate
    * (the [[scoreSql]] stance) over the [[ltrFeatures]] pair columns. The
    * weights and saturation knees are a deterministic STUB for the
    * distilled cross-encoder logit (the `decodeStub`/CLIP-head
    * discipline: no learned weights ship in this container); the
    * `least`/`greatest` saturations make the head NON-LINEAR in the
    * features — the structural property separating a cross-encoder logit
    * from the LTR linear blend. Swapping in a real model replaces THIS
    * EXPRESSION with a batched `mapPartitions`/`mapInPandas` inference
    * over the same k-bounded pair relation (per-partition model init, the
    * multimodal-codec shape) and nothing else in the plan moves — which
    * is the entire 100 TB story of cross-encoder reranking: the model
    * only ever sees queries × k candidate rows, never the corpus. */
  private[graft] val ceLogitSql: String =
    "CAST(3 * least(score_m, 20000) + 2 * greatest(lm_fp, -2000000) " +
      "+ 1000 * n_terms - 50 * least(dl, 400) AS BIGINT)"

  /** Second-stage rerank of the member BM25 top-k by the cross-encoder
    * head: one feature pass ([[ltrFeatures]] — the training/serving-skew
    * guard extends to the RERANKER: the features the head scores are
    * byte-identical to the features the trainer logged), logit per pair,
    * re-rank window over ≤[[topK]] rows per query. Emits the before/after
    * ranks plus the graded label, so the rank movement is auditable
    * row-for-row against `x_search_ce_ndcg`'s quality readout. */
  def ceRerank(s: SparkSession, d: String): DataFrame =
    ceRerankOf(ltrFeatures(s, d))

  /** Ingest-serving twin: the same head over the standing/arriving split
    * ([[ltrIngestFeatures]]) — what the streamed reranker runs per
    * micro-batch. */
  def ceIngestRerank(s: SparkSession, d: String): DataFrame =
    ceRerankOf(ltrIngestFeatures(s, d))

  /** [[ceRerank]]'s core over any [[ltrFeaturesOn]] relation — ONE
    * definition across the member form, the batch ingest twin and the
    * streamed serving reranker. */
  private[graft] def ceRerankOf(feat: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ce_fp").desc, col("neighbor_id").asc)
    feat
      .withColumn("ce_fp", expr(ceLogitSql))
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("bm25_rnk"),
        col("score_m"), col("lm_fp"), col("ce_fp"), col("rel"))
      .withColumn("ce_rnk", row_number().over(w).cast("long"))
  }

  /** nDCG of the cross-encoder ranking — the eval matrix's THIRD scorer
    * row, through the SAME labels, discount table and cutoff as the BM25
    * and LM evals ([[ndcgOf]] — only the ranking differs), so the
    * three-way quality comparison is row-for-row meaningful. */
  def ceNdcgEval(s: SparkSession, d: String): DataFrame =
    ndcgOf(ceRerank(s, d)
      .select(col("query_id"), col("ce_rnk").as("rnk"), col("rel")))

  /** MRR/P@k of the cross-encoder ranking — the eval matrix's last cell
    * (THREE scorers × graded/binary metrics, every cell through one
    * labeling and one aggregation per metric family). */
  def ceMrrEval(s: SparkSession, d: String): DataFrame =
    mrrOf(ceRerank(s, d)
      .select(col("query_id"), col("ce_rnk").as("rnk"), col("rel")))

  /** DISTILLATION PAIR EMISSION — the Margin-MSE training rows a
    * bi-encoder student distills from the cross-encoder teacher (the
    * ceLogitSql scaladoc's "distillation target", now emitted as actual
    * training data): per query, the teacher's top-1 candidate paired with
    * every other candidate, carrying the TEACHER margin (ce_fp⁺ − ce_fp⁻,
    * the regression target) and the student-visible signal deltas. Unlike
    * [[ltrPairs]] this needs NO human/graded labels — the teacher's own
    * scores supervise, which is why distillation is the scalable way to
    * train retrieval models. k−1 rows per query, broadcast-joined off the
    * cut rerank relation — candidate-budget-priced at any corpus size. */
  def distillPairs(s: SparkSession, d: String): DataFrame = {
    val f = Lineage.cut(ceRerank(s, d))
    val pos = f.filter(col("ce_rnk") === 1)
      .select(col("query_id"), col("neighbor_id").as("pos_id"),
        col("ce_fp").as("pos_ce"), col("score_m").as("pos_score_m"),
        col("lm_fp").as("pos_lm_fp"))
    f.filter(col("ce_rnk") > 1)
      .select(col("query_id"), col("neighbor_id").as("neg_id"),
        col("ce_fp").as("neg_ce"), col("score_m").as("neg_score_m"),
        col("lm_fp").as("neg_lm_fp"))
      .join(Hints.broadcastSmall(pos), "query_id")
      .select(col("query_id"), col("pos_id"), col("neg_id"),
        (col("pos_ce") - col("neg_ce")).as("ce_margin_fp"),
        (col("pos_score_m") - col("neg_score_m")).as("d_score_m"),
        (col("pos_lm_fp") - col("neg_lm_fp")).as("d_lm_fp"))
  }

  /** PAIRWISE PREFERENCE PAIRS from the [[ltrFeatures]] relation — the
    * RankNet/LambdaRank training input: per query, every (better, worse)
    * candidate pair under the graded labels, carrying the signal deltas a
    * pairwise objective consumes. The self-join runs on the k-per-query
    * feature relation (cut once, both sides read the same blocks), so the
    * output is ≤ k² rows per query no matter the corpus size — training-
    * pair emission is priced by the candidate budget, never by the
    * collection. */
  def ltrPairs(s: SparkSession, d: String): DataFrame = {
    val f = Lineage.cut(ltrFeatures(s, d))
    val a = f.select(col("query_id"), col("neighbor_id").as("pos_id"),
      col("rel").as("pos_rel"), col("score_m").as("a_score"),
      col("lm_fp").as("a_lm"), col("rnk").as("a_rnk"))
    val b = f.select(col("query_id"), col("neighbor_id").as("neg_id"),
      col("rel").as("neg_rel"), col("score_m").as("b_score"),
      col("lm_fp").as("b_lm"), col("rnk").as("b_rnk"))
    a.join(Hints.broadcastSmall(b), "query_id")
      .filter(col("pos_rel") > col("neg_rel"))
      .select(col("query_id"), col("pos_id"), col("neg_id"),
        col("pos_rel"), col("neg_rel"),
        (col("a_score") - col("b_score")).as("d_score_m"),
        (col("a_lm") - col("b_lm")).as("d_lm_fp"),
        (col("a_rnk") - col("b_rnk")).as("d_rnk"))
  }

  /** SCORER A/B DIFF — the number an operator reads when the two lexical
    * families ([[bm25TopK]] vs [[lmqlTopK]]) serve off one snapshot
    * build: per query, the top-k overlap, each side's exclusive hits, the
    * max rank displacement among shared hits, and whether the two agree
    * on the #1 answer. The [[rankChurn]] shape applied across SCORERS
    * instead of index versions. Both rankings are k-per-query relations;
    * the full-outer join and the aggregation run on ≤2k rows per query —
    * the probes are the only corpus-touching work, and both read the one
    * shared tokenization convention (same term selection, same pruned-
    * posting discipline). */
  def scorerDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val q = docs.filter(col("doc_id") % searchStride === 0)
      .select(col("doc_id"), col("text"))
    val bm = bm25Probe(q, memberIndex(s, d))
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("bm_rnk"))
    val lm = lmqlProbe(q, lmMemberIndex(s, d))
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("lm_rnk"))
    val both = col("bm_rnk").isNotNull && col("lm_rnk").isNotNull
    bm.join(lm, Seq("query_id", "neighbor_id"), "full_outer")
      .groupBy(col("query_id"))
      .agg(
        count(when(both, 1)).as("n_common"),
        count(when(col("bm_rnk").isNotNull && col("lm_rnk").isNull, 1)).as("n_bm_only"),
        count(when(col("lm_rnk").isNotNull && col("bm_rnk").isNull, 1)).as("n_lm_only"),
        coalesce(max(when(both, abs(col("bm_rnk") - col("lm_rnk")))), lit(0L))
          .as("max_shift"),
        max(when(col("bm_rnk") === 1, col("neighbor_id"))).as("bm_top1"),
        max(when(col("lm_rnk") === 1, col("neighbor_id"))).as("lm_top1"))
      .select(col("query_id"), col("n_common"), col("n_bm_only"),
        col("n_lm_only"), col("max_shift"),
        when(col("bm_top1") === col("lm_top1"), 1L).otherwise(0L).as("top1_agree"))
  }

  /** INCREMENTAL INDEX MERGE — fold an arriving slice into a stored index
    * WITHOUT re-tokenizing the standing corpus, the maintenance job that
    * keeps a 100 TB index current: a full rebuild re-reads and re-tokenizes
    * every byte ever ingested (the dominant cost — the raw text is orders
    * of magnitude larger than the index), while the fold below touches the
    * base corpus only through its stored TF STATE.
    *
    * The state algebra: with DISJOINT doc sets (standing `% 10 ≠ 7` vs
    * arriving `% 10 = 7`, the ingest convention), the raw (doc_id, token,
    * tf) relation of the union is literally the UNION of the slices' tf
    * relations — no combine step at all — and every derived quantity
    * (df = per-token row count, dl = per-doc sum, avgdl, n_docs) is an
    * aggregation OVER tf, so deriving them from the merged state is
    * postings-sized work, never corpus-text work. Impacts and the
    * [[prunePerTerm]] cut are then recomputed through the SAME
    * [[indexFromState]] the from-scratch build uses — necessarily so,
    * because a new document shifts df/avgdl and therefore EVERY term score
    * (an index merge that kept stale base impacts would serve subtly wrong
    * rankings; this one cannot, `SearchSpec` pins postings-set equality
    * with the full rebuild). Emits the merged pruned postings.
    *
    * The base TF state is spilled once per session ([[SpillMemo]]
    * read-back semantics — in production it IS the stored index layout,
    * [[IndexStore]]-shaped); the full-corpus doc count is a parquet
    * metadata read, not a scan. */
  def indexMerge(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tfBase = SpillMemo.spill(s, "basetf", d)(
      tokens(docs.filter(col("doc_id") % Similarity.knnBatchMod =!= 7))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")))
    val tfDelta = tokens(docs.filter(col("doc_id") % Similarity.knnBatchMod === 7))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val tf = tfBase.unionAll(tfDelta)
    indexFromState(tf, docs.agg(count(lit(1)).as("n_docs"))).postings
      .select(col("token"), col("doc_id"), col("imp_m"))
  }

  /** RANK CHURN between index versions — the serving diff an index
    * deployment reads before promoting a rebuild/merge: for each member
    * query, how its top-[[topK]] under the NEW index (full corpus — what
    * [[indexMerge]] produces, postings-equality pinned by `SearchSpec`)
    * differs from the top-k under the STANDING index ([[ingestIndex]] —
    * the lineage-cut/store-backed serving index the ingest twins probe).
    * Per query: hits in both (`n_common`), dropped (`n_lost`), newly
    * surfaced (`n_gained`), and the largest rank move among survivors
    * (`max_shift`). Term selection runs per index version (df shifts move
    * the tf·N/df cut too — a churn tool that froze terms would understate
    * the diff). Zero-churn queries report (k, 0, 0, 0) — the promote
    * signal.
    *
    * Plan: two probes over two indexes (the differential cost IS the
    * operator; the standing side reuses the session's cut/store-backed
    * relations), then a full-outer join of two k-per-query relations —
    * dashboard-sized at any corpus scale — and one ≤k-row-per-query
    * aggregation. */
  def rankChurn(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val q = docs.filter(col("doc_id") % searchStride === 0)
      .select(col("doc_id"), col("text"))
    val old = bm25Probe(q, ingestIndex(s, d))
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
    val neu = bm25Probe(q, memberIndex(s, d))
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("rnk2"))
    old.join(neu, Seq("query_id", "neighbor_id"), "full_outer")
      .groupBy(col("query_id"))
      .agg(
        count(when(col("rnk").isNotNull && col("rnk2").isNotNull, 1)).as("n_common"),
        count(when(col("rnk2").isNull, 1)).as("n_lost"),
        count(when(col("rnk").isNull, 1)).as("n_gained"),
        coalesce(max(when(col("rnk").isNotNull && col("rnk2").isNotNull,
          abs(col("rnk") - col("rnk2")))), lit(0L)).as("max_shift"))
  }

  /** nDCG@k over the member BM25 ranking — the GRADED ranking metric an
    * IR deployment tracks per release (the [[hybridEval]] diagnostics
    * count overlaps; this scores ORDER quality). Relevance labels are
    * deterministic metadata agreement (the house derived-workload
    * convention, standing in for human judgments): a hit sharing the
    * query document's lang AND source grades 2, lang alone 1, else 0.
    * DCG's 1/log₂(rank+1) discount is the fixed-point
    * [[Sampling.log2fpSpark]] device — each position contributes
    * `rel·10⁶ div log2fp(rank+1)`, an exact integer in both engines — and
    * nDCG is the basis-point ratio against the ideal (re-sorted) ordering
    * of the SAME graded hits. Per query: dcg_fp, idcg_fp, ndcg_bp
    * (10000 = perfect order; 0 when nothing relevant retrieved).
    *
    * Plan: metadata joins carry the k-per-query hit relation; the ideal
    * re-rank window holds ≤ [[topK]] rows per query. */
  def ndcgEval(s: SparkSession, d: String): DataFrame =
    ndcgOf(gradedMemberHits(s, d))

  /** nDCG of the LM ranking under the SAME graded labels — the QUALITY
    * half of the scorer A/B ([[scorerDiff]] measures where the two
    * rankings disagree; this measures which side of the disagreement is
    * better): per-query ndcg_bp directly comparable row-for-row with
    * `x_search_ndcg`, because workload, labels, discount table and
    * cutoff are all shared — only the ranking differs. */
  def lmNdcgEval(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    ndcgOf(gradedHitsOf(docs, lmMemberHits(s, d)))
  }

  /** The nDCG aggregation over any graded (query_id, rnk, rel) relation —
    * one discount/ideal definition across every evaluated ranking. */
  private def ndcgOf(graded: DataFrame): DataFrame = {
    import graft.ops.Sampling.log2fpSpark
    val ideal = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("rnk").asc)
    graded
      .withColumn("irnk", row_number().over(ideal).cast("long"))
      .groupBy(col("query_id"))
      .agg(
        sum(expr(s"rel * 1000000 div ${log2fpSpark("rnk + 1")}")).as("dcg_fp"),
        sum(expr(s"rel * 1000000 div ${log2fpSpark("irnk + 1")}")).as("idcg_fp"))
      .select(col("query_id"), col("dcg_fp"), col("idcg_fp"),
        when(col("idcg_fp") === 0L, 0L)
          .otherwise(expr("dcg_fp * 10000 div idcg_fp")).as("ndcg_bp"))
  }

  /** The member BM25 top-k graded by the deterministic metadata-agreement
    * labels ([[ndcgEval]]'s convention) — (query_id, rnk, rel), shared by
    * the graded (nDCG) and binary (MRR/P@k) metric queries so both score
    * the SAME ranking under the SAME labels. */
  private def gradedMemberHits(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    gradedHitsOf(docs,
      bm25Probe(
        docs.filter(col("doc_id") % searchStride === 0)
          .select(col("doc_id"), col("text")),
        memberIndex(s, d))
        .select(col("query_id"), col("neighbor_id"), col("rnk")))
  }

  /** Grade any (query_id, neighbor_id, rnk) hit relation by the
    * metadata-agreement labels — ONE labeling across every evaluated
    * ranking. */
  private def gradedHitsOf(docs: DataFrame, hits: DataFrame): DataFrame = {
    val meta = docs.select(col("doc_id"), col("lang"), col("source"))
    hits
      .join(meta.select(col("doc_id").as("query_id"),
        col("lang").as("q_lang"), col("source").as("q_source")), "query_id")
      .join(meta.select(col("doc_id").as("neighbor_id"),
        col("lang").as("n_lang"), col("source").as("n_source")), "neighbor_id")
      .select(col("query_id"), col("rnk"),
        when(col("n_lang") === col("q_lang") && col("n_source") === col("q_source"), 2L)
          .when(col("n_lang") === col("q_lang"), 1L)
          .otherwise(0L).as("rel"))
  }

  /** MRR + P@k over the member BM25 ranking — the BINARY companion of
    * [[ndcgEval]] (first-relevant position and hit density, the two
    * numbers a search dashboard reads next to order quality). A hit is
    * relevant when its graded label ≥ 1 (lang agreement). Per query:
    * first_rel_rnk (0 when nothing relevant), rr_fp = 10⁶ div
    * first_rel_rnk (fixed-point reciprocal rank — exact integers, the
    * [[rrfK]] device), n_rel, and p_at_k_bp = n_rel·10⁴ div [[topK]]
    * (P@k against the FULL cutoff k, the standard convention — short
    * result lists score honestly low). One aggregation over the
    * k-per-query graded relation; corpus-sized work is the shared probe. */
  def mrrEval(s: SparkSession, d: String): DataFrame =
    mrrOf(gradedMemberHits(s, d))

  /** MRR/P@k of the LM ranking — completes the eval MATRIX (two scorers ×
    * graded/binary metrics), every cell through one labeling
    * ([[gradedHitsOf]]) and one aggregation per metric family. */
  def lmMrrEval(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    mrrOf(gradedHitsOf(docs, lmMemberHits(s, d)))
  }

  /** The binary-metric aggregation over any graded (query_id, rnk, rel)
    * relation — the MRR twin of [[ndcgOf]]. */
  private def mrrOf(graded: DataFrame): DataFrame =
    graded
      .groupBy(col("query_id"))
      .agg(
        coalesce(min(when(col("rel") >= 1L, col("rnk"))), lit(0L)).as("first_rel_rnk"),
        count(when(col("rel") >= 1L, 1)).as("n_rel"))
      .select(col("query_id"), col("first_rel_rnk"),
        when(col("first_rel_rnk") === 0L, 0L)
          .otherwise(expr("1000000 div first_rel_rnk")).as("rr_fp"),
        col("n_rel"),
        expr(s"n_rel * 10000 div $topK").as("p_at_k_bp"))

  /** The member LM top-k hit relation — shared by the graded and binary
    * LM eval queries exactly as the BM25 member probe backs theirs. */
  private def lmMemberHits(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    lmqlProbe(
      docs.filter(col("doc_id") % searchStride === 0)
        .select(col("doc_id"), col("text")),
      lmMemberIndex(s, d))
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Spellfix workload width and suggestion depth. */
  private[graft] val sfProbes = 5
  private[graft] val sfTopN = 3

  /** SPELLING CORRECTION for search ("did you mean") — SymSpell's
    * deletion-neighborhood scheme (Garbe's symmetric delete; the design
    * behind production spell indexes): two terms within edit distance 1
    * necessarily share a single-deletion variant (or one IS a variant of
    * the other), so candidate generation is an EQUI-JOIN on deletion
    * variants — never a probe × vocabulary cross product with a distance
    * UDF, the thing that cannot scale past toy vocabularies. Candidates
    * are then verified with the exact `levenshtein` (built into BOTH
    * engines — deterministic integers) and ranked (distance asc,
    * popularity desc, term asc), top [[sfTopN]] per probe.
    *
    * The probe workload is derived (the house deterministic-workload
    * convention): the [[sfProbes]] most frequent ≥3-char tokens, each
    * mutated by dropping its second character — realistic typos with a
    * known intended target.
    *
    * Plan: the variant fan-out is an in-row transform over the
    * VOCAB-SIZED tf relation (≤ |term|+1 variants each); probe variants
    * are a ≤ [[sfProbes]]·(|term|+1)-row broadcast; the verify filter
    * touches only equi-join survivors (bounded by alphabet·length per
    * probe, corpus-size-independent); the final rank window holds that
    * bounded set per probe. */
  def spellfix(s: SparkSession, d: String): DataFrame =
    spellfixDocs(Tables.documents(s, d))

  /** [[spellfix]]'s core over any (doc_id, text) frame (exposed for the
    * hand-checked spec). */
  private[graft] def spellfixDocs(docs: DataFrame): DataFrame = {
    val tf = tokens(docs).groupBy(col("token")).agg(count(lit(1)).as("n"))
    def variants(t: String) = expr(
      s"array_append(transform(sequence(1, length($t)), " +
        s"i -> concat(substring($t, 1, i - 1), substring($t, i + 1))), $t)")
    val probes = tf.filter(length(col("token")) >= 3)
      .orderBy(col("n").desc, col("token").asc).limit(sfProbes)
      .select(concat(substring(col("token"), 1, 1), expr("substring(token, 3)"))
        .as("probe"))
    val pv = probes
      .select(col("probe"), explode(variants("probe")).as("v"))
    val vv = tf
      .select(col("token"), col("n"), explode(variants("token")).as("v"))
    val cand = vv.join(broadcast(pv), "v")
      .select(col("probe"), col("token"), col("n")).distinct()
      .withColumn("dist", expr("levenshtein(probe, token)").cast("long"))
      .filter(col("dist") <= 1)
    val rank = Window.partitionBy(col("probe"))
      .orderBy(col("dist").asc, col("n").desc, col("token").asc)
    cand.withColumn("rnk", row_number().over(rank).cast("long"))
      .filter(col("rnk") <= sfTopN)
      .select(col("probe"), col("token").as("suggestion"), col("dist"),
        col("n"), col("rnk"))
  }

  /** Autocomplete workload: prefixes up to [[acMaxPrefix]] chars, top
    * [[acTopN]] completions each — TUNABLEs shared with the oracle. */
  private[graft] val acMaxPrefix = 4
  private[graft] val acTopN = 3

  /** SEARCH AUTOCOMPLETION INDEX — the type-ahead table a search box
    * serves from: for every token prefix (1..[[acMaxPrefix]] chars), the
    * [[acTopN]] most frequent completions with their corpus occurrence
    * counts and ranks. Completion popularity is occurrence (not document)
    * frequency — the signal a suggest box actually ranks by.
    *
    * Plan / 100 TB story: one tokenization collapses to the vocab-sized
    * tf relation FIRST (occurrences never fan out — the ×[[acMaxPrefix]]
    * prefix explode runs over distinct tokens, not the corpus); the
    * per-prefix head is the bounded-heap
    * [[graft.functions.TopK.Cut]] (count desc, token asc — map-side
    * heaps of [[acTopN]], never a per-prefix window sort: a popular
    * 1-char prefix's completion list is vocabulary-sized, the same
    * skewed-key trap the vocab/ngram heads also avoid). Serving
    * reads the result as a static broadcast table. */
  def autocomplete(s: SparkSession, d: String): DataFrame =
    autocompleteDocs(Tables.documents(s, d))

  /** [[autocomplete]]'s core over any (doc_id, text) frame (exposed for
    * the hand-checked spec). */
  private[graft] def autocompleteDocs(docs: DataFrame): DataFrame = {
    val tf = tokens(docs)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val top = tf
      .select(explode(expr(
        s"transform(sequence(1, least(length(token), $acMaxPrefix)), " +
          "p -> substring(token, 1, p))")).as("prefix"),
        col("token"), col("n"))
      .groupBy(col("prefix"))
      .agg(TopK.cut(acTopN, TopKOrder.countKeyed).apply(col("n"), col("token")).as("top"))
    TopK.ranked(top, "top",
      col("prefix"), col("t.key").as("token"), col("t.c").as("n"), col("rnk"))
  }

  /** Snippet window width (tokens). */
  private[graft] val snipW = 8

  /** Snippet extraction — the results-presentation step of the retrieval
    * stack: for each member query's top-[[fbDocs]] BM25 hits, the best
    * [[snipW]]-token window of the hit document (the window containing
    * the most query-term occurrences; earliest window on ties) plus its
    * 1-based start position and hit count. Window scoring is strictly
    * IN-ROW (a higher-order sliding sum over the token array — no
    * explode, no shuffle); the only joins carry the k-per-query hit
    * relation and the per-query sorted term arrays, both
    * dashboard-sized, onto one pass over the hit documents' text. */
  def snippetSearch(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val idx = memberIndex(s, d)
    val qdocs = docs.filter(col("doc_id") % searchStride === 0)
      .select(col("doc_id"), col("text"))
    val terms = Lineage.cut(queryTerms(qdocs, idx))
    val hits = probeTerms(terms, idx)
      .filter(col("rnk") <= fbDocs)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
    val qarr = terms.groupBy(col("query_id"))
      .agg(sort_array(collect_list(col("token"))).as("qts"))
    hits
      .join(Hints.broadcastSmall(qarr), "query_id")
      .join(docs.select(col("doc_id"), split(col("text"), " ").as("w")),
        col("neighbor_id") === col("doc_id"))
      .withColumn("hitsb", expr(
        "transform(w, t -> CASE WHEN array_contains(qts, t) THEN 1 ELSE 0 END)"))
      .withColumn("n_win", expr(s"greatest(size(w) - $snipW + 1, 1)"))
      .withColumn("scores", expr(
        s"transform(sequence(1, n_win), i -> aggregate(slice(hitsb, i, $snipW), 0, (a, x) -> a + x))"))
      .withColumn("win_start",
        expr("CAST(array_position(scores, array_max(scores)) AS BIGINT)"))
      .withColumn("n_win_hits", expr("CAST(array_max(scores) AS BIGINT)"))
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("win_start"), col("n_win_hits"),
        expr(s"array_join(slice(w, CAST(win_start AS INT), $snipW), ' ')").as("snippet"))
  }

  /** Pseudo-relevance-feedback depth and expansion width (the RM3 shape,
    * Lavrenko & Croft's relevance models as deployed in Anserini/Indri:
    * expand the query with terms mined from the first round's top
    * documents, then search again). */
  private[graft] val fbDocs = 3
  private[graft] val fbTerms = 3

  /** RM3-style query expansion over the member queries: round 1 is the
    * plain BM25 search; the [[fbDocs]] top documents per query act as
    * pseudo-relevant feedback; expansion candidates are their terms
    * weighted by feedback-tf × rarity (exact integer
    * `(Σ tf · 10⁶) div df`), original query terms excluded (anti-join);
    * the [[fbTerms]] best join the original terms and round 2 re-probes
    * the SAME pruned index with the expanded set. Everything between the
    * two probes runs over dashboard-sized relations (k docs per query →
    * their forward-index rows → a per-query window over ≤ |feedback
    * vocab|); the forward (doc → term) relation is derived once here —
    * feedback mining needs doc-major access the impact-PRUNED postings
    * deliberately no longer provide. */
  def rm3Search(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    rm3Probe(
      docs.filter(col("doc_id") % searchStride === 0)
        .select(col("doc_id"), col("text")),
      memberIndex(s, d), memberForward(s, d))
  }

  /** Forward index (doc_id, token, tf) for feedback-term mining — the
    * doc-major access path the impact-PRUNED postings deliberately no
    * longer provide. */
  private[graft] def forwardIndex(corpusDocs: DataFrame): DataFrame =
    tokens(corpusDocs)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))

  /** The two-round RM3 probe — ONE definition shared by the member form,
    * the batch ingest twin and the streamed twin: round-1 probe, feedback
    * mining against the forward relation, exact-integer expansion-term
    * ranking, round-2 probe with the widened set. Per-query independent ⇒
    * batching-invariant. */
  private[graft] def rm3Probe(
      queryDocs: DataFrame, idx: Bm25Index, fwd: DataFrame): DataFrame = {
    val terms = Lineage.cut(queryTerms(queryDocs, idx))
    val fb = probeTerms(terms, idx)
      .filter(col("rnk") <= fbDocs)
      .select(col("query_id"), col("neighbor_id"))
    val expW = Window.partitionBy(col("query_id"))
      .orderBy(col("exp_s").desc, col("token").asc)
    val expansion = fb
      .join(fwd, fb("neighbor_id") === fwd("doc_id"))
      .groupBy(col("query_id"), col("token")).agg(sum(col("tf")).as("ftf"))
      .join(idx.tokenDf, "token")
      .withColumn("exp_s", expr("CAST((ftf * 1000000) div df AS BIGINT)"))
      .join(terms, Seq("query_id", "token"), "left_anti")
      .withColumn("erk", row_number().over(expW))
      .filter(col("erk") <= fbTerms)
      .select(col("query_id"), col("token"))
    probeTerms(terms.unionByName(expansion), idx)
  }

  /** The MEMBER (full-corpus) forward relation — the doc-major access
    * path of the member RM3 feedback mining, the boolean filter and the
    * maxsim late-interaction rerank. Store-served when the [[IndexStore]]
    * carries `bm25_member_forward`; the fallback derivation is
    * unchanged. */
  private[graft] def memberForward(s: SparkSession, d: String): DataFrame =
    IndexStore.read(s, IndexStore.bm25MemberForward, d)
      .getOrElse(forwardIndex(Tables.documents(s, d)))

  /** The standing corpus's forward relation, lineage-cut — RM3 feedback
    * mining's doc-major access path, and the relation
    * [[graft.tools.IndexBuild]] persists as `bm25_forward`. */
  private[graft] def standingForward(s: SparkSession, d: String): DataFrame =
    Lineage.cut(forwardIndex(Tables.documents(s, d)
      .filter(col("doc_id") % Similarity.knnBatchMod =!= 7)))

  /** The static relations for RM3 serving at ingest: the pruned lexical
    * index plus the standing corpus's forward relation, all lineage-cut
    * once (or read from the persisted layout under an [[IndexStore]]). */
  private[graft] def rm3IngestIndex(
      s: SparkSession, d: String): (Bm25Index, DataFrame) = {
    val idx = ingestIndex(s, d)
    val fwd = IndexStore.read(s, IndexStore.bm25Forward, d)
      .getOrElse(standingForward(s, d))
    (idx, fwd)
  }

  /** Batch form of RM3 serving at ingest: arriving docs (`% 10 = 7`)
    * run the two-round expanded search against the standing index and
    * forward relation. */
  def rm3IngestSearch(s: SparkSession, d: String): DataFrame = {
    val (idx, fwd) = rm3IngestIndex(s, d)
    rm3Probe(
      Tables.documents(s, d)
        .filter(col("doc_id") % Similarity.knnBatchMod === 7)
        .select(col("doc_id"), col("text")),
      idx, fwd)
  }

  /** Hybrid lexical+semantic retrieval: RRF of the BM25 ranking and the
    * exact cosine ranking for the query ids present in BOTH tables. The
    * fused relation is ≤ 2k rows per query (two already-top-k legs), so
    * the final cut is a plain window — no corpus-sized work after the two
    * searches. At 100 TB the dense leg swaps to the graph-ANN search
    * (same (query_id, neighbor_id, rnk) contract); the brute leg here
    * keeps the graded form exactly oracle-checkable. */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val (textLeg, vecLeg) = memberLegs(s, d)
    fuseRrf(textLeg, vecLeg)
  }

  /** The member hybrid's two legs — shared by [[hybridRrf]] and the
    * [[hybridEval]] diagnostics so the evaluated legs ARE the served
    * legs. */
  private def memberLegs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
    val qids = Tables.embeddings(s, d).select(col("vec_id"))
      .filter(col("vec_id") % searchStride === 0)
      .join(Hints.broadcastSmall(
        docs.select(col("doc_id")).filter(col("doc_id") % searchStride === 0)),
        col("vec_id") === col("doc_id"), "left_semi")
      .select(col("vec_id").as("qid"))
    // lexical leg
    val qdocs = docs
      .join(Hints.broadcastSmall(qids), col("doc_id") === col("qid"), "left_semi")
      .select(col("doc_id"), col("text"))
    val textLeg = bm25Probe(qdocs, memberIndex(s, d))
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
    // dense leg — the x_sim_topk_brute pipeline over the hybrid query set
    val c = Similarity.corpus(s, d)
    val qv = c.join(Hints.broadcastSmall(qids), col("vec_id") === col("qid"), "left_semi")
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    (textLeg, denseProbe(qv, c))
  }

  /** Retrieval-tier diagnostics — the `x_sim_eval_rank` analogue for the
    * hybrid stack: per query, how much the two legs agree (top-k overlap)
    * and where the FUSED top-k actually came from (both legs / lexical
    * only / dense only). The number a hybrid deployment watches: overlap
    * ≈ k means one leg is redundant; fused_dense_only ≈ 0 means the dense
    * index isn't contributing. All joins run over already-top-k relations
    * (≤ k rows per query per leg) — dashboard-sized at any corpus size;
    * the legs are lineage-cut so the four readers share one search each. */
  def hybridEval(s: SparkSession, d: String): DataFrame = {
    val (textLeg0, vecLeg0) = memberLegs(s, d)
    val tl = Lineage.cut(textLeg0)
    val vl = Lineage.cut(vecLeg0)
    val fused = fuseRrf(tl, vl)
    val nT = tl.groupBy(col("query_id")).agg(count(lit(1)).as("n_text"))
    val nD = vl.groupBy(col("query_id")).agg(count(lit(1)).as("n_dense"))
    val nC = tl.join(vl, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    val prov = fused
      .join(tl.select(col("query_id"), col("neighbor_id"), lit(1L).as("in_text")),
        Seq("query_id", "neighbor_id"), "left")
      .join(vl.select(col("query_id"), col("neighbor_id"), lit(1L).as("in_dense")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("in_text").isNotNull && col("in_dense").isNotNull, 1L)
          .otherwise(0L)).as("fused_both"),
        sum(when(col("in_text").isNotNull && col("in_dense").isNull, 1L)
          .otherwise(0L)).as("fused_text_only"),
        sum(when(col("in_text").isNull && col("in_dense").isNotNull, 1L)
          .otherwise(0L)).as("fused_dense_only"))
    nT.join(nD, Seq("query_id"), "full_outer")
      .join(nC, Seq("query_id"), "full_outer")
      .join(prov, Seq("query_id"), "full_outer")
      .na.fill(0L, Seq("n_text", "n_dense", "n_common",
        "fused_both", "fused_text_only", "fused_dense_only"))
  }

  /** Brute-cosine top-k of `qv` (query_id, qv) against a corpus
    * (vec_id, v) — the dense leg, shared by the member hybrid, the batch
    * ingest hybrid and its streamed twin. */
  private[graft] def denseProbe(qv: DataFrame, corpusC: DataFrame): DataFrame =
    TopK.topK(
      corpusC.join(broadcast(qv), col("vec_id") =!= col("query_id"))
        .withColumn("score", expr("cosine_sim(qv, v)"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("score")),
      "query_id", "score", "neighbor_id", topK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))

  /** Late-interaction token-vector dimensionality ([[simSql]]). */
  private[graft] val maxsimDims = 8

  /** One (query-token, doc-token) similarity — IDENTICAL text in the
    * Spark plan and the DuckDB twin (the [[scoreSql]] stance): the dot
    * product of two [[maxsimDims]]-dim DETERMINISTIC hash-projection
    * token vectors (the centered ascii codes of the token's md5 head —
    * both engines emit the same 32-char lowercase hex, the same parity
    * every hash-ordered draw in this repo already rests on). The vector
    * function is the swappable stand-in (a deployment plugs its model's
    * token embeddings — the multimodal-codec stance); what the operator
    * builds and prices is the MaxSim CONTRACT: per-token vectors,
    * max-over-doc-tokens per query term, sum over query terms. Integer
    * throughout — 8 products of values in [-32, 47] — so the score is
    * oracle-exact. */
  private[graft] def simSql(a: String, b: String): String =
    "CAST(" + (1 to maxsimDims).map(i =>
      s"(ascii(substring(md5($a), $i, 1)) - 80) * " +
        s"(ascii(substring(md5($b), $i, 1)) - 80)").mkString(" + ") +
      " AS BIGINT)"

  /** [[simSql]] over PRE-HASHED tokens (columns already `md5(token)`), so
    * the plan hashes once per token ROW instead of twice per (query-token,
    * doc-token) PAIR — the pair relation is the probe's largest (the
    * |doc tokens| fan-out rides it), and substring+ascii on a 32-char
    * column is whole-stage-codegen cheap where repeated md5 is not.
    * Value-identical to [[simSql]] (same hex, same arithmetic), which is
    * why the oracle keeps the inline-md5 text. */
  private def simOnHashSql(a: String, b: String): String =
    "CAST(" + (1 to maxsimDims).map(i =>
      s"(ascii(substring($a, $i, 1)) - 80) * " +
        s"(ascii(substring($b, $i, 1)) - 80)").mkString(" + ") +
      " AS BIGINT)"

  /** LATE-INTERACTION RERANK (`x_search_maxsim`) — the ColBERT-shape
    * second stage a modern retrieval stack runs over its first-stage
    * candidates: score(q, d) = Σ_{t ∈ q} max_{u ∈ d} sim(t, u), computed
    * ONLY for the BM25 top-[[topK]] candidates of each query (first
    * stage recalls, late interaction re-orders — the published two-stage
    * contract, and what bounds the cost). Completes the ladder: sparse
    * BM25 → dense cosine → RRF hybrid → late interaction.
    *
    * Plan: the (candidate × query-term) relation is dashboard-sized
    * (queries · k · [[qTerms]]) and BROADCASTS onto the doc-major forward
    * relation, so the corpus-sized side is never shuffled and only
    * candidate documents' tokens survive the hash join; the max/sum
    * aggregations then work ≤ queries · k · qTerms · |doc tokens| rows,
    * and the rerank window partitions per query over ≤ k rows. At 100 TB
    * the forward relation is the persisted [[forwardIndex]] artifact
    * ([[graft.ops.IndexStore]] serves it), and everything after the scan
    * is candidate-bounded. */
  private[graft] def maxsimProbe(
      queryDocs: DataFrame, idx: Bm25Index, fwd: DataFrame): DataFrame = {
    val qterms = Lineage.cut(queryTerms(queryDocs, idx))
    // cands has ONE consumer (the qside broadcast build computes it in a
    // single pass), so it rides lazily — the eager cut here was one more
    // driver barrier per probe for nothing (r19, §5).
    val cands = probeTerms(qterms, idx)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
    // qterms is a cut (ExistingRDD — no size stats), so without the hint
    // the planner gave this queries·qTerms-row join a SortMergeJoin: two
    // exchanges + two sorts INSIDE the broadcast build, per probe (§3.1 —
    // hint when you know a side is small; conf-gated like every
    // query-sized broadcast).
    val qside = cands.join(
      Hints.broadcastSmall(qterms.withColumnRenamed("token", "qtok")),
      "query_id")
      .withColumn("qh", md5(col("qtok")))
    val pairs = fwd
      .select(col("doc_id"), md5(col("token")).as("dh"))
      .join(Hints.broadcastSmall(qside), col("doc_id") === col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("maxsim_score").desc, col("neighbor_id").asc)
    pairs
      .withColumn("s", expr(simOnHashSql("qh", "dh")))
      .groupBy(col("query_id"), col("neighbor_id"), col("rnk"), col("qtok"))
      .agg(max(col("s")).as("ms"))
      .groupBy(col("query_id"), col("neighbor_id"), col("rnk"))
      .agg(sum(col("ms")).cast("long").as("maxsim_score"))
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("bm25_rnk"),
        col("maxsim_score"))
      .withColumn("mrnk", row_number().over(w).cast("long"))
  }

  /** Member form: strided query docs rerank against the full-corpus index
    * and forward relation. */
  def maxsimRerank(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    maxsimProbe(
      docs.filter(col("doc_id") % searchStride === 0)
        .select(col("doc_id"), col("text")),
      memberIndex(s, d), memberForward(s, d))
  }

  /** Ingest form: arriving docs (`% 10 = 7`) recall against the standing
    * pruned index and late-interaction-rerank against the standing
    * forward relation — the same static pair RM3 serving reads
    * ([[rm3IngestIndex]]: lineage-cut once, or the persisted
    * [[IndexStore]] layout). The streamed twin
    * ([[graft.streaming.IngestStream]]) runs THIS probe per micro-batch;
    * per-arrival cost is candidate-bounded, state is zero. */
  def maxsimIngest(s: SparkSession, d: String): DataFrame = {
    val (idx, fwd) = rm3IngestIndex(s, d)
    maxsimProbe(
      Tables.documents(s, d)
        .filter(col("doc_id") % Similarity.knnBatchMod === 7)
        .select(col("doc_id"), col("text")),
      idx, fwd)
  }

  /** RRF fusion of two (query_id, neighbor_id, rnk) legs — ONE definition
    * for every hybrid form. Exact integer contributions; the input legs
    * are already top-k-reduced, so the window works dashboard-sized
    * relations at any corpus size. */
  private[graft] def fuseRrf(textLeg: DataFrame, vecLeg: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("neighbor_id").asc)
    textLeg.unionByName(vecLeg)
      .withColumn("contrib", expr(s"CAST($rrfScale div ($rrfK + rnk) AS BIGINT)"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("contrib")).as("rrf"), count(lit(1)).as("n_legs"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rrf"), col("n_legs"), col("rnk"))
  }

  /** The static index trio for INGEST-time hybrid serving: the pruned
    * lexical index, the standing dense corpus (vec_id, v with ingest
    * vectors excluded), and the raw embeddings relation the stream uses to
    * look up an arriving document's vector — all lineage-cut once. */
  private[graft] def hybridIngestIndex(
      s: SparkSession, d: String): (Bm25Index, DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    val c = Lineage.cut(Similarity.corpus(s, d)
      .filter(col("vec_id") % Similarity.knnBatchMod =!= 7)
      .select(col("vec_id"), col("v")))
    val emb = Lineage.cut(Similarity.corpus(s, d)
      .filter(col("vec_id") % Similarity.knnBatchMod === 7)
      .select(col("vec_id"), col("v")))
    (ingestIndex(s, d), c, emb)
  }

  /** Per-batch hybrid ingest probe — ONE definition shared by the batch
    * form and the streamed twin: `batch` carries arriving (doc_id, text)
    * rows; their embeddings are looked up from the static `emb` relation
    * (the embedding-store read a serving tier does on arrival), the two
    * legs run against the static indexes, and the fusion is per-query
    * independent, so the result equals the batch form under ANY
    * micro-batching. */
  private[graft] def hybridProbe(
      batch: DataFrame, idx: Bm25Index, corpusC: DataFrame,
      emb: DataFrame): DataFrame = {
    // The embedding lookup GATES the hybrid contract: an arrival without a
    // stored vector is not served here (both twins agree by construction —
    // the inner join is the gate in batch and stream alike).
    val withV = batch.select(col("doc_id"), col("text"))
      .join(Hints.broadcastSmall(emb), col("doc_id") === col("vec_id"))
    val textLeg = bm25Probe(withV.select(col("doc_id"), col("text")), idx)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
    val qv = withV.select(col("doc_id").as("query_id"), col("v").as("qv"))
    fuseRrf(textLeg, denseProbe(qv, corpusC))
  }

  /** Batch form of hybrid ingest serving: arriving ids present in BOTH
    * tables (`% 10 = 7`) are fused across the lexical and dense legs
    * against the standing indexes. */
  def hybridIngest(s: SparkSession, d: String): DataFrame = {
    val (idx, c, emb) = hybridIngestIndex(s, d)
    hybridProbe(
      Tables.documents(s, d)
        .filter(col("doc_id") % Similarity.knnBatchMod === 7)
        .select(col("doc_id"), col("text")),
      idx, c, emb)
  }

  /** Exact-phrase (positional) search: find every document containing the
    * corpus's most frequent bigram, with per-document occurrence counts
    * and the first match position. The phrase choice is itself derived
    * (top bigram by count, ties on the words) so the query is
    * deterministic and self-contained; matching is strictly IN-ROW — a
    * higher-order filter over token positions, zero joins beyond the
    * 1-row phrase broadcast — so the scan is one map-side pass at any
    * corpus size. A many-phrase workload builds a positional inverted
    * index instead (position lists per token, consecutive-position
    * intersection — the [[bm25IndexDocs]] shape plus a positions column);
    * the single-phrase form here is the exhaustive baseline that index
    * would be verified against, the `x_sim_topk_brute` stance.
    *
    * Engine-exactness notes: Spark `sequence(a, b)` is INCLUSIVE and
    * descends when b < a, so the empty-doc guard is explicit; DuckDB's
    * `range(a, b)` is end-exclusive. Both emit 1-based positions. */
  def phraseSearch(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val idxSeq = expr(
      "CASE WHEN size(w) < 2 THEN array() ELSE sequence(1, size(w) - 1) END")
    val bigrams = base
      .select(explode(expr(
        "transform(CASE WHEN size(w) < 2 THEN CAST(array() AS ARRAY<INT>) " +
          "ELSE sequence(1, size(w) - 1) END, " +
          "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val phrase = bigrams
      .orderBy(col("c").desc, col("w1").asc, col("w2").asc).limit(1)
      .select(col("w1"), col("w2"))
    base.crossJoin(broadcast(phrase))
      .withColumn("matches", expr(
        "filter(CASE WHEN size(w) < 2 THEN CAST(array() AS ARRAY<INT>) " +
          "ELSE sequence(1, size(w) - 1) END, " +
          "i -> element_at(w, i) = w1 AND element_at(w, i + 1) = w2)"))
      .filter(size(col("matches")) >= 1)
      .select(col("doc_id"), col("w1"), col("w2"),
        size(col("matches")).cast("long").as("n_occ"),
        expr("CAST(element_at(matches, 1) AS BIGINT)").as("first_pos"))
  }

  /** Phrase-workload width for the INDEXED form. */
  private[graft] val nPhrases = 4

  /** The POSITIONAL INVERTED INDEX over the FULL corpus — true posting
    * LISTS: one row per (token, doc_id) carrying the token's sorted
    * 1-based position array, the layout a real positional index serves
    * (document-at-a-time intersection reads each list once, in-row).
    * THE relation every position-aware operator resolves
    * ([[phraseIndexSearch]], [[phraseIndexSearchN]], [[proximityRerank]]).
    * Corpus-snapshot-static by construction, so it resolves like every
    * other serving index and no run re-tokenizes the corpus:
    * [[IndexStore.served]] (the cross-session store built by
    * `graft.tools.IndexBuild` → session spill → derivation). */
  private[graft] def positionalIndex(s: SparkSession, d: String): DataFrame =
    IndexStore.served(s, IndexStore.phrasePostings, d)(
      positionalIndexOf(Tables.documents(s, d)))

  /** The from-scratch positional build over an arbitrary (doc_id, text)
    * corpus: one in-row posexplode then one (token, doc) grouping — what
    * the store build and the session spill both derive. */
  private[graft] def positionalIndexOf(docs: DataFrame): DataFrame =
    positionalPostingsOf(docs)
      .groupBy(col("token"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("poss"))

  /** FLAT positional postings (doc_id, token, pos) — the exploded view of
    * the stored lists, for consumers whose joins are occurrence-keyed
    * ([[phraseIndexSearch]]'s two-list intersection, the proximity pair
    * walk). In-row explode of the store/memo-backed index — never a
    * corpus re-tokenization. */
  private[graft] def positionalPostings(s: SparkSession, d: String): DataFrame =
    positionalIndex(s, d)
      .select(col("doc_id"), col("token"), explode(col("poss")).as("pos"))

  /** The raw positional pass (doc_id, token, 1-based pos) over an
    * arbitrary corpus — the derivation seed of [[positionalIndexOf]] and
    * what the hand-checked specs run directly. */
  private[graft] def positionalPostingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "token")))
      .filter(length(col("token")) > 0)
      .select(col("doc_id"), col("token"), (col("p0") + 1).cast("long").as("pos"))

  /** Per-length widths PERSISTED in the workload table: the widest slice
    * any consumer takes ([[phraseIndexSearch]] reads top-[[nPhrases]]
    * bigrams, [[phraseIndexSearchN]] reads [[phraseWidths]]) — consumers
    * slice by rank, so one stored relation serves both. */
  private[graft] def phraseWorkloadWidths: Seq[(Int, Int)] =
    phraseWidths.map { case (n, w) =>
      n -> (if (n == 2) math.max(w, nPhrases) else w)
    }

  /** The phrase WORKLOAD table: per length n ∈ 2..5 the corpus's top
    * n-grams with their global rank (count desc, then the words — the
    * deterministic cut every phrase query uses), null-padded to five word
    * slots so one schema carries all lengths. The four corpus-wide n-gram
    * minings this relation replaces were the dominant cost of
    * `x_search_phrase_n`; like the postings it is
    * snapshot-static, so: [[IndexStore]] → session spill → derivation. */
  private[graft] def phraseWorkloadTable(s: SparkSession, d: String): DataFrame =
    IndexStore.served(s, IndexStore.phraseWorkload, d)(phraseWorkloadDerive(s, d))

  /** Mine the workload table from the corpus: one n-gram group-by per
    * length. Each length's cut is a `TakeOrderedAndProject` (bounded heap,
    * never a global sort of the n-gram vocabulary); the rank window then
    * runs over the ≤ width surviving rows only. */
  private[graft] def phraseWorkloadDerive(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    phraseWorkloadWidths.map { case (n, width) =>
      val structFields = (0 until n)
        .map(i => s"element_at(w, i + $i) AS w$i").mkString(", ")
      val nonEmpty = (0 until n)
        .map(i => col(s"g.w$i")).map(length(_) > 0).reduce(_ && _)
      val top = base
        .select(explode(expr(
          s"transform(CASE WHEN size(w) < $n THEN CAST(array() AS ARRAY<INT>) " +
            s"ELSE sequence(1, size(w) - ${n - 1}) END, " +
            s"i -> struct($structFields))")).as("g"))
        .filter(nonEmpty)
        .groupBy((0 until n).map(i => col(s"g.w$i").as(s"w$i")): _*)
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc +: (0 until n).map(i => col(s"w$i").asc): _*)
        .limit(width)
      val rankW = Window
        .orderBy(col("c").desc +: (0 until n).map(i => col(s"w$i").asc): _*)
      top
        .withColumn("rnk", row_number().over(rankW).cast("int"))
        .select(Seq(lit(n).cast("int").as("n_words"), col("rnk"), col("c")) ++
          (0 until 5).map(i =>
            (if (i < n) col(s"w$i") else lit(null).cast("string")).as(s"w$i")): _*)
    }.reduce(_.unionByName(_))
  }

  /** Multi-phrase search over a POSITIONAL INVERTED INDEX — the shape
    * [[phraseSearch]]'s scaladoc promises for many-phrase workloads, made
    * real: postings are (token, doc_id, pos), the workload is the corpus's
    * top-[[nPhrases]] bigrams (deterministic cut), and a phrase matches by
    * CONSECUTIVE-POSITION INTERSECTION — the first word's posting list
    * joins the second's on (doc_id, pos+1). Per (phrase, doc): occurrence
    * count and first match position, identical semantics to running
    * [[phraseSearch]]'s exhaustive scan once per phrase
    * (`SearchSpec` pins the equivalence on the live corpus).
    *
    * Scale plan: the phrase table is a [[nPhrases]]-row broadcast; only
    * posting lists of words that APPEAR in some phrase are touched (the
    * broadcast join prunes the index scan), and the intersection join
    * shuffles those lists once on (doc_id) — at 100 TB this is the
    * difference between one corpus text scan per phrase and one
    * posting-list join for the whole workload. Postings and workload are
    * store/memo-served ([[positionalPostings]], [[phraseWorkloadTable]]). */
  def phraseIndexSearch(s: SparkSession, d: String): DataFrame = {
    val postings = positionalPostings(s, d)
    val phrases = phraseWorkloadTable(s, d)
      .filter(col("n_words") === 2 && col("rnk") <= nPhrases)
      .select(col("w0").as("w1"), col("w1").as("w2"))
    // consecutive-position intersection: left word's list ⨝ right word's
    // list on (doc, pos+1); the broadcast phrase table prunes BOTH scans —
    // the right side needs its own semi-join (w2 is a per-row column in
    // the join condition, so Catalyst cannot statically prune that scan
    // from the condition alone; without this the full index would shuffle)
    val left = postings.join(broadcast(phrases), col("token") === col("w1"))
      .select(col("w1"), col("w2"), col("doc_id"), col("pos"))
    val right = postings
      .join(broadcast(phrases.select(col("w2").as("pw2"))),
        col("token") === col("pw2"), "left_semi")
      .select(
        col("token").as("r_token"), col("doc_id").as("r_doc"), col("pos").as("r_pos"))
    left.join(right,
        col("r_token") === col("w2") && col("r_doc") === col("doc_id") &&
          col("r_pos") === col("pos") + 1)
      .groupBy(col("w1"), col("w2"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"), min(col("pos")).as("first_pos"))
  }

  /** Per-length workload widths for the N-TOKEN form: top-2 bigrams and
    * trigrams (the head of a real phrase workload), top-1 four- and
    * five-grams (the tail — enough to exercise the iteration at full
    * depth without bloating the fixture result). */
  private[graft] val phraseWidths: Seq[(Int, Int)] =
    Seq(2 -> 2, 3 -> 2, 4 -> 1, 5 -> 1)

  /** N-token phrase search over the positional inverted index —
    * real phrase queries are 2-5 tokens. The
    * workload is the corpus's own top n-grams per length 2-5
    * ([[phraseWidths]]; deterministic cut, ties on the words), so every
    * supported length is exercised without a config knob. Matching is
    * DOCUMENT-AT-A-TIME over the stored posting LISTS — how a real
    * positional index intersects: every (phrase-word, document) posting
    * list is fetched in ONE pruned index pass, pivoted to one row per
    * (document, phrase) carrying the per-slot position arrays, and the
    * consecutive-position intersection runs IN-ROW (`filter(poss0, p ->
    * array_contains(poss_i, p + i) ∀i)`), no per-position join chain.
    *
    * Plan shape (the 100 TB story), per length: ONE index scan, pruned by
    * the broadcast (slot, token) fan-out of the 1-2-row phrase table; ONE
    * shuffle, of the surviving doc-level rows, for the (doc, phrase)
    * pivot; zero joins after that — the intersection arithmetic is
    * in-row over lists bounded by document length. (The previous
    * iterated-join formulation was plan-quadratic in phrase length: n
    * postings scans + n−1 shuffled intersection joins per leg — 14 scans
    * and ~24 exchanges across the workload, pure stage overhead at any
    * scale.) Index and workload are store/memo-served
    * ([[positionalIndex]], [[phraseWorkloadTable]]), so a run does not
    * repeat the four corpus-wide n-gram minings or the positional pass.
    * Output: one row per (phrase, doc) with the phrase
    * spelled out, its token count, occurrence count and first 1-based
    * match position — `SearchSpec` pins set-equality with the exhaustive
    * in-row scan. */
  def phraseIndexSearchN(s: SparkSession, d: String): DataFrame = {
    val index = positionalIndex(s, d)
    val workload = phraseWorkloadTable(s, d)
    // one leg per phrase length: scan → broadcast slot join → pivot →
    // in-row consecutive-position intersection
    def leg(n: Int, width: Int): DataFrame = {
      val phrases = workload
        .filter(col("n_words") === n && col("rnk") <= width)
        .select((0 until n).map(i => col(s"w$i")): _*)
      // slot fan-out: one broadcast row per (phrase, position) — the scan
      // prune AND the slot tag in one relation (a repeated word simply
      // fans the same list to both its slots)
      val slots = phrases
        .select((0 until n).map(i => col(s"w$i")) :+
          explode(expr(s"array(${(0 until n)
            .map(i => s"struct($i AS slot, w$i AS stoken)").mkString(", ")})")).as("sl"): _*)
        .select((0 until n).map(i => col(s"w$i")) :+
          col("sl.slot").as("slot") :+ col("sl.stoken").as("stoken"): _*)
      val hits = index.join(broadcast(slots), col("token") === col("stoken"))
      val pivoted = hits
        .groupBy(col("doc_id") +: (0 until n).map(i => col(s"w$i")): _*)
        .agg(max(when(col("slot") === 0, col("poss"))).as("poss0"),
          (1 until n).map(i =>
            max(when(col("slot") === i, col("poss"))).as(s"poss$i")): _*)
      val allSlots = (0 until n).map(i => col(s"poss$i").isNotNull).reduce(_ && _)
      val matchSql = s"filter(poss0, p -> ${(1 until n)
        .map(i => s"array_contains(poss$i, p + ${i}L)").mkString(" AND ")})"
      pivoted
        .filter(allSlots)
        .withColumn("matches", expr(matchSql))
        .filter(size(col("matches")) >= 1)
        .select(
          concat_ws(" ", (0 until n).map(i => col(s"w$i")): _*).as("phrase"),
          lit(n.toLong).as("n_words"), col("doc_id"),
          size(col("matches")).cast("long").as("n_occ"),
          expr("element_at(matches, 1)").as("first_pos"))
    }
    phraseWidths
      .map { case (n, width) => leg(n, width) }
      .reduce(_.unionByName(_))
  }

  /** One pair-proximity contribution in integer micro-points — IDENTICAL
    * text in the Spark plan and the DuckDB twin (the [[scoreSql]] stance):
    * the inverse-square gap of an adjacent occurrence pair, quantized
    * BEFORE the per-document sum so the sum commutes. `2e6 = 2⁷·5⁶` has no
    * odd square quotient, so the double `1.0e6 / gap²` can never land on an
    * exact .5 tie — the round is engine-stable for every integer gap. */
  private[graft] val proxSql: String =
    "CAST(round(1.0e6 / ((npos - pos) * (npos - pos))) AS BIGINT)"

  /** PROXIMITY rerank of the member BM25 top-k — the term-position feature
    * a lexical ranker adds on top of bag-of-words BM25 (Büttcher, Clarke &
    * Lushman, SIGIR'06: accumulate inverse-square gaps over ADJACENT
    * occurrence pairs of DISTINCT query terms; documents where the query's
    * terms cluster beat documents where they scatter, at equal BM25).
    * For each hit: `prox_m` (the quantized pair accumulator), `min_gap`
    * (tightest distinct-term gap — the debuggable readout), `final_m =
    * score_m + prox_m`, and the re-rank `prnk`. Hits whose matched
    * occurrences are all one term keep `prox_m = 0` (no cross-term pair —
    * BM25 order preserved among them).
    *
    * Plan / 100 TB story: positions come from ONE positional pass over the
    * corpus (posexplode — the [[phraseIndexSearch]] postings shape), pruned
    * to the hit documents' query terms by a broadcast of the (query, hit,
    * term) probe relation (≤ queries·k·[[qTerms]] rows — dashboard-sized at
    * any corpus size, though corpus-DERIVED: the [[Dedup.incremental]]
    * broadcast caveat applies). The pair walk is a `lead` window over
    * (query, hit doc) — partitions bounded by document length, never df or
    * corpus size — and the re-rank window holds ≤ [[topK]] rows per query.
    * Nothing rescans text per query; the expensive relation (positions ×
    * probes) lives and dies inside one exchange. */
  def proximityRerank(s: SparkSession, d: String): DataFrame =
    proximityCore(Tables.documents(s, d), memberIndex(s, d),
      positionalPostings(s, d))

  /** [[proximityRerank]]'s core over an arbitrary (doc_id, text) corpus
    * (exposed for the hand-checked spec) — derives positions and the
    * index inline; the serving entry point reads the store/memo-backed
    * [[positionalPostings]] and [[memberIndex]] instead. */
  private[graft] def proximityOn(docs: DataFrame): DataFrame =
    proximityCore(docs, bm25IndexDocs(docs), positionalPostingsOf(docs))

  private def proximityCore(docs: DataFrame, idx: Bm25Index,
      posPostings: DataFrame): DataFrame = {
    val terms = Lineage.cut(queryTerms(
      docs.filter(col("doc_id") % searchStride === 0)
        .select(col("doc_id"), col("text")), idx))
    val hits = probeTerms(terms, idx)
      .select(col("query_id"), col("neighbor_id"), col("score_m"),
        col("rnk").as("bm25_rnk"))
    // (query, hit doc, term) probe triples: which positions matter
    val probe = hits.select(col("query_id"), col("neighbor_id"))
      .join(terms, "query_id")
      .select(col("query_id"), col("neighbor_id"), col("token").as("term"))
    val pos = posPostings
      .join(Hints.broadcastSmall(probe),
        col("doc_id") === col("neighbor_id") && col("token") === col("term"))
      .select(col("query_id"), col("neighbor_id"), col("token"), col("pos"))
    val byPos = Window.partitionBy(col("query_id"), col("neighbor_id"))
      .orderBy(col("pos"))
    val prox = pos
      .select(col("query_id"), col("neighbor_id"), col("token"), col("pos"),
        lead(col("pos"), 1).over(byPos).as("npos"),
        lead(col("token"), 1).over(byPos).as("nterm"))
      .filter(col("nterm").isNotNull && col("nterm") =!= col("token"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(
        min(col("npos") - col("pos")).as("min_gap"),
        sum(expr(proxSql)).as("prox_m"))
    val rerank = Window.partitionBy(col("query_id"))
      .orderBy(col("final_m").desc, col("neighbor_id").asc)
    hits.join(Hints.broadcastSmall(prox), Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("bm25_rnk"),
        col("score_m"),
        coalesce(col("min_gap"), lit(0L)).as("min_gap"),
        coalesce(col("prox_m"), lit(0L)).as("prox_m"),
        (col("score_m") + coalesce(col("prox_m"), lit(0L))).as("final_m"))
      .withColumn("prnk", row_number().over(rerank).cast("long"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_search_index_merge" -> indexMerge,
    "x_search_autocomplete" -> autocomplete,
    "x_search_spellfix" -> spellfix,
    "x_search_ndcg" -> ndcgEval,
    "x_search_ndcg_lm" -> lmNdcgEval,
    "x_search_mrr" -> mrrEval,
    "x_search_mrr_lm" -> lmMrrEval,
    "x_search_lmql" -> lmqlTopK,
    "x_search_lmql_in" -> lmqlIngestTopK,
    "x_search_ltr" -> ltrFeatures,
    "x_search_ltr_in" -> ltrIngestFeatures,
    "x_search_ltr_pairs" -> ltrPairs,
    "x_search_ce_rerank" -> ceRerank,
    "x_search_ce_in" -> ceIngestRerank,
    "x_search_ce_ndcg" -> ceNdcgEval,
    "x_search_ce_mrr" -> ceMrrEval,
    "x_search_distill_pairs" -> distillPairs,
    "x_search_index_stats" -> indexStats,
    "x_search_scorer_diff" -> scorerDiff,
    "x_search_rank_churn" -> rankChurn,
    "x_search_proximity" -> proximityRerank,
    "x_search_phrase" -> phraseSearch,
    "x_search_phrase_idx" -> phraseIndexSearch,
    "x_search_phrase_n" -> phraseIndexSearchN,
    "x_search_bm25" -> bm25TopK,
    "x_search_chunks" -> ((s, d) => chunkTopK(s, d)),
    "x_search_chunk_rollup" -> ((s, d) => chunkDocRollup(s, d)),
    "x_search_chunks_in" -> ((s, d) => chunkIngestTopK(s, d)),
    "x_search_chunk_rollup_in" -> ((s, d) => chunkIngestRollup(s, d)),
    "x_search_chunks_dense" -> ((s, d) => chunkDenseTopK(s, d)),
    "x_search_chunks_dense_ann" -> ((s, d) => chunkDenseBucketTopK(s, d)),
    "x_search_chunks_dense_recall" -> ((s, d) => chunkDenseRecall(s, d)),
    "x_search_chunks_dense_in" -> ((s, d) => chunkDenseIngestTopK(s, d)),
    "x_search_chunk_rollup_fused" -> ((s, d) => chunkFusedRollup(s, d)),
    "x_search_chunk_rollup_fused_in" -> ((s, d) => chunkFusedIngestRollup(s, d)),
    "x_search_rm3" -> rm3Search,
    "x_search_rm3_in" -> rm3IngestSearch,
    "x_search_snippet" -> snippetSearch,
    "x_search_boolean" -> booleanSearch,
    "x_search_facets" -> facetSearch,
    "x_search_ingest" -> bm25IngestTopK,
    "x_search_maxsim" -> maxsimRerank,
    "x_search_maxsim_in" -> maxsimIngest,
    "x_search_hybrid_rrf" -> hybridRrf,
    "x_search_hybrid_in" -> hybridIngest,
    "x_search_eval" -> hybridEval)

  /** The `x_search_phrase_n` oracle, generated per [[phraseWidths]] entry:
    * n-gram cut CTEs + an (n−1)-join consecutive-position intersection per
    * length, unioned. DuckDB's `range(a, b)` is end-exclusive, so n-gram
    * start positions are `range(1, len(w) - (n - 2))` (empty when the doc
    * is shorter than the phrase). */
  private def phraseNOracle: String = {
    val lenCtes = phraseWidths.map { case (n, width) =>
      val words = (0 until n).map(i => s"w[i + $i] AS w$i").mkString(", ")
      val nonEmpty = (0 until n).map(i => s"length(w[i + $i]) > 0").mkString(" AND ")
      val cols = (0 until n).map(i => s"w$i").mkString(", ")
      val order = (0 until n).map(i => s"w$i ASC").mkString(", ")
      val joins = (1 until n).map(i =>
        s"JOIN post p$i ON p$i.token = ph$n.w$i AND p$i.doc_id = p0.doc_id " +
          s"AND p$i.pos = p0.pos + $i").mkString("\n       ")
      val phrase = (0 until n).map(i => s"w$i").mkString(" || ' ' || ")
      s"""g$n AS (SELECT $words
         |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${n - 2})) AS i
         |             FROM base)
         |       WHERE $nonEmpty),
         |c$n AS (SELECT $cols, count(*) AS c FROM g$n GROUP BY ${(1 to n).mkString(", ")}),
         |ph$n AS (SELECT $cols FROM c$n ORDER BY c DESC, $order LIMIT $width),
         |m$n AS (SELECT ${(0 until n).map(i => s"ph$n.w$i").mkString(", ")}, p0.doc_id, p0.pos
         |       FROM ph$n JOIN post p0 ON p0.token = ph$n.w0
         |       $joins),
         |r$n AS (SELECT $phrase AS phrase, CAST($n AS BIGINT) AS n_words, doc_id,
         |         CAST(count(*) AS BIGINT) AS n_occ,
         |         CAST(min(pos) AS BIGINT) AS first_pos
         |       FROM m$n GROUP BY 1, 2, 3)""".stripMargin
    }
    val unions = phraseWidths
      .map { case (n, _) =>
        s"SELECT phrase, n_words, doc_id, n_occ, first_pos FROM r$n" }
      .mkString("\nUNION ALL\n")
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |pidx AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM base),
       |post AS (SELECT doc_id, w[i] AS token, CAST(i AS BIGINT) AS pos
       |         FROM pidx WHERE length(w[i]) > 0),
       |${lenCtes.mkString(",\n")}
       |$unions""".stripMargin
  }

  /** CTE chain ending in `rk$x` (the ranked BM25 result) — shared by the
    * member, ingest and hybrid oracles; the two predicates are the only
    * difference between the forms. The suffix `x` (default empty — the
    * default text is byte-identical to the historical chain) renames every
    * CTE so TWO index versions can coexist in one oracle
    * (`x_search_rank_churn`); inner column qualifiers keep the bare names
    * via `AS` table aliases. */
  private def bm25Ctes(corpusPred: String, queryPred: String, x: String = ""): String =
    bm25CtesOver(
      s"SELECT doc_id, text FROM documents WHERE $corpusPred",
      s"SELECT doc_id AS query_id, text FROM documents WHERE $queryPred",
      s"p.doc_id <> tm.query_id", x)

  /** [[bm25Ctes]] generalized over an arbitrary corpus relation (any SQL
    * producing (doc_id, text) — the chunk-retrieval oracle feeds the
    * chunk expansion here), an arbitrary query relation, and the
    * self-match exclusion predicate (chunk keys exclude by PARENT id). */
  private def bm25CtesOver(corpusSql: String, querySql: String,
      selfExcl: String, x: String = ""): String =
    s"""WITH cd$x AS ($corpusSql),
       |t0$x AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM cd$x),
       |tk$x AS (SELECT doc_id, token FROM t0$x WHERE length(token) > 0),
       |tf$x AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tk$x GROUP BY 1, 2),
       |dfr$x AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf$x GROUP BY 1),
       |dlr$x AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf$x GROUP BY 1),
       |nd$x AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM cd$x),
       |st$x AS (SELECT n_docs, CAST(sum(dl) AS DOUBLE) / n_docs AS avgdl
       |       FROM dlr$x CROSS JOIN nd$x GROUP BY n_docs),
       |qd$x AS ($querySql),
       |qt0$x AS (SELECT query_id, unnest(string_split(text, ' ')) AS token FROM qd$x),
       |qt$x AS (SELECT query_id, token, CAST(count(*) AS BIGINT) AS qtf
       |       FROM qt0$x WHERE length(token) > 0 GROUP BY 1, 2),
       |qsel$x AS (SELECT query_id, token,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY CAST(qtf AS DOUBLE) * n_docs / df DESC, token ASC) AS trk
       |         FROM qt$x JOIN dfr$x USING (token) CROSS JOIN nd$x),
       |terms$x AS (SELECT query_id, token FROM qsel$x WHERE trk <= $qTerms),
       |imp$x AS (SELECT tf.token, tf.doc_id, $scoreSql AS imp_m
       |        FROM tf$x AS tf JOIN dfr$x AS dfr USING (token) JOIN dlr$x AS dlr USING (doc_id) CROSS JOIN st$x AS st),
       |pr$x AS (SELECT token, doc_id, imp_m FROM (
       |         SELECT token, doc_id, imp_m,
       |           row_number() OVER (PARTITION BY token
       |             ORDER BY imp_m DESC, doc_id ASC) AS prk FROM imp$x)
       |       WHERE prk <= $prunePerTerm),
       |cand$x AS (SELECT tm.query_id, p.doc_id, p.imp_m
       |         FROM terms$x AS tm JOIN pr$x AS p ON p.token = tm.token AND $selfExcl),
       |qs$x AS (SELECT query_id, doc_id, CAST(sum(imp_m) AS BIGINT) AS score_m,
       |              CAST(count(*) AS BIGINT) AS n_terms FROM cand$x GROUP BY 1, 2),
       |rk$x AS (SELECT query_id, doc_id AS neighbor_id, score_m, n_terms,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                ORDER BY score_m DESC, doc_id ASC) AS BIGINT) AS rnk FROM qs$x)""".stripMargin

  private val bm25Tail =
    s"\nSELECT query_id, neighbor_id, score_m, n_terms, rnk FROM rk WHERE rnk <= $topK"

  /** The chunk corpus as SQL — [[graft.ops.TextAnalysis.chunkTextDocs]]'s
    * geometry verbatim (same constants interpolated, so the two cannot
    * drift): per doc, ceil-divided chunk count, per chunk the 1-based
    * inclusive word slice re-joined to text, keyed into the
    * [[chunkKeyMod]] id space. DuckDB `w[a:b]` is 1-based inclusive and
    * end-clamped, matching Spark's `slice(words, start+1, len)`. */
  private def chunkCorpusSql(pred: String): String = {
    val L = graft.ops.TextAnalysis.chunkLen
    val S = graft.ops.TextAnalysis.chunkStride
    s"""SELECT doc_id * $chunkKeyMod + chunk_id AS doc_id,
       |       array_to_string(w[chunk_id * $S + 1 : chunk_id * $S + $L], ' ') AS text
       |FROM (SELECT doc_id, w, unnest(range(0, n_chunks)) AS chunk_id
       |      FROM (SELECT doc_id, w,
       |              CASE WHEN nw <= $L THEN 1
       |                   ELSE 1 + (nw - $L + $S - 1) // $S END AS n_chunks
       |            FROM (SELECT doc_id, string_split(text, ' ') AS w,
       |                    len(string_split(text, ' ')) AS nw
       |                  FROM documents WHERE $pred)))""".stripMargin
  }

  /** Chunk self-exclusion: a query document must not retrieve its own
    * chunks — exclusion by PARENT id (ids non-negative ⇒ `//` ≡ `div`). */
  private def chunkSelfExcl: String =
    s"p.doc_id // $chunkKeyMod <> tm.query_id"

  /** Per-dim integer sums of the hash-projection token vectors — the
    * [[hashVecOf]] device in SQL (same md5 hex, same centered ascii). */
  private def dimSumsSql(t: String): String =
    (1 to maxsimDims).map(i =>
      s"sum(ascii(substr(md5($t), $i, 1)) - 80) AS s$i").mkString(", ")

  private def vecArraySql: String =
    "[" + (1 to maxsimDims).map(i => s"CAST(s$i AS DOUBLE)").mkString(", ") + "]"

  /** Dense chunk CTE chain (continuation form — appended after a WITH):
    * chunk corpus → chunk/query vectors → brute cosine rank. d-prefixed
    * names so it composes with the lexical chain in the fused oracles;
    * the two predicates parameterize the member vs ingest forms. */
  private[ops] def chunkDenseCtes(corpusPred: String, queryPred: String): String =
    s"""dch AS (${chunkCorpusSql(corpusPred)}),
       |dct AS (SELECT doc_id AS chunk_key, unnest(string_split(text, ' ')) AS t FROM dch),
       |dctv AS (SELECT chunk_key, ${dimSumsSql("t")} FROM dct WHERE len(t) > 0 GROUP BY 1),
       |dcv AS (SELECT chunk_key, $vecArraySql AS cvec FROM dctv),
       |dqt AS (SELECT doc_id AS query_id, unnest(string_split(text, ' ')) AS t
       |        FROM documents WHERE $queryPred),
       |dqtv AS (SELECT query_id, ${dimSumsSql("t")} FROM dqt WHERE len(t) > 0 GROUP BY 1),
       |dqv AS (SELECT query_id, $vecArraySql AS qvec FROM dqtv),
       |dsc AS (SELECT q.query_id, c.chunk_key,
       |          list_dot_product(q.qvec, c.cvec)
       |            / (sqrt(list_dot_product(q.qvec, q.qvec))
       |               * sqrt(list_dot_product(c.cvec, c.cvec))) AS score
       |        FROM dcv c, dqv q WHERE c.chunk_key // $chunkKeyMod <> q.query_id),
       |drk AS (SELECT query_id, chunk_key,
       |          CAST(row_number() OVER (PARTITION BY query_id
       |                 ORDER BY score DESC, chunk_key ASC) AS BIGINT) AS rnk
       |        FROM dsc)""".stripMargin

  /** Routed-rung CTEs appended after [[chunkDenseCtes]]: the
    * [[ChunkRouter]]'s unrolled training + cell routing + multi-probe +
    * candidate rescoring, ending in `dbrk` — the [[chunkDenseBucketHits]]
    * twin (same seeding, same Lloyd rounds, same skey order, same probe
    * set, same tie order). */
  private def chunkBucketCtes: String =
    ChunkRouter.routerCtes + ChunkRouter.routedRankCtes

  /** The routed passage-hit tail over `dbrk`. */
  private def chunkBucketTail: String =
    s"""
       |SELECT query_id, CAST(chunk_key // $chunkKeyMod AS BIGINT) AS neighbor_id,
       |       CAST(chunk_key % $chunkKeyMod AS BIGINT) AS chunk_id, rnk
       |FROM dbrk WHERE rnk <= $chunkK""".stripMargin

  /** Recall of the bucketed rung vs the brute rung over `drk`/`dbrk`,
    * through the shared [[Similarity.recallTailSql]] on `chunk_key`. */
  private def chunkRecallTail: String =
    s""",
       |rtb AS (SELECT query_id, chunk_key FROM drk WHERE rnk <= $chunkK),
       |rta AS (SELECT query_id, chunk_key FROM dbrk WHERE rnk <= $chunkK),
       |${Similarity.recallTailSql("rtb", "rta", "n_bucket", key = "chunk_key")}""".stripMargin

  /** The dense passage-hit tail over `drk`. */
  private def chunkDenseTail: String =
    s"""
       |SELECT query_id, CAST(chunk_key // $chunkKeyMod AS BIGINT) AS neighbor_id,
       |       CAST(chunk_key % $chunkKeyMod AS BIGINT) AS chunk_id, rnk
       |FROM drk WHERE rnk <= $chunkK""".stripMargin

  /** RRF fusion of the lexical chain's `rk` and a dense chain
    * (`drk` = brute for the member form, `dbrk` = the bucketed rung for
    * the serving forms) plus the document rollup — the SQL of
    * [[chunkFusedOf]], shared by the member and ingest fused oracles. */
  private def chunkFusedTail(denseRel: String): String =
    s""",
       |flt AS (SELECT query_id, neighbor_id, rnk FROM rk WHERE rnk <= $chunkK),
       |fdl AS (SELECT query_id, chunk_key AS neighbor_id, rnk FROM $denseRel WHERE rnk <= $chunkK),
       |flegs AS (SELECT * FROM flt UNION ALL SELECT * FROM fdl),
       |ffus AS (SELECT query_id, neighbor_id,
       |           CAST(sum($rrfScale // ($rrfK + rnk)) AS BIGINT) AS rrf
       |         FROM flegs GROUP BY 1, 2),
       |ffrk AS (SELECT query_id, neighbor_id, rrf,
       |           CAST(row_number() OVER (PARTITION BY query_id
       |                  ORDER BY rrf DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |         FROM ffus),
       |fch AS (SELECT query_id, neighbor_id // $chunkKeyMod AS parent,
       |          neighbor_id % $chunkKeyMod AS chunk_id, rrf AS score_m
       |        FROM ffrk WHERE rnk <= $topK),
       |fbc AS (SELECT query_id, parent, chunk_id, score_m,
       |          row_number() OVER (PARTITION BY query_id, parent
       |            ORDER BY score_m DESC, chunk_id ASC) AS crk FROM fch),
       |fnh AS (SELECT query_id, parent, CAST(count(*) AS BIGINT) AS n_chunk_hits
       |        FROM fch GROUP BY 1, 2),
       |fdr AS (SELECT b.query_id, b.parent, b.score_m, b.chunk_id, n.n_chunk_hits,
       |          row_number() OVER (PARTITION BY b.query_id
       |            ORDER BY b.score_m DESC, b.parent ASC) AS rnk
       |        FROM fbc b JOIN fnh n ON n.query_id = b.query_id AND n.parent = b.parent
       |        WHERE b.crk = 1)
       |SELECT query_id, CAST(parent AS BIGINT) AS neighbor_id,
       |       score_m AS best_m, CAST(chunk_id AS BIGINT) AS best_chunk,
       |       n_chunk_hits, CAST(rnk AS BIGINT) AS rnk
       |FROM fdr WHERE rnk <= $topK""".stripMargin

  private def chunkTail: String =
    s"""
       |SELECT query_id,
       |       CAST(neighbor_id // $chunkKeyMod AS BIGINT) AS neighbor_id,
       |       CAST(neighbor_id % $chunkKeyMod AS BIGINT) AS chunk_id,
       |       score_m, n_terms, rnk
       |FROM rk WHERE rnk <= $chunkK""".stripMargin

  /** The passage→document max-pooling rollup as SQL — mirrors
    * [[chunkDocRollup]]'s two windows exactly. */
  private def chunkRollupTail: String =
    s""",
       |ch AS (SELECT query_id, neighbor_id // $chunkKeyMod AS parent,
       |         neighbor_id % $chunkKeyMod AS chunk_id, score_m
       |       FROM rk WHERE rnk <= $chunkK),
       |bc AS (SELECT query_id, parent, chunk_id, score_m,
       |         row_number() OVER (PARTITION BY query_id, parent
       |           ORDER BY score_m DESC, chunk_id ASC) AS crk FROM ch),
       |nh AS (SELECT query_id, parent, CAST(count(*) AS BIGINT) AS n_chunk_hits
       |       FROM ch GROUP BY 1, 2),
       |dr AS (SELECT b.query_id, b.parent, b.score_m, b.chunk_id, n.n_chunk_hits,
       |         row_number() OVER (PARTITION BY b.query_id
       |           ORDER BY b.score_m DESC, b.parent ASC) AS rnk
       |       FROM bc b JOIN nh n ON n.query_id = b.query_id AND n.parent = b.parent
       |       WHERE b.crk = 1)
       |SELECT query_id, CAST(parent AS BIGINT) AS neighbor_id,
       |       score_m AS best_m, CAST(chunk_id AS BIGINT) AS best_chunk,
       |       n_chunk_hits, CAST(rnk AS BIGINT) AS rnk
       |FROM dr WHERE rnk <= $topK""".stripMargin

  private def memberQuerySql: String =
    s"SELECT doc_id AS query_id, text FROM documents WHERE doc_id % $searchStride = 0"

  /** The LM-index CTEs ([[lmIndexDocs]]'s relations in SQL: collection
    * frequencies, collection total, tf-pruned postings) — shared by the
    * LM retrieval tails and the LTR feature oracle. */
  private lazy val lmCoreCtes: String =
    s""",
       |cfr AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
       |ctot AS (SELECT CAST(sum(dl) AS BIGINT) AS c_tot FROM dlr),
       |lmp AS (SELECT token, doc_id, tf FROM (
       |         SELECT token, doc_id, tf,
       |           row_number() OVER (PARTITION BY token
       |             ORDER BY tf DESC, doc_id ASC) AS prk FROM tf)
       |       WHERE prk <= $prunePerTerm)""".stripMargin

  /** [[ltrFeatures]]'s relation as a CTE chain (member BM25 candidates +
    * pair-restricted LM leg + labels) — shared by the pointwise feature
    * oracle and the pairwise-preference oracle, exactly as the Spark
    * pairs derive from the one feature relation. */
  private def ltrFeatCtes(corpusPred: String, queryPred: String): String = {
    import graft.ops.Sampling.log2fpDuck
    bm25Ctes(corpusPred, queryPred) + lmCoreCtes +
      s""",
         |hits AS (SELECT query_id, neighbor_id, score_m, n_terms, rnk
         |         FROM rk WHERE rnk <= $topK),
         |nq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_q FROM terms GROUP BY 1),
         |lmx AS (SELECT tm.query_id, p.doc_id,
         |          CAST(sum(${log2fpDuck(s"p.tf * c_tot + $lmMu * cf")}
         |                - ${log2fpDuck(s"$lmMu * cf")}) AS BIGINT) AS m_fp,
         |          CAST(count(*) AS BIGINT) AS lm_terms
         |        FROM terms tm
         |        JOIN lmp p ON p.token = tm.token
         |        JOIN cfr c ON c.token = tm.token
         |        JOIN hits h ON h.query_id = tm.query_id AND h.neighbor_id = p.doc_id
         |        CROSS JOIN ctot
         |        GROUP BY 1, 2),
         |feat AS (SELECT h.query_id, h.neighbor_id, h.rnk, h.score_m, h.n_terms,
         |           CAST(coalesce(x.m_fp, 0) - nq.n_q * (${log2fpDuck(s"d.dl + $lmMu")}
         |                 - ${log2fpDuck(lmMu.toString)}) AS BIGINT) AS lm_fp,
         |           CAST(coalesce(x.lm_terms, 0) AS BIGINT) AS lm_terms,
         |           d.dl, nq.n_q,
         |           CAST(CASE WHEN nm.lang = qm.lang AND nm.source = qm.source THEN 2
         |                WHEN nm.lang = qm.lang THEN 1 ELSE 0 END AS BIGINT) AS rel
         |         FROM hits h
         |         JOIN nq ON nq.query_id = h.query_id
         |         JOIN dlr d ON d.doc_id = h.neighbor_id
         |         LEFT JOIN lmx x ON x.query_id = h.query_id AND x.doc_id = h.neighbor_id
         |         JOIN documents qm ON qm.doc_id = h.query_id
         |         JOIN documents nm ON nm.doc_id = h.neighbor_id)""".stripMargin
  }

  /** Dirichlet-LM ranking CTEs (continuation of [[bm25Ctes]], ending in
    * the ranked `lrk` relation) — shared by the retrieval tails and the
    * scorer-diff oracle. */
  private lazy val lmqlRankCtes: String = {
    import graft.ops.Sampling.log2fpDuck
    lmCoreCtes + s""",
       |lc AS (SELECT tm.query_id, p.doc_id, p.tf, c.cf
       |       FROM terms tm
       |       JOIN lmp p ON p.token = tm.token AND p.doc_id <> tm.query_id
       |       JOIN cfr c ON c.token = tm.token),
       |lm AS (SELECT query_id, doc_id,
       |         CAST(sum(${log2fpDuck(s"tf * c_tot + $lmMu * cf")}
       |               - ${log2fpDuck(s"$lmMu * cf")}) AS BIGINT) AS m_fp,
       |         CAST(count(*) AS BIGINT) AS n_terms
       |       FROM lc CROSS JOIN ctot GROUP BY 1, 2),
       |nq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_q FROM terms GROUP BY 1),
       |ls AS (SELECT lm.query_id, lm.doc_id,
       |         CAST(lm.m_fp - nq.n_q * (${log2fpDuck(s"dl + $lmMu")}
       |               - ${log2fpDuck(lmMu.toString)}) AS BIGINT) AS score_fp,
       |         lm.n_terms
       |       FROM lm JOIN nq USING (query_id) JOIN dlr USING (doc_id)),
       |lrk AS (SELECT query_id, doc_id AS neighbor_id, score_fp, n_terms,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                ORDER BY score_fp DESC, doc_id ASC) AS BIGINT) AS rnk FROM ls)""".stripMargin
  }

  /** The nDCG metric tail over any ranked source relation (`rk` for BM25,
    * `lrk` for the LM ranking) — one labels/discounts/cutoff text across
    * every evaluated ranking, the SQL twin of [[ndcgOf]]/[[gradedHitsOf]]. */
  /** The cross-encoder rerank tail over the `feat` relation — shared by
    * the member and ingest oracles (and the streamed twin: stateless
    * stream-static ⇒ the batch ingest oracle verbatim). */
  private def ceRerankSqlTail: String =
    s""",
       |cef AS (SELECT query_id, neighbor_id, rnk AS bm25_rnk, score_m,
       |          lm_fp, rel, $ceLogitSql AS ce_fp
       |        FROM feat)
       |SELECT query_id, neighbor_id, bm25_rnk, score_m, lm_fp, ce_fp, rel,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY ce_fp DESC, neighbor_id ASC) AS BIGINT) AS ce_rnk
       |FROM cef""".stripMargin

  private def ndcgSqlTail(src: String): String = {
    import graft.ops.Sampling.log2fpDuck
    s""",
       |hits$src AS (SELECT query_id, neighbor_id, rnk FROM $src WHERE rnk <= $topK),
       |gr$src AS (SELECT h.query_id, h.rnk,
       |         CAST(CASE WHEN nm.lang = qm.lang AND nm.source = qm.source THEN 2
       |              WHEN nm.lang = qm.lang THEN 1 ELSE 0 END AS BIGINT) AS rel
       |       FROM hits$src h
       |       JOIN documents qm ON qm.doc_id = h.query_id
       |       JOIN documents nm ON nm.doc_id = h.neighbor_id),
       |ir$src AS (SELECT query_id, rnk, rel,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                ORDER BY rel DESC, rnk ASC) AS BIGINT) AS irnk
       |       FROM gr$src),
       |ag$src AS (SELECT query_id,
       |         CAST(sum(rel * 1000000 // ${log2fpDuck("rnk + 1")}) AS BIGINT) AS dcg_fp,
       |         CAST(sum(rel * 1000000 // ${log2fpDuck("irnk + 1")}) AS BIGINT) AS idcg_fp
       |       FROM ir$src GROUP BY 1)
       |SELECT query_id, dcg_fp, idcg_fp,
       |       CAST(CASE WHEN idcg_fp = 0 THEN 0
       |            ELSE dcg_fp * 10000 // idcg_fp END AS BIGINT) AS ndcg_bp
       |FROM ag$src""".stripMargin
  }

  /** The MRR/P@k metric tail over any ranked source relation — the binary
    * twin of [[ndcgSqlTail]], the SQL side of [[mrrOf]]. */
  private def mrrSqlTail(src: String): String =
    s""",
       |mh$src AS (SELECT query_id, neighbor_id, rnk FROM $src WHERE rnk <= $topK),
       |mg$src AS (SELECT h.query_id, h.rnk,
       |         CAST(CASE WHEN nm.lang = qm.lang AND nm.source = qm.source THEN 2
       |              WHEN nm.lang = qm.lang THEN 1 ELSE 0 END AS BIGINT) AS rel
       |       FROM mh$src h
       |       JOIN documents qm ON qm.doc_id = h.query_id
       |       JOIN documents nm ON nm.doc_id = h.neighbor_id),
       |ma$src AS (SELECT query_id,
       |         CAST(coalesce(min(CASE WHEN rel >= 1 THEN rnk END), 0) AS BIGINT) AS first_rel_rnk,
       |         CAST(count(CASE WHEN rel >= 1 THEN 1 END) AS BIGINT) AS n_rel
       |       FROM mg$src GROUP BY 1)
       |SELECT query_id, first_rel_rnk,
       |       CAST(CASE WHEN first_rel_rnk = 0 THEN 0
       |            ELSE 1000000 // first_rel_rnk END AS BIGINT) AS rr_fp,
       |       n_rel,
       |       CAST(n_rel * 10000 // $topK AS BIGINT) AS p_at_k_bp
       |FROM ma$src""".stripMargin

  /** Dirichlet-LM continuation of [[bm25Ctes]] — ONE text shared by the
    * member and ingest oracles (and the streamed twin: stateless
    * stream-static ⇒ the batch ingest oracle verbatim), exactly as one
    * [[lmqlProbe]] serves all three Spark forms. */
  private lazy val lmqlSqlTail: String =
    lmqlRankCtes +
      s"\nSELECT query_id, neighbor_id, score_fp, n_terms, rnk" +
      s"\nFROM lrk WHERE rnk <= $topK"

  /** MaxSim continuation of [[bm25Ctes]]: late-interaction rerank of the
    * `rk` candidates against the `tf` forward relation — shared by the
    * member and ingest oracles; [[simSql]] is the SAME text the Spark
    * plan compiles. */
  private def maxsimTail: String =
    s""",
       |cnd AS (SELECT query_id, neighbor_id, rnk FROM rk WHERE rnk <= $topK),
       |dt AS (SELECT tf.doc_id, tf.token AS dtok FROM tf
       |       JOIN (SELECT DISTINCT neighbor_id FROM cnd) c
       |         ON tf.doc_id = c.neighbor_id),
       |prs AS (SELECT c.query_id, c.neighbor_id, c.rnk, q.token AS qtok, d.dtok
       |        FROM cnd c JOIN terms q USING (query_id)
       |        JOIN dt d ON d.doc_id = c.neighbor_id),
       |msr AS (SELECT query_id, neighbor_id, rnk, qtok,
       |         max(${simSql("qtok", "dtok")}) AS ms
       |       FROM prs GROUP BY 1, 2, 3, 4),
       |sc AS (SELECT query_id, neighbor_id, rnk AS bm25_rnk,
       |         CAST(sum(ms) AS BIGINT) AS maxsim_score
       |       FROM msr GROUP BY 1, 2, 3)
       |SELECT query_id, neighbor_id, bm25_rnk, maxsim_score,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY maxsim_score DESC, neighbor_id ASC) AS BIGINT) AS mrnk
       |FROM sc""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_search_phrase" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM base),
        |bi AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM pos
        |       WHERE length(w[i]) > 0 AND length(w[i + 1]) > 0),
        |bc AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
        |ph AS (SELECT w1, w2 FROM bc ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 1),
        |m AS (SELECT b.doc_id, ph.w1, ph.w2,
        |        [i FOR i IN range(1, len(b.w)) IF b.w[i] = ph.w1 AND b.w[i + 1] = ph.w2] AS matches
        |      FROM base b CROSS JOIN ph)
        |SELECT doc_id, w1, w2, CAST(len(matches) AS BIGINT) AS n_occ,
        |       CAST(matches[1] AS BIGINT) AS first_pos
        |FROM m WHERE len(matches) >= 1""".stripMargin,
    "x_search_phrase_idx" ->
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |pidx AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM base),
         |post AS (SELECT doc_id, w[i] AS token, CAST(i AS BIGINT) AS pos
         |         FROM pidx WHERE length(w[i]) > 0),
         |pos2 AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM base),
         |bi AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM pos2
         |       WHERE length(w[i]) > 0 AND length(w[i + 1]) > 0),
         |bc AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
         |ph AS (SELECT w1, w2 FROM bc ORDER BY c DESC, w1 ASC, w2 ASC LIMIT $nPhrases),
         |lft AS (SELECT ph.w1, ph.w2, p.doc_id, p.pos
         |        FROM post p JOIN ph ON p.token = ph.w1),
         |m AS (SELECT l.w1, l.w2, l.doc_id, l.pos
         |      FROM lft l JOIN post r
         |        ON r.token = l.w2 AND r.doc_id = l.doc_id AND r.pos = l.pos + 1)
         |SELECT w1, w2, doc_id, CAST(count(*) AS BIGINT) AS n_occ,
         |       CAST(min(pos) AS BIGINT) AS first_pos
         |FROM m GROUP BY 1, 2, 3""".stripMargin,
    // Mirrors the iterated intersection: postings CTE, per-length top
    // n-gram cuts (count desc, then the words), one position join per
    // additional token, unioned across lengths — GENERATED from the same
    // [[phraseWidths]] the Spark side runs, so the workloads cannot drift.
    "x_search_phrase_n" -> phraseNOracle,
    "x_search_bm25" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") + bm25Tail),
    // chunk-level retrieval (RAG): the SAME lexical chain over the chunk
    // expansion — corpus CTE swapped, self-exclusion by parent id
    "x_search_chunks" ->
      (bm25CtesOver(chunkCorpusSql("true"), memberQuerySql, chunkSelfExcl) +
        chunkTail),
    "x_search_chunk_rollup" ->
      (bm25CtesOver(chunkCorpusSql("true"), memberQuerySql, chunkSelfExcl) +
        chunkRollupTail),
    "x_search_chunks_in" ->
      (bm25CtesOver(
        chunkCorpusSql(s"doc_id % ${Similarity.knnBatchMod} <> 7"),
        s"SELECT doc_id AS query_id, text FROM documents WHERE doc_id % ${Similarity.knnBatchMod} = 7",
        chunkSelfExcl) + chunkTail),
    "x_search_chunk_rollup_in" ->
      (bm25CtesOver(
        chunkCorpusSql(s"doc_id % ${Similarity.knnBatchMod} <> 7"),
        s"SELECT doc_id AS query_id, text FROM documents WHERE doc_id % ${Similarity.knnBatchMod} = 7",
        chunkSelfExcl) + chunkRollupTail),
    "x_search_chunks_dense" ->
      ("WITH " + chunkDenseCtes("true", s"doc_id % $searchStride = 0") +
        chunkDenseTail),
    "x_search_chunks_dense_ann" ->
      ("WITH " + chunkDenseCtes("true", s"doc_id % $searchStride = 0") +
        chunkBucketCtes + chunkBucketTail),
    "x_search_chunks_dense_recall" ->
      ("WITH " + chunkDenseCtes("true", s"doc_id % $searchStride = 0") +
        chunkBucketCtes + chunkRecallTail),
    "x_search_chunks_dense_in" ->
      ("WITH " + chunkDenseCtes(
        s"doc_id % ${Similarity.knnBatchMod} <> 7",
        s"doc_id % ${Similarity.knnBatchMod} = 7") + chunkDenseTail),
    // RRF fusion of the lexical and dense passage legs, then the SAME
    // rollup windows as chunkRollupTail over the fused score
    "x_search_chunk_rollup_fused" ->
      (bm25CtesOver(chunkCorpusSql("true"), memberQuerySql, chunkSelfExcl) +
        ",\n" + chunkDenseCtes("true", s"doc_id % $searchStride = 0") +
        chunkFusedTail("drk")),
    "x_search_chunk_rollup_fused_in" ->
      (bm25CtesOver(
        chunkCorpusSql(s"doc_id % ${Similarity.knnBatchMod} <> 7"),
        s"SELECT doc_id AS query_id, text FROM documents WHERE doc_id % ${Similarity.knnBatchMod} = 7",
        chunkSelfExcl) +
        ",\n" + chunkDenseCtes(
          s"doc_id % ${Similarity.knnBatchMod} <> 7",
          s"doc_id % ${Similarity.knnBatchMod} = 7") +
        chunkBucketCtes + chunkFusedTail("dbrk")),
    // graded-relevance tail over the shared member chain; the discount is
    // the same fixed-point log2 text the Spark plan compiles
    "x_search_ndcg" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") + ndcgSqlTail("rk")),
    // the LM ranking through the SAME labels/discounts/cutoff — only the
    // source relation differs, exactly as ndcgOf is shared on the Spark side
    "x_search_ndcg_lm" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") + lmqlRankCtes +
        ndcgSqlTail("lrk")),
    // binary metrics over the same member chain + graded labels as the
    // nDCG oracle; // is DuckDB's integer division (Spark's div)
    "x_search_mrr" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") + mrrSqlTail("rk")),
    // the LM ranking's binary metrics — the eval matrix's fourth cell
    "x_search_mrr_lm" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") + lmqlRankCtes +
        mrrSqlTail("lrk")),
    // Dirichlet query likelihood: tf/dlr/terms from the shared chain (the
    // unused BM25 impact CTEs prune away); tf-ordered per-token prune, the
    // rank-equivalent matched-plus-length decomposition in exact 1/1024-bit
    // fixed-point logs — the same text the Spark plan compiles
    "x_search_lmql" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") + lmqlSqlTail),
    // LM ingest serving: the SAME continuation over the standing-corpus /
    // arrival split — index relations exclude arrivals by construction
    "x_search_lmql_in" ->
      (bm25Ctes(s"doc_id % ${Similarity.knnBatchMod} <> 7",
        s"doc_id % ${Similarity.knnBatchMod} = 7") + lmqlSqlTail),
    // LTR features: BM25 candidates from the shared chain, the LM leg
    // pair-restricted over the same pruned postings/terms, labels from the
    // metadata-agreement convention — every formula text shared verbatim
    "x_search_ltr" ->
      (ltrFeatCtes("true", s"doc_id % $searchStride = 0") +
        "\nSELECT query_id, neighbor_id, rnk, score_m, n_terms, lm_fp," +
        "\n       lm_terms, dl, n_q, rel\nFROM feat"),
    // cross-encoder head + rerank window over the shared feature chain:
    // the logit is ceLogitSql VERBATIM (one text, both engines)
    "x_search_ce_rerank" ->
      (ltrFeatCtes("true", s"doc_id % $searchStride = 0") + ceRerankSqlTail),
    "x_search_ce_in" ->
      (ltrFeatCtes(s"doc_id % ${Similarity.knnBatchMod} <> 7",
        s"doc_id % ${Similarity.knnBatchMod} = 7") + ceRerankSqlTail),
    // Margin-MSE distillation rows: the teacher's top-1 against every
    // other candidate, teacher margin + student signal deltas — no graded
    // labels anywhere (the teacher supervises)
    "x_search_distill_pairs" ->
      (ltrFeatCtes("true", s"doc_id % $searchStride = 0") +
        s""",
           |cef AS (SELECT query_id, neighbor_id, score_m, lm_fp,
           |          $ceLogitSql AS ce_fp,
           |          row_number() OVER (PARTITION BY query_id
           |            ORDER BY $ceLogitSql DESC, neighbor_id ASC) AS ce_rnk
           |        FROM feat),
           |pos AS (SELECT query_id, neighbor_id AS pos_id, ce_fp AS pos_ce,
           |          score_m AS pos_score_m, lm_fp AS pos_lm_fp
           |        FROM cef WHERE ce_rnk = 1)
           |SELECT n.query_id, p.pos_id, n.neighbor_id AS neg_id,
           |       CAST(p.pos_ce - n.ce_fp AS BIGINT) AS ce_margin_fp,
           |       CAST(p.pos_score_m - n.score_m AS BIGINT) AS d_score_m,
           |       CAST(p.pos_lm_fp - n.lm_fp AS BIGINT) AS d_lm_fp
           |FROM cef n JOIN pos p ON p.query_id = n.query_id
           |WHERE n.ce_rnk > 1""".stripMargin),
    // binary metrics of the cross-encoder ranking: the eval matrix's
    // last cell (3 scorers x graded/binary, one labeling)
    "x_search_ce_mrr" ->
      (ltrFeatCtes("true", s"doc_id % $searchStride = 0") +
        s""",
           |cef AS (SELECT query_id, neighbor_id, $ceLogitSql AS ce_fp FROM feat),
           |cer AS (SELECT query_id, neighbor_id,
           |          CAST(row_number() OVER (PARTITION BY query_id
           |            ORDER BY ce_fp DESC, neighbor_id ASC) AS BIGINT) AS rnk
           |        FROM cef)""".stripMargin + mrrSqlTail("cer")),
    // the eval matrix's third scorer row: same labels/discounts/cutoff as
    // x_search_ndcg / x_search_ndcg_lm, only the ranking differs
    "x_search_ce_ndcg" ->
      (ltrFeatCtes("true", s"doc_id % $searchStride = 0") +
        s""",
           |cef AS (SELECT query_id, neighbor_id, $ceLogitSql AS ce_fp FROM feat),
           |cer AS (SELECT query_id, neighbor_id,
           |          CAST(row_number() OVER (PARTITION BY query_id
           |            ORDER BY ce_fp DESC, neighbor_id ASC) AS BIGINT) AS rnk
           |        FROM cef)""".stripMargin + ndcgSqlTail("cer")),
    // ingest-time feature logging: the SAME feature chain over the
    // standing/arrival split — the training/serving-skew guard in SQL
    "x_search_ltr_in" ->
      (ltrFeatCtes(s"doc_id % ${Similarity.knnBatchMod} <> 7",
        s"doc_id % ${Similarity.knnBatchMod} = 7") +
        "\nSELECT query_id, neighbor_id, rnk, score_m, n_terms, lm_fp," +
        "\n       lm_terms, dl, n_q, rel\nFROM feat"),
    // scorer A/B diff: both ranked chains instantiated once, full-outer
    // join on the two k-per-query hit sets, rankChurn's shape across
    // scorers; NULL top-1 comparisons land in ELSE 0 in both engines
    "x_search_scorer_diff" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") + lmqlRankCtes +
        s""",
           |bmh AS (SELECT query_id, neighbor_id, rnk AS bm_rnk
           |        FROM rk WHERE rnk <= $topK),
           |lmh AS (SELECT query_id, neighbor_id, rnk AS lm_rnk
           |        FROM lrk WHERE rnk <= $topK),
           |fj AS (SELECT coalesce(b.query_id, l.query_id) AS query_id,
           |         coalesce(b.neighbor_id, l.neighbor_id) AS neighbor_id,
           |         b.bm_rnk, l.lm_rnk
           |       FROM bmh b FULL OUTER JOIN lmh l
           |         ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id)
           |SELECT query_id,
           |  CAST(count(CASE WHEN bm_rnk IS NOT NULL AND lm_rnk IS NOT NULL THEN 1 END) AS BIGINT) AS n_common,
           |  CAST(count(CASE WHEN bm_rnk IS NOT NULL AND lm_rnk IS NULL THEN 1 END) AS BIGINT) AS n_bm_only,
           |  CAST(count(CASE WHEN lm_rnk IS NOT NULL AND bm_rnk IS NULL THEN 1 END) AS BIGINT) AS n_lm_only,
           |  CAST(coalesce(max(CASE WHEN bm_rnk IS NOT NULL AND lm_rnk IS NOT NULL
           |        THEN abs(bm_rnk - lm_rnk) END), 0) AS BIGINT) AS max_shift,
           |  CAST(CASE WHEN max(CASE WHEN bm_rnk = 1 THEN neighbor_id END)
           |             = max(CASE WHEN lm_rnk = 1 THEN neighbor_id END)
           |       THEN 1 ELSE 0 END AS BIGINT) AS top1_agree
           |FROM fj GROUP BY 1""".stripMargin),
    // df-band posting-mass profile off the vocab-sized df relation; band
    // is the exact fixed-point floor(log2) both engines share
    "x_search_index_stats" -> {
      import graft.ops.Sampling.log2fpDuck
      bm25Ctes("true", "false") +
        s"""
           |SELECT CAST((${log2fpDuck("df")}) // 1024 AS BIGINT) AS band,
           |       CAST(count(*) AS BIGINT) AS n_tokens,
           |       CAST(sum(df) AS BIGINT) AS total_postings,
           |       CAST(sum(least(df, $prunePerTerm)) AS BIGINT) AS kept_postings,
           |       CAST(max(df) AS BIGINT) AS max_df
           |FROM dfr GROUP BY 1""".stripMargin
    },
    // pairwise preference pairs from the SAME feature relation: every
    // (better, worse) candidate pair per query with the signal deltas —
    // the k-per-query self-join stays dashboard-sized (≤ k² per query)
    "x_search_ltr_pairs" ->
      (ltrFeatCtes("true", s"doc_id % $searchStride = 0") +
        s"""
           |SELECT a.query_id,
           |       a.neighbor_id AS pos_id, b.neighbor_id AS neg_id,
           |       a.rel AS pos_rel, b.rel AS neg_rel,
           |       CAST(a.score_m - b.score_m AS BIGINT) AS d_score_m,
           |       CAST(a.lm_fp - b.lm_fp AS BIGINT) AS d_lm_fp,
           |       CAST(a.rnk - b.rnk AS BIGINT) AS d_rnk
           |FROM feat a
           |JOIN feat b ON b.query_id = a.query_id AND a.rel > b.rel""".stripMargin),
    // same deletion-variant equi-join + exact levenshtein verify; DuckDB's
    // range is end-exclusive, so variant positions are range(1, len + 1)
    "x_search_spellfix" ->
      s"""WITH t0 AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |tf AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t0
         |       WHERE length(token) > 0 GROUP BY 1),
         |pr AS (SELECT substr(token, 1, 1) || substr(token, 3) AS probe
         |       FROM tf WHERE length(token) >= 3
         |       ORDER BY n DESC, token ASC LIMIT $sfProbes),
         |pv AS (SELECT probe, v FROM (
         |         SELECT probe,
         |           unnest(list_append([substr(probe, 1, i - 1) || substr(probe, i + 1)
         |                               FOR i IN range(1, length(probe) + 1)],
         |                              probe)) AS v
         |         FROM pr)),
         |vv AS (SELECT token, n, v FROM (
         |         SELECT token, n,
         |           unnest(list_append([substr(token, 1, i - 1) || substr(token, i + 1)
         |                               FOR i IN range(1, length(token) + 1)],
         |                              token)) AS v
         |         FROM tf)),
         |cand AS (SELECT DISTINCT p.probe, t.token, t.n
         |         FROM vv t JOIN pv p USING (v)),
         |ver AS (SELECT probe, token, CAST(levenshtein(probe, token) AS BIGINT) AS dist, n
         |        FROM cand WHERE levenshtein(probe, token) <= 1),
         |r AS (SELECT probe, token AS suggestion, dist, n,
         |        CAST(row_number() OVER (PARTITION BY probe
         |               ORDER BY dist ASC, n DESC, token ASC) AS BIGINT) AS rnk
         |      FROM ver)
         |SELECT probe, suggestion, dist, n, rnk FROM r WHERE rnk <= $sfTopN""".stripMargin,
    "x_search_autocomplete" ->
      s"""WITH t0 AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |tf AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t0
         |       WHERE length(token) > 0 GROUP BY 1),
         |pre AS (SELECT substr(token, 1, p) AS prefix, token, n
         |        FROM tf, unnest(range(1, least(length(token), $acMaxPrefix) + 1)) AS u(p)),
         |r AS (SELECT prefix, token, n,
         |        CAST(row_number() OVER (PARTITION BY prefix
         |               ORDER BY n DESC, token ASC) AS BIGINT) AS rnk
         |      FROM pre)
         |SELECT prefix, token, n, rnk FROM r WHERE rnk <= $acTopN""".stripMargin,
    // two suffixed instantiations of the SAME chain (standing index = the
    // ingest corpus predicate, new index = full corpus), full-outer over
    // the two top-k relations, per-query churn rollup
    "x_search_rank_churn" ->
      (bm25Ctes(s"doc_id % ${Similarity.knnBatchMod} <> 7",
        s"doc_id % $searchStride = 0") + ",\n" +
        bm25Ctes("true", s"doc_id % $searchStride = 0", "2")
          .replaceFirst("^WITH ", "") +
        s""",
           |a AS (SELECT query_id, neighbor_id, rnk FROM rk WHERE rnk <= $topK),
           |b AS (SELECT query_id, neighbor_id, rnk AS rnk2 FROM rk2 WHERE rnk <= $topK),
           |j AS (SELECT * FROM a FULL OUTER JOIN b USING (query_id, neighbor_id))
           |SELECT query_id,
           |  CAST(count(*) FILTER (rnk IS NOT NULL AND rnk2 IS NOT NULL) AS BIGINT) AS n_common,
           |  CAST(count(*) FILTER (rnk2 IS NULL) AS BIGINT) AS n_lost,
           |  CAST(count(*) FILTER (rnk IS NULL) AS BIGINT) AS n_gained,
           |  CAST(coalesce(max(abs(rnk - rnk2)), 0) AS BIGINT) AS max_shift
           |FROM j GROUP BY 1""".stripMargin),
    // the merged index must equal the from-scratch full-corpus build: the
    // twin is the member chain's pruned-postings CTE verbatim (the query
    // legs go unreferenced and unevaluated under the `false` predicate)
    "x_search_index_merge" ->
      (bm25Ctes("true", "false") +
        "\nSELECT token, doc_id, imp_m FROM pr"),
    // Proximity tail over the shared member chain: positional postings of
    // the hit documents' query terms, one lead() pair walk per (query,
    // hit), [[proxSql]] verbatim, BM25 order preserved where no cross-term
    // pair exists (prox_m = 0).
    "x_search_proximity" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") +
        s""",
           |hits AS (SELECT query_id, neighbor_id, score_m, rnk AS bm25_rnk
           |         FROM rk WHERE rnk <= $topK),
           |pb AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |px AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM pb),
           |post AS (SELECT doc_id, w[i] AS token, CAST(i AS BIGINT) AS pos
           |         FROM px WHERE length(w[i]) > 0),
           |pp AS (SELECT h.query_id, h.neighbor_id, p.token, p.pos
           |       FROM hits h JOIN terms t USING (query_id)
           |       JOIN post p ON p.doc_id = h.neighbor_id AND p.token = t.token),
           |gp AS (SELECT query_id, neighbor_id, token, pos,
           |         lead(pos) OVER w2 AS npos, lead(token) OVER w2 AS nterm
           |       FROM pp
           |       WINDOW w2 AS (PARTITION BY query_id, neighbor_id ORDER BY pos)),
           |pr2 AS (SELECT query_id, neighbor_id,
           |          CAST(min(npos - pos) AS BIGINT) AS min_gap,
           |          CAST(sum($proxSql) AS BIGINT) AS prox_m
           |        FROM gp WHERE nterm IS NOT NULL AND nterm <> token
           |        GROUP BY 1, 2)
           |SELECT h.query_id, h.neighbor_id, h.bm25_rnk, h.score_m,
           |  coalesce(pr2.min_gap, 0) AS min_gap,
           |  coalesce(pr2.prox_m, 0) AS prox_m,
           |  h.score_m + coalesce(pr2.prox_m, 0) AS final_m,
           |  CAST(row_number() OVER (PARTITION BY h.query_id
           |         ORDER BY h.score_m + coalesce(pr2.prox_m, 0) DESC,
           |                  h.neighbor_id ASC) AS BIGINT) AS prnk
           |FROM hits h LEFT JOIN pr2 USING (query_id, neighbor_id)""".stripMargin),
    "x_search_ingest" ->
      (bm25Ctes(s"doc_id % ${Similarity.knnBatchMod} <> 7",
        s"doc_id % ${Similarity.knnBatchMod} = 7") + bm25Tail),
    "x_search_maxsim" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") + maxsimTail),
    "x_search_maxsim_in" ->
      (bm25Ctes(s"doc_id % ${Similarity.knnBatchMod} <> 7",
        s"doc_id % ${Similarity.knnBatchMod} = 7") + maxsimTail),
    "x_search_snippet" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") +
        s""",
           |hits AS (SELECT query_id, neighbor_id, rnk FROM rk WHERE rnk <= $fbDocs),
           |qarr AS (SELECT query_id, list(token ORDER BY token) AS qts
           |         FROM terms GROUP BY 1),
           |hd AS (SELECT h.query_id, h.neighbor_id, h.rnk, q.qts, b.w
           |       FROM hits h JOIN qarr q USING (query_id)
           |       JOIN (SELECT doc_id, string_split(text, ' ') AS w FROM documents) b
           |         ON b.doc_id = h.neighbor_id),
           |sw AS (SELECT query_id, neighbor_id, rnk, w,
           |         [CASE WHEN list_contains(qts, t) THEN 1 ELSE 0 END FOR t IN w] AS hitsb,
           |         greatest(len(w) - $snipW + 1, 1) AS n_win
           |       FROM hd),
           |sc2 AS (SELECT query_id, neighbor_id, rnk, w,
           |          [CAST(list_sum(hitsb[i:i + ${snipW - 1}]) AS BIGINT)
           |           FOR i IN range(1, n_win + 1)] AS scores
           |        FROM sw)
           |SELECT query_id, neighbor_id, rnk,
           |  CAST(list_position(scores, list_max(scores)) AS BIGINT) AS win_start,
           |  CAST(list_max(scores) AS BIGINT) AS n_win_hits,
           |  array_to_string(w[list_position(scores, list_max(scores)):
           |                    list_position(scores, list_max(scores)) + ${snipW - 1}],
           |                  ' ') AS snippet
           |FROM sc2""".stripMargin),
    "x_search_boolean" ->
      // reuses the member CTE chain; `qsel` still holds ALL ranked query
      // terms, so the boolean form applies its own (tighter) cut — and
      // membership reads `tf` (the unpruned forward relation), NOT `pr`
      (bm25Ctes("true", s"doc_id % $searchStride = 0") +
        s""",
           |bterms AS (SELECT query_id, token FROM qsel WHERE trk <= $boolTerms),
           |nq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_q
           |       FROM bterms GROUP BY 1),
           |bm AS (SELECT b.query_id, tf.doc_id, CAST(count(*) AS BIGINT) AS n_matched
           |       FROM bterms b JOIN tf ON tf.token = b.token AND tf.doc_id <> b.query_id
           |       GROUP BY 1, 2)
           |SELECT bm.query_id, bm.doc_id AS neighbor_id, bm.n_matched
           |FROM bm JOIN nq USING (query_id) WHERE bm.n_matched = nq.n_q""".stripMargin),
    "x_search_facets" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") +
        s""",
           |hits AS (SELECT query_id, neighbor_id FROM rk WHERE rnk <= $topK),
           |fc AS (SELECT h.query_id, dm.lang, dm.source, CAST(count(*) AS BIGINT) AS n_hits
           |       FROM hits h JOIN documents dm ON dm.doc_id = h.neighbor_id
           |       GROUP BY 1, 2, 3)
           |SELECT query_id, lang, source, n_hits FROM fc""".stripMargin),
    "x_search_rm3" ->
      (bm25Ctes("true", s"doc_id % $searchStride = 0") + rm3Tail),
    "x_search_rm3_in" ->
      (bm25Ctes(s"doc_id % ${Similarity.knnBatchMod} <> 7",
        s"doc_id % ${Similarity.knnBatchMod} = 7") + rm3Tail),
    "x_search_hybrid_rrf" ->
      (memberHybridCtes + hybridSelect),
    "x_search_hybrid_in" ->
      (bm25Ctes(s"doc_id % ${Similarity.knnBatchMod} <> 7",
        s"doc_id % ${Similarity.knnBatchMod} = 7 AND doc_id IN (SELECT vec_id FROM embeddings)") +
        hybridCtes(
          s"vec_id % ${Similarity.knnBatchMod} = 7 AND vec_id IN (SELECT doc_id FROM documents)",
          s"vec_id % ${Similarity.knnBatchMod} <> 7") + hybridSelect),
    "x_search_eval" -> (memberHybridCtes + evalTail))

  /** The member hybrid's full CTE chain — shared by the fused query and
    * the eval diagnostics so the evaluated legs ARE the served legs. */
  private def memberHybridCtes: String =
    bm25Ctes("true",
      s"doc_id % $searchStride = 0 AND doc_id IN (SELECT vec_id FROM embeddings)") +
      hybridCtes(
        s"vec_id % $searchStride = 0 AND vec_id IN (SELECT doc_id FROM documents)",
        "true")

  /** The fusion CTEs appended to [[bm25Ctes]] (through `outq`): dense-leg
    * CTEs (query and corpus predicates parameterize the member vs ingest
    * forms) + the RRF merge — shared so the hybrid oracles cannot drift
    * from each other. */
  private def hybridCtes(vqPred: String, corpusPred: String): String =
    s""",
       |tl AS (SELECT query_id, neighbor_id, rnk FROM rk WHERE rnk <= $topK),
       |vc0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |vc AS (SELECT * FROM vc0 WHERE $corpusPred),
       |vq AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn
       |       FROM vc0 WHERE $vqPred),
       |sv AS (SELECT vq.query_id, vc.vec_id AS neighbor_id,
       |         list_dot_product(vq.qv, vc.v)
       |           / (vq.qn * sqrt(list_dot_product(vc.v, vc.v))) AS score
       |       FROM vc, vq WHERE vc.vec_id <> vq.query_id),
       |${Similarity.rankCte("rv", "sv")},
       |vl AS (SELECT query_id, neighbor_id, rnk FROM rv WHERE rnk <= $topK),
       |legs AS (SELECT * FROM tl UNION ALL SELECT * FROM vl),
       |fused AS (SELECT query_id, neighbor_id,
       |            CAST(sum($rrfScale // ($rrfK + rnk)) AS BIGINT) AS rrf,
       |            CAST(count(*) AS BIGINT) AS n_legs
       |          FROM legs GROUP BY 1, 2),
       |outq AS (SELECT query_id, neighbor_id, rrf, n_legs,
       |           CAST(row_number() OVER (PARTITION BY query_id
       |                  ORDER BY rrf DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |         FROM fused)""".stripMargin

  private def hybridSelect: String =
    s"\nSELECT query_id, neighbor_id, rrf, n_legs, rnk FROM outq WHERE rnk <= $topK"

  /** The RM3 tail appended to [[bm25Ctes]] — its `tf` CTE doubles as the
    * forward relation (already corpus-scoped by the Ctes' predicate), so
    * the member and ingest oracles differ ONLY in the two predicates. */
  private def rm3Tail: String =
    s""",
       |fbk AS (SELECT query_id, neighbor_id FROM rk WHERE rnk <= $fbDocs),
       |ex0 AS (SELECT f.query_id, tf.token, CAST(sum(tf.tf) AS BIGINT) AS ftf
       |        FROM fbk f JOIN tf ON tf.doc_id = f.neighbor_id GROUP BY 1, 2),
       |ex1 AS (SELECT e.query_id, e.token,
       |          CAST((e.ftf * 1000000) // dfr.df AS BIGINT) AS exp_s
       |        FROM ex0 e JOIN dfr USING (token)
       |        WHERE NOT EXISTS (SELECT 1 FROM terms t
       |                          WHERE t.query_id = e.query_id AND t.token = e.token)),
       |ex AS (SELECT query_id, token FROM (
       |         SELECT query_id, token,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY exp_s DESC, token ASC) AS erk
       |         FROM ex1) WHERE erk <= $fbTerms),
       |t2 AS (SELECT query_id, token FROM terms
       |       UNION ALL SELECT query_id, token FROM ex),
       |cand2 AS (SELECT tm.query_id, p.doc_id, p.imp_m
       |          FROM t2 tm JOIN pr p ON p.token = tm.token AND p.doc_id <> tm.query_id),
       |qs2 AS (SELECT query_id, doc_id, CAST(sum(imp_m) AS BIGINT) AS score_m,
       |               CAST(count(*) AS BIGINT) AS n_terms FROM cand2 GROUP BY 1, 2),
       |rk2 AS (SELECT query_id, doc_id AS neighbor_id, score_m, n_terms,
       |          CAST(row_number() OVER (PARTITION BY query_id
       |                 ORDER BY score_m DESC, doc_id ASC) AS BIGINT) AS rnk FROM qs2)
       |SELECT query_id, neighbor_id, score_m, n_terms, rnk FROM rk2 WHERE rnk <= $topK""".stripMargin

  /** The [[hybridEval]] diagnostics over the member chain's `tl`/`vl`/
    * `outq` relations. */
  private def evalTail: String =
    s""",
       |nt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_text FROM tl GROUP BY 1),
       |ndn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_dense FROM vl GROUP BY 1),
       |nc AS (SELECT tl.query_id, CAST(count(*) AS BIGINT) AS n_common
       |       FROM tl JOIN vl USING (query_id, neighbor_id) GROUP BY 1),
       |pv AS (SELECT o.query_id,
       |         CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL AND v.neighbor_id IS NOT NULL
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS fused_both,
       |         CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL AND v.neighbor_id IS NULL
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS fused_text_only,
       |         CAST(sum(CASE WHEN t.neighbor_id IS NULL AND v.neighbor_id IS NOT NULL
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS fused_dense_only
       |       FROM (SELECT query_id, neighbor_id FROM outq WHERE rnk <= $topK) o
       |       LEFT JOIN tl t ON t.query_id = o.query_id AND t.neighbor_id = o.neighbor_id
       |       LEFT JOIN vl v ON v.query_id = o.query_id AND v.neighbor_id = o.neighbor_id
       |       GROUP BY 1),
       |qq AS (SELECT query_id FROM nt UNION SELECT query_id FROM ndn
       |       UNION SELECT query_id FROM nc UNION SELECT query_id FROM pv)
       |SELECT qq.query_id,
       |  CAST(COALESCE(n_text, 0) AS BIGINT) AS n_text,
       |  CAST(COALESCE(n_dense, 0) AS BIGINT) AS n_dense,
       |  CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
       |  CAST(COALESCE(fused_both, 0) AS BIGINT) AS fused_both,
       |  CAST(COALESCE(fused_text_only, 0) AS BIGINT) AS fused_text_only,
       |  CAST(COALESCE(fused_dense_only, 0) AS BIGINT) AS fused_dense_only
       |FROM qq LEFT JOIN nt USING (query_id) LEFT JOIN ndn USING (query_id)
       |LEFT JOIN nc USING (query_id) LEFT JOIN pv USING (query_id)""".stripMargin
}
