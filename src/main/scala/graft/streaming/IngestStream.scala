package graft.streaming

import graft.functions.{TopK, TopKOrder}
import graft.ops.{Dedup, Diversify, Lineage, MatView, Sampling, Search, Similarity}
import graft.ops.{MultimodalPipeline => Mm}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import EventPipeline.{Batch, each}

/** The bounded streams that are a batch plan from `ops/` run through the
  * one sink loop, [[EventPipeline.runToSink]] — a stream is its batch plan
  * run incrementally.
  *
  * The INGEST TABLE ([[ingest]]) holds the stream-static queries: an
  * arriving slice of one table is probed, per micro-batch, against
  * standing relations built once at query start, with the SAME probe
  * definition the batch `_in` twin runs, so batch and stream cannot drift.
  * Every row but graph insert is STATELESS (static right side, nothing
  * to evict, no watermark) and each arrival's answer depends only on
  * itself plus the standing state, so the result equals the batch form
  * under ANY batching of the source: the batch oracle applies verbatim,
  * and the keyed upsert makes checkpoint replay idempotent.
  *
  * The AGGREGATING streams below the table run a mergeable fold (running
  * census, sketch, bottom-k, partial states) through the same loop; each
  * fold commutes with batching, so their oracles are the batch twins'
  * verbatim too. */
object IngestStream {

  /** Where a row's arrivals come from: the source table, the arriving
    * slice of it, and the columns its probe reads. */
  private final case class Arrivals(table: String, filter: Column, cols: Column*)

  /** One stream-static ingest query: `probe` builds the standing
    * relations once per run and returns the per-batch transform; the
    * resolved sink is keyed by `keys` and projected by `out`. */
  private final case class Ingest(name: String, oracle: String, from: Arrivals,
      probe: (SparkSession, String) => Batch, keys: Seq[String],
      out: DataFrame => DataFrame, releaseTriggers: Boolean = false)

  private def run(r: Ingest)(s: SparkSession, sfDir: String): DataFrame =
    r.out(EventPipeline.runToSink(s, s"graft-${r.name}-", "append", r.keys,
        perBatch = r.probe(_, sfDir), releaseTriggers = r.releaseTriggers) { ss =>
      EventPipeline.tableStream(ss, sfDir, r.from.table)
        .filter(r.from.filter).select(r.from.cols: _*)
    })

  private def cols(names: String*): DataFrame => DataFrame =
    _.select(names.map(col): _*)

  /** The `_in` twins' arriving slices: `% knnBatchMod = 7` for search and
    * vectors, `% newMod = newRem` for the curation gates. */
  private val docsIn = Arrivals("documents",
    col("doc_id") % Similarity.knnBatchMod === 7, col("doc_id"), col("text"))
  private val vecsIn = Arrivals("embeddings",
    col("vec_id") % Similarity.knnBatchMod === 7, col("vec_id"), col("embedding"))
  private val isNewDoc = col("doc_id") % Dedup.newMod === Dedup.newRem
  private val docsNew = Arrivals("documents", isNewDoc, col("doc_id"), col("text"))
  private def docIds(filter: Column) = Arrivals("documents", filter, col("doc_id"))

  private def ids(b: DataFrame) = b.select(col("doc_id")).as(Encoders.scalaLong)

  private val searchOut = cols("query_id", "neighbor_id", "score_m", "n_terms", "rnk")

  /** The LTR feature log's standing trio (BM25 index, LM index, doc
    * metadata), shared by the feature-logging and cross-encoder rows. */
  private def ltrFeatures(ss: SparkSession, d: String): DataFrame => DataFrame = {
    val bmIdx = Search.ingestIndex(ss, d)
    val lmIdx = Search.lmIngestIndex(ss, d)
    val meta = Lineage.cut(graft.Tables.documents(ss, d)
      .select(col("doc_id"), col("lang"), col("source")))
    Search.ltrFeaturesOn(_, bmIdx, lmIdx, meta)
  }

  /** Near-duplicate media probe: (short, long) fingerprint pairs sharing a
    * prefix, as (new_id, src_id, n_shared). */
  private def prefixPairs(arriving: DataFrame, standing: DataFrame): DataFrame =
    Mm.clipPrefixPairs(arriving, standing)
      .select(col("short_id").as("new_id"), col("long_id").as("src_id"), col("n_shared"))

  private def audioFrames(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("win_idx").as("frame_idx"),
      col("e_sum").as("phash_lo"), col("zcr").as("phash_hi"))

  private val ingest: Seq[Ingest] = Seq(
    Ingest("s_search_stream", Search.oracle("x_search_ingest"), docsIn,
      (ss, d) => { val idx = Search.ingestIndex(ss, d); each(Search.bm25Probe(_, idx)) },
      Seq("query_id", "rnk"), searchOut),
    Ingest("s_lmql_stream", Search.oracle("x_search_lmql_in"), docsIn,
      (ss, d) => { val idx = Search.lmIngestIndex(ss, d); each(Search.lmqlProbe(_, idx)) },
      Seq("query_id", "rnk"),
      cols("query_id", "neighbor_id", "score_fp", "n_terms", "rnk")),
    Ingest("s_rm3_stream", Search.oracle("x_search_rm3_in"), docsIn,
      (ss, d) => {
        val (idx, fwd) = Search.rm3IngestIndex(ss, d)
        each(Search.rm3Probe(_, idx, fwd))
      },
      Seq("query_id", "rnk"), searchOut),
    Ingest("s_maxsim_stream", Search.oracle("x_search_maxsim_in"), docsIn,
      (ss, d) => {
        val (idx, fwd) = Search.rm3IngestIndex(ss, d)
        each(Search.maxsimProbe(_, idx, fwd))
      },
      Seq("query_id", "mrnk"),
      cols("query_id", "neighbor_id", "bm25_rnk", "maxsim_score", "mrnk")),
    Ingest("s_ce_rerank_stream", Search.oracle("x_search_ce_in"), docsIn,
      (ss, d) => each(ltrFeatures(ss, d).andThen(Search.ceRerankOf)),
      Seq("query_id", "neighbor_id"),
      cols("query_id", "neighbor_id", "bm25_rnk", "score_m", "lm_fp", "ce_fp",
        "rel", "ce_rnk")),
    Ingest("s_ltr_stream", Search.oracle("x_search_ltr_in"), docsIn,
      (ss, d) => each(ltrFeatures(ss, d)),
      Seq("query_id", "neighbor_id"),
      cols("query_id", "neighbor_id", "rnk", "score_m", "n_terms", "lm_fp",
        "lm_terms", "dl", "n_q", "rel")),
    Ingest("s_hybrid_stream", Search.oracle("x_search_hybrid_in"), docsIn,
      (ss, d) => {
        val (idx, c, emb) = Search.hybridIngestIndex(ss, d)
        each(Search.hybridProbe(_, idx, c, emb))
      },
      Seq("query_id", "rnk"), cols("query_id", "neighbor_id", "rrf", "n_legs", "rnk")),
    Ingest("s_chunk_search_stream", Search.oracle("x_search_chunks_in"), docsIn,
      (ss, d) => { val idx = Search.chunkIngestIndex(ss, d); each(Search.chunkProbe(_, idx)) },
      Seq("query_id", "rnk"),
      _.select(col("query_id"),
        expr(s"chunk_key div ${Search.chunkKeyMod}").as("neighbor_id"),
        (col("chunk_key") % Search.chunkKeyMod).as("chunk_id"),
        col("score_m"), col("n_terms"), col("rnk"))),
    // Hybrid RAG serving. The dense leg's cosine kernel is registered
    // BEFORE the stream starts: the micro-batch execution clones the
    // session state at start, so a per-batch registration would miss the
    // clone. The routed slice and the router's epoch panel resolve once
    // per run — routing must be constant within a run.
    Ingest("s_chunk_fused_stream", Search.oracle("x_search_chunk_rollup_fused_in"), docsIn,
      (ss, d) => {
        graft.functions.GraftFunctions.register(ss)
        val idx = Search.chunkIngestIndex(ss, d)
        val cv = Lineage.cut(graft.ops.ChunkRouter.standingRoutedVectors(ss, d))
        val panel = graft.ops.ChunkRouter.servingPanel(ss, d)
        each(b => Search.chunkFusedOf(Search.chunkProbe(b, idx),
          Search.chunkDenseBucketProbe(b, cv, panel)))
      },
      Seq("query_id", "rnk"),
      cols("query_id", "neighbor_id", "best_m", "best_chunk", "n_chunk_hits", "rnk")),
    Ingest("s_knn_stream", Similarity.knnSql(incremental = true), vecsIn,
      (ss, d) => {
        val corpusIdx = Similarity.knnCorpusIndex(ss, d)
        each(b => Similarity.knnProbe(Similarity.knnRelation(b), corpusIdx))
      },
      Seq("vec_id", "rnk"), cols("vec_id", "neighbor_id", "rnk")),
    // The beam search cuts a delta per hop and broadcasts per-hop
    // candidate panels, all dead once the batch's sink write returns;
    // releasing them per trigger bounds a long ×10 run's driver footprint
    // to standing index + one trigger (it hit a broadcast OOM at 8 g).
    Ingest("s_graph_ann_stream", Similarity.oracle("x_sim_topk_graph_in"), vecsIn,
      (ss, d) => {
        val (edges, corpusIdx, c) = Similarity.ingestGraphIndex(ss, d)
        each(Similarity.graphBeamProbe(_, edges, corpusIdx, c))
      },
      Seq("query_id", "rnk"), cols("query_id", "neighbor_id", "rnk"),
      releaseTriggers = true),
    // Reads its own sink's pre-batch state; incremental trims converge to
    // the one-shot trim (merge law), so the batch oracle still applies.
    Ingest("s_graph_insert_stream", Similarity.oracle("x_sim_graph_insert"), vecsIn,
      (ss, d) => {
        val (edges, allVecs) = Similarity.insertIndex(ss, d)
        val (_, corpusIdx, c) = Similarity.ingestGraphIndex(ss, d)
        (b, id, sink) => insertDelta(ss, b, id, sink, edges, corpusIdx, c, allVecs)
      },
      Seq("src", "rnk"), cols("src", "dst", "rnk", "is_new")),
    Ingest("s_dedup_lsh_stream", Dedup.oracle("x_dedup_incremental"), docsNew,
      (ss, d) => {
        val (sig, bands) = Dedup.corpusSigIndex(ss, d)
        each(Dedup.incrementalProbe(_, sig, bands))
      },
      Seq("new_id"), cols("new_id", "dup_of", "n_matches", "is_dup")),
    Ingest("s_split_gate_stream", Sampling.oracle("x_split_leakproof_in"), docsNew,
      (ss, d) => {
        val (sig, bands) = Dedup.corpusSigIndex(ss, d)
        val labels = Lineage.cut(Dedup.standingComponentLabels(ss, d))
        each(Sampling.splitLeakproofProbe(_, sig, bands, labels))
      },
      Seq("doc_id"), cols("doc_id", "inherited", "split_key", "split")),
    // Map-side scoring + the mergeable top-q trim, per batch and again
    // over the resolved sink.
    Ingest("s_dsir_stream", Sampling.oracle("x_sample_dsir_in"),
      Arrivals("documents", isNewDoc, col("doc_id"), col("lang"), col("text")),
      (ss, d) => {
        val weights = Lineage.cut(Sampling.dsirWeights(
          graft.Tables.documents(ss, d).filter(!isNewDoc)))
        each(b => Sampling.dsirTrim(Sampling.dsirScore(b, weights)))
      },
      Seq("doc_id"), Sampling.dsirTrim),
    Ingest("s_mmr_stream", Diversify.oracle("x_sim_mmr"),
      Arrivals("embeddings", col("vec_id") % Diversify.mmrStride === 0,
        col("vec_id").as("query_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qv")),
      (ss, d) => {
        val corpus = Lineage.cut(Similarity.corpus(ss, d))
        each(Diversify.mmrFor(corpus, _))
      },
      Seq("query_id", "pick"), cols("query_id", "pick", "neighbor_id", "rel")),
    Ingest("s_mm_alignment_stream", Mm.oracle("x_mm_alignment"), docIds(lit(true)),
      (ss, d) => {
        val tv = Lineage.cut(Mm.textVectors(ss, d))
        each(b => Mm.alignmentOf(Mm.imageStatsOf(Mm.imageRecordsOf(ids(b))), tv))
      },
      Seq("doc_id"), cols("doc_id", "align_fp", "is_aligned")),
    Ingest("s_mm_phash_stream", Mm.oracle("x_mm_phash_probe"),
      docIds(col("doc_id") % Mm.variantMod === Mm.variantRem),
      (ss, d) => {
        val standing = Lineage.cut(Mm.imagePhash(ss, d))
        each(b => Mm.phashProbeOf(
          Mm.imagePhashOf(Mm.imageVariantRecordsOf(ids(b))), standing))
      },
      Seq("new_id"), cols("new_id", "dup_of", "hamming", "is_dup")),
    // Oracle: the all-pairs prefix check restricted to (arriving variant,
    // standing original) pairs.
    Ingest("s_clip_dup_stream", Mm.clipProbeOracle,
      docIds(col("doc_id") % Mm.clipVariantMod === Mm.clipVariantRem &&
        col("doc_id") % 4 >= 1),
      (ss, d) => {
        val standing = Lineage.cut(Mm.videoPhash(ss, d))
        each(b => prefixPairs(Mm.videoPhashOf(Mm.trimmedClipRecordsOf(ids(b))), standing))
      },
      Seq("new_id", "src_id"), cols("new_id", "src_id", "n_shared")),
    Ingest("s_audio_dup_stream", Mm.audioProbeOracle,
      docIds(col("doc_id") % Mm.audioVariantMod === Mm.audioVariantRem &&
        col("doc_id") % 256 =!= 0),
      (ss, d) => {
        val standing = Lineage.cut(audioFrames(Mm.audioFingerprint(ss, d)))
        each(b => prefixPairs(
          audioFrames(Mm.audioFingerprintOf(Mm.truncatedAudioRecordsOf(ids(b)))), standing))
      },
      Seq("new_id", "src_id"), cols("new_id", "src_id", "n_shared")))

  /** One micro-batch's insert rows: search the arriving vectors, then
    * re-trim against the sink's PRE-BATCH state (an empty sink — first
    * batch — means every touched vertex starts from the static edges).
    * The batch's own delta is excluded from the prior: on checkpoint
    * replay `b<id>` may already exist from the failed attempt, and
    * including it would both change the visible state and make the job
    * read the directory its own write overwrites
    * ([[UpsertSink.resolve]]'s `exceptBatch`). Shared with
    * `GraphInsertStreamSpec`'s MemoryStream harness. */
  private[graft] def insertDelta(ss: SparkSession, batch: DataFrame,
      batchId: Long, sink: String, edges: DataFrame, corpusIdx: DataFrame,
      c: DataFrame, allVecs: DataFrame): DataFrame = {
    val searched = Similarity.graphBeamProbe(batch, edges, corpusIdx, c)
    val hasDeltas = Option(new java.io.File(sink).listFiles())
      .exists(_.exists(f => f.isDirectory && f.getName.startsWith("b") &&
        f.getName != s"b$batchId"))
    val prior =
      if (hasDeltas)
        Some(UpsertSink.resolve(ss, sink, Seq("src", "rnk"), Some(batchId)))
      else None
    Similarity.insertRows(searched, prior, edges, allVecs)
  }

  /** Per-slice raw TF state — one tokenization of the given docs frame. */
  private[graft] def tfState(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))

  /** Embedding → µ-quantized `q` (the quantizer family's integer grid). */
  private def quantized(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("q"))

  /** Model-gate census: stateless scoring + an unwindowed running count
    * per (lang, is_admit). */
  private def gate(s: SparkSession, sfDir: String): DataFrame =
    EventPipeline.runToSink(s, "graft-sgate-", "update", Seq("lang", "is_admit")) { ss =>
      graft.functions.GraftFunctions.register(ss)
      graft.ops.TextAnalysis.gateRollup(EventPipeline.tableStream(ss, sfDir, "documents"))
    }.select(col("lang"), col("is_admit"), col("n_docs"), col("score_m_sum"))

  /** Bottom-k sample maintenance: each batch keeps only its own k
    * smallest hashes, the resolved sink is trimmed once more (KMV merge
    * law). */
  private def sample(s: SparkSession, sfDir: String): DataFrame = {
    def bottomK(df: DataFrame) =
      df.orderBy(col("h"), col("doc_id")).limit(Sampling.bottomK)
    bottomK(EventPipeline.runToSink(s, "graft-ssample-", "append", Seq("doc_id"),
        perBatch = _ => each(bottomK)) { ss =>
      EventPipeline.tableStream(ss, sfDir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("doc_id").cast("string")).as("h"))
    }).select(col("doc_id"), col("lang"), col("source"), col("h"))
  }

  /** Per-event-type KMV sketches (mergeable, duplicate-idempotent state),
    * then the pairwise overlap estimates off the standing sketches. */
  private def kmvOverlap(s: SparkSession, sfDir: String): DataFrame = {
    val sk = EventPipeline.runToSink(s, "graft-skmv-", "update", Seq("event_type")) { ss =>
      graft.ops.Sketches.kmvSketch(
        EventPipeline.fileStream(ss, sfDir).filter(col("user_id").isNotNull))
    }
    graft.ops.Sketches.overlapOf(sk,
      graft.ops.Sketches.distinctTypeUsers(sk.sparkSession, sfDir))
  }

  /** Value-band grid maintenance: per-batch histogram states, read
    * additively and merged into the base grid. */
  private def bands(s: SparkSession, sfDir: String): DataFrame = {
    val (ss, sink) = EventPipeline.drainToSink(s, "graft-sbands-", "append",
        perBatch = _ => each(MatView.histState)) { ss =>
      EventPipeline.fileStream(ss, sfDir).filter(MatView.isDelta)
    }
    MatView.bandsReadout(MatView.mergeHist(MatView.baseHist(ss, sfDir),
      UpsertSink.readAll(ss, sink)))
  }

  /** Cluster-balanced sample maintenance: arrivals assigned in-row to the
    * static seed centroids, per-cluster count + bottom-n by hash. */
  private def clusterSample(s: SparkSession, sfDir: String): DataFrame = {
    val standing = EventPipeline.runToSink(s, "graft-scbs-", "update", Seq("cluster")) { ss =>
      graft.functions.GraftFunctions.register(ss)
      // k centroid vectors as ONE broadcastable row, sorted by cluster so
      // the assignment fold's strict `<` tie-breaks to the lowest id
      val cents = Lineage.cut(Similarity.seedCentroids(ss, sfDir)
        .groupBy()
        .agg(expr("array_sort(collect_list(struct(cluster, cv)))").as("cents")))
      quantized(EventPipeline.tableStream(ss, sfDir, "embeddings"))
        .crossJoin(broadcast(cents))
        .withColumn("cluster", expr(Similarity.assignSql))
        .withColumn("h", substring(md5(col("vec_id").cast("string")), 1, 12))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_cluster"),
          TopK.cut(Diversify.cbPerCluster, TopKOrder.keyedId, TopKOrder.wholeRecord)
            .apply(col("h"), col("vec_id")).as("bot"))
    }
    TopK.ranked(standing, "bot",
      col("cluster"), col("n_cluster"), col("rnk").as("rk"), col("t.id").as("vec_id"))
  }

  /** Quantizer maintenance: per-(cluster, dim) deltas against the frozen
    * panel, merged into the standing state. */
  private def quantizer(s: SparkSession, sfDir: String): DataFrame = {
    val deltas = EventPipeline.runToSink(s, "graft-squant-", "update",
        Seq("cluster", "dim")) { ss =>
      val cents = Lineage.cut(Similarity.quantizerCentroidPanel(
        Similarity.standingQuantizerState(ss, sfDir)))
      Similarity.quantizerDeltasOf(
        quantized(EventPipeline.tableStream(ss, sfDir, "embeddings")
          .filter(col("vec_id") % Similarity.knnBatchMod === 7)),
        cents)
    }
    Similarity.quantizerMergeOf(
      Similarity.standingQuantizerState(deltas.sparkSession, sfDir),
      deltas.select(col("cluster"), col("dim"), col("q_suma"), col("na")))
  }

  /** Index maintenance: per-batch TF states of the arriving slice, read
    * additively and folded with the standing slice's TF into postings. */
  private def indexMerge(s: SparkSession, sfDir: String): DataFrame = {
    val mod = Similarity.knnBatchMod
    val (ss, sink) = EventPipeline.drainToSink(s, "graft-simerge-", "append",
        perBatch = _ => each(tfState)) { ss =>
      EventPipeline.tableStream(ss, sfDir, "documents").filter(col("doc_id") % mod === 7)
    }
    val docs = graft.Tables.documents(ss, sfDir)
    val baseTf = Lineage.cut(tfState(docs.filter(col("doc_id") % mod =!= 7)))
    Search.indexFromState(baseTf.unionAll(UpsertSink.readAll(ss, sink)),
        docs.agg(count(lit(1)).as("n_docs")))
      .postings.select(col("token"), col("doc_id"), col("imp_m"))
  }

  private val aggregating: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("s_model_gate_stream", gate, graft.ops.TextAnalysis.gateRollupSql),
    ("s_sample_stream", sample, Sampling.oracle("x_sample_bottomk")),
    ("s_kmv_overlap_stream", kmvOverlap, graft.ops.Sketches.oracle("x_sketch_kmv_overlap")),
    ("s_value_bands_stream", bands, MatView.oracle("d_value_bands")),
    ("s_cluster_sample_stream", clusterSample, Diversify.oracle("x_sample_cluster_balanced")),
    ("s_quantizer_stream", quantizer, Similarity.oracle("x_quantizer_update")),
    ("s_index_merge_stream", indexMerge, Search.oracle("x_search_index_merge")))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    ingest.map(r => r.name -> (run(r) _)).toMap ++
      aggregating.map { case (n, f, _) => n -> f }

  val oracle: Map[String, String] =
    ingest.map(r => r.name -> r.oracle).toMap ++
      aggregating.map { case (n, _, sql) => n -> sql }
}
