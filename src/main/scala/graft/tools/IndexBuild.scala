package graft.tools

import graft.ops.{Dedup, IndexStore, Search, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build every serving index for a corpus snapshot and persist it under one
  * [[graft.ops.IndexStore]] directory — the build half of the
  * build-once/serve-many posture (round-13 verdict #6):
  *
  *  - `bm25_postings` / `bm25_token_df` / `bm25_stats`: the impact-pruned
  *    lexical index over the STANDING corpus ([[graft.ops.Search.ingestIndex]]
  *    exactly — arriving docs excluded, so streamed serving reads it as-is);
  *  - `bm25_forward`: the standing corpus's forward (doc → term) relation
  *    RM3 feedback mining needs;
  *  - `lm_postings` / `lm_doc_len` / `lm_token_df` / `lm_stats`: the
  *    Dirichlet-LM serving quartet ([[graft.ops.Search.lmIngestIndex]]) —
  *    the second lexical scorer A/B-served off the same snapshot;
  *  - `bm25_member_*` / `lm_member_*`: the MEMBER (full-corpus) twins of
  *    the two lexical tiers plus the member forward relation — the index
  *    the member-workload family ([[graft.ops.Search.memberIndex]] /
  *    `lmMemberIndex` / `memberForward`) probes;
  *  - `nav_graph`: the navigable neighbor graph the beam searches traverse
  *    (FULL graph — consumers apply their own standing/arriving splits);
  *  - `minhash_signatures`: the MinHash signature table the LSH dedup
  *    family bands and probes;
  *  - `phrase_postings` / `phrase_workload`: the positional tier — the
  *    full-corpus positional posting lists (token, doc_id, sorted
  *    position array) every position-aware query intersects, and the
  *    mined per-length top-n-gram workload.
  *
  * `INDEX_META.json` records the source dir and the build tunables baked
  * into the persisted rows (prune depth, bands, graph degree …): a serving
  * session whose code constants differ from the recorded ones is reading an
  * index built for a different configuration — the meta makes that
  * auditable instead of silent.
  *
  * Usage: `runMain graft.tools.IndexBuild <sfDir> <storeDir>` then serve
  * with `spark.graft.indexDir=<storeDir>`. With `only=router` appended,
  * only the chunk-router pair is rebuilt into an existing store
  * ([[buildRouterTo]] — the router-growth maintenance operation). */
object IndexBuild {

  /** Per-stage wall time of the last [[buildTo]] run, in declaration
    * order — the build-cost attribution the 100 TB claim rests on
    * (r17 verdict #6): the build is the library's one near-linear cost
    * (per-item codec decode / tokenize / vectorize, embarrassingly
    * parallel), and this readout says WHICH stage carries it (codec vs
    * postings vs store write) instead of leaving the 6.2×-at-×10 total
    * unattributed. Printed per stage by `main`; kept as data for specs
    * and the scale sweep. */
  @volatile private[graft] var lastStageSeconds: Seq[(String, Double)] = Nil

  /** Library form (also what `IndexPersistSpec` drives): derive every
    * serving index for `sfDir` and write the store at `storeDir`. The
    * session must NOT have an IndexStore configured — the build derives
    * from the corpus; reading a store while building one would silently
    * copy instead of build. */
  def buildTo(s: SparkSession, sfDir: String, storeDir: String): Unit = {
    val stage = new Stages(s)
    // corpus-id keyspace guard (ADVICE r15): the multimodal fingerprint
    // tables classify corpus vs synthetic-variant rows by fixed id bands
    // starting at 10M — a corpus whose ids reach that band would be
    // fingerprinted misclassified with no error, so the build (the one
    // place every corpus snapshot passes through) checks the max once
    val maxDoc = graft.Tables.documents(s, sfDir)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("doc_id"))).head.getLong(0)
    graft.ops.MultimodalPipeline.requireOriginalId(maxDoc)
    stage("lexical_bm25") {
      val idx = Search.ingestIndex(s, sfDir)
      idx.postings.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.bm25Postings}")
      idx.tokenDf.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.bm25TokenDf}")
      idx.stats.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.bm25Stats}")
    }
    // the forward relation directly — NOT via rm3IngestIndex, which would
    // re-derive (and re-materialize) the whole lexical index a second time
    // only to discard it
    stage("bm25_forward") {
      Search.standingForward(s, sfDir).write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.bm25Forward}")
    }
    // the Dirichlet-LM serving quartet (x_search_lmql_in / s_lmql_stream):
    // pruned tf postings with collection frequencies, doc lengths, term df,
    // and the two 1-row broadcasts folded into one stats relation
    stage("lexical_lm") {
      val lm = Search.lmIngestIndex(s, sfDir)
      lm.postings.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.lmPostings}")
      lm.dlr.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.lmDocLen}")
      lm.dfr.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.lmTokenDf}")
      lm.ct.crossJoin(lm.nDocs).write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.lmStats}")
    }
    // the MEMBER (full-corpus) lexical tier: the index the ~17-query
    // member-workload family (search, eval matrix, RM3, snippet, maxsim,
    // rank/scorer diffs, hybrid text leg) probes — built over ALL
    // documents, where bm25_*/lm_* above exclude the arriving split.
    // Before r19 every member query re-derived this in-plan (re-tokenize
    // + tf/df/dl + prune per query); a deployment builds it once per
    // corpus snapshot, exactly like the standing tier.
    stage("member_bm25") {
      val idx = Search.bm25IndexDocs(graft.Tables.documents(s, sfDir))
      idx.postings.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.bm25MemberPostings}")
      idx.tokenDf.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.bm25MemberTokenDf}")
      idx.stats.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.bm25MemberStats}")
    }
    stage("member_forward") {
      Search.forwardIndex(graft.Tables.documents(s, sfDir)).write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.bm25MemberForward}")
    }
    stage("member_lm") {
      val lm = Search.lmIndexDocs(graft.Tables.documents(s, sfDir))
      lm.postings.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.lmMemberPostings}")
      lm.dlr.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.lmMemberDocLen}")
      lm.dfr.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.lmMemberTokenDf}")
      lm.ct.crossJoin(lm.nDocs).write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.lmMemberStats}")
    }
    stage("nav_graph") {
      Similarity.navGraph(s, sfDir).write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.navGraph}")
    }
    // the standing bucketed probe index (per-vector IVF-style bucket
    // assignment + quantized vector + norm): every kNN/graph ingest probe
    // seeds from it, and the per-session lineage cut re-derived AND
    // re-wrote it per stream run (GraphProfile r16 attribution)
    stage("knn_probe_index") {
      Similarity.standingProbeIndex(s, sfDir).write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.knnProbeIndex}")
    }
    stage("minhash_signatures") {
      Dedup.signatures(s, sfDir).write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.minhashSignatures}")
    }
    // the visual near-dup family's standing fingerprint relation: built
    // once per snapshot (the decode is THE cost at scale), served to the
    // batch probe and the streamed ingest verdict alike
    stage("multimodal_codec") {
      graft.ops.MultimodalPipeline.imagePhash(s, sfDir).write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.imagePhash}")
      graft.ops.MultimodalPipeline.videoPhash(s, sfDir).write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.videoPhash}")
      graft.ops.MultimodalPipeline.audioFingerprint(s, sfDir).write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.audioFp}")
    }
    // the member FEATURE LOG (one BM25 probe + LM leg + labels over the
    // member split): nine queries — the CE rerank family, distillation and
    // preference pairs — read this relation; re-deriving it per query was
    // the r15-flagged inefficiency, and in deployment the trainer reads
    // the logged table anyway
    stage("ltr_feature_log") {
      // drive the shared emission off the member relations JUST WRITTEN
      // (read back from the store layout) instead of re-deriving both
      // full-corpus indexes a second time inside the same build — the
      // rows are identical by the store ≡ memo contract IndexPersistSpec
      // pins, and the build stops paying for two extra corpus passes
      val bm = Search.Bm25Index(
        s.read.parquet(s"$storeDir/${IndexStore.bm25MemberPostings}"),
        s.read.parquet(s"$storeDir/${IndexStore.bm25MemberTokenDf}"),
        s.read.parquet(s"$storeDir/${IndexStore.bm25MemberStats}"))
      val lmStats = s.read.parquet(s"$storeDir/${IndexStore.lmMemberStats}")
      val lm = Search.LmIndex(
        s.read.parquet(s"$storeDir/${IndexStore.lmMemberPostings}"),
        s.read.parquet(s"$storeDir/${IndexStore.lmMemberDocLen}"),
        s.read.parquet(s"$storeDir/${IndexStore.lmMemberTokenDf}"),
        lmStats.select(org.apache.spark.sql.functions.col("c_tot")),
        lmStats.select(org.apache.spark.sql.functions.col("n_docs")))
      Search.ltrFeaturesDeriveOn(s, sfDir, bm, lm).write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.ltrFeatureLog}")
    }
    // the standing CHUNK index (passage-unit BM25 trio — the RAG serving
    // index; arriving docs' chunks excluded, same stance as bm25_*)
    stage("chunk_postings") {
      val chunkIdx = Search.chunkIngestIndexDerive(s, sfDir)
      chunkIdx.postings.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.chunkPostings}")
      chunkIdx.tokenDf.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.chunkTokenDf}")
      chunkIdx.stats.write.mode("overwrite")
        .parquet(s"$storeDir/${IndexStore.chunkStats}")
    }
    // the POSITIONAL tier (r16 verdict #1): full-corpus posting LISTS
    // (token, doc_id, sorted position array) plus the per-length
    // top-n-gram phrase workload — the one serving family that
    // re-tokenized + re-mined the corpus per run
    stage("positional_phrases") {
      Search.positionalIndexOf(graft.Tables.documents(s, sfDir))
        .write.mode("overwrite").parquet(s"$storeDir/${IndexStore.phrasePostings}")
      Search.phraseWorkloadDerive(s, sfDir)
        .write.mode("overwrite").parquet(s"$storeDir/${IndexStore.phraseWorkload}")
    }
    // the DENSE half of the RAG serving index: chunk-id-keyed text
    // vectors (the deterministic hash-projection device — a deployment
    // swaps in its encoder's vectors under the same relation contract)
    stage("chunk_vectors") {
      Search.chunkVectorsDerive(s, sfDir)
        .write.mode("overwrite").parquet(s"$storeDir/${IndexStore.chunkVectors}")
    }
    // the VERSIONED quantizer state (epoch 0 = the snapshot's frozen
    // quantizer): mergeable (Σ, n) per (cluster, dim) — a maintenance
    // deployment appends epoch e+1 after folding an arrival window in;
    // serving reads the latest epoch (Similarity.standingQuantizerState)
    stage("quantizer_state") {
      Similarity.standingQuantizerStateDerive(s, sfDir)
        .write.mode("overwrite").parquet(s"$storeDir/${IndexStore.quantizerState}")
    }
    // the DENSE CHUNK ROUTER (epoch 0 = the snapshot's trained spherical
    // k-means cells over the standing chunk vectors): same versioned
    // mergeable shape as quantizer_state; a maintenance close appends
    // epoch e+1 and serving flips with no plan change
    stage("chunk_router_state") {
      writeRouterState(s, storeDir)
    }
    stage("chunk_routed") {
      writeRouted(s, storeDir)
    }
    writeMeta(s, sfDir, storeDir)
    lastStageSeconds = stage.seconds
  }

  /** One build's per-stage wall-time recorder. Creating it checks that the
    * session has NO IndexStore configured — the build must derive from the
    * corpus; reading a store while building one would silently copy. */
  private final class Stages(s: SparkSession) {
    require(s.conf.getOption(IndexStore.indexDirConf).forall(_.isEmpty),
      s"unset ${IndexStore.indexDirConf} while building — the build must " +
        "derive from the corpus, not read an existing store")
    private val done = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def apply(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      done += name -> (System.nanoTime() - t0) / 1e9
    }
    def seconds: Seq[(String, Double)] = done.toSeq
  }

  /** The router pair as a REBUILD unit (`only=router`): retrain the
    * spherical cells and rewrite the routed inverted lists into an
    * EXISTING store, leaving every other relation untouched — the
    * operation a deployment runs when its corpus outgrows the router
    * (`spark.graft.chunkRouterCells` ≈ √n, the growth rule BASELINE.md
    * round 18 measures) without paying the full snapshot build. The
    * store's INDEX_META is rewritten so the recorded
    * `chunk_router_cells`/`chunk_router_probes` stay auditable. */
  def buildRouterTo(s: SparkSession, sfDir: String, storeDir: String): Unit = {
    val stage = new Stages(s)
    val metaP = new org.apache.hadoop.fs.Path(s"$storeDir/INDEX_META.json")
    require(metaP.getFileSystem(s.sparkContext.hadoopConfiguration).exists(metaP),
      s"only=router rebuilds INTO an existing store; $storeDir has no " +
        "INDEX_META.json — run the full build first")
    stage("chunk_router_state") {
      writeRouterState(s, storeDir)
    }
    stage("chunk_routed") {
      writeRouted(s, storeDir)
    }
    writeMeta(s, sfDir, storeDir)
    lastStageSeconds = stage.seconds
  }

  /** The store's chunk vectors, which both router stages read: the build
    * session has no store configured, so [[Search.chunkVectors]] would
    * derive them a second time. */
  private def storedVectors(s: SparkSession, storeDir: String): DataFrame =
    s.read.parquet(s"$storeDir/${IndexStore.chunkVectors}")

  private def writeRouterState(s: SparkSession, storeDir: String): Unit =
    graft.ops.ChunkRouter.stateDerive(s, storedVectors(s, storeDir))
      .write.mode("overwrite").parquet(s"$storeDir/${IndexStore.chunkRouterState}")

  // the routed inverted lists under the epoch-0 panel just written —
  // routing is a BUILD cost, not a per-query cost
  // (ChunkRouter.routedVectors' contract); an epoch close rewrites
  // this relation (QuantizerClose.closeChunkRouter)
  private def writeRouted(s: SparkSession, storeDir: String): Unit = {
    val st = s.read.parquet(s"$storeDir/${IndexStore.chunkRouterState}")
    graft.ops.ChunkRouter.routedOf(storedVectors(s, storeDir),
      graft.ops.ChunkRouter.panelOf(st))
      .write.mode("overwrite").parquet(s"$storeDir/${IndexStore.chunkRouted}")
  }

  private def writeMeta(s: SparkSession, sfDir: String,
      storeDir: String): Unit = {
    val meta =
      s"""{
         |  "version": 1,
         |  "source": "$sfDir",
         |  "built_utc": "${java.time.Instant.now()}",
         |  "tunables": {
         |    "bm25_prune_per_term": ${Search.prunePerTerm},
         |    "lm_mu": ${Search.lmMu},
         |    "bm25_standing_mod": ${Similarity.knnBatchMod},
         |    "knn_bits": ${Similarity.knnBits},
         |    "graph_degree": ${Similarity.graphDegree},
         |    "minhash_seeds": ${Dedup.nSeeds},
         |    "chunk_router_cells": ${graft.ops.ChunkRouter.cellsOf(s)},
         |    "chunk_router_probes": ${graft.ops.ChunkRouter.probeCells},
         |    "chunk_router_rounds": ${graft.ops.ChunkRouter.maxRounds},
         |    "n_phrases": ${Search.nPhrases},
         |    "phrase_widths": "${Search.phraseWorkloadWidths.map { case (n, w) => s"$n:$w" }.mkString(",")}"
         |  }
         |}
         |""".stripMargin
    val p = new org.apache.hadoop.fs.Path(s"$storeDir/INDEX_META.json")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
  }

  def main(args: Array[String]): Unit = {
    val routerOnly = args.contains("only=router")
    // `conf:key=value` args: session confs for the build — e.g.
    // `conf:spark.graft.chunkRouterCells=1100` grows the router with the
    // corpus (the k ≈ √n rule) for this build without an engine edit.
    val confs = graft.GraftSession.confArgs(args.toSeq)
    val rest = args.filterNot(a => a == "only=router" || a.startsWith("conf:"))
    require(rest.length == 2,
      "usage: runMain graft.tools.IndexBuild <sfDir> <storeDir> " +
        "[only=router] [conf:key=value ...]")
    val sfDir = rest(0); val storeDir = rest(1)
    val spark = graft.GraftSession.local()
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      if (routerOnly) buildRouterTo(spark, sfDir, storeDir)
      else buildTo(spark, sfDir, storeDir)
      lastStageSeconds.foreach { case (name, sec) =>
        println(f"[index-build] stage $name%s $sec%.1f s")
      }
      // an inventory of every relation directory in the store, so the
      // operator sees what landed
      val root = new org.apache.hadoop.fs.Path(storeDir)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root)
        .filter(_.isDirectory).map(_.getPath.getName).sorted.foreach { name =>
          val n = spark.read.parquet(s"$storeDir/$name").count()
          println(s"[index-build] $name: $n rows")
        }
    } finally spark.stop()
  }
}
