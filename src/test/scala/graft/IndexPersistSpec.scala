package graft

import org.apache.spark.sql.DataFrame

/** Cross-session index persistence ([[graft.ops.IndexStore]] +
  * [[graft.tools.IndexBuild]]): a store built once must serve IDENTICAL
  * answers to the session-memo derivation across every index family it
  * carries — lexical (BM25 + RM3), dense (nav-graph beam), and dedup
  * (MinHash LSH) — and persisted-mode serving must actually READ the store
  * (a parquet scan in the plan), not silently re-derive. */
class IndexPersistSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The root paths of every file-source scan in the plan, untruncated.
    * `executedPlan.toString` truncates the FileScan location at
    * `spark.sql.maxMetadataStringLength` (100 chars), so a substring
    * assertion on it breaks whenever the scratch root gets long — this
    * reads the actual `HadoopFsRelation.location.rootPaths` instead. */
  private def scannedPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if fs.fileFormat.isInstanceOf[
                org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten

  /** Assert the frame is served by a parquet scan rooted under `store`
    * at the store's `relation` directory — i.e. persisted-mode serving
    * actually READS the store, not a re-derivation. */
  private def assertScansStore(df: DataFrame, store: String, relation: String): Unit = {
    val paths = scannedPaths(df)
    assert(paths.exists(p => p.contains(store) && p.contains(relation)),
      s"persisted mode must scan the store's $relation parquet under $store; " +
        s"scanned roots were:\n${paths.mkString("\n")}")
  }

  test("persisted store serves identical answers to memo mode; serving reads parquet") {
    // Memo-mode relations/answers FIRST (store unset — also what the build
    // derives). The graph-beam and LSH QUERY entries memoize their results
    // per session, so re-calling them under the conf would trivially pass —
    // the cross-mode comparison runs on the store-served RELATIONS those
    // queries consume (identical relation ⇒ identical downstream answers;
    // the two *search* answers have no result memo and are compared whole).
    val memoSearch = rows(ops.Search.bm25IngestTopK(spark, sf))
    val memoRm3 = rows(ops.Search.rm3IngestSearch(spark, sf))
    val memoLm = rows(ops.Search.lmqlIngestTopK(spark, sf))
    val memoGraph = rows(ops.Similarity.navGraph(spark, sf))
    val memoSigs = rows(ops.Dedup.signatures(spark, sf))
    val memoPhash = rows(ops.MultimodalPipeline.imagePhash(spark, sf))
    val memoLtr = rows(ops.Search.ltrFeatures(spark, sf))
    val memoCe = rows(ops.Search.ceRerank(spark, sf))
    val memoPhraseN = rows(ops.Search.phraseIndexSearchN(spark, sf))
    val memoProx = rows(ops.Search.proximityRerank(spark, sf))
    // the member (full-corpus) family (r19): plain BM25 top-k, the LM
    // scorer, and the two-round RM3 — together they touch every member
    // relation (bm25_member_* trio, lm_member_* quartet, member forward)
    val memoMemberBm = rows(ops.Search.bm25TopK(spark, sf))
    val memoMemberLm = rows(ops.Search.lmqlTopK(spark, sf))
    val memoMemberRm3 = rows(ops.Search.rm3Search(spark, sf))
    assert(memoSearch.nonEmpty && memoRm3.nonEmpty && memoLm.nonEmpty &&
      memoGraph.nonEmpty && memoSigs.nonEmpty && memoPhash.nonEmpty &&
      memoLtr.nonEmpty && memoCe.nonEmpty && memoPhraseN.nonEmpty &&
      memoProx.nonEmpty && memoMemberBm.nonEmpty && memoMemberLm.nonEmpty &&
      memoMemberRm3.nonEmpty)

    val store = ops.SpillMemo.scratchDir("graft-idxstore-")
    tools.IndexBuild.buildTo(spark, sf, store)
    // the meta records what was built
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$store/INDEX_META.json"))
    assert(meta.contains("\"bm25_prune_per_term\": 256"), meta)

    spark.conf.set(ops.IndexStore.indexDirConf, store)
    try {
      // persisted-mode serving must READ the store: the postings relation
      // is a plain parquet scan of the persisted files
      assertScansStore(ops.Search.ingestIndex(spark, sf).postings, store, "bm25_postings")
      assertScansStore(ops.Similarity.navGraph(spark, sf), store, "nav_graph")

      assert(rows(ops.Search.bm25IngestTopK(spark, sf)) == memoSearch,
        "BM25 ingest answers diverged between memo and persisted mode")
      assert(rows(ops.Search.rm3IngestSearch(spark, sf)) == memoRm3,
        "RM3 ingest answers diverged between memo and persisted mode")
      assertScansStore(ops.Search.lmIngestIndex(spark, sf).postings, store, "lm_postings")
      assert(rows(ops.Search.lmqlIngestTopK(spark, sf)) == memoLm,
        "LM ingest answers diverged between memo and persisted mode")
      assert(rows(ops.Similarity.navGraph(spark, sf)) == memoGraph,
        "persisted nav graph diverged from the memoized one")
      assert(rows(ops.Dedup.signatures(spark, sf)) == memoSigs,
        "persisted MinHash signatures diverged from the memoized ones")
      assertScansStore(ops.MultimodalPipeline.imagePhash(spark, sf), store, "image_phash")
      assert(rows(ops.MultimodalPipeline.imagePhash(spark, sf)) == memoPhash,
        "persisted image fingerprints diverged from the decoded ones")
      // the member feature log (r16): nine queries read it; store-served
      // rows AND a downstream consumer (the CE rerank) must be identical
      assertScansStore(ops.Search.ltrFeatures(spark, sf), store, "ltr_features")
      assert(rows(ops.Search.ltrFeatures(spark, sf)) == memoLtr,
        "persisted feature log diverged from the derived one")
      assert(rows(ops.Search.ceRerank(spark, sf)) == memoCe,
        "CE rerank answers diverged between memo and persisted mode")
      // the bucketed probe index (r16): the kNN/graph ingest probes' seed
      // relation must come from the store, identically to the derivation
      assertScansStore(ops.Similarity.knnCorpusIndex(spark, sf), store, "knn_probe_index")
      assert(rows(ops.Similarity.knnCorpusIndex(spark, sf)) ==
        rows(ops.Similarity.standingProbeIndex(spark, sf)),
        "persisted probe index diverged from the derivation")
      // the positional tier (r17): phrase search + proximity must read
      // the store's postings/workload parquet, identically to derivation
      assertScansStore(ops.Search.positionalPostings(spark, sf), store, "phrase_postings")
      assertScansStore(ops.Search.phraseWorkloadTable(spark, sf), store, "phrase_workload")
      assert(rows(ops.Search.phraseIndexSearchN(spark, sf)) == memoPhraseN,
        "phrase-N answers diverged between memo and persisted mode")
      assert(rows(ops.Search.proximityRerank(spark, sf)) == memoProx,
        "proximity answers diverged between memo and persisted mode")
      // the member (full-corpus) family (r19): serving must READ the
      // member relations and answer identically to the derivation
      assertScansStore(ops.Search.memberIndex(spark, sf).postings,
        store, "bm25_member_postings")
      assertScansStore(ops.Search.lmMemberIndex(spark, sf).postings,
        store, "lm_member_postings")
      assertScansStore(ops.Search.memberForward(spark, sf),
        store, "bm25_member_forward")
      assert(rows(ops.Search.bm25TopK(spark, sf)) == memoMemberBm,
        "member BM25 answers diverged between memo and persisted mode")
      assert(rows(ops.Search.lmqlTopK(spark, sf)) == memoMemberLm,
        "member LM answers diverged between memo and persisted mode")
      assert(rows(ops.Search.rm3Search(spark, sf)) == memoMemberRm3,
        "member RM3 answers diverged between memo and persisted mode")
      // the r17 relations: chunk vectors and the versioned quantizer
      // state must be store-READ and identical to their derivations
      assertScansStore(ops.Search.chunkVectors(spark, sf), store, "chunk_vectors")
      assert(rows(ops.Search.chunkVectors(spark, sf)) ==
        rows(ops.Search.chunkVectorsDerive(spark, sf)),
        "persisted chunk vectors diverged from the derivation")
      assertScansStore(ops.Similarity.standingQuantizerState(spark, sf), store, "quantizer_state")
      assert(rows(ops.Similarity.standingQuantizerState(spark, sf)) ==
        rows(ops.Similarity.standingQuantizerStateDerive(spark, sf).drop("epoch")),
        "persisted quantizer state (latest epoch) diverged from the derivation")
    } finally spark.conf.unset(ops.IndexStore.indexDirConf)
  }

  test("the streamed serving twin reads the persisted index: conf propagates to the stream session") {
    // The deployment path: a serving STREAM against a store built in an
    // earlier session. EventPipeline.streamingSession copies every
    // spark.graft.* conf into the child session (and keys its memo on
    // them), so the store must reach the streamed probe's index reads —
    // this pins it end to end through the file-source wrapper.
    val store = ops.SpillMemo.scratchDir("graft-idxstream-")
    tools.IndexBuild.buildTo(spark, sf, store)
    val batch = rows(ops.Search.bm25IngestTopK(spark, sf)) // memo mode
    spark.conf.set(ops.IndexStore.indexDirConf, store)
    try {
      val streamed = rows(SparkEntry.queries("s_search_stream")(spark, sf))
      assert(streamed == batch,
        "store-served streamed search diverged from the memo-mode batch search")
      assert(streamed.nonEmpty)
    } finally spark.conf.unset(ops.IndexStore.indexDirConf)
  }

  test("a store built for another corpus fails loudly instead of serving wrong answers") {
    // An index over corpus A answering queries about corpus B is the worst
    // persisted-index failure mode (wrong results, no error) — the meta's
    // recorded source gates every read.
    val store = ops.SpillMemo.scratchDir("graft-idxwrong-")
    tools.IndexBuild.buildTo(spark, sf, store)
    // rewrite the meta to claim a different source corpus
    val mp = java.nio.file.Paths.get(s"$store/INDEX_META.json")
    java.nio.file.Files.writeString(mp,
      java.nio.file.Files.readString(mp)
        .replace(s""""source": "$sf"""", """"source": "/some/other/corpus""""))
    // the out-of-band rewrite invalidates Hadoop's checksum sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$store/.INDEX_META.json.crc"))
    spark.conf.set(ops.IndexStore.indexDirConf, store)
    try {
      val e = intercept[IllegalArgumentException] {
        ops.Search.bm25IngestTopK(spark, sf).collect()
      }
      assert(e.getMessage.contains("was built for corpus"), e.getMessage)
    } finally spark.conf.unset(ops.IndexStore.indexDirConf)
  }

  test("a configured-but-missing store fails loudly; a partial store falls back per relation") {
    spark.conf.set(ops.IndexStore.indexDirConf, "/nonexistent/graft-store")
    try {
      val e = intercept[IllegalArgumentException] {
        ops.Search.bm25IngestTopK(spark, sf).collect()
      }
      assert(e.getMessage.contains("IndexBuild"), e.getMessage)
    } finally spark.conf.unset(ops.IndexStore.indexDirConf)

    // partial store: only the nav graph — lexical serving derives as before
    val partial = ops.SpillMemo.scratchDir("graft-idxpart-")
    ops.Similarity.navGraph(spark, sf).write.mode("overwrite")
      .parquet(s"$partial/${ops.IndexStore.navGraph}")
    val memoSearch = rows(ops.Search.bm25IngestTopK(spark, sf))
    spark.conf.set(ops.IndexStore.indexDirConf, partial)
    try assert(rows(ops.Search.bm25IngestTopK(spark, sf)) == memoSearch,
      "a store without the lexical index must fall back to derivation")
    finally spark.conf.unset(ops.IndexStore.indexDirConf)
  }
}
