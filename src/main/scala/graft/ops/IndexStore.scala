package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, max}

/** Cross-session persistence for the SERVING INDEXES (round-13 verdict #6).
  *
  * Every serving index in the library — the pruned BM25 postings +
  * forward relation ([[Search]]), the navigable neighbor graph
  * ([[Similarity]]), the MinHash signature table ([[Dedup]]) — is derived
  * once per session and memoized to scratch parquet ([[SpillMemo]]): right
  * for a single analytical session, wrong for a deployment, where an index
  * is built ONCE per corpus snapshot and served across sessions, restarts
  * and executors for days. This object is the read side of that posture:
  *
  *  - `graft.tools.IndexBuild` derives every index for a corpus dir and
  *    writes them under one store directory (one parquet dataset per
  *    relation + `INDEX_META.json` recording the build's tunables);
  *  - a serving session sets `spark.graft.indexDir` to that directory and
  *    every consumer ([[Search.ingestIndex]], [[Similarity]]'s nav graph,
  *    [[Dedup]]'s signatures) READS its relation instead of deriving it —
  *    at 100 TB the difference between opening posting lists and
  *    re-tokenizing the corpus at session start.
  *
  * Partial stores are legal: a consumer whose relation is absent falls
  * back to its session-memo derivation (so a store built for lexical
  * serving doesn't force a graph build). A CONFIGURED BUT MISSING store
  * directory fails loudly — that is a typo, not a choice. Both modes
  * produce identical answers (`IndexPersistSpec` pins it): the persisted
  * relations are exactly the memoized ones, and every downstream probe is
  * deterministic in the relation's row SET, not its layout. */
object IndexStore {

  /** Conf key: directory of a persisted index store written by
    * `graft.tools.IndexBuild`. Unset ⇒ session-memo derivation. */
  val indexDirConf = "spark.graft.indexDir"

  /** Relation names — ONE list shared by the build tool and the readers so
    * the layout cannot drift. */
  val bm25Postings = "bm25_postings"
  val bm25TokenDf = "bm25_token_df"
  val bm25Stats = "bm25_stats"
  val bm25Forward = "bm25_forward"
  // the MEMBER (full-corpus) twins: the index the member-workload family
  // (search, rerank, eval, A/B diff) probes — built over ALL documents,
  // where the bm25_*/lm_* relations above exclude the arriving split
  val bm25MemberPostings = "bm25_member_postings"
  val bm25MemberTokenDf = "bm25_member_token_df"
  val bm25MemberStats = "bm25_member_stats"
  val bm25MemberForward = "bm25_member_forward"
  val lmMemberPostings = "lm_member_postings"
  val lmMemberDocLen = "lm_member_doc_len"
  val lmMemberTokenDf = "lm_member_token_df"
  val lmMemberStats = "lm_member_stats"
  val lmPostings = "lm_postings"
  val lmDocLen = "lm_doc_len"
  val lmTokenDf = "lm_token_df"
  val lmStats = "lm_stats"
  val navGraph = "nav_graph"
  val minhashSignatures = "minhash_signatures"
  val imagePhash = "image_phash"
  val videoPhash = "video_phash"
  val audioFp = "audio_fp"
  val ltrFeatureLog = "ltr_features"
  val knnProbeIndex = "knn_probe_index"
  val chunkPostings = "chunk_postings"
  val chunkTokenDf = "chunk_token_df"
  val chunkStats = "chunk_stats"
  val phrasePostings = "phrase_postings"
  val phraseWorkload = "phrase_workload"
  val chunkVectors = "chunk_vectors"
  val quantizerState = "quantizer_state"
  val chunkRouterState = "chunk_router_state"
  val chunkRouted = "chunk_routed"

  private def fs(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The configured store root, validated to exist (a configured-but-
    * missing store is a deployment error, never a silent re-derive). */
  private def root(s: SparkSession): Option[String] =
    s.conf.getOption(indexDirConf).filter(_.nonEmpty).map { base =>
      val p = new org.apache.hadoop.fs.Path(base)
      require(fs(s, p).exists(p),
        s"$indexDirConf points at $base, which does not exist — " +
          "build the store with graft.tools.IndexBuild")
      base
    }

  /** Read a persisted relation, or None when no store is configured or
    * this store does not carry `name` (partial stores are legal).
    *
    * `sourceDir` is the corpus dir the CALLER is querying: when the
    * store's `INDEX_META.json` records a different source, the read
    * FAILS — an index built over corpus A silently answering queries
    * about corpus B is the worst failure mode a persisted index has
    * (wrong results, no error). A hand-assembled store without a meta
    * file is accepted as-is (the assembler owns the match). */
  def read(s: SparkSession, name: String, sourceDir: String): Option[DataFrame] =
    root(s).flatMap { base =>
      val p = new org.apache.hadoop.fs.Path(s"$base/$name")
      if (!fs(s, p).exists(p)) None
      else {
        metaSource(s, base).foreach { src =>
          // fully-qualified comparison: 'data/sf0.1/', './data/sf0.1' and
          // an absolute spelling of the same dir must all match — a raw
          // string compare would hard-fail serving on the SAME corpus
          require(qualified(s, src) == qualified(s, sourceDir),
            s"$indexDirConf store at $base was built for corpus '$src' but " +
              s"this query reads '$sourceDir' — rebuild with graft.tools.IndexBuild")
        }
        Some(s.read.parquet(p.toString))
      }
    }

  /** The serving-index resolution order in one place: the store's `name`
    * relation when a store is configured and carries it, else the session
    * spill of `derive` ([[SpillMemo.spill]], tagged `name`, keyed on `d`). */
  def served(s: SparkSession, name: String, d: String)(derive: => DataFrame): DataFrame =
    read(s, name, d).getOrElse(SpillMemo.spill(s, name, d)(derive))

  /** A VERSIONED relation's latest epoch (`epoch` column dropped), or None
    * like [[read]] — a maintenance close appends epoch e+1 and serving
    * flips to it with no plan change. */
  def latest(s: SparkSession, name: String, d: String): Option[DataFrame] =
    read(s, name, d).map { st =>
      st.join(broadcast(st.agg(max(col("epoch")).as("epoch"))), "epoch")
        .drop("epoch")
    }

  /** Scheme-qualified absolute form of a dir spec, for corpus identity
    * comparison. */
  private def qualified(s: SparkSession, dir: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(dir)
    fs(s, p).makeQualified(p)
  }

  /** The `source` field of the store's INDEX_META.json, if the file
    * exists (one tiny driver-side read per store per query build). */
  private def metaSource(s: SparkSession, base: String): Option[String] = {
    val mp = new org.apache.hadoop.fs.Path(s"$base/INDEX_META.json")
    val f = fs(s, mp)
    if (!f.exists(mp)) None
    else {
      val in = f.open(mp)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      """"source":\s*"([^"]*)"""".r.findFirstMatchIn(text).map(_.group(1))
    }
  }
}
