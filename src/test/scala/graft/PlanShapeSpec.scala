package graft

/** Physical-plan shape assertions for the round-5 curation operators — the
  * scale properties their scaladocs claim, pinned so a refactor that
  * silently de-broadcasts a join or adds an exchange fails loudly. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("decontaminate joins the corpus against a BROADCAST eval set, never sort-merge") {
    val p = plan("x_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval shingles must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$p")
  }

  test("mix_weights broadcasts the 1-row totals — no shuffle join") {
    val p = plan("x_mix_weights")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"totals must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pack_sequences: document cumsum window partitions by (lang, bkt), not lang alone") {
    // round 14: the per-stratum sequential cumsum became prefixSum's
    // two-level bucket scan — the document-sized window must carry the
    // bucket key (stratum-only windows may only rank the bucket totals),
    // and the bucket-offset join must reuse the window's partitioning
    // rather than add a third document-sized exchange
    val p = plan("x_pack_sequences")
    assert(p.contains("Window"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("windowspecdefinition(lang#") && l.contains("bkt#")),
      s"expected the intra-bucket cumsum window keyed by (lang, bkt):\n$p")
    // broadcast exchanges are free at this size (AQE ships the bucket
    // offsets to the doc side); the SHUFFLE budget is bucket agg +
    // join/window partitioning + the bucket-row window
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 3,
      s"expected at most 3 shuffle exchanges (bucket agg + reused join/window + bucket-row window), got $shuffles:\n$p")
  }

  test("proximity rerank: positional scan pruned by a BROADCAST probe relation") {
    val p = plan("x_search_proximity")
    // the (query, hit, term) probe triples broadcast onto the posexplode
    // pass; the corpus-sized positions relation must never sort-merge
    assert(p.contains("BroadcastHashJoin"), s"probe triples must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"positions must not sort-merge:\n$p")
  }

  test("anomaly windows broadcast the 1-row moments — map-side filter, no second shuffle") {
    val p = plan("d_anomaly")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"moments must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("split_assign is map-side hash + ONE rollup exchange") {
    val p = plan("x_split_assign")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 1, s"expected one shuffle (the rollup), got $shuffles:\n$p")
    assert(!p.contains("Join"), s"no join belongs in a hash split:\n$p")
  }

  test("dup_coverage shuffles shingle PAIRS twice (df agg, doc agg) — text never shuffles") {
    val p = plan("x_dup_coverage")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 2, s"expected df-agg + per-doc-agg shuffles only, got $shuffles:\n$p")
    assert(!p.contains("SortMergeJoin"), s"join-backs must stay hash/broadcast:\n$p")
  }

  test("lsh_verified computes intersections in-row: no explode after the candidate join") {
    val p = plan("x_dedup_lsh_verified")
    // the only Generate (explode) nodes belong to shingling/banding BEFORE
    // the pair join; array_intersect must not re-explode shingle sets
    assert(p.contains("array_intersect"), p)
    assert(!p.contains("SortMergeJoin"), s"pair verify joins must hash/broadcast:\n$p")
  }

  /** Executed final plan (AQE resolved) — for shapes that only settle at
    * runtime. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
  }

  test("incremental dedup BROADCASTS the batch bands — the corpus index probe is shuffle-free") {
    val p = finalPlan("x_dedup_incremental")
    assert(p.contains("BroadcastHashJoin"), s"batch band relation must broadcast:\n$p")
  }

  test("weighted sample is a zero-shuffle TakeOrderedAndProject — no explode, no window") {
    val p = plan("x_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), s"global top-k must heap-merge, not sort:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 0, s"ticket min is in-row; expected zero shuffles, got $shuffles:\n$p")
    assert(!p.contains("Generate"), s"tickets must not explode:\n$p")
    assert(!p.contains("Window"), s"rank must not move rows to one partition:\n$p")
  }

  test("rerank: probe set broadcasts onto the corpus; top-k is the bounded-heap aggregate") {
    val p = plan("x_sim_topk_rerank")
    assert(p.contains("BroadcastHashJoin"), s"the probe set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"candidates come from probed clusters only:\n$p")
    // per-query top-k runs through TopK.Cut's partial reduction, never a
    // window over the full scored candidate set
    assert(p.contains("ObjectHashAggregate"), s"top-k must heap-reduce map-side:\n$p")
  }

  test("model gate is pure map-side: no exchange, no join, inside codegen") {
    val p = plan("x_model_gate")
    val shuffles = p.linesIterator.count(l => l.contains("Exchange"))
    assert(shuffles == 0, s"a scan-fused gate must not shuffle, got $shuffles:\n$p")
    assert(!p.contains("Join"), p)
    // `*(n)` prefixes are the whole-stage-codegen markers in simpleString
    assert(p.contains("*("), s"gate must stay codegen'd:\n$p")
  }

  test("bpe trainer: merge sets broadcast into the rewrite — the token relation never sort-merges") {
    // the full query's rewrite joins hide behind the per-round lineage cuts
    // (separate checkpoint jobs), so pin the rewrite STAGE directly
    val docs = Tables.documents(spark, sf)
    val (_, rewritten) = graft.ops.Bpe.round(graft.ops.Bpe.tokenize(docs), 1)
    rewritten.collect()
    val p = rewritten.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    assert(p.contains("BroadcastHashJoin"), s"merge-occurrence joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus-sized token relation must not sort for a tiny merge set:\n$p")
  }

  test("broadcastSmallSides=false drops the data-dependent hints — shuffle join, same rows") {
    // The conf is the cluster escape hatch for sides that are only
    // heuristically small (BPE merge occurrences, incremental's batch
    // bands): hint gone + auto-broadcast off must yield a non-broadcast
    // join AND identical results.
    val docs = Tables.documents(spark, sf)
    val withHint = graft.ops.Bpe.round(graft.ops.Bpe.tokenize(docs), 1)._2
      .orderBy("doc_id", "pos").collect().toSeq
    spark.conf.set(graft.ops.Hints.broadcastSmallSidesConf, "false")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val rewritten = graft.ops.Bpe.round(graft.ops.Bpe.tokenize(docs), 1)._2
      assert(rewritten.orderBy("doc_id", "pos").collect().toSeq === withHint)
      val p = rewritten.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
      // the LIMIT-1 top-pair join stays broadcast (genuinely constant-size,
      // not gated); the two gated MERGE-set left-outer joins must not
      assert(!p.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("LeftOuter")),
        s"conf off + no auto-broadcast must shuffle-join the merge sets:\n$p")
      assert(p.linesIterator.exists(l =>
          l.contains("SortMergeJoin") && l.contains("LeftOuter")), p)
    } finally {
      spark.conf.unset(graft.ops.Hints.broadcastSmallSidesConf)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("keep_best: argmax and member count share ONE comp-keyed sort/window pass") {
    // The operator's claimed incremental cost over components is a single
    // cluster-keyed exchange where one sort serves both the row_number
    // argmax and the member count — i.e. at most one Window-node PAIR over
    // the same partitioning, not a window per aggregate. (The label/length
    // join-backs are corpus-sized on both sides, so their strategy is the
    // planner's call — SMJ there is correct, not a regression.)
    val p = plan("x_dedup_keep_best")
    val windows = p.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 2, s"argmax and member count must share the comp sort:\n$p")
    val compExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(comp"))
    assert(compExchanges == 1,
      s"expected exactly one comp-keyed exchange, got $compExchanges:\n$p")
  }

  test("sketch distinct: HLL partials merge from phase one; null filter reaches the scan") {
    val p = SparkEntry.queries("x_sketch_distinct")(spark, sf)
      .queryExecution.executedPlan
    val s = p.toString
    // The differential query carries the exact side's two-phase distinct;
    // the HLL registers must still be map-side partials (no raw-key pass
    // dedicated to the sketch), and the null gate must be a pushed filter.
    assert(s.contains("partial_approx_count_distinct"),
      s"HLL must aggregate map-side:\n$s")
    val shuffles = s.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 2, s"exact-distinct pair only; got $shuffles exchanges:\n$s")
    val scan = s.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("IsNotNull"), s"user_id null gate must push to parquet:\n$s")
  }

  test("sketch quantile: ONE exchange — percentile and t-digest partials both map-side") {
    val p = plan("x_sketch_quantile")
    assert(p.contains("ObjectHashAggregate"), s"sort-based agg regression:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 1, s"expected the single returnflag exchange, got $shuffles:\n$p")
  }

  /** The PRODUCTION sketch form (estimate only, no exact twin): the plan
    * must move register arrays through ONE exchange and never shuffle raw
    * keys — this is the shape that makes HLL the 100 TB distinct path. */
  test("estimate-only HLL is a single register exchange, no raw-key pre-aggregation") {
    import org.apache.spark.sql.functions._
    val df = graft.Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("n_hll"))
    val s = df.queryExecution.executedPlan.toString
    val shuffles = s.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 1, s"registers merge through one exchange, got $shuffles:\n$s")
    assert(!s.contains("count(distinct"), s"no exact distinct belongs here:\n$s")
  }

  test("count-min probes the BROADCAST counter grid; no sort-merge anywhere") {
    val p = plan("x_sketch_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), s"the 256-cell grid must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing in CM justifies a sort-merge:\n$p")
  }

  test("partitioned roundtrip PRUNES: the day predicate is a PartitionFilter, not a row Filter") {
    val p = plan("c_io_partitioned_roundtrip")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("day"), s"day predicate must prune partitions:\n$p")
    // the partition column never appears in a post-scan row-level filter
    assert(!p.linesIterator.exists(l => l.trim.startsWith("+- Filter") && l.contains("day#")),
      s"day must not be re-checked per row:\n$p")
  }

  test("incremental kNN broadcasts the ingest batch; the corpus never self-joins") {
    val p = plan("x_sim_knn_incremental")
    assert(p.contains("BroadcastHashJoin"), s"the batch side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the corpus must stream past the broadcast:\n$p")
  }

  test("broadcastSmallSides=false: incremental kNN and decontaminate take shuffle joins, same rows") {
    // Round-7 verdict #3: every data-dependent forced broadcast (ingest
    // batch, eval set, probe set) must share Dedup.incremental's conf
    // escape hatch — flip the conf and the plan must shuffle-join instead
    // of OOMing a driver whose "small" side grew, with identical output.
    def rows(name: String, sort: Seq[String]) =
      SparkEntry.queries(name)(spark, sf).orderBy(sort.head, sort.tail: _*).collect().toSeq
    val knnHint = rows("x_sim_knn_incremental", Seq("vec_id", "rnk"))
    val decHint = rows("x_decontaminate", Seq("doc_id", "eval_id"))
    spark.conf.set(graft.ops.Hints.broadcastSmallSidesConf, "false")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq("x_sim_knn_incremental", "x_decontaminate").foreach { name =>
        val df = SparkEntry.queries(name)(spark, sf)
        df.collect()
        val p = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.toString
          case other => other.toString
        }
        assert(!p.contains("BroadcastHashJoin"),
          s"$name: conf off + no auto-broadcast must drop every broadcast join:\n$p")
      }
      assert(rows("x_sim_knn_incremental", Seq("vec_id", "rnk")) === knnHint)
      assert(rows("x_decontaminate", Seq("doc_id", "eval_id")) === decHint)
    } finally {
      spark.conf.unset(graft.ops.Hints.broadcastSmallSidesConf)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("holdout anti join: broadcast by default, shuffle under the conf — and the conf reaches the streaming child") {
    // The streamed decontamination's static side goes through the same
    // Hints.broadcastSmall as its batch twin; pin the anti-join shape both
    // ways on the batch construction, then prove the conf actually
    // propagates into EventPipeline.streamingSession (newSession starts
    // from DEFAULT conf — a dropped copy would silently re-broadcast).
    import org.apache.spark.sql.functions.col
    def anti(s: org.apache.spark.sql.SparkSession) =
      Tables.events(s, sf).filter(col("user_id").isNotNull)
        .join(graft.ops.Hints.broadcastSmall(
          Tables.customer(s, sf).filter(col("c_custkey") % 20 === 0)
            .select(col("c_custkey"))),
          col("user_id") === col("c_custkey"), "left_anti")
    val pOn = { val df = anti(spark); df.collect(); df.queryExecution.executedPlan.toString }
    assert(pOn.contains("BroadcastHashJoin"), s"holdout must broadcast by default:\n$pOn")

    spark.conf.set(graft.ops.Hints.broadcastSmallSidesConf, "false")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val child = graft.streaming.EventPipeline.streamingSession(spark)
      assert(child.conf.getOption(graft.ops.Hints.broadcastSmallSidesConf)
        .contains("false"), "graft confs must propagate into the streaming child")
      // the threshold is a per-session Spark knob; at test scale the tiny
      // holdout would auto-broadcast regardless of the hint, so disable it
      // on the child (a production holdout past the threshold needs no such
      // step — auto-broadcast skips it on size).
      child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = anti(child)
      df.collect()
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
      assert(!p.contains("BroadcastHashJoin"),
        s"conf off + no auto-broadcast must shuffle the anti join:\n$p")
    } finally {
      spark.conf.unset(graft.ops.Hints.broadcastSmallSidesConf)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("surprisal broadcasts the 1-row corpus total — no shuffle for N") {
    val p = plan("x_text_surprisal")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the corpus-size scalar must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("alignment gate: pair side broadcasts onto the decode pass — no sort-merge") {
    val p = plan("x_mm_alignment")
    assert(p.contains("BroadcastHashJoin"),
      s"the text-embedding side must broadcast onto the decoded stats:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the decode output must not sort-merge:\n$p")
  }

  test("graph insert: batch-sized candidate relations broadcast onto corpus scans") {
    // Both endpoint-vector lookups must broadcast the (delta-sized)
    // candidate pairs, never shuffle the corpus (the knnProbe shape).
    val p = plan("x_sim_graph_insert")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate pairs must broadcast onto the vector scans:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle for the insert re-trim:\n$p")
  }

  test("embedding drift is one partial-agged pass — a single exchange on the dimension key") {
    val p = plan("x_embed_drift")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly one exchange (by dim), got $exchanges:\n$p")
    assert(!p.contains("Join"), s"drift must not join anything:\n$p")
  }

  test("bm25 probe: query terms broadcast onto pruned lists; final cut is the bounded heap") {
    val p = plan("x_search_bm25")
    assert(p.contains("BroadcastHashJoin"),
      s"terms and the top-k join-back must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the posting lists must never sort-merge against the probe:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"the final cut must be the TopK.Cut bounded heap:\n$p")
  }

  test("dsir: weight lookup broadcasts (64 rows) and the cut is TakeOrderedAndProject") {
    val p = plan("x_sample_dsir")
    assert(p.contains("TakeOrderedAndProject"),
      s"the quota cut must be per-partition heaps + driver merge, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-weight table must broadcast onto the token stream:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("hybrid fusion works dashboard-sized relations — no corpus-sized sort-merge") {
    val p = plan("x_search_hybrid_rrf")
    assert(!p.contains("SortMergeJoin"),
      s"every join in the hybrid pipeline must hash/broadcast:\n$p")
    assert(p.contains("Window"), s"the fused cut is a window over ≤2k rows/query:\n$p")
  }

  test("visual near-dup: band-bucket hash joins, never a cartesian or sort-merge") {
    // the banded candidate join's entire scale story is the bucket
    // equi-key — a refactor that loses the key degenerates to an
    // all-pairs cartesian (5556² at sf0.1, unbounded at 100 TB)
    Seq("x_mm_image_neardup", "x_mm_phash_probe", "x_mm_dedup_gate",
      "x_mm_clip_dup", "x_mm_audio_dup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: candidate join degenerated to a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q: candidate join lost its equi-key:\n$p")
    }
  }

  test("cross-encoder rerank: window partitions by query_id over k-bounded rows") {
    val p = plan("x_search_ce_rerank")
    assert(p.linesIterator.exists(l =>
      l.contains("windowspecdefinition(query_id#")),
      s"the rerank window must partition per query (<=k rows each):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Q7-shape: both nation dim chains broadcast; the only sort-merge is the fact-fact key") {
    val p = plan("h_nation_volume")
    assert(p.contains("BroadcastHashJoin"),
      s"supplier/customer dim chains must broadcast:\n$p")
    // lineitem-orders may legitimately sort-merge (fact-fact); dims never
    val smj = p.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj <= 1, s"expected at most the fact-fact sort-merge, got $smj:\n$p")
  }

  test("phrase index: BOTH posting scans are phrase-pruned before the intersection") {
    // The w2-side scan must semi-join the broadcast phrase table — w2 is a
    // per-row column in the intersection condition, so without its own
    // prune the full positional index shuffles (the bug this pins out).
    val p = plan("x_search_phrase_idx")
    val pruningJoins = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") &&
        (l.contains("Inner") || l.contains("LeftSemi")))
    assert(pruningJoins >= 2,
      s"expected the w1 prune join AND the w2 semi prune, got $pruningJoins:\n$p")
  }

  test("MMR: query panel broadcasts, pool via bounded heap, no cartesian, no window") {
    // Pool stage (the only corpus-touching leg — inspected uncut because
    // mmrFor lineage-cuts it out of the final plan):
    val c = graft.ops.Similarity.corpus(spark, sf)
    val q = c.limit(2).selectExpr("vec_id AS query_id", "v AS qv")
    val pp = graft.ops.Diversify.mmrCandidates(c, q)
      .queryExecution.executedPlan.toString
    assert(pp.contains("BroadcastHashJoin") || pp.contains("BroadcastNestedLoopJoin"),
      s"the query panel must broadcast over the corpus scan:\n$pp")
    assert(pp.contains("ObjectHashAggregate"),
      s"the candidate pool must heap-reduce map-side (TopK.Cut):\n$pp")
    assert(!pp.contains("Window"), s"pool ranking must not window-sort:\n$pp")
    // Full greedy query: bounded relations only, never all-pairs or windows.
    val p = plan("x_sim_mmr")
    assert(!p.contains("CartesianProduct"),
      s"pairwise sims must key on query_id, never all-pairs:\n$p")
    assert(!p.contains("Window"),
      s"greedy argmax must be a per-query aggregate, not a window sort:\n$p")
  }
}
