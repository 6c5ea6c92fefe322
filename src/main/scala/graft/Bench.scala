package graft

import scala.util.control.NonFatal

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line on stdout (build.sbt routes forked stdout through
  * unprefixed, so the driver can parse the tail line directly).
  *
  * Methodology:
  *  - the timed action is a write to the `noop` datasource — a full execution
  *    of every operator with rows pushed through the whole plan, unlike
  *    `count()`, which lets Catalyst prune the very columns under test;
  *  - an untimed warm-up query absorbs the first-query JVM/session cost
  *    (JIT, codegen compiler, Hadoop FS init — measured ~10 s);
  *  - each query runs twice and reports the MIN, measuring steady-state
  *    operator cost rather than co-tenant machine noise (observed run-to-run
  *    variance on this host exceeds 5×; the round-3 driver run measured the
  *    whole suite 13× slower than an idle-host run of identical code);
  *  - when the two runs disagree by more than 2× the query runs a THIRD
  *    time — two consistent samples mean steady state, two wildly different
  *    ones mean a co-tenant burst landed on one of them;
  *  - the 1/15-minute system load averages are reported in the JSON
  *    (`load` field, kept through EVERY degradation tier) so a noisy total
  *    is diagnosable as contention rather than a code regression, and
  *    `resampled`/`spread` summarize how many queries needed a third sample
  *    and the worst max/min sample ratio — distinguishing an unlucky pair
  *    from a steady regression without re-running;
  *  - a full-precision per-query artifact (`bench_full.json`, all raw
  *    samples, no rounding or omission, the run's cpus/master recorded) is
  *    written next to the repo for round-over-round comparison — the
  *    stdout line is tail-budgeted and lossy by design;
  *  - MEMO-BACKED queries (the LSH pair graph, the MinHash signature
  *    index, the converged k-means assignment, the BPE trainer, the
  *    per-doc feature base behind `x_doc_features`/`x_model_*` — see
  *    [[graft.ops.SpillMemo]]) measure a parquet READ-BACK in their warm
  *    samples; the derivation cost is the FIRST sample in
  *    `bench_full.json`, so compare training-loop regressions on first
  *    samples, never on the min;
  *  - failures are reported per query in an `errors` map (and as value -1)
  *    instead of masquerading as fast runs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    try // warm-up (untimed): exercises scan + shuffle + agg + noop machinery
      ops.WindowAgg.userWindows(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    catch { case NonFatal(_) => () }

    // Deployment posture for the serving family (round-14 verdict #4): build
    // the persisted IndexStore ONCE and point the session at it, so every
    // serving query (`*_in`, the serving `s_*` streams, RM3/LTR/MaxSim
    // probes) READS its standing index instead of re-deriving it
    // JVM-first-sample — at 100 TB an index is built once per corpus
    // snapshot and served for days; benching the re-derivation per query
    // measured a posture no deployment runs. The build cost is REAL and
    // recorded (`index_build_sec` in bench_full.json — the production
    // build-job cost), never hidden inside query samples. Store-vs-memo
    // answer equality is pinned by IndexPersistSpec; memo mode remains
    // the default everywhere else (Verify's oracle gate covers the
    // derivation path). SPARK_GRAFT_NO_INDEX_STORE=1 reverts the bench
    // to memo mode for A/B comparison; a failed build degrades to memo
    // mode loudly (stderr) rather than failing the sweep.
    // mode disambiguation (ADVICE r15): "off" (explicit opt-out) and
    // "build_failed" (degraded to memo mode) are different facts — a -1
    // alone conflated them in the artifact
    val (indexBuildSec, indexStoreMode): (Double, String) =
      if (sys.env.contains("SPARK_GRAFT_NO_INDEX_STORE")) (-1.0, "off")
      else
        try {
          val store = ops.SpillMemo.scratchDir("graft-bench-store-")
          val t0 = System.nanoTime()
          graft.tools.IndexBuild.buildTo(spark, sfDir, store)
          spark.conf.set(ops.IndexStore.indexDirConf, store)
          ((System.nanoTime() - t0) / 1e9, "served")
        } catch {
          case NonFatal(e) =>
            System.err.println(s"index store build failed, memo mode: $e")
            (-1.0, "build_failed")
        }

    // Calibration probe (round-13 verdict #2): the identical tree measured
    // 152.6 s (r12) and 193.3 s (r13) at similar reported `load` — the
    // loadavg triple doesn't capture sustained co-tenant pressure, so
    // round-over-round totals were not comparable. A FIXED reference query
    // (h_pricing_summary — one lineitem scan + low-cardinality agg, no
    // memos, no streams) timed at the start, middle and end of the sweep
    // gives an in-run pressure signal: divide a round's total by its
    // median POSITIVE cal to compare rounds on the same footing
    // (BASELINE.md documents the normalization; a -1 entry means that
    // probe itself failed — visible, and excluded from the median). Kept
    // through EVERY line-degradation tier, like `load`.
    def calOnce(): Double = {
      val t0 = System.nanoTime()
      try ops.Relational.queries("h_pricing_summary")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // A failed probe must never land in the triple as a -1.0 "sample"
    // (ADVICE r15: any median/min over the triple would be skewed by the
    // sentinel) — failures are counted separately and surface in
    // bench_full.json as cal_errors/cal_s_errors.
    val cal = scala.collection.mutable.ArrayBuffer[Double]()
    var calErrs = 0
    def addCal(): Unit = { val v = calOnce(); if (v >= 0) cal += v else calErrs += 1 }
    addCal()

    // Streaming calibration probe (round-14 verdict #2): the batch cal is
    // blind to stream-family contention — identical trees measured equal
    // batch-cal medians while the `s_*` family drifted 3–8× (270→344 s,
    // BASELINE.md). `cal_s` times the fixed minimal micro-batch pipeline
    // ([[graft.streaming.EventPipeline.calProbe]]: fresh-checkpoint
    // AvailableNow file stream → 5-key update agg → upsert sink → resolve)
    // start/mid/end, so `s_*` numbers can be normalized by THEIR OWN
    // machinery's in-run pressure, not the batch scan's. One untimed
    // warm-up absorbs first-stream init (streaming child session, state
    // store, source-dir install) that belongs to the JVM, not the
    // environment signal.
    def calSOnce(): Double = {
      val t0 = System.nanoTime()
      try graft.streaming.EventPipeline.calProbe(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    calSOnce() // untimed streaming warm-up
    val calS = scala.collection.mutable.ArrayBuffer[Double]()
    var calSErrs = 0
    def addCalS(): Unit = { val v = calSOnce(); if (v >= 0) calS += v else calSErrs += 1 }
    addCalS()

    val samples = scala.collection.mutable.Map[String, Seq[Double]]()
    val sortedQueries = SparkEntry.queries.toSeq.sortBy(_._1)
    val midIdx = sortedQueries.size / 2
    val results = sortedQueries.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi == midIdx) { addCal(); addCalS() }
      def once(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val err =
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            None
          } catch {
            case NonFatal(e) =>
              Some(e.toString.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160))
          }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      val (s1, e1) = once()
      val (sec, err) =
        if (e1.isDefined) { samples(name) = Seq(s1); (s1, e1) }
        else {
          val (s2, e2) = once()
          val best = math.min(s1, s2)
          if (e2.isEmpty && math.max(s1, s2) > 2 * best) {
            val (s3, e3) = once() // tie-break a noisy pair
            samples(name) = Seq(s1, s2, s3)
            (math.min(best, s3), e3)
          } else { samples(name) = Seq(s1, s2); (best, e2) }
        }
      // Release per-query session state before the next query: the dedup /
      // components queries localCheckpoint intermediate relations, and those
      // RDD blocks stay persisted until the owning DataFrame is GC'd. Left
      // alone, ~30 queries' worth of checkpoint blocks pile up in the one
      // bench JVM, and the alphabetically-late x_dedup_* family then runs
      // under storage-memory pressure + GC thrash: the round-4 driver bench
      // measured ngram_jaccard at 37 s where a clean JVM (same data, same
      // cpus) measures 3.5 s. Bounded single-purpose JVMs don't have this
      // problem; a 64-query benchmark loop must clean up after itself.
      //
      // HOW it cleans up matters (round-9 verdict #1): explicitly
      // unpersisting a locally-checkpointed RDD truncates a lineage that can
      // never be recomputed — if ANYTHING still references that DataFrame
      // the next read fails, and Spark warns on every such unpersist. So the
      // explicit sweep covers only non-checkpointed cached state, and
      // localCheckpoint blocks are reclaimed through the ContextCleaner's
      // reference-tracking path instead (System.gc() enqueues the weak refs
      // of exactly the RDDs that are GARBAGE — unreachable from any live
      // plan — and the cleaner removes their blocks without touching RDD
      // lineage state and without the warning). A cut relation something
      // still references stays reachable, stays persisted, and stays
      // readable — precision the blanket unpersist lacked. (No graft
      // operator persists an RDD directly, so after clearCache the only
      // persistent-RDD entries ARE localCheckpoint blocks — there is
      // nothing left for an explicit unpersist loop to safely free.)
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      (name, if (err.isEmpty) sec else -1.0, err)
    }
    addCal()
    addCalS()

    // Full-precision sibling artifact ON DISK: the driver line is budgeted
    // to a 2000-char tail (it carries ≥1 s queries + family subtotals,
    // never the full sub-second roster), so round-over-round per-query
    // comparison needs a record that never degrades. Git-committed per
    // round; BASELINE.md points here.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath),
      renderFull(results, sfDir, samples.toMap, GraftSession.cpus, cal.toSeq, calS.toSeq,
        indexBuildSec, indexStoreMode, calErrs, calSErrs))
    catch { case NonFatal(e) => System.err.println(s"bench_full write failed: $e") }
    // 10ms precision, trailing zeros stripped, keeps the single JSON line.
    // Emitted LAST — after every stream is quiesced and the session is
    // stopped — so nothing the teardown logs can land after it in the
    // driver's tail (round 11 lost its benchmark to exactly that: a
    // state-store maintenance tick raced spark.stop() and its WARN stack
    // trace displaced the line — see emitLineLast's scaladoc).
    emitLineLast(renderLine(results, sfDir, samples.toMap, cal.toSeq, calS.toSeq), () => {
      graft.streaming.EventPipeline.releaseStreamState(spark)
      spark.stop()
    })
  }

  /** Run `teardown` (stream quiesce + session stop — anything that might
    * still log), THEN print the driver-contract line, so the line is the
    * process's final output. The driver parses the LAST line of a
    * 2000-char combined output tail; `BENCH_r11.json` recorded
    * `"parsed": null` because a `WARN StateStore ... SparkEnv not active`
    * stack trace fired DURING `spark.stop()` and printed after the line.
    * Teardown failures go to stderr before the line and never suppress
    * it. Pinned by `BenchLineSpec` ("the emission path writes nothing
    * after the line"). */
  def emitLineLast(line: String, teardown: () => Unit): Unit = {
    try teardown()
    catch { case NonFatal(e) => Console.err.println(s"bench teardown failed: $e") }
    println(line)
    Console.out.flush()
  }

  /** Full-precision per-query record, one JSON object per query line so git
    * diffs read per-query. No budget, no rounding, every raw sample kept:
    * this is the round-over-round comparison artifact the driver line
    * cannot be (its 2000-char tail forces rounding + omission). Pure so
    * `BenchLineSpec` can check shape without running the benchmark. */
  def renderFull(results: Seq[(String, Double, Option[String])], sfDir: String,
      samples: Map[String, Seq[Double]], cpus: Int = 32,
      cal: Seq[Double] = Nil, calS: Seq[Double] = Nil,
      indexBuildSec: Double = -1.0, indexStoreMode: String = "",
      calErrs: Int = 0, calSErrs: Int = 0): String = {
    def d(v: Double): String = java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP).stripTrailingZeros.toPlainString
    val load =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ").take(3).map(x => f"${x.toDouble}%.2f").mkString("[", ",", "]")
      catch { case NonFatal(_) => "[]" }
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val rows = results.sortBy(_._1).map { case (k, v, err) =>
      val ss = samples.getOrElse(k, Seq(v)).map(d).mkString("[", ",", "]")
      val e = err.fold("")(m =>
        s""","error":"${m.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160)}"""")
      s"""    "$k": {"sec": ${d(v)}, "samples": $ss$e}"""
    }
    val sf = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val calJson =
      (if (cal.isEmpty) ""
       else s"""\n  "cal": ${cal.map(d).mkString("[", ",", "]")},""") +
      (if (calS.isEmpty) ""
       else s"""\n  "cal_s": ${calS.map(d).mkString("[", ",", "]")},""") +
      // failed probes never ride in the triples as -1 "samples" — they
      // are counted here instead (ADVICE r15), absent when zero
      (if (calErrs == 0) "" else s"""\n  "cal_errors": $calErrs,""") +
      (if (calSErrs == 0) "" else s"""\n  "cal_s_errors": $calSErrs,""") +
      // the one-time store-build cost the serving family amortizes;
      // "off" (SPARK_GRAFT_NO_INDEX_STORE opt-out) and "build_failed"
      // (degraded to memo mode) are recorded distinctly — a bare -1
      // conflated a choice with a failure (ADVICE r15)
      (if (indexStoreMode.nonEmpty && indexStoreMode != "served")
        s"""\n  "index_store": "$indexStoreMode",""" else "") +
      (if (indexBuildSec < 0) ""
       else s"""\n  "index_build_sec": ${d(indexBuildSec)},""")
    s"""{
       |  "sf": "$sf",
       |  "cpus": $cpus,
       |  "master": "local[$cpus]",
       |  "load": $load,$calJson
       |  "total_sec": ${d(total)},
       |  "note": "min-of-samples per query; see Bench.scala methodology scaladoc",
       |  "queries": {
       |${rows.mkString(",\n")}
       |  }
       |}
       |""".stripMargin
  }

  // Adaptive precision (10 ms under 1 s, 100 ms under 100 s, whole seconds
  // above), trailing zeros stripped: keeps the single JSON line within the
  // driver's 2000-char stdout tail even when a noisy round makes every
  // query slow. Full double precision overflowed the tail at 62 queries
  // (round 4 recorded "parsed": null); at 83 queries the 1-10 s band had
  // to drop to 100 ms precision too — BenchLineSpec pins the worst case.
  private def fmt(v: Double): String = {
    val scale = if (v < 1) 2 else if (v < 100) 1 else 0
    val s = java.math.BigDecimal.valueOf(v)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros.toPlainString
    if (s == "-0" || s == "0E-2") "0" else s
  }

  /** Tenth-of-a-second fallback precision for over-budget lines — loses
    * the 10 ms digit on sub-second queries, keeps regressions ≥0.1 s
    * visible. */
  private def fmtTenths(v: Double): String = {
    val s = java.math.BigDecimal.valueOf(v)
      .setScale(if (v < 100) 1 else 0, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros.toPlainString
    if (s == "-0") "0" else s
  }

  /** Mixed fallback: tenths for values ≥ 1 s, whole seconds below — at 91
    * queries the keys alone consume most of the tail budget, so uniform
    * tenths no longer fits and the precision chars go where the magnitude
    * is. A sub-second query that REGRESSES past 1 s re-enters the tenths
    * band in the same round its regression becomes interesting. */
  private def fmtMixed(v: Double): String =
    if (v < 1) fmtCoarse(v) else fmtTenths(v)

  /** Slow-tenths fallback: tenths only for values ≥ 10 s, whole seconds
    * below — the floor tier before the all-whole-seconds collapse; the
    * handful of structurally slow queries (the ones a scale regression
    * shows up in first) keep their fractional digit longest. */
  private def fmtSlowTenths(v: Double): String =
    if (v < 10) fmtCoarse(v) else fmtTenths(v)

  /** Whole-second fallback precision for over-budget lines. */
  private def fmtCoarse(v: Double): String = fmt(math.rint(v))

  /** Budget for the rendered line + newline. The driver reads a 2000-char
    * stdout tail and parses the LAST line; Spark logs go to stderr, so
    * nothing follows the line on stdout — the budget is the tail itself
    * minus headroom for the newline (truncation ahead of the line is
    * harmless: only the last line must arrive complete). */
  private[graft] val lineBudget = 1995

  /** The driver-contract JSON line. Pure so `BenchLineSpec` can pin its
    * length budget against the full current query set without running the
    * 8-minute benchmark. */
  def renderLine(results: Seq[(String, Double, Option[String])], sfDir: String,
      samples: Map[String, Seq[Double]] = Map.empty,
      cal: Seq[Double] = Nil, calS: Seq[Double] = Nil): String = {
    // error messages are sanitized at capture, but renderLine must stay
    // JSON-safe on its own contract; only the first 2 are spelled out —
    // a mass failure must not push the line past the driver's tail buffer
    // (failed queries are still visible as value -1 in `queries`)
    val errAll = results.collect { case (k, _, Some(m)) =>
      s""""$k":"${m.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(60)}"""" }
    val omitted = errAll.size - 2
    val errJson =
      if (errAll.isEmpty) ""
      else errAll.take(2).mkString(""","errors":{""", ",", "}") +
        (if (omitted > 0) s""","errors_omitted":$omitted""" else "")
    // Noise summary in ~30 chars instead of a budget-blowing per-query map:
    // `resampled` = queries whose first two runs disagreed >2× (a third
    // sample was taken), `spread` = the worst max/min ratio across any
    // query's samples. A regressed VALUE with resampled=0 and a small
    // spread is a real change; a big spread says re-measure on a quiet
    // host before concluding anything.
    val statsJson =
      if (samples.isEmpty) ""
      else {
        val resampled = samples.count(_._2.size > 2)
        val spreads = samples.values.collect { case ss if ss.nonEmpty && ss.min > 0 => ss.max / ss.min }
        val spread = if (spreads.isEmpty) 1.0 else spreads.max
        // a zero resample count carries no information — spend the chars
        // on per-query precision instead
        (if (resampled > 0) s""","resampled":$resampled""" else "") +
          s""","spread":${fmt(spread)}"""
      }
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val loadJson =
      try {
        // 1- and 15-minute averages: burst now vs baseline over the run
        val p = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).split(" ")
        val l = Seq(p(0), p(2)).map(x => f"${x.toDouble}%.1f").mkString(",")
        s""","load":[$l]"""
      } catch { case NonFatal(_) => "" }
    // "sf0.1", not the full path: the dir prefix is driver-known, the chars
    // belong to per-query values
    val sfJson = s""","sf":"${sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)}""""
    // Start/middle/end times of the FIXED calibration query — the in-run
    // co-tenant-pressure signal that makes cross-round totals comparable
    // (divide total by median cal). ~25 chars; NEVER degraded away, like
    // `load`: it is the only field that distinguishes a depressed whole
    // run (identical-tree r12→r13 drifted 152.6→193.3 s) from a real
    // regression.
    // `cal_s` sits beside it: the STREAMING twin (r14 verdict #2 — batch
    // cal proved blind to the 3–8× stream-family drift on an identical
    // tree); ~27 chars, same never-degraded status.
    val calJson =
      (if (cal.isEmpty) ""
       else s""","cal":${cal.map(fmt).mkString("[", ",", "]")}""") +
      (if (calS.isEmpty) ""
       else s""","cal_s":${calS.map(fmt).mkString("[", ",", "]")}""")
    // Family subtotals (prefix before the first '_': c/d/h/s/w/x) — the
    // aggregate record for the sub-second entries the per-query map no
    // longer carries (r7 verdict #7: at 127 queries the driver line omitted
    // 38 of them anyway; a named subtotal per family beats an arbitrary
    // cheapest-first cut). ~60 chars, kept through every tier; errored
    // queries (-1) are excluded from their family's sum.
    val famJson = {
      val fams = results.groupBy(_._1.takeWhile(_ != '_')).toSeq.sortBy(_._1)
        .map { case (f, rs) =>
          s""""$f":${fmtTenths(rs.collect { case (_, v, _) if v >= 0 => v }.sum)}""" }
      s""","fams":{${fams.mkString(",")}}"""
    }
    def line(kept: Seq[(String, Double, Option[String])], f: Double => String,
        withStats: Boolean): String = {
      val qs = kept.map { case (k, v, _) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
      val dropped = results.size - kept.size
      val dropJson = (if (dropped > 0) s""","queries_omitted":$dropped""" else "") + famJson
      // `load` is NEVER degraded away: it is the ~20 chars that let a reader
      // tell a contended round from a regression. Round 6 dropped it in the
      // exact round four queries printed 2-6× their warm cost, and the
      // numbers were unattributable until a quiet-host re-profile; the cost
      // of keeping it is at most one more sub-second query omitted.
      val diag = if (withStats) statsJson else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$dropJson$errJson$diag$calJson$loadJson$sfJson}"""
    }
    // The per-query map carries queries ≥1 s (where a regression is
    // visible) plus errored ones (-1); sub-second entries are represented
    // by their family subtotal instead, with queries_omitted counting them
    // (r7 verdict #7 — at 127 queries they never all fit anyway, and a
    // sub-second query that regresses past 1 s re-enters the map in the
    // round its regression becomes interesting). Tiers then degrade
    // precision only if needed: full precision → uniform tenths → mixed →
    // mixed without the ~15-char spread/resampled summary (per-query
    // precision outranks run-noise summary; `load` and `fams` survive
    // every tier) → whole seconds → drop the FASTEST remaining queries
    // with the omission count extended.
    // A truncated line the driver can't parse ("parsed": null, round 4)
    // loses EVERYTHING; explicit omission loses only what the fams
    // subtotals still summarize. Contract pinned by BenchLineSpec: every
    // query ≥1 s is always present.
    val sorted = results.filter { case (_, v, _) => v >= 1.0 || v < 0 }.sortBy(_._1)
    val tiers: Seq[(Double => String, Boolean)] = Seq(
      (fmt _, true), (fmtTenths _, true), (fmtMixed _, true),
      (fmtMixed _, false), (fmtSlowTenths _, false), (fmtCoarse _, false))
    tiers.iterator
      .map { case (f, st) => line(sorted, f, st) }
      .find(_.length + 1 <= lineBudget)
      .getOrElse {
        var out = line(sorted, fmtCoarse, withStats = false)
        var keep = results.size
        val byCost = results.sortBy(-_._2)
        while (out.length + 1 > lineBudget && keep > 0) {
          keep -= 1
          val keptNames = byCost.take(keep).map(_._1).toSet
          out = line(sorted.filter(t => keptNames(t._1)), fmtCoarse, withStats = false)
        }
        out
      }
  }
}
