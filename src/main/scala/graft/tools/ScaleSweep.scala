package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Measured scale-up evidence (r16 verdict #4): generate a synthetic ×N
  * corpus — an ID-SHIFTED UNION of a base sf dir — and sweep named queries
  * on base and ×N in ONE session, printing the per-query scaling ratio.
  * Turns the 100 TB plan-shape argument into a measured decade: a query
  * whose plan is linear should land near ratio ≈ N (minus fixed overhead);
  * anything superlinear is a diagnosis target.
  *
  * Generation contract (per copy c ∈ 0..N−1):
  *  - facts are unioned with ids shifted by c·U where U is the table's id
  *    range rounded up to a multiple of 10⁴ — so the `% 10` standing/
  *    arriving ingest splits and the `% 100` / `% 125` member-query
  *    strides keep their DENSITY (10⁴ is a multiple of each), and the
  *    workload panels scale with the corpus like real members would;
  *  - `documents`/`embeddings` shift doc_id/vec_id; `events` shifts
  *    event_id AND user_id (users are a fact-like dimension of the event
  *    stream — a 10× stream has ~10× users); `orders`/`lineitem` shift
  *    o_orderkey/l_orderkey in lockstep (the FK survives);
  *  - true dimensions (`region nation customer supplier part`, and
  *    part/supp/cust FKs inside the facts) are UNCHANGED — facts grow,
  *    dims stay broadcastable, exactly the 100 TB shape;
  *  - payload columns are copied verbatim, so each copy is content-
  *    identical under a new identity. Content-keyed operators (exact /
  *    near dedup) therefore see a corpus where every document genuinely
  *    has N duplicates — their candidate structure grows with the DATA's
  *    duplication, which is the honest read of an id-shifted union (noted
  *    per-query in BASELINE.md rather than hidden by salting the text).
  *  - the document id keyspace stays far below the multimodal 10M
  *    variant band ([[graft.ops.MultimodalPipeline.requireOriginalId]] —
  *    re-checked here).
  *
  * Serving posture matches the graded bench: an [[graft.ops.IndexStore]]
  * is built per corpus dir (build WALL TIME is itself reported — index
  * build is a scale cost center) and `spark.graft.indexDir` is flipped to
  * the matching store before each side's runs.
  *
  * Usage: `runMain graft.tools.ScaleSweep <baseDir> <xDir> <factor>
  * [stores=<dir>] <query...>` — xDir is generated if absent, reused if
  * present; `stores=` persists and reuses the per-side serving stores
  * (default: exit-cleaned scratch builds). */
object ScaleSweep {

  /** Round `max+1` up to a multiple of 10⁴ — the shift unit that
    * preserves every `% 10`/`% 100` split density used by the library. */
  private def shiftUnit(max: Long): Long = ((max + 10000L) / 10000L) * 10000L

  private def maxOf(s: SparkSession, path: String, c: String): Long =
    s.read.parquet(path).agg(max(col(c))).head.getLong(0)

  /** Write the ×N id-shifted union of `base` into `xDir`. Each table
    * lands as ONE parquet FILE named `<t>.parquet` — the driver
    * testdata's physical layout, which the streamed queries' file-source
    * wrapper (`EventPipeline.installSourceDir`) expects (it symlinks the
    * single file; a Spark part-file DIRECTORY would list zero files in
    * the stream source). Single-file writes serialize through one task —
    * fine at sweep scale, irrelevant to the measured queries. */
  def generate(s: SparkSession, base: String, xDir: String, n: Int): Unit = {
    def src(t: String) = s"$base/$t.parquet"
    def dst(t: String) = s"$xDir/$t.parquet"
    def writeOne(df: DataFrame, t: String): Unit = {
      val stage = java.nio.file.Paths.get(xDir, s".stage-$t")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator()
      var found: java.nio.file.Path = null
      while (part.hasNext) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) found = p
      }
      require(found != null, s"no part file written for $t")
      java.nio.file.Files.move(found, java.nio.file.Paths.get(dst(t)),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val rest = java.nio.file.Files.list(stage).iterator()
      while (rest.hasNext) java.nio.file.Files.deleteIfExists(rest.next())
      java.nio.file.Files.deleteIfExists(stage)
    }
    def shifted(t: String, shifts: Map[String, Long]): DataFrame = {
      val df = s.read.parquet(src(t))
      (0 until n).map { c =>
        shifts.foldLeft(df) { case (acc, (cName, unit)) =>
          acc.withColumn(cName, col(cName) + lit(c * unit))
        }
      }.reduce(_.unionAll(_))
    }
    // dims verbatim (single-file copies, same layout rule)
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(xDir))
      java.nio.file.Files.copy(java.nio.file.Paths.get(src(t)),
        java.nio.file.Paths.get(dst(t)),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val docU = shiftUnit(maxOf(s, src("documents"), "doc_id"))
    graft.ops.MultimodalPipeline.requireOriginalId(docU * (n - 1) +
      maxOf(s, src("documents"), "doc_id"))
    writeOne(shifted("documents", Map("doc_id" -> docU)), "documents")
    val vecU = shiftUnit(maxOf(s, src("embeddings"), "vec_id"))
    writeOne(shifted("embeddings", Map("vec_id" -> vecU)), "embeddings")
    val evU = shiftUnit(maxOf(s, src("events"), "event_id"))
    val userU = shiftUnit(maxOf(s, src("events"), "user_id"))
    writeOne(shifted("events", Map("event_id" -> evU, "user_id" -> userU)), "events")
    val okU = shiftUnit(math.max(maxOf(s, src("orders"), "o_orderkey"),
      maxOf(s, src("lineitem"), "l_orderkey")))
    writeOne(shifted("orders", Map("o_orderkey" -> okU)), "orders")
    writeOne(shifted("lineitem", Map("l_orderkey" -> okU)), "lineitem")
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Bounded-growth contract for long sweep sessions (r17 verdict #3): a
    * ×10 multi-query sweep accumulates [[graft.ops.Lineage.cut]]
    * localCheckpoint blocks and probe-panel broadcasts faster than the
    * ContextCleaner's weak-ref GC reclaims them — measured as a
    * broadcast OOM at the default 8 g driver. Every cut relation is
    * transient within its query run (the session memos persist PATHS,
    * never block-backed frames), so after each timed run the sweep
    * force-unpersists all persistent RDDs and nudges the cleaner; the
    * session's live set is then bounded by ONE query's working set. */
  private def releaseRunState(s: SparkSession): Unit = {
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc() // lets ContextCleaner collect now-unreferenced broadcasts
  }

  /** Generation completion marker (ADVICE r17): `generate` can die after
    * writing documents but before the later tables; gating reuse on
    * documents.parquet alone would silently reuse that partial corpus.
    * The marker is written LAST, so its presence means every table is. */
  private def markerPath(xDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(xDir, "_SWEEP_COMPLETE")

  def main(args: Array[String]): Unit = {
    // `stores=<dir>`: persist the per-side serving stores at <dir>/base
    // and <dir>/x<n> and REUSE them when already built (INDEX_META.json
    // present — the build writes it last, so it doubles as the
    // completion marker). A ×100 store build is ~tens of minutes; a
    // crashed or repeated sweep must not pay it twice. Default (arg
    // absent) stays the exit-cleaned scratch build.
    val storesRoot = args.collectFirst {
      case a if a.startsWith("stores=") => a.stripPrefix("stores=") }
    val pos = args.filterNot(_.startsWith("stores="))
    require(pos.length >= 4,
      "usage: runMain graft.tools.ScaleSweep <baseDir> <xDir> <factor> " +
        "[stores=<dir>] <query...>")
    val base = pos(0); val xDir = pos(1); val n = pos(2).toInt
    val names = pos.drop(3).toSeq
    val spark = graft.GraftSession.local()
    try {
      if (!java.nio.file.Files.exists(markerPath(xDir))) {
        val (_, tGen) = timed(generate(spark, base, xDir, n))
        java.nio.file.Files.createFile(markerPath(xDir))
        println(f"SCALE generate x$n%d $tGen%.1f s")
      }
      // one store per corpus — the bench's serving posture; build time is
      // itself a scale reading (the serving-index build cost center)
      val stores = Seq(base, xDir).map { d =>
        val side = if (d == base) "base" else s"x$n"
        val store = storesRoot match {
          case Some(root) => s"$root/$side"
          case None => graft.ops.SpillMemo.scratchDir(s"graft-scalestore-")
        }
        val metaP = java.nio.file.Paths.get(store, "INDEX_META.json")
        if (java.nio.file.Files.exists(metaP)) {
          println(s"SCALE index_build $side reused $store")
        } else {
          val (_, tB) = timed(IndexBuild.buildTo(spark, d, store))
          println(f"SCALE index_build $side%s $tB%.1f s")
          // per-stage attribution (r17 verdict #6): which stage carries the
          // near-linear build cost (codec vs postings vs router training)
          IndexBuild.lastStageSeconds.foreach { case (name, sec) =>
            println(f"SCALE index_build_stage $side%s $name%s $sec%.1f s")
          }
          releaseRunState(spark)
        }
        d -> store
      }.toMap
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        // two runs per side. run1 is the honest operator reading for the
        // SpillMemo-backed queries (their run2 re-reads the spilled
        // relation — a parquet scan, not the operator; ADVICE r17), so
        // BOTH run1 and min-of-2 ratios are reported: min-of-2 strips
        // JVM/codegen warm-up, run1 keeps the derivation in view.
        // A query that dies (e.g. broadcast pressure at the default
        // driver heap) prints FAILED and the sweep continues — one row's
        // failure must not discard the measured rows after it.
        try {
          val runs = Seq(base, xDir).map { d =>
            spark.conf.set(graft.ops.IndexStore.indexDirConf, stores(d))
            val ts = (1 to 2).map { _ =>
              val (_, t) =
                timed(fn(spark, d).write.format("noop").mode("overwrite").save())
              releaseRunState(spark)
              t
            }
            ts
          }
          val (b, x) = (runs(0), runs(1))
          println(f"SCALE $name%s base ${b.min}%.2f s (r1 ${b.head}%.2f) " +
            f"x$n%d ${x.min}%.2f s (r1 ${x.head}%.2f) " +
            f"ratio ${x.min / b.min}%.2f r1_ratio ${x.head / b.head}%.2f")
        } catch {
          case NonFatal(e) =>
            releaseRunState(spark)
            println(s"SCALE $name FAILED ${e.getClass.getSimpleName}: " +
              s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
        }
      }
    } finally spark.stop()
  }
}
