package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{KafkaBridge, RateEvents, UpsertSink}
import graft.tools.Pipeline

/** The benchmark's JVM side. `run.py` prepares the inputs, starts this
  * main once per run, and turns the report it writes into metrics:
  *
  * {{{
  * perfbench.Main --workload consumer|mix --seed N --seconds S
  *   --trace 0|1 --cores N --run DIR
  *   [--data DIR --queries a,b,...]
  *   [--backlog DIR --warm DIR --events N --rate R]
  * }}}
  *
  * Everything is timed from outside the program, through its public entry
  * points: `Pipeline.startQueries`, `RateEvents.shape`,
  * `KafkaBridge.parseWire`, `UpsertSink.resolve` and `SparkEntry.queries`.
  * The report (`report.json` in the run directory) carries raw samples;
  * all statistics are computed by `run.py`.
  */
object Main {
  final case class Cfg(o: Map[String, String]) {
    val workload: String = o("workload")
    val seed: Long = o("seed").toLong
    val seconds: Double = o("seconds").toDouble
    val trace: Boolean = o.get("trace").contains("1")
    val cores: Int = o("cores").toInt
    val run: String = o("run")
    val data: String = o.getOrElse("data", "")
    val queries: Seq[String] = o.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val backlog: String = o.getOrElse("backlog", "")
    val warm: String = o.getOrElse("warm", "")
    val events: Long = o.getOrElse("events", "0").toLong
    val rate: Int = o.getOrElse("rate", "0").toInt
    val serve: String = o.getOrElse("serve", "")
  }

  val report = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.LinkedHashMap.empty[String, String]

  def main(args: Array[String]): Unit = {
    val cfg = Cfg(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    Files.createDirectories(Paths.get(cfg.run))
    report("workload") = cfg.workload
    report("seed") = cfg.seed
    report("master") = s"local[${cfg.cores}]"
    report("load_start") = loadAvg()
    var spark: SparkSession = null
    try {
      spark = cfg.workload match {
        case "consumer" => Consumer.run(cfg)
        case "mix" => Mix.run(cfg)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        errors("fatal") = e.toString
        e.printStackTrace()
    } finally {
      if (spark != null) try spark.stop() catch { case _: Throwable => () }
      report("load_end") = loadAvg()
      report("errors") = errors
      report("phase_s") = phases
      Files.writeString(Paths.get(cfg.run, "report.json"), Json.write(report))
      if (cfg.trace)
        Files.writeString(Paths.get(cfg.run, "trace.json"),
          Json.write(Map("spans" -> Tracer.spans.asScala.toSeq.map(_.toMap))))
    }
  }

  def session(cfg: Cfg, cores: Int, listeners: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.local.dir", s"${cfg.run}/spark-local")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", graft.functions.GraftFunctions.extensionsClass)
    // static confs, so the program's child sessions report to them too
    if (listeners)
      b.config("spark.extraListeners", classOf[JobListener].getName)
        .config("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners", classOf[ProgressListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Logs.quietBenignWarnings()
    s
  }

  /** Set-ups per run; `setup_s` is their median. */
  val setups = 3

  /** Start and warm up a session `setups` times (stopping all but the
    * last), recording each set-up's wall time. In a traced run only the
    * last set-up attaches the listeners and records spans, so its time
    * is the traced set-up figure and the second one's the untraced. */
  def setUp(cfg: Cfg, warm: SparkSession => Unit): SparkSession = {
    val times = mutable.ArrayBuffer.empty[Double]
    var s: SparkSession = null
    for (i <- 1 to setups) {
      if (s != null) s.stop()
      Tracer.on = cfg.trace && i == setups
      val t0 = System.nanoTime()
      s = session(cfg, cfg.cores, listeners = Tracer.on)
      phase(s, "setup")(warm(s))
      times += secs(t0)
    }
    report("setup_s") = times.toSeq
    Tracer.on = false
    s
  }

  /** The measurement: once in an untraced run; twice in a traced run, in
    * the same session, once recording spans (`main`) and once not
    * (`untraced`). The listeners stay attached in both rounds, so the
    * difference is the cost of recording. The round run second gets a
    * warmer JVM, so the order alternates with the seed's parity and is
    * reported beside the overhead figures. Returns the `main` round. */
  def rounds[A](cfg: Cfg, between: () => Unit)(measure: String => A): A =
    if (!cfg.trace) measure("main")
    else {
      def traced(): A = { Tracer.on = true; try measure("main") finally Tracer.on = false }
      def untraced(): Unit = report("untraced") = measure("untraced")
      val tracedFirst = cfg.seed % 2 != 0
      report("round_order") = if (tracedFirst) "traced_first" else "untraced_first"
      if (tracedFirst) { val m = traced(); between(); untraced(); m }
      else { untraced(); between(); traced() }
    }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall seconds of each named phase, reported whether or not traced. */
  val phases = mutable.LinkedHashMap.empty[String, Double]

  /** A phase: a span when tracing, and its wall time in `phase_s`. */
  def phase[A](spark: SparkSession, name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try Tracer.span(spark.sparkContext, "phase", name)(f)
    finally phases(name) = phases.getOrElse(name, 0.0) + secs(t0)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Bytes of the objects still reachable after a full collection, in MB:
    * the total of the `GC.class_histogram` diagnostic command (what `jcmd`
    * prints), which collects first. Right after a query, work finishing
    * asynchronously still holds memory (at 0.2 s, 135 MB where 70 MB
    * remained at 3 s), so the figure is taken again every half second
    * until it stops falling. The heap's used size is not taken: G1 counts
    * whole regions. */
  def heapAfterGcMb(): Double = {
    def reachableMb(): Double = {
      val histogram = ManagementFactory.getPlatformMBeanServer.invoke(
        new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
        "gcClassHistogram", Array[AnyRef](Array.empty[String]),
        Array(classOf[Array[String]].getName)).asInstanceOf[String]
      histogram.linesIterator.find(_.startsWith("Total"))
        .map(_.trim.split("\\s+").last.toDouble).get / 1048576.0
    }
    Thread.sleep(1000)
    var last = reachableMb()
    var now = last
    var i = 0
    do {
      last = now
      Thread.sleep(500)
      now = reachableMb()
      i += 1
    } while (now < last - 1.0 && i < 8)
    math.min(now, last)
  }

  /** Unload the state stores of finished streaming queries. Spark's own
    * maintenance task unloads them once a minute, so without this a heap
    * figure would depend on where that task's timer happened to stand. */
  def releaseState(spark: SparkSession): Unit = {
    spark.streams.resetTerminated()
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def deltaCount(sink: String): Int =
    Option(new java.io.File(sink).listFiles()).getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && f.getName.startsWith("b"))
}

/** The reference consumer's two regimes in one JVM: a closed-loop catch-up
  * over a file backlog, then an open-loop live phase on the rate source. */
object Consumer {
  import Main._

  val keys = Seq("user_id", "item_id")

  def events(spark: SparkSession, dir: String): DataFrame =
    KafkaBridge.parseWire(
      spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(dir))
      .withColumnRenamed("timestamp", "ts")

  def progressOf(qs: Seq[StreamingQuery]): Seq[Map[String, Any]] =
    keys.zip(qs).flatMap { case (k, q) =>
      q.recentProgress.toSeq.map(p => Map("key" -> k, "p" -> Json.parse(p.json)))
    }

  /** Drain the backlog with `AvailableNow`; returns the phase record. */
  def catchUp(spark: SparkSession, dir: String, out: String): Map[String, Any] = {
    val ev = events(spark, dir)
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val qs = Pipeline.startQueries(ev, out, Trigger.AvailableNow())
    qs.foreach(_.awaitTermination())
    val wall = secs(t0)
    Map("wall_s" -> wall, "gc_ms" -> (gcMs() - gc0), "progress" -> progressOf(qs),
      "out" -> out)
  }

  /** Open loop: the rate source at a fixed rate for `seconds`, then stopped.
    * Deltas of a trigger cut short by the stop (never committed to the
    * checkpoint) are removed, so the sink holds exactly the committed
    * batches. */
  def live(spark: SparkSession, cfg: Cfg, out: String, seconds: Double): Map[String, Any] = {
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", cfg.rate.toString).load()
      .withColumn("value", col("value") + lit(cfg.seed * 1000003L))
    // The rate source releases each second's rows when that second (counted
    // from the source's creation) has passed, and triggers fire on whole
    // 2 s boundaries, so the newest row a trigger takes is as old as the
    // creation's millisecond phase makes it. Start at a fixed phase, or
    // that phase (0-1 s) would vary the latency from run to run.
    Thread.sleep((1400 - System.currentTimeMillis() % 1000) % 1000)
    val gc0 = gcMs()
    val qs = Pipeline.startQueries(RateEvents.shape(rate), out, Trigger.ProcessingTime("2 seconds"))
    Thread.sleep((seconds * 1000).toLong)
    // Stop between triggers where there is a gap: at this rate triggers may
    // run back to back, so wait at most 2.5 s for one.
    val deadline = System.currentTimeMillis() + 2500
    while (qs.exists(_.status.isTriggerActive) && System.currentTimeMillis() < deadline)
      Thread.sleep(2)
    qs.foreach(_.stop())
    val gc = gcMs() - gc0
    // the live state is still loaded: this is the heap the stream holds
    val heap = heapAfterGcMb()
    val aborted = keys.map { k =>
      val committed = Option(new java.io.File(s"$out/$k/ckpt/commits").listFiles())
        .getOrElse(Array.empty[java.io.File]).map(_.getName).filter(_.forall(_.isDigit)).toSet
      Option(new java.io.File(s"$out/$k/sink").listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(d => d.getName.startsWith("b") && !committed(d.getName.drop(1)))
        .map { d => deleteTree(d); 1 }.sum
    }.sum
    Map("gc_ms" -> gc, "progress" -> progressOf(qs), "out" -> out,
      "rate" -> cfg.rate, "heap_mb" -> heap, "aborted_deltas" -> aborted)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The dashboard's read: resolve the live user-KPI sink, three times. */
  def sinkRead(spark: SparkSession, out: String): Map[String, Any] = {
    val sink = s"$out/user_id/sink"
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      UpsertSink.resolve(spark, sink, Seq("window_start", "window_end", "user_id")).count()
      secs(t0)
    }
    Map("s" -> times, "deltas" -> deltaCount(sink), "bytes" -> dirBytes(sink))
  }

  /** One measured round: catch-up, live, sink read, with heap samples. */
  def measure(spark: SparkSession, cfg: Cfg, tag: String): Map[String, Any] = {
    val sc = spark.sparkContext
    Tracer.span(sc, "workload", s"consumer/$tag") {
      val c = phase(spark, "catchup")(catchUp(spark, cfg.backlog, s"${cfg.run}/$tag/catchup"))
      // the catch-up's state is still loaded; unloaded before the live phase
      val heapC = heapAfterGcMb()
      releaseState(spark)
      val l = phase(spark, "live")(live(spark, cfg, s"${cfg.run}/$tag/live", cfg.seconds))
      val r = phase(spark, "sink_read")(sinkRead(spark, s"${cfg.run}/$tag/live"))
      Map("catchup" -> c, "live" -> l, "sink_read" -> r,
        "heap_mb" -> Seq(heapC, l("heap_mb").asInstanceOf[Double]))
    }
  }

  def run(cfg: Cfg): SparkSession = {
    // set-up: session start plus a batch warm-up of the consumer's
    // transform (wire parse + window counts over the warm-up file)
    val spark = setUp(cfg, s => noop(graft.ops.WindowAgg.windowsBy(
      KafkaBridge.parseWire(s.read.text(cfg.warm)).withColumnRenamed("timestamp", "ts"), "user_id")))
    // untimed streaming warm-up: first-query costs of the stream machinery
    phase(spark, "stream_warmup") {
      val out = s"${cfg.run}/warm"
      catchUp(spark, cfg.warm, out)
      UpsertSink.resolve(spark, s"$out/user_id/sink", Seq("window_start", "window_end", "user_id")).count()
      releaseState(spark)
    }
    report("events") = cfg.events
    report("backlog") = cfg.backlog
    report("main") = rounds(cfg, () => releaseState(spark))(tag => measure(spark, cfg, tag))
    if (cfg.trace) phase(spark, "extras")(traceExtras(spark, cfg))
    spark
  }

  /** Traced-run extras: parse cost per event (a batch parse of the backlog
    * minus a plain scan of the same files, best of two each) and the
    * catch-up rate at one core. */
  def traceExtras(spark0: SparkSession, cfg: Cfg): Unit = {
    def best(f: => Unit): Double = (1 to 2).map { _ => val t0 = System.nanoTime(); f; secs(t0) }.min
    val scan = best(noop(spark0.read.text(cfg.backlog)))
    val parse = best(noop(KafkaBridge.parseWire(spark0.read.text(cfg.backlog))))
    report("parse_ns_per_event") = (parse - scan) * 1e9 / cfg.events
    spark0.stop()
    val one = session(cfg, 1, listeners = false)
    val first = new java.io.File(cfg.backlog).listFiles().map(_.getAbsolutePath).filter(_.endsWith(".txt")).min
    val oneDir = s"${cfg.run}/onecore-src"
    Files.createDirectories(Paths.get(oneDir))
    Files.createSymbolicLink(Paths.get(oneDir, "part-00000.txt"), Paths.get(first))
    val c = catchUp(one, oneDir, s"${cfg.run}/onecore")
    report("onecore") = c
    one.stop()
  }
}

/** The closed-loop query mix: one untimed pass that dumps every result for
  * the oracle check (and warms every query up, deriving the serving
  * query's session-memo index), then timed passes in a seed-permuted order
  * until the run's seconds are spent. */
object Mix {
  import Main._

  def run(cfg: Cfg): SparkSession = {
    val spark = setUp(cfg, s => noop(graft.ops.WindowAgg.userWindows(s, cfg.data)))
    val all = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val missing = cfg.queries.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    Files.writeString(Paths.get(cfg.run, "oracle_sql.json"),
      Json.write((cfg.queries :+ cfg.serve).filter(oracle.contains).map(q => q -> oracle(q)).toMap))

    phase(spark, "results")(dump(spark, cfg, s"${cfg.run}/results"))
    // a traced run measures two rounds and builds the index store, so each
    // round gets half the seconds to keep the run well inside its time limit
    val seconds = if (cfg.trace) cfg.seconds / 2 else cfg.seconds
    report("main") = rounds(cfg, () => ())(tag =>
      phase(spark, s"passes_$tag")(passes(spark, cfg, tag, seconds)))
    if (cfg.trace) phase(spark, "index_build")(serve(spark, cfg))
    spark
  }

  /** Traced runs only: build the persisted index store over the mix's
    * tables with `IndexBuild.buildTo`, then run `cfg.serve` once against
    * it (the store-served posture, untimed), writing its result for the
    * oracle check. */
  def serve(spark: SparkSession, cfg: Cfg): Unit = {
    val store = s"${cfg.run}/store"
    try {
      val t0 = System.nanoTime()
      graft.tools.IndexBuild.buildTo(spark, cfg.data, store)
      report("build_s") = secs(t0)
      report("store_bytes") = dirBytes(store)
    } catch { case e: Throwable => errors("index_build") = e.toString.take(300); return }
    spark.conf.set(graft.ops.IndexStore.indexDirConf, store)
    try graft.SparkEntry.queries(cfg.serve)(spark, cfg.data).coalesce(1)
      .write.mode("overwrite").parquet(s"${cfg.run}/served/${cfg.serve}")
    catch { case e: Throwable => errors(s"served:${cfg.serve}") = e.toString.take(300) }
    finally spark.conf.unset(graft.ops.IndexStore.indexDirConf)
  }

  /** Write each query's result as parquet for the oracle check. */
  def dump(spark: SparkSession, cfg: Cfg, dir: String): Unit = {
    val times = mutable.LinkedHashMap.empty[String, Double]
    for (q <- order(cfg, 0)) {
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(q)(spark, cfg.data).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$q")
      catch { case e: Throwable => errors(s"result:$q") = e.toString.take(300) }
      times(q) = secs(t0)
    }
    report("results_s") = times
    spark.sharedState.cacheManager.clearCache()
  }

  /** The mix in the order of pass `p`: a permutation seeded by (seed, p). */
  def order(cfg: Cfg, p: Int): Seq[String] =
    new scala.util.Random(cfg.seed * 7919 + p).shuffle(cfg.queries)

  def passes(spark: SparkSession, cfg: Cfg, tag: String, seconds: Double): Map[String, Any] = {
    val sc = spark.sparkContext
    val all = graft.SparkEntry.queries
    val out = mutable.ArrayBuffer.empty[Map[String, Double]]
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    Tracer.span(sc, "workload", s"${cfg.workload}/$tag") {
      var p = 1
      while (p == 1 || secs(t0) < seconds) {
        val times = mutable.LinkedHashMap.empty[String, Double]
        Tracer.span(sc, "pass", s"pass $p") {
          for (q <- order(cfg, p)) {
            val q0 = System.nanoTime()
            try Tracer.span(sc, "query", q)(noop(all(q)(spark, cfg.data)))
            catch { case e: Throwable => errors(s"$tag:$q") = e.toString.take(300) }
            times(q) = secs(q0)
            spark.sharedState.cacheManager.clearCache()
          }
        }
        out += times.toMap
        p += 1
      }
    }
    val gc = gcMs() - gc0
    releaseState(spark)
    Map("passes" -> out.toSeq, "heap_mb" -> Seq(heapAfterGcMb()), "gc_ms" -> gc)
  }
}
