package graft.tools

import graft.SparkEntry

/** Ad-hoc plan/latency profiler: runs the named queries twice each (cold +
  * warm) against SPARK_GRAFT_SF_DIR and prints per-run seconds, to separate
  * structural slowness from JVM/codegen warm-up. Args: query names; with
  * `-e` also prints the formatted physical plan. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    // `store=<dir>` arg: point the session at a persisted IndexStore (the
    // bench's serving posture) so serving-family numbers attribute the
    // probe, not an in-session index rebuild. Build one with
    // `runMain graft.tools.IndexBuild <sfDir> <dir>`.
    args.collect { case a if a.startsWith("store=") => a.stripPrefix("store=") }
      .foreach(dir => spark.conf.set(graft.ops.IndexStore.indexDirConf, dir))
    // `conf:key=value` args: set any session conf before the runs — how a
    // profiling session drives the engine's conf tunables (router k/p,
    // recall panel stride, broadcast posture) without an sbt-level
    // javaOptions edit.
    graft.GraftSession.confArgs(args.toSeq).foreach { case (k, v) => spark.conf.set(k, v) }
    val explain = args.contains("-e")
    // `mean=<col>` arg: besides timing, print each query's row count and
    // the mean of <col> when the result carries it — the readout a recall
    // or drift experiment needs next to its latency (e.g.
    // `mean=recall_bp x_search_chunks_dense_recall`).
    val meanCol = args.collectFirst {
      case a if a.startsWith("mean=") => a.stripPrefix("mean=") }
    val names = args.filterNot(a =>
      a == "-e" || a.startsWith("store=") || a.startsWith("mean=") ||
        a.startsWith("conf:"))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) fn(spark, sfDir).explain("formatted")
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"PROFILE $name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      meanCol.filter(fn(spark, sfDir).columns.contains).foreach { c =>
        val r = fn(spark, sfDir)
          .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.avg(c)).head
        println(f"PROFILE $name rows ${r.getLong(0)}%d mean($c) ${r.getDouble(1)}%.1f")
      }
    }
    spark.stop()
  }
}
