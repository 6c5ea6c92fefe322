package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query names — a local iteration
    // convenience (the driver always passes two args and gets the full dump).
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    // A misspelled/stale name would otherwise filter to nothing and exit
    // green — fail loudly instead (ADVICE r11): a local iteration that
    // dumps zero queries must not look like a passing run.
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty) {
        System.err.println(
          s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
        sys.exit(2)
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .config("spark.local.dir", ops.SpillMemo.sparkLocalDir)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Same session-extensions entry point a production user would set:
      // native functions + the FusePrefixCosines rule are load-bearing in
      // the graded correctness dump, not test-only (ExtensionsSpec).
      .config("spark.sql.extensions", graft.functions.GraftFunctions.extensionsClass)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Logs.quietBenignWarnings()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1))).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Full-surface type gate (streams included — the spec can only pin
        // the batch queries lazily): a non-whitelisted type in a hashed
        // output is a guaranteed driver hash-fail even when the values are
        // right ([[HashedTypes]]), so it must be loud here, not silent
        // until the round report.
        val bad = HashedTypes.violations(df.schema)
        if (bad.nonEmpty && SparkEntry.oracleSql.contains(name))
          System.err.println(
            s"[verify] $name TYPE VIOLATION (driver hash will diverge): ${bad.mkString(", ")}")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // A named subset dumps only its own oracle entries, so
    // tools/check_oracle.py checks it cleanly; two args dump them all.
    val json = SparkEntry.oracleSql.filter(kv => only.forall(_.contains(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
