package graft

import org.apache.spark.sql.SparkSession

/** The one session posture every main (Bench, Verify and the tools) runs
  * under, so a measurement tool times the same session the graded runs
  * build: local mode at [[cpus]] cores with as many shuffle partitions,
  * shuffle/block scratch on the fast medium, UTC, no UI, and the library's
  * session extensions (the native functions, pinned by `ExtensionsSpec`)
  * active exactly as a user's production session would have them. */
object GraftSession {
  /** Core count, from `SPARK_GRAFT_CPUS`. 32 = the graded configuration
    * (local[32]). Claims once measured at a "4" default in Bench
    * contradicted the graded numbers by ~1.75× — the default must BE the
    * graded config, and Bench's artifact records it (cpus/master fields)
    * so a mismatch is visible. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)

  /** The whole posture as session confs. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.local.dir" -> ops.SpillMemo.sparkLocalDir,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> graft.functions.GraftFunctions.extensionsClass)

  /** A session on [[settings]]([[cpus]]), with the mains' log hygiene
    * ([[Logs.quietBenignWarnings]]) applied. */
  def local(): SparkSession = {
    val spark = settings(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietBenignWarnings()
    spark
  }

  /** `conf:key=value` command-line arguments as (key, value) pairs — how a
    * tool run sets session confs (engine tunables, broadcast posture)
    * without an sbt-level javaOptions edit. */
  def confArgs(args: Seq[String]): Seq[(String, String)] =
    args.collect { case a if a.startsWith("conf:") =>
      val kv = a.stripPrefix("conf:")
      val i = kv.indexOf('=')
      require(i > 0, s"conf: arg must be conf:key=value, got conf:$kv")
      kv.take(i) -> kv.drop(i + 1)
    }
}
