package graft.tools

import graft.Tables
import graft.ops.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Attribution profiler for the two graph streams (r15 verdict #4): the
  * suite's top cost centers (`s_graph_insert_stream` ~8 s,
  * `s_graph_ann_stream` ~6-7 s warm at sf0.1) are each one AvailableNow
  * trigger over the ingest slice — so their seconds decompose into
  * (a) standing-index derivation (ingestGraphIndex's lineage cuts: the
  * bucketed corpus probe index + corpus vectors; the nav graph itself is
  * memo/store-served), (b) the beam search proper, (c) insert re-trim
  * (insert stream only), and (d) micro-batch machinery (source install,
  * trigger, WAL, sink write, resolve). (a)-(c) are timed directly below
  * against the SAME definitions the streams run; (d) is the stream total
  * minus them. Findings land in BASELINE.md (round 16). */
object GraphProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config("spark.local.dir", graft.ops.SpillMemo.sparkLocalDir)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Logs.quietBenignWarnings()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"GRAPHPROFILE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // untimed warm-up: JVM + parquet footer caches
    Tables.embeddings(spark, sfDir).count()

    // (a) standing-index derivation — the lineage cuts force here
    val (edges, corpusIdx, c) = time("ingest_index_derive") {
      val t = Similarity.ingestGraphIndex(spark, sfDir)
      t._1.count(); t._2.count(); t._3.count()
      t
    }
    val batch = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % Similarity.knnBatchMod === 7)
      .select(col("vec_id"), col("embedding"))
    // (b) the beam search proper, same definition the stream's trigger runs
    val searched = time("beam_search") {
      val r = Similarity.graphBeamProbe(batch, edges, corpusIdx, c)
      r.write.format("noop").mode("overwrite").save()
      r
    }
    time("beam_search_again") {
      Similarity.graphBeamProbe(batch, edges, corpusIdx, c)
        .write.format("noop").mode("overwrite").save()
    }
    // (c) the insert re-trim over the searched rows (no prior — batch form)
    val all = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    time("insert_rows") {
      Similarity.insertRows(
        graft.ops.Lineage.cut(searched), None, edges, all)
        .write.format("noop").mode("overwrite").save()
    }
    // (d) the streams end-to-end, warm session — machinery = total - (a..c)
    time("s_graph_ann_stream_total") {
      graft.SparkEntry.queries("s_graph_ann_stream")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    time("s_graph_insert_stream_total") {
      graft.SparkEntry.queries("s_graph_insert_stream")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
