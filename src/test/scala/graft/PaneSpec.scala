package graft

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{EventPipeline, UpsertSink}

/** The consumer query ([[EventPipeline.start]]) counts its sliding windows
  * in panes, one state row per key. These specs pin it to the update-mode
  * window aggregate it replaced ([[EventPipeline.windowCounts]]): the same
  * rows in every batch, late data included, and the same sink across a
  * restart. */
class PaneSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private val noData = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** The window aggregate as the consumer ran it before panes: update
    * mode, no no-data batches, one upsert delta per batch. */
  private def windowAggregate(frame: org.apache.spark.sql.DataFrame, key: String,
      sink: String, ckpt: String, trigger: Trigger): StreamingQuery = {
    val earlier = spark.conf.getOption(noData)
    spark.conf.set(noData, "false")
    try EventPipeline.windowCounts(frame, key, Some("10 minutes")).writeStream
      .outputMode("update").option("checkpointLocation", ckpt).trigger(trigger)
      .foreachBatch((b: Dataset[Row], id: Long) => UpsertSink.writeBatch(b, id, sink))
      .start()
    finally earlier.fold(spark.conf.unset(noData))(spark.conf.set(noData, _))
  }

  private def delta(sink: String, id: Long): Set[Row] =
    spark.read.parquet(s"$sink/b$id").drop("_batch_id").collect().toSet

  private def row(start: String, end: String, key: String, n: Long) =
    Row(ts(s"2026-01-01 $start:00"), ts(s"2026-01-01 $end:00"), key, n)

  test("every batch emits the window aggregate's rows, late data included") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Evt]
    val dir = tmp("graft-panes-")
    val panes = EventPipeline.start(ms.toDF(), "user_id", s"$dir/panes", s"$dir/panes-ckpt",
      Trigger.ProcessingTime(0))
    val agg = windowAggregate(ms.toDF(), "user_id", s"$dir/agg", s"$dir/agg-ckpt",
      Trigger.ProcessingTime(0))
    def batch(at: String*): Unit = {
      ms.addData(at.map { a =>
        val Array(user, time) = a.split('@')
        Evt(user, "click", ts(s"2026-01-01 $time:00"))
      })
      Seq(panes, agg).foreach(_.processAllAvailable())
    }
    try {
      // b0 out of order within the batch; watermarks: b1 09:57, b2 10:30
      batch("u1@10:00", "u1@10:07", "u2@10:03", "u1@09:58")
      batch("adv@10:40")
      // Late-event filter: the previous batch's watermark, 09:57; the
      // batch's own is 10:30. u3's windows end at 10:25 and 10:30: both
      // still count and emit in this batch, then close.
      batch("u3@10:22", "u1@10:01")
      // Filter watermark 10:30 from here. u4 is late for [10:20,10:30)
      // only and counts in [10:25,10:35); u5 is late for both windows;
      // u3's state closed in the batch before.
      batch("u4@10:26", "u5@10:12", "u3@10:27", "u6@10:33", "adv@10:41")
      batch("adv@11:00")
      // batch watermark 10:50: u6's state (latest window end 10:40) times out
      batch("adv@11:01")
      batch("u6@10:52")
      val ids = 0L to 6L
      ids.foreach(id => assert(delta(s"$dir/panes", id) == delta(s"$dir/agg", id), s"batch $id"))
      // no batch beyond the seven data batches (an idle start may report batch 0 twice)
      Seq(panes, agg).foreach(q => assert(q.recentProgress.map(_.batchId).distinct.toSeq == ids))
      val progress = panes.recentProgress.filter(_.numInputRows > 0)
      assert(progress.map(_.batchId).toSeq == ids)

      assert(delta(s"$dir/panes", 2) == Set(
        row("10:15", "10:25", "u3", 1), row("10:20", "10:30", "u3", 1),
        row("09:55", "10:05", "u1", 3), row("10:00", "10:10", "u1", 3)))
      val b3 = delta(s"$dir/panes", 3).filter(r => Set("u3", "u4", "u5")(r.getString(2)))
      assert(b3 == Set(row("10:25", "10:35", "u4", 1), row("10:25", "10:35", "u3", 1)))
      assert(delta(s"$dir/panes", 6) ==
        Set(row("10:45", "10:55", "u6", 1), row("10:50", "11:00", "u6", 1)))

      // dropped (window, key) rows: u5 twice, u3 and u4 once each
      val dropped = progress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      assert(dropped.toSeq == Seq(0L, 0L, 0L, 4L, 0L, 0L, 0L))
      // one state row per key: u1 and u2, not one per (window, key)
      assert(progress.head.stateOperators.head.numRowsTotal == 2)
      // the timeout batch removes u6 (and every other key whose windows closed)
      assert(progress(5).stateOperators.head.numRowsRemoved > 0)
    } finally Seq(panes, agg).foreach(_.stop())
  }

  /** One JSON file per batch (`maxFilesPerTrigger` = 1), in `at` order. */
  private def feed(dir: String, from: Int, batches: Seq[String]*): Unit =
    batches.zipWithIndex.foreach { case (events, i) =>
      val f = new java.io.File(dir, f"b${from + i}%03d.json")
      Files.write(f.toPath, events.map { a =>
        val Array(user, time) = a.split('@')
        s"""{"user_id": "$user", "ts": "2026-01-01T$time:00Z"}"""
      }.mkString("", "\n", "\n").getBytes("UTF-8"))
      f.setLastModified(1800000000000L + (from + i) * 1000L)
    }

  private def stream(dir: String) = spark.readStream.schema("user_id STRING, ts TIMESTAMP")
    .option("maxFilesPerTrigger", "1").json(dir)

  private val batches = Seq(
    Seq("u1@10:00", "u2@10:03", "u1@09:58"), Seq("adv@10:40"), Seq("u3@10:22", "u1@10:01"),
    Seq("u4@10:26", "u5@10:12", "u3@10:27", "adv@10:41"), Seq("u6@10:52", "adv@11:00"))

  private val windowKeys = Seq("window_start", "window_end", "user_id")

  test("a restart from the checkpoint after trigger n leaves the sink of an uninterrupted run") {
    val dir = tmp("graft-panes-restart-")
    def run(name: String): Unit =
      EventPipeline.start(stream(s"$dir/$name-src"), "user_id", s"$dir/$name", s"$dir/$name-ckpt")
        .awaitTermination()
    Seq("whole", "split").foreach(n => Files.createDirectories(java.nio.file.Paths.get(s"$dir/$n-src")))
    feed(s"$dir/whole-src", 0, batches: _*)
    run("whole")
    feed(s"$dir/split-src", 0, batches.take(3): _*)
    run("split") // stops after trigger 3
    feed(s"$dir/split-src", 3, batches.drop(3): _*)
    run("split")
    def deltas(name: String) = new java.io.File(s"$dir/$name").list().toSet
    assert(deltas("whole") == (0 to 4).map(i => s"b$i").toSet)
    assert(deltas("split") == deltas("whole"))
    val whole = UpsertSink.resolve(spark, s"$dir/whole", windowKeys).collect().toSet
    assert(UpsertSink.resolve(spark, s"$dir/split", windowKeys).collect().toSet == whole)
    // the restart resumed under the recovered watermark: u5 dropped, u4 late for one window
    assert(!whole.exists(_.getAs[String]("user_id") == "u5"))
    assert(whole.filter(_.getAs[String]("user_id") == "u4").map(_.getAs[Long]("total_interactions")) ==
      Set(1L))
  }

  test("a checkpoint written by the window aggregate fails fast instead of resuming") {
    val dir = tmp("graft-panes-old-ckpt-")
    val (src, sink, ckpt) = (s"$dir/src", s"$dir/sink", s"$dir/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(src))
    feed(src, 0, batches.take(2): _*)
    // the consumer query before panes: the update-mode window aggregate
    EventPipeline.drain(EventPipeline.windowCounts(stream(src), "user_id", Some("10 minutes")),
      "update", ckpt)(UpsertSink.writeBatch(_, _, sink))
    feed(src, 2, batches(2))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      EventPipeline.start(stream(src), "user_id", sink, ckpt).awaitTermination())
    assert(e.getMessage.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"),
      e.getMessage)
    assert(new java.io.File(sink).list().toSet == Set("b0", "b1"))
  }
}
