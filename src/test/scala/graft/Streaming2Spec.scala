package graft

import java.nio.file.Files

import graft.ops.Sessionize
import graft.streaming.{EventPipeline, KeyedEvent, RunningTotalsProcessor, StatefulDedup, TotalEvent, UpsertSink, UserTotals}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Second streaming batch: custom state (`flatMapGroupsWithState` dedup),
  * checkpoint recovery (S6 — restart reprocesses nothing), and the
  * sessionization operator's invariants. */
class Streaming2Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("stateful dedup drops replayed event ids across micro-batches, keeps state per user") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // ProcessingTimeTimeout + no-data micro-batches = a busy loop of empty
    // batches evaluating timeouts; harmless under a real trigger interval but
    // it starves processAllAvailable in a tight test. Timeout eviction isn't
    // under test here, so disable the no-data batches for this query.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val ms = MemoryStream[KeyedEvent]
    val q = StatefulDedup.dedupe(ms.toDS()).writeStream
      .format("memory").queryName("dedup_t").outputMode("append").start()
    try {
      ms.addData(
        KeyedEvent("u1", 1L, ts("2026-01-01 00:00:01")),
        KeyedEvent("u1", 1L, ts("2026-01-01 00:00:02")), // dup within batch
        KeyedEvent("u2", 1L, ts("2026-01-01 00:00:03"))) // same id, other user → distinct
      q.processAllAvailable()
      ms.addData(
        KeyedEvent("u1", 1L, ts("2026-01-01 00:00:04")), // dup across batches
        KeyedEvent("u1", 2L, ts("2026-01-01 00:00:05"))) // fresh
      q.processAllAvailable()
      val out = spark.table("dedup_t").as[KeyedEvent].collect()
      assert(out.map(e => (e.user_id, e.event_id)).sorted.toSeq ==
        Seq(("u1", 1L), ("u1", 2L), ("u2", 1L)))
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    }
  }

  test("checkpoint recovery: restarting a finished query reprocesses nothing (S6)") {
    val scratch = Files.createTempDirectory("graft-ckpt-").toFile.getAbsolutePath
    val sink = s"$scratch/sink"
    val ckpt = s"$scratch/ckpt"
    val keys = Seq("window_start", "window_end", "user_id")
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    def callerConf = spark.conf.getAll.get(noData)
    def committed(ckptDir: String): Set[Long] =
      Option(new java.io.File(s"$ckptDir/commits").list()).getOrElse(Array.empty[String])
        .filter(_.forall(_.isDigit)).map(_.toLong).toSet
    def emptyBatches(q: org.apache.spark.sql.streaming.StreamingQuery, ckptDir: String) =
      committed(ckptDir) -- q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)

    val before = callerConf
    val q1 = EventPipeline.start(EventPipeline.fileStream(spark, sf), "user_id", sink, ckpt)
    assert(callerConf == before, "start must restore the caller's no-data setting")
    q1.awaitTermination()
    // update mode: no closing no-data trigger, every committed batch read rows
    assert(committed(ckpt).nonEmpty)
    assert(emptyBatches(q1, ckpt).isEmpty, s"no-data batches committed: ${emptyBatches(q1, ckpt)}")
    val first = UpsertSink.resolve(spark, sink, keys).collect().toSet
    assert(first.nonEmpty)
    val deltasAfterFirst = new java.io.File(sink).list().toSet

    // Same checkpoint + same source: the offset log says everything is
    // committed, so the restarted query must write no new data.
    val q2 = EventPipeline.start(EventPipeline.fileStream(spark, sf), "user_id", sink, ckpt)
    q2.awaitTermination()
    val second = UpsertSink.resolve(spark, sink, keys).collect().toSet
    assert(second == first, "restart from checkpoint must not change the sink")
    val newDeltas = new java.io.File(sink).list().toSet -- deltasAfterFirst
    // any delta a no-data batch may add must be empty
    newDeltas.foreach { d =>
      assert(spark.read.parquet(s"$sink/$d").isEmpty, s"unexpected rows in replayed delta $d")
    }

    // The drainToSink path starts through the same rule; its checkpoint is
    // the sink's sibling `ckpt`. A no-data batch re-commits its
    // predecessor's source offsets (lines after the version and metadata).
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val child = EventPipeline.streamingSession(spark)
    def childConfs = Seq(noData, providerKey).map(child.conf.getAll.get)
    def ckptOf(sinkDir: String) = new java.io.File(sinkDir).getParent + "/ckpt"
    def offsetLog(ckptDir: String, id: Long) = {
      val src = scala.io.Source.fromFile(s"$ckptDir/offsets/$id")
      try src.getLines().toList finally src.close()
    }
    def noDataCommits(ckptDir: String) = committed(ckptDir).filter(id =>
      id > 0 && offsetLog(ckptDir, id).drop(2) == offsetLog(ckptDir, id - 1).drop(2))
    def drained(prefix: String, mode: String)(build: org.apache.spark.sql.SparkSession => DataFrame) = {
      val confs = childConfs
      val (ss, sinkDir) = EventPipeline.drainToSink(spark, prefix, mode)(build)
      assert(ss eq child)
      assert(childConfs == confs, s"$prefix: start must restore the child session's confs")
      ckptOf(sinkDir)
    }

    // append mode emits on the watermark, so it keeps its closing no-data batch
    val appendCkpt = s"$scratch/append-ckpt"
    EventPipeline.drain(EventPipeline.windowCounts(EventPipeline.fileStream(spark, sf),
      "user_id", Some("10 minutes")), "append", appendCkpt)(
      UpsertSink.writeBatch(_, _, s"$scratch/append-sink"))
    assert(noDataCommits(appendCkpt).nonEmpty, "append mode must run its no-data batch")
    assert(callerConf == before)

    // append dedup emits on arrival: no closing no-data batch
    val dedupCkpt = drained("graft-s6-dedup-", "append") { ss =>
      EventPipeline.fileStream(ss, sf)
        .filter(col("event_id").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("ts"))
        .withWatermark("ts", "0 seconds")
        .dropDuplicatesWithinWatermark("event_id")
    }
    assert(committed(dedupCkpt).nonEmpty)
    assert(noDataCommits(dedupCkpt).isEmpty, s"dedup no-data batches: ${noDataCommits(dedupCkpt)}")

    // append session windows emit on the watermark: the closing batch stays
    val sessCkpt = drained("graft-s6-sess-", "append") { ss =>
      EventPipeline.sessionCounts(EventPipeline.fileStream(ss, sf), "0 seconds")
    }
    assert(noDataCommits(sessCkpt).nonEmpty, "append session windows must run their no-data batch")

    // transformWithState gets RocksDB without naming a provider
    val twsCkpt = drained("graft-s6-tws-", "update") { ss =>
      EventPipeline.fileStream(ss, sf)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
        .as(Encoders.product[TotalEvent])
        .groupByKey(_.user_id)(Encoders.scalaLong)
        .transformWithState(new RunningTotalsProcessor, TimeMode.None(), OutputMode.Update())(
          Encoders.product[UserTotals])
        .toDF()
    }
    assert(offsetLog(twsCkpt, 0).exists(_.contains("RocksDBStateStoreProvider")),
      s"offsets/0: ${offsetLog(twsCkpt, 0)}")
  }

  test("watermark survives restart: late rows stay dropped under the RECOVERED watermark") {
    // Run 1 ingests events up to 10:09 under a 10-minute watermark (→ 9:59,
    // persisted in the commit log). Run 2 restarts from the checkpoint and
    // ingests a 9:30 straggler plus a 10:30 event. A FRESH query would start
    // at watermark 0, accept the straggler, and emit its windows once 10:30
    // advanced the watermark past them; a correctly-recovered query drops the
    // row on arrival (9:30 < 9:59). The straggler's absence from the sink is
    // therefore exactly the "watermark state is durable" contract (S6 + C5).
    val scratch = tmp("graft-wm-")
    val (src, sink, ckpt) = (s"$scratch/src", s"$scratch/sink", s"$scratch/ckpt")

    def feed(rows: (String, String)*): Unit =
      rows.map { case (t, u) => (ts(t), u) }.toDF("ts", "user_id")
        .coalesce(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src)
      val q = EventPipeline.windowCounts(stream, "user_id", Some("10 minutes"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    feed(("2026-01-01 09:40:00", "u0"), // closes in run 1
      ("2026-01-01 10:00:00", "u1"), ("2026-01-01 10:02:00", "u1"),
      ("2026-01-01 10:09:00", "u1"))
    run()
    val first = spark.read.parquet(sink)
      .select("window_start", "window_end", "user_id", "total_interactions")
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)].collect().toSet
    assert(first.map(_._3) == Set("u0"), s"only u0's windows close in run 1: $first")

    feed(("2026-01-01 09:30:00", "u9"), // 29 min late vs recovered 9:59
      ("2026-01-01 10:30:00", "u2"))    // advances watermark to 10:20
    run()
    val second = spark.read.parquet(sink)
      .select("window_start", "window_end", "user_id", "total_interactions")
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)].collect().toSeq

    assert(!second.exists(_._3 == "u9"),
      s"late row must drop under the recovered watermark: $second")
    // u1's three windows close in run 2 with full counts; nothing re-emits
    val u1 = second.filter(_._3 == "u1")
      .map(r => (r._1.toString.take(16), r._4)).toSet
    assert(u1 == Set(("2026-01-01 09:55", 2L), ("2026-01-01 10:00", 3L),
      ("2026-01-01 10:05", 1L)), s"u1 windows: $u1")
    assert(second.size == second.distinct.size, "append must emit each window once")
    assert(second.toSet.intersect(first) == first, "run-1 rows must persist unchanged")
  }

  test("stop mid-ingest + restart from checkpoint converges to the batch result") {
    // Half the events exist when the first run drains; the rest "arrive"
    // while the query is down. The restarted query must process ONLY the new
    // files (same checkpoint) and the resolved sink must equal the batch
    // aggregation over everything — exactly-once across a restart with data
    // arriving in the gap.
    val scratch = tmp("graft-restart-")
    val src = s"$scratch/src"
    val keys = Seq("window_start", "window_end", "user_id")
    val ev = Tables.events(spark, sf).select($"event_id", $"ts", $"user_id")

    ev.filter($"event_id" % 2 === 0).coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src)
      val q = EventPipeline.windowCounts(stream, "user_id", Some("3650 days")).writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          UpsertSink.writeBatch(b, id, s"$scratch/sink"))
        .start()
      q.awaitTermination()
    }
    run() // first run drains the first half and stops
    ev.filter($"event_id" % 2 =!= 0).coalesce(1).write.mode("append").parquet(src)
    run() // restart: same checkpoint, only the new file is ingested

    val streamed = UpsertSink.resolve(spark, s"$scratch/sink", keys)
      .select($"window_start", $"window_end", $"user_id", $"total_interactions")
      .as[(java.sql.Timestamp, java.sql.Timestamp, Long, Long)].collect().toSet
    val batch = EventPipeline.windowCounts(ev, "user_id", None)
      .as[(java.sql.Timestamp, java.sql.Timestamp, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("compaction rewrites the resolved view and preserves it exactly") {
    val dir = tmp("graft-compact-")
    val keys = Seq("window_start", "window_end", "user_id")
    UpsertSink.writeBatch(Seq(
      (ts("2026-01-01 00:00:00"), ts("2026-01-01 00:10:00"), "u1", 1L))
      .toDF("window_start", "window_end", "user_id", "total_interactions"), 0, dir)
    UpsertSink.writeBatch(Seq(
      (ts("2026-01-01 00:00:00"), ts("2026-01-01 00:10:00"), "u1", 4L),
      (ts("2026-01-01 00:05:00"), ts("2026-01-01 00:15:00"), "u2", 2L))
      .toDF("window_start", "window_end", "user_id", "total_interactions"), 1, dir)
    val resolved = UpsertSink.resolve(spark, dir, keys).collect().toSet
    val base = tmp("graft-compact-out-")
    UpsertSink.compact(spark, dir, keys, base)
    assert(spark.read.parquet(base).collect().toSet == resolved)
    assert(resolved.size == 2)
  }

  test("sessionization: per-user sessions partition events and respect the 30-minute gap") {
    val sess = Sessionize.sessions(spark, sf)
    val events = Tables.events(spark, sf)
      .filter($"user_id".isNotNull && $"ts".isNotNull)

    // sessions partition the events: per-user event counts match
    val byUserSess = sess.groupBy("user_id").agg(sum("n_events").as("n"))
    val byUserRaw = events.groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(byUserSess.join(byUserRaw, "user_id")
      .filter(byUserSess("n") =!= byUserRaw("n")).isEmpty)

    // session bounds are ordered and no session spans a silent gap start
    assert(sess.filter($"session_start" > $"session_end").isEmpty)

    // hand-built: two bursts 40 minutes apart = two sessions; 10 min apart = one
    import spark.implicits._
    val hand = Seq(
      (1L, "u1", ts("2026-01-01 00:00:00")),
      (2L, "u1", ts("2026-01-01 00:10:00")),
      (3L, "u1", ts("2026-01-01 00:50:01")), // 40 min after previous → new session
      (4L, "u2", ts("2026-01-01 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    // same transform as the query, applied to a hand frame via a temp view
    val out = {
      val order = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      hand
        .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(order))
        .withColumn("new_sess",
          ($"prev_us".isNull || unix_micros($"ts") - $"prev_us" > 30L * 60 * 1000000).cast("long"))
        .withColumn("sess_id", sum($"new_sess").over(
          order.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy($"user_id", $"sess_id").agg(count(lit(1)).as("n_events"))
        .as[(String, Long, Long)].collect().toSet
    }
    assert(out == Set(("u1", 1L, 2L), ("u1", 2L, 1L), ("u2", 1L, 1L)))
  }

  test("streaming session_window merges a burst and emits it after the watermark closes the gap") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Evt]
    val out = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"session_window.start".as("s"), $"session_window.end".as("e"),
        $"user_id", $"n_events")
    val q = out.writeStream.format("memory").queryName("sess_t")
      .outputMode("append").start()
    try {
      // burst of 3 events within the gap → ONE session
      ms.addData(
        Evt("u1", "click", ts("2026-01-01 00:00:00")),
        Evt("u1", "view", ts("2026-01-01 00:10:00")),
        Evt("u1", "click", ts("2026-01-01 00:20:00")))
      q.processAllAvailable()
      // advance the watermark far past the session's close
      ms.addData(Evt("adv", "click", ts("2026-01-01 02:00:00")))
      ms.addData(Evt("adv", "click", ts("2026-01-01 02:00:01")))
      q.processAllAvailable()
      val rows = spark.table("sess_t").filter($"user_id" === "u1")
        .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)].collect()
      assert(rows.length == 1, "the burst must merge into exactly one session")
      val (s, e, _, n) = rows.head
      assert(n == 3L)
      assert(s == ts("2026-01-01 00:00:00"))
      assert(e == ts("2026-01-01 00:50:00")) // last event + 30-minute gap
    } finally q.stop()
  }

  test("centroid quantized sums are partitioning-invariant") {
    import graft.ops.Similarity
    val a = Similarity.centroids(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect().toSet
    val b = Similarity.centroids(spark, sf)
      .repartition(7) // different physical partitioning, same exact integers
      .as[(String, Long, Long, Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
  }
}
