package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{EventPipeline, KeyedEvent, Scd2Event, Scd2Stream, SlidingPanes, StatefulDedup}

/** The stream starter reads two engine settings off the query plan
  * (`EventPipeline.runSettings`): no-data micro-batches stay on only if
  * a streaming node can emit during one (the consumer's pane operator, a
  * `flatMapGroupsWithState` whose timeouts only remove state, cannot), and
  * `transformWithState` gets the RocksDB state store. One row per query
  * shape. */
class StartSettingsSpec extends SparkSpec {
  import spark.implicits._

  test("no-data batches and state store are derived from the plan") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def events = MemoryStream[Evt].toDF().withWatermark("ts", "10 minutes")
    def rate(side: String) = spark.readStream.format("rate").load()
      .select(col("value").as(s"${side}_id"), col("timestamp").as(s"${side}_ts"))
      .withWatermark(s"${side}_ts", "10 minutes")
    def streamJoin(how: String) = rate("l").join(rate("r"),
      col("l_id") === col("r_id") && col("r_ts").between(col("l_ts"), col("l_ts") + expr("INTERVAL 1 HOUR")),
      how)
    val windowAgg = events.groupBy(window(col("ts"), "10 minutes"), col("user_id")).count()
    val sessionAgg = events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id")).count()
    val staticAgg = Seq(("u1", 1L)).toDF("user_id", "n").groupBy("user_id").agg(sum("n").as("n"))
    val scd2 = Scd2Stream.runsOf(MemoryStream[(Long, Long, Long, String)].toDF()
      .toDF("user_id", "ts_s", "event_id", "event_type")
      .select(col("user_id"), timestamp_seconds(col("ts_s")).as("ts"),
        col("event_id"), col("event_type"))
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[Scd2Event]).toDF()

    val rocks = Some(EventPipeline.rocksProvider)
    val cases: Seq[(String, DataFrame, String, (Boolean, Option[String]))] = Seq(
      ("update-mode window agg", windowAgg, "update", (false, None)),
      ("append dropDuplicatesWithinWatermark",
        events.dropDuplicatesWithinWatermark("user_id"), "append", (false, None)),
      ("append inner join", streamJoin("inner"), "append", (false, None)),
      ("append semi join", streamJoin("left_semi"), "append", (false, None)),
      ("append window agg", windowAgg, "append", (true, None)),
      ("append session_window agg", sessionAgg, "append", (true, None)),
      ("left-outer stream-stream join", streamJoin("left_outer"), "append", (true, None)),
      ("flatMapGroupsWithState", StatefulDedup.dedupe(MemoryStream[KeyedEvent].toDS()).toDF(),
        "append", (true, None)),
      ("update-mode pane operator (its timeouts only remove state)",
        SlidingPanes.counts(MemoryStream[Evt].toDF(), "user_id", "10 minutes"), "update",
        (false, None)),
      ("transformWithState (event time)", scd2, "append", (true, rocks)),
      ("append stream-static join, static-side groupBy",
        events.join(staticAgg, Seq("user_id")), "append", (false, None)))

    cases.foreach { case (name, frame, mode, expected) =>
      assert(frame.isStreaming, name)
      assert(EventPipeline.runSettings(frame, mode) == expected, name)
    }
  }
}
