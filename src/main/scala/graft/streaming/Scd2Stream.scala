package graft.streaming


import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Input row for the streaming SCD2 processor (µs event time). */
case class Scd2Event(user_id: Long, ts_us: Long, event_id: Long, event_type: String)

/** A CLOSED validity run — the only thing the processor ever emits.
  * Same shape as the batch `x_scd2_ranges` rows with `valid_to_us` known. */
case class Scd2Run(user_id: Long, run_id: Long, event_type: String,
    valid_from_us: Long, n_events: Long, valid_to_us: Long)

/** Fold carry between watermark advances: the OPEN run (`run_id` 0 = none
  * yet) the next folded event either extends or closes. */
case class Scd2Carry(run_id: Long, cur_type: String, cur_from_us: Long, cur_n: Long)

/** STREAMING SCD2 MAINTENANCE — the dimension-table half of CDC, run as a
  * stream: fold each user's event stream into type-2 validity runs
  * INCREMENTALLY, emitting a run exactly once, when the event-time
  * watermark proves it closed. The batch twin (`Temporal.scd2`) rebuilds
  * the whole history per query; this processor is what a warehouse runs so
  * the history table is ALWAYS current and each ingest touches only its
  * increment — and it is the shape `transformWithState` timers exist for:
  *
  *  - events BUFFER in per-key `ListState` until the watermark passes them
  *    (stream order is not event order; folding on arrival would weld runs
  *    out of sequence);
  *  - an event-time TIMER at (watermark + 1) re-arms per key, so the fold
  *    runs when the watermark advances — including when the advance is
  *    driven entirely by OTHER keys' traffic and this key sees no new rows
  *    (the `handleInputRows`-only formulation silently stalls such keys);
  *  - on expiry the key folds its ready prefix (ts < watermark, sorted by
  *    (ts, event_id) — unique, so the fold order is deterministic) from the
  *    carried open run, emits every run the prefix CLOSED, and keeps the
  *    open run + unripe suffix as carry.
  *
  * State per key is the watermark horizon's buffered events plus an O(1)
  * carry — the same bound as any watermark-evicted stateful op, RocksDB-
  * backed (mandatory for this API) so 10⁸ users is a store size, not a
  * heap size. Append output: a closed run is immutable by the watermark
  * contract (no event older than the watermark can arrive), which is what
  * makes the emit-once semantics exact. */
class Scd2Processor extends StatefulProcessor[Long, Scd2Event, Scd2Run] {

  @transient private var buf: ListState[Scd2Event] = _
  @transient private var carry: ValueState[Scd2Carry] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[Scd2Event]("buf", Encoders.product[Scd2Event], TTLConfig.NONE)
    carry = getHandle.getValueState[Scd2Carry]("carry", Encoders.product[Scd2Carry], TTLConfig.NONE)
  }

  /** The earliest ms-timer expiry at which an event with this µs timestamp
    * can fold: the fold condition is `ts_us < wm_ms * 1000`, so the first
    * qualifying watermark is `ts_us div 1000 + 1`. */
  private def ripensAtMs(tsUs: Long): Long = tsUs / 1000L + 1L

  override def handleInputRows(key: Long, rows: Iterator[Scd2Event],
      timers: TimerValues): Iterator[Scd2Run] = {
    var minUs = Long.MaxValue
    rows.foreach { e => buf.appendValue(e); if (e.ts_us < minUs) minUs = e.ts_us }
    // Arm the fold for the watermark advance at which the earliest NEW event
    // actually ripens (never in the past: at least watermark + 1). Events
    // already buffered are covered by the timer their own arrival (or the
    // last fold's re-arm) registered. Registering the same expiry twice is
    // idempotent; a timer per distinct ripen time is bounded by batch count.
    if (minUs != Long.MaxValue)
      getHandle.registerTimer(
        math.max(timers.getCurrentWatermarkInMs() + 1, ripensAtMs(minUs)))
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[Scd2Run] = {
    val wmUs = timers.getCurrentWatermarkInMs() * 1000L
    val (ready, rest) = buf.get().toArray.partition(_.ts_us < wmUs)
    // Re-arm at the expiry where the earliest UNRIPE event actually folds,
    // not blindly at watermark + 1: the blind re-arm fired a no-op timer for
    // every buffering key on EVERY watermark advance — O(buffered keys) per
    // micro-batch at the 10⁸-user scale this processor targets.
    def rearm(): Unit = if (rest.nonEmpty)
      getHandle.registerTimer(math.max(
        timers.getCurrentWatermarkInMs() + 1, ripensAtMs(rest.iterator.map(_.ts_us).min)))
    if (ready.isEmpty) {
      rearm()
      return Iterator.empty
    }
    var c = if (carry.exists()) carry.get() else Scd2Carry(0L, null, 0L, 0L)
    val closed = scala.collection.mutable.ArrayBuffer.empty[Scd2Run]
    ready.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      if (c.run_id > 0L && c.cur_type == e.event_type)
        c = c.copy(cur_n = c.cur_n + 1)
      else {
        if (c.run_id > 0L)
          closed += Scd2Run(key, c.run_id, c.cur_type, c.cur_from_us, c.cur_n, e.ts_us)
        c = Scd2Carry(c.run_id + 1, e.event_type, e.ts_us, 1L)
      }
    }
    carry.update(c)
    buf.clear()
    if (rest.nonEmpty) buf.appendList(rest)
    rearm()
    closed.iterator
  }
}

/** Driver-facing wrapper: run the [[Scd2Processor]] query to completion
  * over the events table and resolve the appended runs. */
object Scd2Stream {

  /** The processor over any streaming frame with (user_id, ts_us, event_id,
    * event_type) — exposed for the MemoryStream spec. */
  private[graft] def runsOf(typed: Dataset[Scd2Event]): Dataset[Scd2Run] =
    typed.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new Scd2Processor, TimeMode.EventTime(), OutputMode.Append())(
        Encoders.product[Scd2Run])

  /** The FIFTEENTH streaming execution: zero-delay watermark, so at stream
    * end every run closed by an event under the final (ms-floored) watermark
    * has been emitted exactly once; the oracle rebuilds the same cut —
    * events with `ts_us < wm` folded, closed runs only. Upsert keyed by
    * (user_id, run_id) makes checkpoint replay idempotent.
    *
    * SINGLE-BATCH CONTRACT: with a 0-second watermark, any event arriving in
    * a micro-batch AFTER the watermark has passed its timestamp is dropped by
    * the stateful operator, while the oracle folds every event under the
    * final watermark — so oracle equality requires the whole table in ONE
    * micro-batch (watermark still at its initial value while every row is
    * ingested). That holds by construction here: [[EventPipeline.fileStream]]
    * installs exactly one file (`part-0.parquet`) in the monitored dir and
    * this query sets no `maxFilesPerTrigger`/`maxBytesPerTrigger`, so
    * `AvailableNow` delivers it as one batch. A production deployment of
    * this processor over an unordered multi-file/Kafka source must instead
    * give the watermark a delay covering the source's max disorder (the
    * processor itself is order-correct for any delay — it folds strictly
    * behind the watermark). */
  def streamedScd2(s: SparkSession, sfDir: String): DataFrame =
    EventPipeline.runToSink(s, "graft-scd2s-", "append", Seq("user_id", "run_id")) { ss =>
      import ss.implicits._
      runsOf(EventPipeline.fileStream(ss, sfDir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
        .as[Scd2Event]).toDF()
    }.select(col("user_id"), col("run_id"), col("event_type"),
      col("valid_from_us"), col("n_events"), col("valid_to_us"))

  /** The SIXTEENTH streaming execution and a join semantic the suite did
    * not yet exercise: a stream-static NON-EQUI (interval-containment)
    * LEFT join — each purchase fact is enriched AT INGEST with the SCD2
    * state run valid at its instant, against the batch-derived dimension
    * ([[graft.ops.Temporal.pitState]]'s contract run as a stream). The
    * join is STATELESS (static right side ⇒ per-batch hash join, nothing
    * to evict, no watermark cut — every fact emits exactly once on
    * arrival), the dimension is lineage-cut once at build so micro-batches
    * re-read materialized blocks instead of re-deriving the window chain,
    * and the broadcast is the conf-gated [[graft.ops.Hints.broadcastSmall]]
    * kind (a corpus-derived dimension grows; a real deployment whose
    * history outgrows the driver flips to the shuffled per-batch join by
    * conf). Facts carry the non-null `event_id` upsert key, so checkpoint
    * replay is idempotent — the one filter its oracle adds over
    * `x_pit_state`'s. */
  def streamedPit(s: SparkSession, sfDir: String): DataFrame =
    EventPipeline.runToSink(s, "graft-spit-", "append", Seq("event_id")) { ss =>
      val dim = graft.ops.Lineage.cut(
        graft.ops.Temporal.scd2Events(
            graft.Tables.events(ss, sfDir).filter(col("event_type") =!= "purchase"))
          .select(col("user_id").as("d_user"), col("run_id"),
            col("event_type").as("state_type"), col("valid_from_us"), col("valid_to_us")))
      val facts = EventPipeline.fileStream(ss, sfDir)
        .filter(col("event_type") === "purchase" && col("user_id").isNotNull &&
          col("ts").isNotNull && col("event_id").isNotNull)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      facts.join(graft.ops.Hints.broadcastSmall(dim),
          col("user_id") === col("d_user") &&
            col("valid_from_us") <= col("ts_us") &&
            (col("valid_to_us").isNull || col("ts_us") < col("valid_to_us")),
          "left")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("state_type"),
          col("run_id").as("state_run"), col("valid_from_us").as("state_since_us"))
    }.select(col("event_id"), col("user_id"), col("ts_us"),
      col("state_type"), col("state_run"), col("state_since_us"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_scd2_stream" -> ((s, d) => streamedScd2(s, d)),
    "s_pit_stream" -> ((s, d) => streamedPit(s, d)))

  /** The batch SCD2 CTE chain over the folded prefix (`us < wm`, the
    * zero-delay ms-floored watermark), restricted to CLOSED runs — exactly
    * the processor's emission set. `event_id IS NOT NULL` joins the filter
    * because the typed row needs the sort tiebreaker (the batch twin keeps
    * such rows; this query's oracle must drop them on both sides). */
  val oracle: Map[String, String] = Map(
    // Stateless stream-static join: NO watermark cut — the full batch PIT
    // contract, restricted to facts carrying the upsert key.
    "s_pit_stream" -> graft.ops.Temporal.pitSql(factEventIdNotNull = true),
    "s_scd2_stream" ->
      """WITH raw AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |wm AS (SELECT (max(us) // 1000) * 1000 AS w FROM raw),
        |ev AS (SELECT raw.* FROM raw, wm WHERE us < w),
        |c AS (
        |  SELECT user_id, us, event_id, event_type,
        |         CASE WHEN lag(event_type) OVER w2 IS NULL
        |                OR lag(event_type) OVER w2 <> event_type
        |              THEN 1 ELSE 0 END AS chg
        |  FROM ev WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)),
        |r AS (
        |  SELECT user_id, us, event_type,
        |         CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        |  FROM c),
        |a AS (
        |  SELECT user_id, run_id, min(event_type) AS event_type,
        |         CAST(min(us) AS BIGINT) AS valid_from_us,
        |         count(*) AS n_events
        |  FROM r GROUP BY 1, 2),
        |f AS (
        |  SELECT user_id, run_id, event_type, valid_from_us, n_events,
        |         lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id)
        |           AS valid_to_us
        |  FROM a)
        |SELECT user_id, run_id, event_type, valid_from_us, n_events,
        |       CAST(valid_to_us AS BIGINT) AS valid_to_us
        |FROM f WHERE valid_to_us IS NOT NULL""".stripMargin)
}
