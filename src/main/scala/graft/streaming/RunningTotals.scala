package graft.streaming


import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Input row for the lifetime-totals processor: user key + exact cents. */
case class TotalEvent(user_id: Long, value_c: Long)

/** Output row: cumulative per-user totals as of the latest micro-batch. */
case class UserTotals(user_id: Long, n_events: Long, value_c_sum: Long)

/** Persistent per-user state (count + exact integer cents sum). */
case class TotState(n: Long, sum_c: Long)

/** Arbitrary-state processor on Spark 4's `transformWithState` API — the
  * successor to `flatMapGroupsWithState` ([[StatefulDedup]] keeps the
  * legacy API covered): typed per-key state handles (`ValueState` /
  * `ListState` / `MapState`) with store-native TTL, timers, and mandatory
  * RocksDB backing — per-key point lookups instead of loading a whole
  * group's state object per trigger, which is what makes 10⁸-key lifetime
  * state practical on a real cluster.
  *
  * Semantics: one `ValueState[TotState]` per user accumulates (count,
  * exact-cents sum); each batch emits the updated totals for the keys it
  * touched (update mode), so the upsert sink's resolved table after a
  * bounded replay IS the batch aggregate — the oracle-checkable contract.
  * State here is lifetime-KPI state (cardinality-bounded by |users|, no
  * horizon to evict); a TTL horizon is one `TTLConfig` argument away. */
class RunningTotalsProcessor extends StatefulProcessor[Long, TotalEvent, UserTotals] {

  @transient private var tot: ValueState[TotState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    tot = getHandle.getValueState[TotState]("tot", Encoders.product[TotState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TotalEvent],
      timers: TimerValues): Iterator[UserTotals] = {
    var n = 0L
    var s = 0L
    rows.foreach { r => n += 1; s += r.value_c }
    val prev = if (tot.exists()) tot.get() else TotState(0L, 0L)
    val next = TotState(prev.n + n, prev.sum_c + s)
    tot.update(next)
    Iterator.single(UserTotals(key, next.n, next.sum_c))
  }
}

/** Driver-facing wrapper: run the [[RunningTotalsProcessor]] query to
  * completion over the events table and resolve the upsert sink. */
object RunningTotals {

  /** The lifetime-totals query over `events` (user_id, value). It runs on
    * the RocksDB state store `transformWithState` requires: the starter
    * reads that off the plan ([[EventPipeline.runSettings]]). */
  private def totalsOf(events: DataFrame): DataFrame =
    events.filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
      .as(Encoders.product[TotalEvent])
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new RunningTotalsProcessor, TimeMode.None(), OutputMode.Update())(
        Encoders.product[UserTotals])
      .toDF()

  def streamedRunningTotals(s: SparkSession, sfDir: String): DataFrame =
    EventPipeline.runToSink(s, "graft-tws-", "update", Seq("user_id")) { ss =>
      totalsOf(EventPipeline.fileStream(ss, sfDir))
    }.select(col("user_id"), col("n_events"), col("value_c_sum"))

  /** Scratch multi-file copy of the events table's (event_id, user_id,
    * value) projection, split into [[splitParts]] deterministic slices
    * (`event_id % parts`) — the multi-batch source the compacted twin
    * needs: the shared `installSourceDir` serves ONE file = one
    * AvailableNow batch, and in-place compaction is only observable with
    * several. Memoized per source dir (the testdata is immutable for a
    * run — the SpillMemo stance). */
  private val splitParts = 3
  private val splitMemo = scala.collection.concurrent.TrieMap.empty[String, String]
  private def splitSourceDir(s: SparkSession, sfDir: String): String =
    splitMemo.synchronized(splitMemo.getOrElseUpdate(sfDir, {
      val dir = graft.ops.SpillMemo.scratchDir("graft-rt-split-")
      val ev = graft.Tables.events(s, sfDir)
        .select(col("event_id"), col("user_id"), col("value"))
      (0 until splitParts).foreach { i =>
        val tmp = new java.io.File(dir, s".part$i")
        ev.filter(col("event_id") % splitParts === i).coalesce(1)
          .write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmp"))
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(dir, f"$i%02d.parquet"))
        Option(tmp.listFiles()).foreach(_.foreach(_.delete())); tmp.delete()
      }
      dir
    }))

  /** THE COMPACTED TWIN (r14 verdict #5): the same lifetime-totals stream
    * delivered in [[splitParts]] micro-batches (split source +
    * `maxFilesPerTrigger=1`), with [[UpsertSink.compactInPlace]] running
    * INSIDE foreachBatch before each delta lands — own batch excluded, so
    * checkpoint replay of any batch re-runs an idempotent fold (the
    * `exceptBatch` precedent). Resolve-after-compact must be
    * indistinguishable from resolve-without: the oracle is
    * `s_running_totals_stream`'s SQL verbatim, and `CompactSinkSpec` pins
    * the twin-equality golden plus the bounded delta count. This is the
    * maintenance posture a long-running deployment needs — without it,
    * [[UpsertSink.resolve]]'s merge-on-read cost grows with every trigger
    * forever; with it the sink holds ≤2 delta dirs at any moment. */
  def streamedRunningTotalsCompacted(s: SparkSession, sfDir: String): DataFrame =
    EventPipeline.runToSink(s, "graft-twsc-", "update", Seq("user_id"),
        perBatch = ss => (b, id, sink) => {
          UpsertSink.compactInPlace(ss, sink, Seq("user_id"), exceptBatch = Some(id))
          b
        }) { ss =>
      val src = splitSourceDir(ss, sfDir)
      totalsOf(ss.readStream
        .schema(ss.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src))
    }.select(col("user_id"), col("n_events"), col("value_c_sum"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_running_totals_stream" -> ((s, d) => streamedRunningTotals(s, d)),
    "s_running_totals_compacted" -> ((s, d) => streamedRunningTotalsCompacted(s, d)))

  /** Update-mode lifetime totals: the final upserted row per user equals
    * the plain batch aggregate — for the compacted twin too (compaction
    * is a physical-layout maintenance step; the resolved relation must
    * not move). */
  private val totalsSql =
    """SELECT user_id, count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c_sum
      |FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      |GROUP BY 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "s_running_totals_stream" -> totalsSql,
    "s_running_totals_compacted" -> totalsSql)
}
