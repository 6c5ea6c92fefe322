package graft.streaming

import graft.ops.MatView
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The THIRTY-FOURTH streaming execution: MATERIALIZED-VIEW MAINTENANCE AS
  * A STREAM — the batch [[graft.ops.MatView.mvRefresh]] fold running at
  * ingest time, which is where a production view is actually maintained
  * (the reference recomputes its KPI tables per dashboard rerun; the
  * streamed posture folds each arriving increment the moment it lands).
  *
  * Shape: the SINK IS THE STATE (the [[IngestStream.insertDelta]] stance — zero
  * state-store state). Each micro-batch aggregates ITS OWN rows to
  * partial-aggregate states ([[graft.ops.MatView.state]] — count / integer
  * sums / min / max / HLL registers, a ≤|groups|-row relation per trigger)
  * and appends them as that batch's delta ([[UpsertSink.writeBatch]] —
  * `mode("overwrite")` per batch id, so checkpoint replay rewrites the
  * same delta and recovery is a no-op). No streaming aggregation runs at
  * all: every source row lands in exactly one batch, so the per-batch
  * states PARTITION the increment and the view is the monoid merge of the
  * base snapshot with every delta, resolved at read time
  * ([[UpsertSink.readAll]] + the SAME [[graft.ops.MatView.mergeStates]]
  * the batch form folds with — one merge definition, batch and stream
  * cannot drift). Last-write-wins resolution would be WRONG here (two
  * batches touching one (event_type, day) group both contribute); the
  * additive read-all is the merge-on-read posture a lakehouse MV uses,
  * compacted periodically by exactly [[graft.ops.MatView.mergeStates]].
  *
  * Oracle: the resolved view equals the batch refresh under ANY batching
  * of the source, so the twin is `x_mv_refresh`'s full-recompute SQL
  * verbatim; `MvStreamSpec` pins two-batch delivery and replay
  * idempotence. */
object MvStream {

  /** Run the MV-maintenance stream to completion over the events table's
    * increment slice and return the refreshed differential view. */
  def streamedMvRefresh(s: SparkSession, sfDir: String): DataFrame = {
    val ss = EventPipeline.streamingSession(s)
    val scratch = graft.ops.SpillMemo.scratchDir("graft-smv-")
    val q = EventPipeline.fileStream(ss, sfDir)
      .filter(MatView.isDelta)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$scratch/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: Dataset[Row], id: Long) =>
        UpsertSink.writeBatch(MatView.state(b), id, s"$scratch/sink"))
      .start()
    q.awaitTermination()
    EventPipeline.releaseStreamState(ss)
    MatView.differential(ss, sfDir,
      MatView.mergeStates(
        MatView.baseView(ss, sfDir),
        UpsertSink.readAll(ss, s"$scratch/sink")))
  }

  /** The KPI-grain twin (r14 verdict #6): [[streamedMvRefresh]]'s
    * sink-is-the-state shape applied to the reference's OWN view grain —
    * per micro-batch, the arriving increment's partial sliding-window
    * counts ([[graft.ops.MatView.kpiState]] — the same `window()`
    * expansion the live query runs) land as that batch's delta; the view
    * is the additive fold of the spilled base with every delta
    * ([[graft.ops.MatView.mergeKpi]], the single merge definition batch
    * and stream share). The window expansion commutes with batching —
    * each event emits its 2 window rows in whichever batch delivers it —
    * so the resolved view equals the batch refresh under ANY batching;
    * the oracle is the full-recompute window SQL verbatim. */
  def streamedKpiRefresh(s: SparkSession, sfDir: String,
      key: String = "user_id"): DataFrame = {
    val ss = EventPipeline.streamingSession(s)
    val scratch = graft.ops.SpillMemo.scratchDir(s"graft-smvk-$key-")
    val q = EventPipeline.fileStream(ss, sfDir)
      .filter(MatView.isDelta)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$scratch/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: Dataset[Row], id: Long) =>
        UpsertSink.writeBatch(MatView.kpiState(b, key), id, s"$scratch/sink"))
      .start()
    q.awaitTermination()
    EventPipeline.releaseStreamState(ss)
    MatView.mergeKpi(
      MatView.kpiBaseView(ss, sfDir, key),
      UpsertSink.readAll(ss, s"$scratch/sink"), key)
      .select(org.apache.spark.sql.functions.col("window_start"),
        org.apache.spark.sql.functions.col("window_end"),
        org.apache.spark.sql.functions.col(key),
        org.apache.spark.sql.functions.col("total_interactions"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_mv_refresh_stream" -> ((s, d) => streamedMvRefresh(s, d)),
    "s_mv_kpi_refresh_stream" -> ((s, d) => streamedKpiRefresh(s, d)),
    // the reference's SECOND maintained KPI table (event_type grain —
    // consumer.py:147-174; r15 verdict #6), same fold, same sink shape
    "s_mv_kpi_type_refresh_stream" ->
      ((s, d) => streamedKpiRefresh(s, d, "event_type")))

  /** Running fold over the whole increment ⇒ no watermark cut: the oracle
    * is the batch full-recompute twin verbatim. */
  val oracle: Map[String, String] = Map(
    "s_mv_refresh_stream" -> MatView.oracle("x_mv_refresh"),
    "s_mv_kpi_refresh_stream" -> MatView.oracle("x_mv_kpi_refresh"),
    "s_mv_kpi_type_refresh_stream" -> MatView.oracle("x_mv_kpi_type_refresh"))
}
