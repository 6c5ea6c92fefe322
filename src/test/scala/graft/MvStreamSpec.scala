package graft

import graft.ops.MatView
import graft.streaming.{MvStream, UpsertSink}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** The streamed MV maintenance (`s_mv_refresh_stream`): per-batch partial
  * states must merge to the whole-corpus state under any batching, the
  * resolved differential must equal the batch `x_mv_refresh` verbatim, and
  * the per-batch overwrite must make replay a no-op. */
class MvStreamSpec extends SparkSpec {
  import spark.implicits._

  private def table(df: DataFrame): Set[(String, String, Long, Long, Long, Long, Long, Long)] =
    df.select(col("event_type"), col("day").cast("string"), col("n"),
      col("sum_vc"), col("min_vc"), col("max_vc"), col("avg_vc"),
      col("n_users"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSet

  private def flat(states: DataFrame): Set[(String, String, Long, Long, Long, Long, Long)] =
    states.select(
      col("event_type"), col("day").cast("string"), col("n"), col("sum_vc"),
      col("min_vc"), col("max_vc"),
      expr("CAST(round(hll_sketch_estimate(users_hll)) AS BIGINT)"))
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSet

  test("golden: file-source streamed MV refresh equals the batch refresh") {
    val streamed = table(MvStream.streamedMvRefresh(spark, sf))
    val batch = table(MatView.mvRefresh(spark, sf))
    assert(streamed == batch, "streamed MV diverged from the batch refresh")
    assert(streamed.nonEmpty)
  }

  test("stop mid-ingest + restart from checkpoint: the fold converges to the full-corpus state") {
    // the MaxsimStreamSpec restart golden applied to sink-as-state MV
    // maintenance: half the increment lands, the query stops, the rest
    // lands, a NEW query on the SAME checkpoint processes only the new
    // file — and the additive fold must land exactly the full state,
    // with run-1's deltas untouched
    val scratch = graft.ops.SpillMemo.scratchDir("graft-smv-r-")
    val src = s"$scratch/src"
    val delta = Tables.events(spark, sf).filter(MatView.isDelta)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // isDelta is event_id % 5 == 3, so % 10 splits it into {3} and {8}
    delta.filter(col("event_id") % 10 === 3).coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src).writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          UpsertSink.writeBatch(MatView.state(b), id, s"$scratch/sink")
        }
        .start()
      q.awaitTermination()
    }
    run()
    def folded: Set[(String, String, Long, Long, Long, Long, Long)] =
      flat(MatView.mergeStates(
        MatView.baseView(spark, sf), UpsertSink.readAll(spark, s"$scratch/sink")))
    val ev = Tables.events(spark, sf)
    val firstHalf = flat(MatView.state(
      ev.filter(!MatView.isDelta || col("event_id") % 10 === 3)))
    assert(folded == firstHalf, "run 1 must fold base + early increment exactly")
    delta.filter(col("event_id") % 10 === 8).coalesce(1).write.mode("append").parquet(src)
    run()
    assert(folded == flat(MatView.state(ev)),
      "restart from checkpoint diverged from the full-corpus state")
  }

  test("two-batch delivery: appended per-batch states fold to the full-corpus state; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val delta = Tables.events(spark, sf).filter(MatView.isDelta)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect().toSeq
    assert(delta.size >= 2, "need at least two increment rows to split")
    val (c1, c2) = delta.splitAt(delta.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-smv-t-")
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        UpsertSink.writeBatch(MatView.state(b), id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val folded = flat(MatView.mergeStates(
      MatView.baseView(spark, sf), UpsertSink.readAll(spark, s"$sink/sink")))
    val whole = flat(MatView.state(Tables.events(spark, sf)))
    assert(folded == whole, "two-batch fold diverged from the full-corpus state")
    // replay: rewriting batch 0's delta (same deterministic content) must
    // leave the additive read unchanged — the mode("overwrite") contract
    val before = UpsertSink.readAll(spark, s"$sink/sink").count()
    UpsertSink.writeBatch(
      MatView.state(c1.toDF("event_id", "ts", "user_id", "event_type", "value")),
      0L, s"$sink/sink")
    val after = flat(MatView.mergeStates(
      MatView.baseView(spark, sf), UpsertSink.readAll(spark, s"$sink/sink")))
    assert(UpsertSink.readAll(spark, s"$sink/sink").count() == before)
    assert(after == whole, "batch replay changed the resolved view")
  }

  test("golden: streamed KPI-grain refresh equals the batch refresh and the live query") {
    def kpi(df: DataFrame): Set[(String, String, Long, Long)] =
      df.select(col("window_start").cast("string"),
        col("window_end").cast("string"), col("user_id"),
        col("total_interactions"))
        .as[(String, String, Long, Long)].collect().toSet
    val streamed = kpi(MvStream.streamedKpiRefresh(spark, sf))
    assert(streamed.nonEmpty)
    assert(streamed == kpi(MatView.mvKpiRefresh(spark, sf)),
      "streamed KPI MV diverged from the batch refresh")
    assert(streamed == kpi(graft.ops.WindowAgg.userWindows(spark, sf)),
      "streamed KPI MV diverged from the live window query")
  }

  test("golden: streamed maintained-grid bands equal the batch d_value_bands") {
    val bands = (df: DataFrame) =>
      df.select(col("event_type"), col("n"), col("q_bp"), col("est_c"))
        .as[(String, Long, Long, Long)].collect().toSet
    val streamed = bands(SparkEntry.queries("s_value_bands_stream")(spark, sf))
    val batch = bands(MatView.valueBands(spark, sf))
    assert(streamed == batch,
      "grid maintained from per-batch deltas diverged from the full recompute")
    assert(streamed.nonEmpty)
    // two-batch grid fold: histogram deltas partition the increment, so the
    // merged grid must equal the full-corpus grid under an arbitrary split
    val delta = Tables.events(spark, sf).filter(MatView.isDelta)
    val merged = MatView.mergeHist(
      MatView.mergeHist(
        MatView.baseHist(spark, sf),
        MatView.histState(delta.filter(col("event_id") % 2 === 0))),
      MatView.histState(delta.filter(col("event_id") % 2 =!= 0)))
      .as[(String, Long, Long)].collect().toSet
    val whole = MatView.histState(Tables.events(spark, sf))
      .as[(String, Long, Long)].collect().toSet
    assert(merged == whole, "split grid fold diverged from the full grid")
  }
}
