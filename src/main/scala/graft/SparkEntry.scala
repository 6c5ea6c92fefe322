package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query-name prefixes: `w_` sliding-window KPI core (SURVEY §2.2 C4-C9),
  * `c_` parse chain (C1-C4), `d_` dashboard analytics (§2.3 D1-D12),
  * `h_` relational breadth pack, `x_` LLM-pipeline extensions (§7.4),
  * `s_` streaming-executed: each runs a real Structured Streaming query
  * (file source → watermark → windowed agg → foreachBatch upsert sink) to
  * completion and returns the resolved sink table
  * ([[graft.streaming.EventPipeline.streamedWindows]]).
  */
object SparkEntry {

  private val packs: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    (ops.WindowAgg.queries, ops.WindowAgg.oracle),
    (ops.Parse.queries, ops.Parse.oracle),
    (ops.Analytics.queries, ops.Analytics.oracle),
    (ops.Relational.queries, ops.Relational.oracle),
    (ops.Sketches.queries, ops.Sketches.oracle),
    (ops.Dedup.queries, ops.Dedup.oracle),
    (ops.Similarity.queries, ops.Similarity.oracle),
    (ops.Diversify.queries, ops.Diversify.oracle),
    (ops.TextAnalysis.queries, ops.TextAnalysis.oracle),
    (ops.Bpe.queries, ops.Bpe.oracle),
    (ops.Temporal.queries, ops.Temporal.oracle),
    (ops.MatView.queries, ops.MatView.oracle),
    (ops.Funnel.queries, ops.Funnel.oracle),
    (ops.Sampling.queries, ops.Sampling.oracle),
    (ops.Sessionize.queries, ops.Sessionize.oracle),
    (ops.Search.queries, ops.Search.oracle),
    (ops.ChunkRouter.queries, ops.ChunkRouter.oracle),
    (ops.MultimodalPipeline.queries, ops.MultimodalPipeline.oracle),
    (sources.Formats.queries, sources.Formats.oracle),
    (streaming.EventPipeline.queries, streaming.EventPipeline.oracle),
    (streaming.RunningTotals.queries, streaming.RunningTotals.oracle),
    (streaming.Scd2Stream.queries, streaming.Scd2Stream.oracle),
    (streaming.DriftStream.queries, streaming.DriftStream.oracle),
    (streaming.CompLabelStream.queries, streaming.CompLabelStream.oracle),
    (streaming.MvStream.queries, streaming.MvStream.oracle),
    (streaming.IngestStream.queries, streaming.IngestStream.oracle))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core computation: sliding-window per-user interaction
    * counts (`/root/reference/consumer/consumer.py:116-126`). */
  def entry(spark: SparkSession): DataFrame =
    ops.WindowAgg.userWindows(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.iterator.map(_._2).reduce(_ ++ _)
}
