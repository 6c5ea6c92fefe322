package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The TWENTIETH streaming execution: the INGEST DRIFT MONITOR — the
  * batch [[graft.ops.Sampling.ingestDrift]] census maintained AS THE
  * PARTITION ARRIVES, which is when a drift alarm is actually useful (a
  * skewed day should pause admission before it lands in the corpus, not
  * be discovered in a later sweep). The arriving documents maintain a
  * per-`lang` running count as an unwindowed update-mode aggregation
  * (state = one row per language — cardinality-bounded, nothing to evict,
  * the model-gate census shape), upserted by lang; the standing corpus
  * census is computed once and the share/drift projection
  * ([[graft.ops.Sampling.driftOf]] — the SAME definition the batch form
  * runs) is applied to the resolved table, so batch and stream cannot
  * drift about drift.
  *
  * Semantics: counts accumulate across micro-batches and the keyed upsert
  * keeps each lang's latest total, so the resolved census — and therefore
  * every share and drift figure — equals the batch form under ANY
  * batching of the source (`DriftStreamSpec` pins two-batch delivery).
  * Languages present only in the corpus keep their row through the
  * full-outer combine with the static census: a vanished language is
  * drift too. */
object DriftStream {

  /** Run the drift stream to completion over the documents table
    * (`doc_id % newMod == newRem` plays the arriving partition) and
    * return the per-lang share/drift table. */
  def streamedDrift(s: SparkSession, sfDir: String): DataFrame = {
    val isNew = col("doc_id") % graft.ops.Dedup.newMod === graft.ops.Dedup.newRem
    val newCounts = EventPipeline.runToSink(s, "graft-sdrift-", "update", Seq("lang")) { ss =>
      EventPipeline.tableStream(ss, sfDir, "documents")
        .filter(isNew)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_new"))
    }.select(col("lang"), col("n_new"))
    val oldCensus = graft.ops.Lineage.cut(
      graft.Tables.documents(newCounts.sparkSession, sfDir).filter(!isNew)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_old")))
    graft.ops.Sampling.driftOf(
      oldCensus.join(newCounts, Seq("lang"), "full_outer")
        .select(col("lang"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new")))
  }

  /** The TWENTY-EIGHTH streaming execution: EMBEDDING-SPACE DRIFT AS A
    * STREAM — the per-dimension twin of [[streamedDrift]]'s language
    * census, watching the embedding column itself
    * ([[graft.ops.Similarity.embedDrift]]'s semantics, shared through
    * `embedDriftOf`): arriving vectors maintain a running per-dimension
    * (count, sum) census as an unwindowed update-mode aggregation —
    * state = d rows (64 here), cardinality-bounded by the embedding
    * width however many vectors arrive, nothing to evict. The standing
    * corpus census derives once; the cross-multiplied
    * shift projection applies to the resolved table, so the result
    * equals the batch drift under ANY batching of the source
    * (`DriftStreamSpec` pins two-batch delivery). An encoder swap or
    * normalization bug trips THIS alarm at ingest — before the skewed
    * vectors reach the index the serving family searches. */
  def streamedEmbedDrift(s: SparkSession, sfDir: String): DataFrame = {
    val mod = graft.ops.Similarity.knnBatchMod
    val inCounts = EventPipeline.runToSink(s, "graft-sedrift-", "update", Seq("dim")) { ss =>
      graft.ops.Similarity.embedCensus(
        EventPipeline.tableStream(ss, sfDir, "embeddings")
          .filter(col("vec_id") % mod === 7),
        "n_in", "sum_in")
    }.select(col("dim"), col("n_in"), col("sum_in"))
    val corpusCensus = graft.ops.Lineage.cut(graft.ops.Similarity.embedCensus(
      graft.Tables.embeddings(inCounts.sparkSession, sfDir).filter(col("vec_id") % mod =!= 7),
      "n_corp", "sum_corp"))
    graft.ops.Similarity.embedDriftOf(
      corpusCensus.join(inCounts, Seq("dim"), "full_outer")
        .select(col("dim"),
          coalesce(col("n_in"), lit(0L)).as("n_in"),
          coalesce(col("n_corp"), lit(0L)).as("n_corp"),
          coalesce(col("sum_in"), lit(0L)).as("sum_in"),
          coalesce(col("sum_corp"), lit(0L)).as("sum_corp")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_drift_stream" -> ((s, d) => streamedDrift(s, d)),
    "s_embed_drift_stream" -> ((s, d) => streamedEmbedDrift(s, d)))

  /** Running census + stateless share projection ⇒ NO watermark cut: the
    * oracles are the batch drift tables verbatim. */
  val oracle: Map[String, String] = Map(
    "s_drift_stream" -> graft.ops.Sampling.ingestDriftSql,
    "s_embed_drift_stream" -> graft.ops.Similarity.oracle("x_embed_drift"))
}
