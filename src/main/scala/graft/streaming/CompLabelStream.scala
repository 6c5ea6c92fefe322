package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMED DEDUP-COMPONENT MAINTENANCE — the incremental twin of
  * `x_dedup_components` (r15 verdict #8: the labeling was the one
  * persisted index without one). Arriving documents are banded, probed
  * against the standing band index AND the already-arrived bands, and the
  * label table is updated by UNION-FIND CONTRACTION
  * ([[graft.ops.Dedup.labelDelta]] — the same min-label fixpoint the
  * batch form runs, over the batch-sized contracted graph): a bridge
  * arrival that fuses two standing components triggers a remap delta over
  * exactly the rows whose label moved, never a corpus relabel.
  *
  * Two sinks, both replay-idempotent via the `exceptBatch` stance:
  * the LABEL sink (keyed last-write-wins — labels only ever decrease, so
  * the latest write is the tightest) and the BAND sink (additive
  * [[UpsertSink.readAll]] state — each batch's band relation is that
  * batch's contribution to the candidate graph's arrival side).
  *
  * Oracle: the maintained labeling converges to the batch full-graph
  * components under ANY batching (the contraction invariant —
  * `CompLabelStreamSpec` pins two-batch delivery and a forced
  * standing-component merge), so the twin is `x_dedup_components`'
  * recursive-CTE SQL verbatim. */
object CompLabelStream {

  /** Run the label-maintenance stream to completion over the documents
    * table's arriving partition and return the maintained full labeling
    * (singletons coalesced to their own id — the `components`
    * convention). */
  def streamedComponents(s: SparkSession, sfDir: String): DataFrame = {
    val ss = EventPipeline.streamingSession(s)
    val scratch = graft.ops.SpillMemo.scratchDir("graft-scomp-")
    val (_, corpusBands) = Dedup.corpusSigIndex(ss, sfDir)
    val standingLabels = Dedup.standingComponentLabels(ss, sfDir)
    val ingest = EventPipeline.tableStream(ss, sfDir, "documents")
      .filter(col("doc_id") % Dedup.newMod === Dedup.newRem)
      .select(col("doc_id"), col("text"))
    val labelSink = s"$scratch/labels"
    val bandSink = s"$scratch/bands"
    EventPipeline.drain(ingest, "append", s"$scratch/ckpt") { (b, id) =>
      val (labels, bands) =
        Dedup.labelDelta(b, id, bandSink, labelSink, corpusBands, standingLabels)
      // labels FIRST: a crash between the two writes replays the batch,
      // and the label delta is recomputed from band state excluding the
      // batch's own contribution either way
      UpsertSink.writeBatch(labels, id, labelSink)
      UpsertSink.writeBatch(bands, id, bandSink)
    }
    resolveLabels(ss, sfDir, labelSink, standingLabels)
  }

  /** The maintained labeling read: sink override → standing label → own
    * id, over every document — column-identical to the batch
    * `components`. */
  private[graft] def resolveLabels(ss: SparkSession, sfDir: String,
      labelSink: String, standingLabels: DataFrame): DataFrame = {
    val resolved = UpsertSink.resolve(ss, labelSink, Seq("doc_id"))
      .select(col("doc_id"), col("comp").as("sink_comp"))
    graft.Tables.documents(ss, sfDir).select(col("doc_id"))
      .join(standingLabels.select(col("doc_id"), col("comp").as("st_comp")),
        Seq("doc_id"), "left")
      .join(resolved, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("sink_comp"), col("st_comp"), col("doc_id")).as("comp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_components_stream" -> ((s, d) => streamedComponents(s, d)))

  /** Maintained labels ≡ full-graph components under any batching ⇒ the
    * oracle is the batch recursive-CTE twin verbatim. */
  val oracle: Map[String, String] = Map(
    "s_components_stream" -> Dedup.oracle("x_dedup_components"))
}
