package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed-upsert sink semantics (SURVEY §2.1 S3) without an external store.
  *
  * The reference upserts each micro-batch into MongoDB keyed by
  * (window_start, window_end, entity) — `idFieldList` + `upsertDocument=true`
  * at `/root/reference/consumer/consumer.py:147-174`. On a data lake the same
  * contract is merge-on-read: each micro-batch writes a delta directory named
  * by its batchId (`mode("overwrite")` → replaying batch N rewrites the same
  * delta, so the sink is **idempotent under Structured Streaming's
  * batch-replay recovery**), and readers resolve last-write-wins per key.
  * This is the MOR upsert pattern Delta/Hudi/Iceberg use; [[compact]] rewrites
  * the resolved view as a fresh base.
  *
  * Scale: a delta holds only the keys updated in that micro-batch — bounded by
  * |windows| × |entities| touched per trigger, never by raw event volume
  * (the upstream aggregation is the compaction point). [[resolve]] shuffles
  * once, on the upsert key, which is also the output key.
  */
object UpsertSink {

  /** `foreachBatch` body: persist one micro-batch as delta `b<batchId>`.
    * Overwriting the batch's own directory makes replay idempotent — the
    * reference gets the same guarantee from Mongo's `_id` upsert
    * (`consumer/consumer.py:156,171`). */
  def writeBatch(batch: DataFrame, batchId: Long, dir: String): Unit =
    batch.withColumn("_batch_id", lit(batchId))
      .write.mode("overwrite").parquet(s"$dir/b$batchId")

  /** Read-side merge: last write (highest batchId) wins per key. Each key
    * appears at most once per delta (aggregation output), so the rank is
    * unambiguous.
    *
    * Deltas are enumerated explicitly rather than via a `b*` glob: Spark's
    * streaming-sink metadata probe on a glob path throws-and-logs a WARN with
    * a full stack trace (benign but alarming in harness logs), and an
    * explicit listing also lets an empty sink fail with a real message
    * instead of a path-not-found deep in the reader.
    *
    * `exceptBatch` excludes one delta from the merge — for a foreachBatch
    * body that reads the sink's pre-batch state while COMPUTING its own
    * delta (the incremental-index shape, [[graft.streaming.IngestStream.insertDelta]]):
    * on checkpoint replay the failed attempt's delta `b<id>` may already
    * exist, and a prior that included it would (a) not be the pre-batch
    * state and (b) make the job read the very directory its write is
    * overwriting. Excluding the batch's own id restores exactly the
    * state the original attempt saw, so replay is a bit-identical no-op. */
  def resolve(s: SparkSession, dir: String, keys: Seq[String],
      exceptBatch: Option[Long] = None): DataFrame = {
    val base = new java.io.File(dir)
    val skip = exceptBatch.map(id => s"b$id").toSet
    val deltas = Option(base.listFiles())
      .map(_.filter(f => f.isDirectory && f.getName.startsWith("b") && !skip(f.getName))
        .map(_.getAbsolutePath).sorted)
      .getOrElse(Array.empty[String])
    require(deltas.nonEmpty,
      s"UpsertSink.resolve: no delta directories under $dir — the streaming query produced no batches")
    val all = s.read.parquet(deltas.toIndexedSeq: _*)
    // Single delta ⇒ last-write-wins is the identity: each key appears at
    // most once PER delta (the invariant stated above), so with one delta
    // the rank is 1 everywhere and the window pass — an exchange + sort
    // over the whole sink in the serve path of every single-batch replay —
    // selects every row. Skip it; multi-delta sinks keep the merge.
    if (deltas.length == 1) all.drop("_batch_id")
    else {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_batch_id").desc)
      all.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("_rn", "_batch_id")
    }
  }

  /** Read-side merge for ADDITIVE deltas: every row of every batch delta,
    * batch ids dropped — for sinks whose per-batch rows are mergeable
    * partial STATES (each source row lands in exactly one batch, so the
    * union of per-batch aggregates is a partition of the whole —
    * [[graft.streaming.MvStream]] folds them with the same monoid merge a
    * compaction job would run). Last-write-wins [[resolve]] would be WRONG
    * here: two batches touching the same key both contribute. Same
    * explicit delta enumeration and empty-sink contract as [[resolve]];
    * the same `mode("overwrite")` per-batch write keeps replay idempotent. */
  def readAll(s: SparkSession, dir: String,
      exceptBatch: Option[Long] = None): DataFrame = {
    val base = new java.io.File(dir)
    val skip = exceptBatch.map(id => s"b$id").toSet
    val deltas = Option(base.listFiles())
      .map(_.filter(f => f.isDirectory && f.getName.startsWith("b") && !skip(f.getName))
        .map(_.getAbsolutePath).sorted)
      .getOrElse(Array.empty[String])
    require(deltas.nonEmpty,
      s"UpsertSink.readAll: no delta directories under $dir — the streaming query produced no batches")
    s.read.parquet(deltas.toIndexedSeq: _*).drop("_batch_id")
  }

  /** Compaction: materialize the resolved view at `outDir` (what a periodic
    * maintenance job would do to bound the delta count at 100 TB). */
  def compact(s: SparkSession, dir: String, keys: Seq[String], outDir: String): Unit =
    resolve(s, dir, keys).write.mode("overwrite").parquet(outDir)

  /** IN-PLACE compaction — the maintenance step that bounds [[resolve]]'s
    * merge-on-read cost on a LONG-RUNNING stream (r14 verdict #5: resolve
    * reads every batch delta, so an uncompacted sink's read cost grows
    * with batch count forever). Folds every delta except the in-flight
    * batch into ONE delta installed as `b<maxId>`, then deletes the older
    * directories. Correct under last-write-wins because the fold carries
    * `_batch_id = maxId` and contains EVERY live key: each older delta is
    * fully shadowed the moment the fold lands, so the delete that follows
    * only reclaims space — a reader racing the delete resolves the same
    * table either way.
    *
    * REPLAY SAFETY (the [[resolve]] `exceptBatch` precedent): a
    * foreachBatch body that compacts must exclude ITS OWN batch id —
    * compacting the current batch's delta into the fold and then
    * re-running that batch after a crash would overwrite the fold with
    * the bare per-batch delta, losing every key the fold alone carried.
    * With the exclusion, replaying the batch re-runs the same
    * older-deltas-only fold (a fold of a fold is the fold — idempotent;
    * a single remaining delta is a no-op) and then overwrites its own
    * delta exactly as [[writeBatch]] always does.
    *
    * CRASH DURABILITY (ADVICE r15): the fold is the only durable copy of
    * the folded deltas' keys the moment the old dirs go — unlike a
    * [[writeBatch]] replay, it cannot be re-derived from the source batch.
    * So the install is STAGED-THEN-ATOMIC, never a Spark
    * `mode("overwrite")` (which deletes the target dir before writing):
    * (1) the fold is fully materialized to a non-`b*` staging dir
    * (invisible to resolve) with its `_batch_id` column already stamped;
    * (2) only after the parquet job commits, a `_STAGE_BATCH_ID` marker
    * records the target id — an unmarked stage is incomplete BY DEFINITION;
    * (3) the old `b<maxId>` is removed and the stage renamed over it with
    * `ATOMIC_MOVE`; (4) the shadowed older dirs are removed (pure space
    * reclaim — every key is already carried by the installed fold).
    * [[recoverStage]] runs first on every entry: a marked stage is a
    * complete fold and is PREFERRED (re-installed at its recorded id —
    * the old `b<maxId>` may already be gone, so recomputing would lose
    * its keys); an unmarked stage is discarded (every input dir still
    * exists, the fold recomputes). `CompactSinkSpec` pins both crash
    * windows. */
  def compactInPlace(s: SparkSession, dir: String, keys: Seq[String],
      exceptBatch: Option[Long] = None): Unit = {
    val base = new java.io.File(dir)
    recoverStage(base)
    val skip = exceptBatch.map(id => s"b$id").toSet
    val deltas = Option(base.listFiles())
      .map(_.filter(f => f.isDirectory && f.getName.startsWith("b") && !skip(f.getName)))
      .getOrElse(Array.empty[java.io.File])
    if (deltas.length < 2) return // nothing to fold (also the replay no-op)
    val maxId = deltas.map(_.getName.drop(1).toLong).max
    // non-`b` prefix keeps the stage invisible to resolve/readAll; no dot
    // prefix — Spark's readers treat dot-paths as hidden and filter them
    val stage = new java.io.File(base, "compact-stage.tmp")
    // materialize the fold FIRST (resolve reads the very dirs the install
    // overwrites — laziness would make the write read its own target)
    resolve(s, dir, keys, exceptBatch)
      .withColumn("_batch_id", lit(maxId))
      .write.mode("overwrite").parquet(stage.getAbsolutePath)
    // the marker lands only after the fold's parquet job committed; its
    // underscore prefix keeps Spark's readers ignoring it after install
    java.nio.file.Files.writeString(
      new java.io.File(stage, stageMarker).toPath, maxId.toString)
    installStage(base, stage, maxId)
  }

  /** Marker file inside a staged fold recording its target batch id —
    * present ⇔ the fold's parquet job committed completely. */
  private val stageMarker = "_STAGE_BATCH_ID"

  /** Atomically install a complete staged fold as `b<targetId>` and
    * reclaim the dirs it shadows (every `b*` with a smaller id — the
    * in-flight `exceptBatch` delta always has a LARGER id, so it is
    * structurally out of reach). */
  private def installStage(base: java.io.File, stage: java.io.File,
      targetId: Long): Unit = {
    val target = new java.io.File(base, s"b$targetId")
    deleteTree(target)
    java.nio.file.Files.move(stage.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Option(base.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("b") &&
        f.getName.drop(1).toLong < targetId)
      .foreach(deleteTree)
  }

  /** Crash recovery for [[compactInPlace]]: finish or discard a surviving
    * stage. Marked ⇒ the fold is complete and may be the ONLY copy of the
    * folded keys (the old `b<maxId>` can already be deleted) — install it.
    * Unmarked ⇒ the crash hit mid-write, every input dir still exists —
    * discard and let the caller refold. */
  private def recoverStage(base: java.io.File): Unit = {
    val stage = new java.io.File(base, "compact-stage.tmp")
    if (!stage.exists()) return
    val marker = new java.io.File(stage, stageMarker)
    if (marker.exists()) {
      val targetId =
        java.nio.file.Files.readString(marker.toPath).trim.toLong
      installStage(base, stage, targetId)
    } else deleteTree(stage)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
