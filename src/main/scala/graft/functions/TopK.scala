package graft.functions

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{col, posexplode, udaf}

/** One (score, id) candidate entering the top-k reduction. */
case class Scored(score: Double, id: Long)

/** One (score, id) candidate with two integer payload columns riding the
  * cut (the probe cores' `(score_m, n_terms)`, the LM probe's
  * `(score_fp, n_terms)`) — see [[TopK.topKPayload]]. */
case class Scored2(score: Double, id: Long, p1: Long, p2: Long)

/** One (key, id) candidate entering an ascending bounded cut. */
case class KeyedId(h: String, id: Long)

/** One (count, key) candidate entering a descending-count bounded cut. */
case class CountKeyed(c: Long, key: String)

/** The four candidate orders the [[TopK.Cut]] kernel is given, each defined
  * once. Every one reproduces a Spark SQL `ORDER BY` exactly, so a cut is
  * bit-equal to `row_number() OVER (PARTITION BY g ORDER BY …) <= k` (and to
  * the DuckDB oracle) on ANY input, not just the ASCII fixtures. */
object TopKOrder {

  /** score DESC under Spark SQL's DOUBLE order, not Scala's: NaN ranks
    * greatest (first under DESC — e.g. a zero-norm vector's 0/0 cosine),
    * and -0.0 equals 0.0 so their tie breaks on id ASC. The one compare
    * behind both scored orders; payloads never take part. */
  private def scoreDesc(sa: Double, ia: Long, sb: Double, ib: Long): Int = {
    val c = java.lang.Double.compare(norm(sb), norm(sa))
    if (c != 0) c else java.lang.Long.compare(ia, ib)
  }
  private def norm(x: Double): Double = if (x == 0.0) 0.0 else x

  /** String comparison in Spark SQL's order — UTF-8 BYTE order
    * (UTF8String's binary comparison), not Java's UTF-16 `compareTo`: the
    * two differ on supplementary characters. */
  private def utf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** `ORDER BY score DESC, id ASC`. */
  val scored: Ordering[Scored] = (a, b) => scoreDesc(a.score, a.id, b.score, b.id)

  /** `ORDER BY score DESC, id ASC`; `p1`/`p2` ride along. */
  val scored2: Ordering[Scored2] = (a, b) => scoreDesc(a.score, a.id, b.score, b.id)

  /** `ORDER BY h ASC, id ASC` — hash-ordered bottom-k draws: the key is an
    * md5 hex string whose full order the DuckDB oracle reproduces, so it
    * cannot be squeezed into a Double without rare-but-real tie drift. */
  val keyedId: Ordering[KeyedId] = (a, b) => {
    val c = utf8(a.h, b.h)
    if (c != 0) c else java.lang.Long.compare(a.id, b.id)
  }

  /** `ORDER BY c DESC, key ASC` — frequency-table heads. */
  val countKeyed: Ordering[CountKeyed] = (a, b) => {
    val c = java.lang.Long.compare(b.c, a.c)
    if (c != 0) c else utf8(a.key, b.key)
  }

  /** Dedup key for [[scored]]: at most ONE survivor per id, the best-scored
    * copy (sorted order makes the first occurrence the best; equal-score
    * duplicates already tie-break on id, so exactly one stays). A copy
    * dropped for ranking below the k-th DISTINCT id can never re-enter, so
    * this cut commutes across compaction, merge and finish like the plain
    * one. */
  val byId: Option[Scored => Any] = Some(_.id)

  /** Dedup key for [[keyedId]]: the whole record. SET semantics make the
    * cut idempotent under duplicate delivery, the property that lets a
    * streamed KMV keep bottom-k over an at-least-once event feed with NO
    * separate dedup state ([[graft.streaming.IngestStream]]); a no-op for
    * batch inputs that are distinct-keyed by construction. */
  val wholeRecord: Option[KeyedId => Any] = Some(r => r)
}

object TopK {

  /** The one bounded top-k kernel: the first k candidates of each group
    * under `ord`, returned SORTED, as a typed [[Aggregator]] (registered
    * via `udaf`, so Catalyst plans it as a partial + final
    * ObjectHashAggregate). Each map-side partition reduces its candidates
    * to at most k before the exchange, so the shuffle moves
    * O(k × partitions × groups) rows instead of the full candidate set —
    * the difference between a per-group `row_number` window (all rows of a
    * group in one task) and a scalable top-k.
    *
    * The buffer is a plain array compacted geometrically: appends are
    * O(1), and whenever it reaches 4k it is sorted and truncated to k,
    * keeping state bounded at 4k entries while averaging O(n) work per
    * partition. With `distinctBy`, only the first candidate per key
    * survives a cut. Compaction, merge and finish all apply the SAME cut —
    * partial and final aggregation would disagree otherwise. */
  final class Cut[T <: Product : TypeTag](k: Int, ord: Ordering[T],
      distinctBy: Option[T => Any]) extends Aggregator[T, Seq[T], Seq[T]] {

    private def cut(buf: Seq[T]): Seq[T] = {
      val sorted = buf.sorted(ord)
      distinctBy.fold(sorted.take(k))(key => sorted.iterator.distinctBy(key).take(k).toVector)
    }

    override def zero: Seq[T] = Vector.empty

    override def reduce(buf: Seq[T], in: T): Seq[T] = {
      val appended = buf :+ in
      if (appended.length >= 4 * k) cut(appended) else appended
    }

    override def merge(a: Seq[T], b: Seq[T]): Seq[T] = cut(a ++ b)

    override def finish(buf: Seq[T]): Seq[T] = cut(buf)

    // built on the driver: T's TypeTag never ships to the executors
    private val encoder: Encoder[Seq[T]] = ExpressionEncoder[Seq[T]]()
    override def bufferEncoder: Encoder[Seq[T]] = encoder
    override def outputEncoder: Encoder[Seq[T]] = encoder
  }

  /** The kernel as an aggregate function over the candidate's fields, given
    * in `T`'s field order. */
  def cut[T <: Product : TypeTag](k: Int, ord: Ordering[T],
      distinctBy: Option[T => Any] = None): UserDefinedFunction =
    udaf(new Cut(k, ord, distinctBy), Encoders.product[T])

  /** The shared rank projection: one row per survivor of `agg`'s sorted cut
    * array `top`. `out` may read `agg`'s other columns, the survivor struct
    * `t` and its 1-based rank `rnk`. */
  def ranked(agg: DataFrame, top: String, out: Column*): DataFrame =
    agg.select(agg.columns.filter(_ != top).map(col) :+
        posexplode(col(top)).as(Seq("p", "t")): _*)
      .select(col("*"), (col("p") + 1).cast("long").as("rnk"))
      .select(out: _*)

  /** Per-group cut of `scored` by `top`, then [[ranked]]: output columns
    * (groupCol, `fields`…, rnk). */
  private def perGroup(scored: DataFrame, groupCol: String, top: Column)(
      fields: Column*): DataFrame =
    ranked(scored.groupBy(col(groupCol)).agg(top.as("top")), "top",
      (col(groupCol) +: fields :+ col("rnk")): _*)

  /** Reduce `scored(groupCol, scoreCol, idCol)` to its per-group top-k:
    * output columns (groupCol, neighbor_id, rnk) with rnk 1-based in
    * (score DESC, id ASC) order. */
  def topK(scored: DataFrame, groupCol: String, scoreCol: String, idCol: String, k: Int): DataFrame =
    perGroup(scored, groupCol, cut(k, TopKOrder.scored).apply(col(scoreCol), col(idCol)))(
      col("t.id").as("neighbor_id"))

  /** Score-preserving form of [[topK]]: output columns
    * (groupCol, neighbor_id, score, rnk) — for callers whose ranked value
    * IS the payload (the BM25 impact-pruned index build), so no join-back
    * against the full scored relation is needed to recover it. */
  def topKScored(scored: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame =
    perGroup(scored, groupCol, cut(k, TopKOrder.scored).apply(col(scoreCol), col(idCol)))(
      col("t.id").as("neighbor_id"), col("t.score").as("score"))

  /** [[topK]] over a relation that may carry duplicate (group, id) rows:
    * dedup happens inside the bounded cut ([[TopKOrder.byId]], the
    * best-scored copy wins), so the caller skips the `.distinct()` a
    * duplicate-carrying candidate list would otherwise need — and with it
    * the full-candidate-list exchange. For duplicates with equal scores (a
    * score that is a pure function of the pair) this equals
    * distinct-then-[[topK]] exactly. */
  def topKDistinct(scored: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame =
    perGroup(scored, groupCol,
      cut(k, TopKOrder.scored, TopKOrder.byId).apply(col(scoreCol), col(idCol)))(
      col("t.id").as("neighbor_id"))

  /** Payload-carrying form of [[topK]]: `scored` must be grouped by
    * (groupCol, idCol) — one row per pair — and the two payload columns
    * ride the cut without taking part in the order. Output
    * (groupCol, neighbor_id, p1Col, p2Col, rnk), ranks identical to
    * [[topK]] over the same (score, id) pairs; what the probe cores
    * previously recovered with a checkpoint + join-back. */
  def topKPayload(scored: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, p1Col: String, p2Col: String, k: Int): DataFrame =
    perGroup(scored, groupCol, cut(k, TopKOrder.scored2).apply(
        col(scoreCol), col(idCol), col(p1Col), col(p2Col)))(
      col("t.id").as("neighbor_id"), col("t.p1").as(p1Col), col("t.p2").as(p2Col))
}
