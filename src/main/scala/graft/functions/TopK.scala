package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, explode, udaf}

/** One (score, id) candidate entering the top-k reduction. */
case class Scored(score: Double, id: Long)

/** One emitted neighbor with its 1-based rank. */
case class RankedId(neighbor_id: Long, rnk: Long)

/** One emitted neighbor with its score and 1-based rank — the
  * score-preserving variant for callers that need the ranked VALUE back
  * (e.g. the BM25 index build, where the survivor's impact IS the posting
  * payload and a join-back against the corpus-sized scored relation would
  * cost a second shuffle). */
case class RankedScored(neighbor_id: Long, score: Double, rnk: Long)

/** The shared (score DESC, id ASC) total order and bounded-buffer cut used
  * by both aggregators — Spark SQL double semantics (NaN greatest,
  * -0.0 == 0.0), identical to
  * `row_number() OVER (ORDER BY score DESC, id ASC)`. */
private[functions] object TopKOrder {
  val desc: Ordering[Scored] = new Ordering[Scored] {
    private def norm(x: Double): Double = if (x == 0.0) 0.0 else x
    override def compare(a: Scored, b: Scored): Int = {
      val c = java.lang.Double.compare(norm(b.score), norm(a.score))
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    }
  }
  def best(buf: Seq[Scored], k: Int): Seq[Scored] = buf.sorted(desc).take(k)

  /** [[best]] with at most ONE survivor per id — the best-scored copy
    * (sorted order makes the first occurrence the best; ties on score
    * already break id ASC, so equal-score duplicates keep exactly one).
    * This cut is a valid bounded-buffer compaction on its own: a copy
    * dropped for ranking below the k-th DISTINCT id can never re-enter
    * (later copies of the same id either rank no better or survive on
    * their own), so compact/merge/finish all using it commute exactly
    * like [[best]]. */
  def bestDistinct(buf: Seq[Scored], k: Int): Seq[Scored] = {
    val sorted = buf.sorted(desc)
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = Vector.newBuilder[Scored]
    var kept = 0
    var i = 0
    while (i < sorted.length && kept < k) {
      val s = sorted(i)
      if (seen.add(s.id)) { out += s; kept += 1 }
      i += 1
    }
    out.result()
  }
}

/** Bounded-heap top-k as a typed [[Aggregator]] (registered via `udaf`, so
  * Catalyst plans it as a partial + final ObjectHashAggregate): each map-side
  * partition reduces its candidates to at most k before the exchange, so the
  * shuffle moves O(k × partitions × groups) rows instead of the full scored
  * set — the difference between a per-query `row_number` window (which
  * shuffles ALL N×Q scored rows into per-query partitions) and a scalable
  * top-k at 100 TB.
  *
  * Total order: score DESC, id ASC — identical to
  * `row_number() OVER (ORDER BY score DESC, neighbor_id ASC)`, so results are
  * deterministic and bit-equal to the window-function formulation (and the
  * DuckDB oracle) as long as scores themselves are deterministic. The
  * comparator follows Spark SQL's DOUBLE ordering, not Scala's: NaN ranks
  * greatest (first under DESC — e.g. a zero-norm vector's 0/0 cosine), and
  * -0.0 equals 0.0 so their tie breaks on id.
  *
  * The buffer is a plain array compacted geometrically: appends are O(1), and
  * whenever it reaches 4k the buffer is sorted and truncated to k, keeping
  * state bounded at 4k entries while averaging O(n) work per partition.
  */
/** The shared bounded-buffer machinery: appends are O(1) and the buffer is
  * compacted to the top k whenever it reaches 4k, so partial state stays
  * bounded while averaging O(n) work per partition. The concrete
  * aggregators differ ONLY in what `finish` emits and (for the dedup
  * variant) which cut compacts — the buffer logic is final here so the
  * pruned-index cut and the top-k path can never silently diverge. */
private[functions] abstract class BoundedTopKAgg[OUT](k: Int)
    extends Aggregator[Scored, Seq[Scored], OUT] {

  /** The bounded cut applied at compaction, merge, and finish — every
    * site MUST use the same cut or partial and final aggregation would
    * disagree (the reason this is one method, not three call sites). */
  protected def cut(buf: Seq[Scored]): Seq[Scored] = TopKOrder.best(buf, k)

  final override def zero: Seq[Scored] = Vector.empty

  final override def reduce(buf: Seq[Scored], in: Scored): Seq[Scored] = {
    val appended = buf :+ in
    if (appended.length >= 4 * k) cut(appended) else appended
  }

  final override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] =
    cut(a ++ b)

  final override def bufferEncoder: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()

  protected final def ranked(buf: Seq[Scored]): Seq[(Scored, Long)] =
    cut(buf).zipWithIndex.map { case (s, i) => (s, i + 1L) }
}

class TopKAgg(k: Int) extends BoundedTopKAgg[Seq[RankedId]](k) {

  override def finish(buf: Seq[Scored]): Seq[RankedId] =
    ranked(buf).map { case (s, r) => RankedId(s.id, r) }

  override def outputEncoder: Encoder[Seq[RankedId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[RankedId]]()
}

/** [[TopKAgg]] that also DEDUPS by id inside the bounded heap
  * ([[TopKOrder.bestDistinct]]): for a scored relation whose duplicate
  * (group, id) rows always carry equal scores — a score that is a pure
  * function of the pair, like a cosine over fixed vectors — this equals
  * `distinct-then-topK` exactly, WITHOUT the distinct's full shuffle of
  * the candidate list. The difference at scale: a graph build proposing
  * n·(2·degree)² candidate pairs per round pays one bounded exchange
  * instead of a corpus-pair-sized exchange plus the top-k's. */
class TopKDistinctAgg(k: Int) extends BoundedTopKAgg[Seq[RankedId]](k) {

  override protected def cut(buf: Seq[Scored]): Seq[Scored] =
    TopKOrder.bestDistinct(buf, k)

  override def finish(buf: Seq[Scored]): Seq[RankedId] =
    ranked(buf).map { case (s, r) => RankedId(s.id, r) }

  override def outputEncoder: Encoder[Seq[RankedId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[RankedId]]()
}

/** [[TopKAgg]] with the survivor's SCORE kept in the output — same bounded
  * buffer, same (score DESC, id ASC) order, same partial/final
  * ObjectHashAggregate planning. Exists so a caller whose ranked value IS
  * the payload (the BM25 impact-pruned index build) gets the cut AND the
  * value in one aggregation instead of a window sort or a join-back
  * shuffle against the full scored relation. */
class TopKScoredAgg(k: Int) extends BoundedTopKAgg[Seq[RankedScored]](k) {

  override def finish(buf: Seq[Scored]): Seq[RankedScored] =
    ranked(buf).map { case (s, r) => RankedScored(s.id, s.score, r) }

  override def outputEncoder: Encoder[Seq[RankedScored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[RankedScored]]()
}

/** One (score, id) candidate with two integer payload columns riding the
  * heap — see [[TopKPayloadAgg]]. */
case class Scored2(score: Double, id: Long, p1: Long, p2: Long)

/** One emitted neighbor with its payload pair and 1-based rank. */
case class RankedPayload(neighbor_id: Long, p1: Long, p2: Long, rnk: Long)

/** [[TopKAgg]] with TWO integer payload columns carried through the heap —
  * for callers whose per-(group, id) row holds MORE than the ranking score
  * (the probe core's `(score_m, n_terms)`, the LM probe's
  * `(score_fp, n_terms)`). Before this existed, those callers had to
  * materialize the scored relation (an eager lineage cut), run the
  * payload-less top-k, and JOIN BACK to recover the payload — one extra
  * checkpoint barrier and one extra join per probe. The order is the exact
  * [[TopKOrder]] (score DESC, id ASC) contract — payloads never
  * participate in comparison, and the input is grouped by (group, id) so
  * each id appears once and the ranking is unaffected by what rides
  * along. Same bounded buffer, same 4k geometric compaction, same
  * partial/final ObjectHashAggregate planning. */
class TopKPayloadAgg(k: Int)
    extends Aggregator[Scored2, Seq[Scored2], Seq[RankedPayload]] {

  private val ord: Ordering[Scored2] = new Ordering[Scored2] {
    private def norm(x: Double): Double = if (x == 0.0) 0.0 else x
    override def compare(a: Scored2, b: Scored2): Int = {
      val c = java.lang.Double.compare(norm(b.score), norm(a.score))
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    }
  }
  private def cut(buf: Seq[Scored2]): Seq[Scored2] = buf.sorted(ord).take(k)

  override def zero: Seq[Scored2] = Vector.empty

  override def reduce(buf: Seq[Scored2], in: Scored2): Seq[Scored2] = {
    val appended = buf :+ in
    if (appended.length >= 4 * k) cut(appended) else appended
  }

  override def merge(a: Seq[Scored2], b: Seq[Scored2]): Seq[Scored2] =
    cut(a ++ b)

  override def finish(buf: Seq[Scored2]): Seq[RankedPayload] =
    cut(buf).zipWithIndex.map { case (s, i) =>
      RankedPayload(s.id, s.p1, s.p2, i + 1L) }

  override def bufferEncoder: Encoder[Seq[Scored2]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored2]]()

  override def outputEncoder: Encoder[Seq[RankedPayload]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[RankedPayload]]()
}

/** One (key, id) candidate entering an ascending bounded cut. */
case class KeyedId(h: String, id: Long)

/** One (count, key) candidate entering a descending-count bounded cut. */
case class CountKeyed(c: Long, key: String)

/** String comparison in Spark SQL's order — UTF-8 BYTE order (UTF8String's
  * binary comparison), not Java's UTF-16 `compareTo`: the two differ on
  * supplementary characters, and an aggregator replacing a window sort
  * must reproduce the sort's exact tie order on ANY input, not just the
  * ASCII fixtures. */
private[functions] object Utf8Order {
  def compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

/** Bottom-k by (key ASC, id ASC) with the key KEPT in the output — the
  * ascending string-keyed sibling of [[BoundedTopKAgg]], for hash-ordered
  * quota draws: the key is an md5 hex string whose full 128-bit order the
  * DuckDB oracle reproduces, so it cannot be squeezed into a Double
  * without cosmically-rare-but-real tie drift. Same geometric compaction
  * (append O(1), sort+cut at 4k), same partial/final ObjectHashAggregate
  * planning; survivors come back sorted, so a downstream ranking window
  * over the exploded output touches only k·salts rows per group. */
class BottomKByKeyAgg(k: Int)
    extends Aggregator[KeyedId, Seq[KeyedId], Seq[KeyedId]] {

  private val asc: Ordering[KeyedId] = new Ordering[KeyedId] {
    override def compare(a: KeyedId, b: KeyedId): Int = {
      val c = Utf8Order.compare(a.h, b.h)
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    }
  }
  // SET semantics: duplicate (key, id) pairs collapse, making the
  // aggregator idempotent under duplicate delivery — a no-op for the
  // batch users (their inputs are distinct-keyed by construction) and the
  // property that lets a streamed KMV maintain bottom-k over an
  // at-least-once event feed with NO separate dedup state
  // ([[graft.streaming.IngestStream]]).
  private def best(buf: Seq[KeyedId]): Seq[KeyedId] =
    buf.distinct.sorted(asc).take(k)

  override def zero: Seq[KeyedId] = Vector.empty

  override def reduce(buf: Seq[KeyedId], in: KeyedId): Seq[KeyedId] = {
    val appended = buf :+ in
    if (appended.length >= 4 * k) best(appended) else appended
  }

  override def merge(a: Seq[KeyedId], b: Seq[KeyedId]): Seq[KeyedId] =
    best(a ++ b)

  override def finish(buf: Seq[KeyedId]): Seq[KeyedId] = best(buf)

  override def bufferEncoder: Encoder[Seq[KeyedId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[KeyedId]]()

  override def outputEncoder: Encoder[Seq[KeyedId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[KeyedId]]()
}

/** Top-k by (count DESC, key ASC), both kept — the descending sibling of
  * [[BottomKByKeyAgg]] for frequency-table heads (per-language vocab,
  * n-gram document-frequency ranks): a per-group `row_number` window
  * caps parallelism at |groups| (a handful of languages) and sorts each
  * group's ENTIRE aggregated frequency table in one task — at web scale
  * a language's distinct-shingle table is billions of rows. The
  * aggregator's map-side partials bound state at k per partition per
  * group regardless of partitioning (no salting needed), and survivors
  * come back sorted, so `posexplode` yields the exact 1-based rank with
  * NO window at all. */
class TopKByCountAgg(k: Int)
    extends Aggregator[CountKeyed, Seq[CountKeyed], Seq[CountKeyed]] {

  private val ord: Ordering[CountKeyed] = new Ordering[CountKeyed] {
    override def compare(a: CountKeyed, b: CountKeyed): Int = {
      val c = java.lang.Long.compare(b.c, a.c)
      if (c != 0) c else Utf8Order.compare(a.key, b.key)
    }
  }
  private def best(buf: Seq[CountKeyed]): Seq[CountKeyed] = buf.sorted(ord).take(k)

  override def zero: Seq[CountKeyed] = Vector.empty

  override def reduce(buf: Seq[CountKeyed], in: CountKeyed): Seq[CountKeyed] = {
    val appended = buf :+ in
    if (appended.length >= 4 * k) best(appended) else appended
  }

  override def merge(a: Seq[CountKeyed], b: Seq[CountKeyed]): Seq[CountKeyed] =
    best(a ++ b)

  override def finish(buf: Seq[CountKeyed]): Seq[CountKeyed] = best(buf)

  override def bufferEncoder: Encoder[Seq[CountKeyed]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[CountKeyed]]()

  override def outputEncoder: Encoder[Seq[CountKeyed]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[CountKeyed]]()
}

object TopK {

  /** Reduce `scored(groupCol, scoreCol, idCol)` to its per-group top-k:
    * output columns (groupCol, neighbor_id, rnk) with rnk 1-based in
    * (score DESC, id ASC) order. */
  def topK(scored: DataFrame, groupCol: String, scoreCol: String, idCol: String, k: Int): DataFrame = {
    val agg = udaf(new TopKAgg(k), Encoders.product[Scored])
    scored
      .groupBy(col(groupCol))
      .agg(agg(col(scoreCol), col(idCol)).as("top"))
      .select(col(groupCol), explode(col("top")).as("t"))
      .select(col(groupCol), col("t.neighbor_id").as("neighbor_id"), col("t.rnk").as("rnk"))
  }

  /** Score-preserving form of [[topK]]: output columns
    * (groupCol, neighbor_id, score, rnk) — one bounded-heap aggregation,
    * no join-back needed to recover the ranked value. */
  def topKScored(scored: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame = {
    val agg = udaf(new TopKScoredAgg(k), Encoders.product[Scored])
    scored
      .groupBy(col(groupCol))
      .agg(agg(col(scoreCol), col(idCol)).as("top"))
      .select(col(groupCol), explode(col("top")).as("t"))
      .select(col(groupCol), col("t.neighbor_id").as("neighbor_id"),
        col("t.score").as("score"), col("t.rnk").as("rnk"))
  }

  /** [[topK]] over a relation that may carry duplicate (group, id) rows
    * with EQUAL scores per duplicate set: dedup happens inside the
    * bounded heap ([[TopKDistinctAgg]]), so the caller skips the
    * `.distinct()` a duplicate-carrying candidate list would otherwise
    * need — and with it the full-candidate-list exchange. */
  def topKDistinct(scored: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame = {
    val agg = udaf(new TopKDistinctAgg(k), Encoders.product[Scored])
    scored
      .groupBy(col(groupCol))
      .agg(agg(col(scoreCol), col(idCol)).as("top"))
      .select(col(groupCol), explode(col("top")).as("t"))
      .select(col(groupCol), col("t.neighbor_id").as("neighbor_id"), col("t.rnk").as("rnk"))
  }

  /** Payload-carrying form of [[topK]]: `scored` must be grouped by
    * (groupCol, idCol) — one row per pair — and the two payload columns
    * ride the heap. Output (groupCol, neighbor_id, p1, p2, rnk), ranks
    * identical to [[topK]] over the same (score, id) pairs; what the
    * probe cores previously recovered with a checkpoint + join-back. */
  def topKPayload(scored: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, p1Col: String, p2Col: String, k: Int): DataFrame = {
    val agg = udaf(new TopKPayloadAgg(k), Encoders.product[Scored2])
    scored
      .groupBy(col(groupCol))
      .agg(agg(col(scoreCol), col(idCol), col(p1Col), col(p2Col)).as("top"))
      .select(col(groupCol), explode(col("top")).as("t"))
      .select(col(groupCol), col("t.neighbor_id").as("neighbor_id"),
        col("t.p1").as(p1Col), col("t.p2").as(p2Col), col("t.rnk").as("rnk"))
  }

  /** Column form for composition in ad-hoc aggregations. */
  def topKColumn(k: Int, score: Column, id: Column): Column =
    udaf(new TopKAgg(k), Encoders.product[Scored])(score, id)
}
