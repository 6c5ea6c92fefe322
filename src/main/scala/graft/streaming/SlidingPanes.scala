package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The events of one input partition that share a key and a pane, as one
  * of the two windows that contain the pane: `end_ms` is that window's end,
  * `later` marks the window that starts at the pane, `n` counts the events. */
case class PaneHit(key: String, end_ms: Long, later: Boolean, n: Long)

/** A key's open panes: their starts (epoch ms, ascending) and event counts. */
case class OpenPanes(start: Array[Long], count: Array[Long])

/** One window count as the pane operator emits it, the entity as a string. */
case class PaneWindow(window_start: Timestamp, window_end: Timestamp, key: String,
    total_interactions: Long)

/** The consumer's 10-minute windows sliding by 5 minutes, counted in panes
  * (Li et al., "No pane, no gain", SIGMOD Record 2005): each key's state is
  * one row holding the counts of its open 5-minute panes, and a window's
  * count is the sum of its two panes. [[EventPipeline.windowCounts]] keeps
  * one state row per (window, key), two per event.
  *
  * Each input partition first counts its events per (key, pane) and sends
  * each such count as two [[PaneHit]]s, one per window that contains the
  * pane; the watermark's event-time column is the hit's window end. Spark's
  * late-event filter drops a hit once that end ≤ the previous batch's
  * watermark (not the batch's own, which the function sees), which is
  * exactly the window aggregate's (window, key) rule: an event late only
  * for its earlier window still counts in its later one. A single hit per
  * event cannot carry both verdicts. A pane counts the events of its
  * surviving later-window hits; a batch emits every window one of its
  * surviving hits names, valued as the sum of its two panes. So a batch
  * emits the rows, and the counts, the update-mode window aggregate emits.
  *
  * A pane leaves the state once its later window ends at or before the
  * batch watermark; a key's state goes when its last pane does, at the
  * latest by the event-time timeout set at its latest open window end.
  * A timeout only removes state and emits nothing, so the operator needs
  * no no-data batch ([[EventPipeline.runSettings]] reads that off the
  * plan by its output class, [[PaneWindow]]). */
object SlidingPanes {

  private val paneMs = 5 * 60 * 1000L
  private val windowMs = 2 * paneMs

  /** Null-reject → watermark `delay` on `ts` → one state row per `key`,
    * emitting (`window_start`, `window_end`, `key`, `total_interactions`)
    * for each window a batch touched, the key column in its own type.
    * Update mode, event-time timeout, on the session's state store. */
  def counts(events: DataFrame, key: String, delay: String): DataFrame = {
    val marked = events.filter(col(key).isNotNull && col("ts").isNotNull)
      .withWatermark("ts", delay)
    val ms = unix_millis(col("ts"))
    implicit val paneEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    implicit val hitEnc = Encoders.product[PaneHit]
    implicit val panesEnc = Encoders.product[OpenPanes]
    implicit val windowEnc = Encoders.product[PaneWindow]
    marked
      .select(col(key).cast("string"), ms - pmod(ms, lit(paneMs)))
      .as[(String, Long)]
      .mapPartitions(combine _)
      .select(col("*"), timestamp_millis(col("end_ms")).as("end", marked.schema("ts").metadata))
      .groupBy(col("key")).as[String, PaneHit](Encoders.STRING, hitEnc)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(update _)
      .select(col("window_start"), col("window_end"),
        col("key").cast(events.schema(key).dataType).as(key), col("total_interactions"))
  }

  /** One input partition's (key, pane start) pairs → a pair of hits per
    * distinct pair, the partial aggregation a window aggregate runs before
    * its exchange. */
  private def combine(events: Iterator[(String, Long)]): Iterator[PaneHit] = {
    val n = mutable.HashMap.empty[(String, Long), Long]
    events.foreach(e => n(e) = n.getOrElse(e, 0L) + 1)
    n.iterator.flatMap { case ((key, pane), count) =>
      Iterator(PaneHit(key, pane + paneMs, later = false, count),
        PaneHit(key, pane + windowMs, later = true, count))
    }
  }

  private def update(key: String, hits: Iterator[PaneHit],
      state: GroupState[OpenPanes]): Iterator[PaneWindow] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val panes = mutable.LongMap.empty[Long]
      state.getOption.foreach(p => p.start.indices.foreach(i => panes(p.start(i)) = p.count(i)))
      val ends = mutable.Set.empty[Long]
      hits.foreach { h =>
        if (h.later) panes(h.end_ms - windowMs) = panes.getOrElse(h.end_ms - windowMs, 0L) + h.n
        ends += h.end_ms
      }
      val out = ends.toSeq.map(end => PaneWindow(new Timestamp(end - windowMs), new Timestamp(end),
        key, panes.getOrElse(end - windowMs, 0L) + panes.getOrElse(end - paneMs, 0L)))
      val open = panes.keys.filter(_ + windowMs > state.getCurrentWatermarkMs).toArray.sorted
      if (open.isEmpty) state.remove()
      else {
        state.update(OpenPanes(open, open.map(panes)))
        state.setTimeoutTimestamp(open.last + windowMs)
      }
      out.iterator
    }
}
