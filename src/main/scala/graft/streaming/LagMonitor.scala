package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.util.control.NonFatal

/** Progress/lag monitor (SURVEY §2.2 C11) — the reference's largest single
  * operator (`/root/reference/consumer/consumer.py:185-286`): a driver loop
  * that polls `lastProgress`, parses each source's `endOffset` vs
  * `latestOffset` maps, computes per-partition `lag = max(0, latest −
  * processed)`, and logs on batch change.
  *
  * Here the same computation hangs off `StreamingQueryListener
  * .onQueryProgress` — push, not poll, so there is no `awaitTermination(30)`
  * sleep loop on the driver — and the offset parsing is one JSON parser
  * handling both shapes Spark emits: the Kafka map
  * `{"topic":{"partition":offset}}` and scalar file/rate offsets
  * (`{"logOffset":3}` or a bare number). The reference needed a dual
  * JSON/`ast.literal_eval` path (`consumer/consumer.py:217-236`); json4s
  * (shipped with Spark) covers both here.
  */
object LagMonitor {

  /** Flatten an offset JSON document to leaf paths → numeric offsets.
    * `{"t":{"0":12}}` → `Map("t/0" → 12)`; `{"logOffset":3}` →
    * `Map("logOffset" → 3)`; `7` → `Map("" → 7)`. */
  def parseOffsets(json: String): Map[String, Long] = {
    def flatten(v: JValue, prefix: String): Map[String, Long] = v match {
      case JObject(fields) =>
        fields.iterator.flatMap { case (k, sub) =>
          flatten(sub, if (prefix.isEmpty) k else s"$prefix/$k")
        }.toMap
      case JInt(n)     => Map(prefix -> n.toLong)
      case JLong(n)    => Map(prefix -> n)
      case JDecimal(n) => Map(prefix -> n.toLong)
      case JDouble(n)  => Map(prefix -> n.toLong)
      case JString(sv) => sv.toLongOption.map(prefix -> _).toMap
      case _           => Map.empty
    }
    try flatten(JsonMethods.parse(json), "")
    catch { case NonFatal(_) => Map.empty }
  }

  /** Per-partition lag between two offset documents
    * (`consumer/consumer.py:244-267`): `max(0, latest − processed)`, with
    * partitions missing from `processed` treated as fully lagging from 0. */
  def partitionLags(latestJson: String, processedJson: String): Map[String, Long] = {
    val processed = parseOffsets(processedJson)
    parseOffsets(latestJson).map { case (part, latest) =>
      part -> math.max(0L, latest - processed.getOrElse(part, 0L))
    }
  }

  /** Listener: on each new batch, compute and log total + per-partition lag
    * across all sources; retains the last computed lag for tests/inspection.
    * Register with `spark.streams.addListener(new LagMonitor.Listener())`. */
  final class Listener(log: String => Unit = m => Console.err.println(m))
      extends StreamingQueryListener {

    private val lastBatch = new ConcurrentHashMap[UUID, java.lang.Long]()
    @volatile var lastLags: Map[String, Long] = Map.empty
    @volatile var batchesSeen: Long = 0L

    override def onQueryStarted(e: QueryStartedEvent): Unit =
      log(s"[lag] query ${e.id} started")

    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val prev = lastBatch.put(p.id, p.batchId)
      if (prev == null || prev.longValue() != p.batchId) { // log on batch change only (consumer.py:279)
        batchesSeen += 1
        val lags = p.sources.iterator.flatMap { src =>
          (Option(src.latestOffset), Option(src.endOffset)) match {
            case (Some(latest), Some(processed)) => partitionLags(latest, processed)
            case _ => Map.empty[String, Long]
          }
        }.toMap
        lastLags = lags
        log(s"[lag] batch=${p.batchId} inputRows=${p.numInputRows} " +
          s"totalLag=${lags.values.sum}" +
          (if (lags.nonEmpty) s" perPartition=$lags" else ""))
      }
    }

    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      log(s"[lag] query ${e.id} terminated")
  }
}
