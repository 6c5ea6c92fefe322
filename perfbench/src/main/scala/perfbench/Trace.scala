package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

/** One traced interval: `kind` is workload, phase, pass, query, trigger,
  * exec (one SQL execution), job or stage. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, var end: Long, attrs: mutable.Map[String, Any]) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "kind" -> kind,
    "name" -> name, "start" -> start, "end" -> end, "attrs" -> attrs.toMap)
}

/** JSON through json4s, which Spark uses for its own progress reports. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def write(v: AnyRef): String = Serialization.write(v)

  /** A progress report as a JSON value, embedded as is in the output. */
  def parse(json: String): org.json4s.JValue = JsonMethods.parse(json)
}

/** In-memory span store fed by the benchmark's own code and by the three
  * listener classes below. Nothing is recorded while `on` is false, so a
  * session built with the listeners attached can still take untraced
  * measurements. Spans are written out once, at the end of the run. */
object Tracer {
  @volatile var on = false
  val spanProperty = "perfbench.span"
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var current: Long = 0L
  private val firstSeenRdds = mutable.Set.empty[Int]

  def newSpan(parent: Long, kind: String, name: String, start: Long,
      attrs: (String, Any)*): Span = {
    val s = Span(ids.incrementAndGet(), parent, kind, name, start, start,
      mutable.Map(attrs: _*))
    if (on) spans.add(s)
    s
  }

  /** Benchmark-side span around `f`; Spark jobs started on this thread
    * inside `f` carry the span id as a local property. */
  def span[A](sc: org.apache.spark.SparkContext, kind: String, name: String)(f: => A): A = {
    val s = newSpan(current, kind, name, System.currentTimeMillis())
    val saved = current
    current = s.id
    sc.setLocalProperty(spanProperty, s.id.toString)
    try f
    finally {
      s.end = System.currentTimeMillis()
      current = saved
      sc.setLocalProperty(spanProperty, if (saved == 0) null else saved.toString)
    }
  }

  /** Attribute a persisted RDD to the span in which it was first seen. */
  def sawPersisted(rddId: Int): Boolean = firstSeenRdds.synchronized(firstSeenRdds.add(rddId))
}

/** Job and stage spans with per-stage task totals. */
class JobListener extends SparkListener {
  private val jobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val stages = mutable.Map.empty[(Int, Int), Span]

  private def parentOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.spanProperty)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Tracer.on) synchronized {
    val s = Tracer.newSpan(parentOf(e.properties), "job", s"job ${e.jobId}", e.time)
    jobs(e.jobId) = s
    e.stageIds.foreach(id => stageJob(id) = s.id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { s =>
      s.end = e.time
      s.attrs("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (Tracer.on) synchronized {
    val info = e.stageInfo
    val start = info.submissionTime.getOrElse(System.currentTimeMillis())
    val s = Tracer.newSpan(stageJob.getOrElse(info.stageId, 0L), "stage",
      s"stage ${info.stageId}", start, "tasks" -> 0L, "task_ms" -> 0L,
      "gc_ms" -> 0L, "sched_wait_ms" -> 0L, "spill_bytes" -> 0L, "cuts" -> 0L)
    val cuts = info.rddInfos.count(r => r.storageLevel.isValid && Tracer.sawPersisted(r.id))
    s.attrs("cuts") = cuts.toLong
    stages((info.stageId, info.attemptNumber())) = s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      def add(k: String, v: Long): Unit = s.attrs(k) = s.attrs(k).asInstanceOf[Long] + v
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_ms", m.executorRunTime)
        add("gc_ms", m.jvmGCTime)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      add("sched_wait_ms", math.max(0L, e.taskInfo.launchTime - s.start))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.remove((info.stageId, info.attemptNumber())).foreach { s =>
      s.end = info.completionTime.getOrElse(System.currentTimeMillis())
    }
  }
}

/** One `exec` span per SQL execution: planning time, operator metrics from
  * the executed plan (adaptive plans included), and whether it was an
  * upsert-sink delta write. */
class QeListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Tracer.on) record(qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (Tracer.on) record(qe, 0L, ok = false)

  private def record(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val end = System.currentTimeMillis()
    val ms = durationNs / 1e6
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val sinkWrite = qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.exists(_.matches(".*/sink/b\\d+$"))
    val a = mutable.Map[String, Any]("ok" -> ok, "ms" -> ms, "plan_ms" -> planMs,
      "sink_write" -> sinkWrite)
    a ++= operatorTotals(qe.executedPlan)
    // listener callbacks run on the listener bus thread, so the parent is
    // the benchmark span current when the execution is reported
    val s = Tracer.newSpan(Tracer.current, "exec", "sql", end - (ms.toLong), a.toSeq: _*)
    s.end = end
  }

  private def operatorTotals(plan: SparkPlan): Map[String, Double] = {
    val t = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def m(p: SparkPlan, name: String): Double =
      p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
    foreach(plan) { p =>
      p match {
        case e: ShuffleExchangeExec =>
          t("exchange_bytes") += m(e, "dataSize")
          t("exchange_rows") += m(e, "shuffleRecordsWritten")
        case _: SortMergeJoinExec => t("smj") += 1
        case _: BroadcastHashJoinExec => t("bhj") += 1
        case a: ObjectHashAggregateExec =>
          t("agg_ms") += m(a, "aggTime")
          t("object_agg_ms") += m(a, "aggTime")
        case a: HashAggregateExec => t("agg_ms") += m(a, "aggTime")
        case _ =>
      }
      if (p.children.isEmpty) t("scan_rows") += m(p, "numOutputRows")
    }
    t.toMap
  }
}

/** Turns every trigger's progress report into a trigger span (the report
  * rides along as an attribute) under the benchmark span that was current
  * when the query started. */
class ProgressListener extends StreamingQueryListener {
  private val parents = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    parents.put(e.runId, Tracer.current)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Tracer.on) {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val s = Tracer.newSpan(Option(parents.get(p.runId)).map(_.longValue).getOrElse(0L),
        "trigger", s"${Option(p.name).getOrElse(p.id.toString)} batch ${p.batchId}", start,
        "progress" -> Json.parse(p.json))
      s.end = start + p.batchDuration
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    parents.remove(e.runId)

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
}
