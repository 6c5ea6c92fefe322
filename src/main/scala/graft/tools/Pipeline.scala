package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{EventPipeline, KafkaBridge, LagMonitor, RateEvents, Shutdown, UpsertSink}

/** The reference consumer's `main()` re-expressed Spark-native
  * (`/root/reference/consumer/consumer.py:53-293` + the producer folded in):
  * a rate-limited synthetic event stream (P1+P2) — or, with
  * `SPARK_GRAFT_KAFKA=<bootstrap.servers>` set, a REAL Kafka subscription
  * through `KafkaBridge.sourceReader` + `parseWire`, the exact
  * `consumer.py:88-111` path — → watermarked sliding-window
  * counts per user AND per item (C5–C8, C10 fan-out) → keyed-upsert sinks
  * with per-query checkpoints (S3+S6) → push-based lag monitor (C11) →
  * graceful shutdown (C12). This is the binary a user of the reference would
  * run instead of `consumer.py`.
  *
  * Usage: `runMain graft.tools.Pipeline [outDir] [rowsPerSecond] [seconds]`
  * (defaults: temp dir, 1000 rows/s — the reference's default rate, 15 s).
  * Env: `SPARK_GRAFT_KAFKA` selects the broker path (rowsPerSecond is then
  * ignored — rate is whatever the topic carries); `SPARK_GRAFT_KAFKA_TOPIC`
  * overrides the reference's default topic name (`test-topic`,
  * consumer.py:56). The broker path needs `spark-sql-kafka-0-10` on the
  * classpath — a deployment concern, same as KafkaIntegrationSpec.
  */
object Pipeline {

  /** The broker ingest: subscribe → wire parse → null gate, with the wire
    * `timestamp` renamed to the pipeline's `ts`. Factored so the env-gated
    * integration test drives the EXACT frame `main` runs. */
  def kafkaSource(s: SparkSession, bootstrapServers: String, topic: String)
      : org.apache.spark.sql.DataFrame =
    KafkaBridge.parseWire(
      KafkaBridge.sourceReader(s, bootstrapServers, topic,
        startingOffsets = "earliest").load())
      .withColumnRenamed("timestamp", "ts")

  /** The consumer topology on any event frame (`ts` + key columns): C10
    * fan-out of watermarked window counts into keyed-upsert sinks with
    * per-query checkpoints. Factored from `main` for the integration test. */
  def startQueries(events: org.apache.spark.sql.DataFrame, outDir: String,
      trigger: Trigger): Seq[org.apache.spark.sql.streaming.StreamingQuery] =
    Seq("user_id", "item_id").map { key =>
      EventPipeline.start(
        events, key,
        sinkDir = s"$outDir/$key/sink",
        checkpointDir = s"$outDir/$key/ckpt",
        trigger = trigger)
    }

  def main(args: Array[String]): Unit = {
    val outDir = args.lift(0).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-pipeline-").toString)
    val rate = args.lift(1).map(_.toInt).getOrElse(1000)
    val seconds = args.lift(2).map(_.toInt).getOrElse(15)

    val spark = graft.GraftSession.local()

    Shutdown.installHook(spark)                               // C12
    spark.streams.addListener(new LagMonitor.Listener())      // C11

    // Source: live Kafka when a broker is configured (S1+S2+C1-C4 — the
    // reference's own ingest), the rate-limited synthetic stream otherwise.
    // parseWire's `timestamp` renames to `ts`, the synthetic schema.
    val source = sys.env.get("SPARK_GRAFT_KAFKA") match {
      case Some(bs) =>
        val topic = sys.env.getOrElse("SPARK_GRAFT_KAFKA_TOPIC", "test-topic")
        println(s"[pipeline] source: kafka broker=$bs topic=$topic")
        kafkaSource(spark, bs, topic)
      case None => RateEvents.stream(spark, rate)             // P1+P2
    }
    // observe(): per-batch input metrics surfaced through the same listener
    // bus as the lag monitor — the production way to count rows without a
    // second action (shows up in QueryProgressEvent.observedMetrics)
    val events = source
      .observe("ingest", org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
    val queries = startQueries(events, outDir,                // C10 fan-out
      Trigger.ProcessingTime("2 seconds"))

    Thread.sleep(seconds * 1000L)
    Shutdown.stopAllGraceful(spark) // drain in-flight offsets, stop between batches
    queries.foreach(_.awaitTermination())

    Seq("user_id", "item_id").foreach { key =>
      val n = UpsertSink.resolve(spark, s"$outDir/$key/sink",
        Seq("window_start", "window_end", key)).count()
      println(s"[pipeline] $key KPI rows upserted: $n (sink=$outDir/$key/sink)")
    }
    spark.stop()
  }
}
