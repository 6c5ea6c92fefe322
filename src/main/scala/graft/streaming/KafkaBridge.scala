package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter}
import org.apache.spark.sql.types._

/** Kafka source/sink surface (SURVEY §2.1 S1, S2, S5). The Kafka connector
  * jar is a deployment concern (not bundled here — this environment has no
  * brokers), so these builders stop just short of `.load()`/`.start()`; the
  * wire-format transforms ([[parseWire]], [[toWire]]) are plain column
  * expressions that run identically on batch frames, which is how the test
  * suite exercises them end-to-end without a broker.
  */
object KafkaBridge {

  /** The reference's fixed event schema, §1.1
    * (`/root/reference/consumer/consumer.py:79-84`): all nullable, timestamp
    * coerced from the ISO-8601 wire string inside `from_json`. */
  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", StringType, nullable = true),
    StructField("item_id", StringType, nullable = true),
    StructField("interaction_type", StringType, nullable = true),
    StructField("timestamp", TimestampType, nullable = true)))

  /** S1+S2: configured Kafka streaming reader mirroring
    * `consumer/consumer.py:88-96` — subscribe, offset reset, per-trigger rate
    * cap, tolerate data loss, commit offsets on stop. */
  def sourceReader(
      s: SparkSession,
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Long = 10000L): DataStreamReader = {
    s.conf.set("spark.sql.streaming.kafka.commitOffsetsOnStop", "true") // consumer.py:96
    s.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger.toString)
      .option("failOnDataLoss", "false")
  }

  /** C1–C4 on the wire format (`consumer/consumer.py:108-111`): binary
    * `value` → string → `from_json` (PERMISSIVE — malformed rows degrade to
    * nulls) → flatten → null-rejection filter. Batch- and stream-agnostic.
    *
    * The parse and flatten are [[graft.ops.Parse.jsonFields]], so each wire
    * row is parsed once. Written as `from_json(...).as("data")` +
    * `data.*`, the three-field null filter would be pushed below the
    * flatten and parse each row four times (once per `isnotnull`, once in
    * the projection). */
  def parseWire(wire: DataFrame): DataFrame =
    wire.selectExpr("CAST(value AS STRING) AS json_str")
      .select(graft.ops.Parse.jsonFields(col("json_str"), eventSchema))
      .filter(col("user_id").isNotNull && col("item_id").isNotNull &&
        col("timestamp").isNotNull)

  /** S5: producer wire format — every column JSON-serialized into `value`
    * (`producer/producer.py:31`). */
  def toWire(events: DataFrame): DataFrame =
    events.select(to_json(struct(events.columns.map(col).toIndexedSeq: _*)).as("value"))

  /** S5: configured Kafka streaming writer for a wire-format frame. */
  def sinkWriter(
      wire: DataFrame,
      bootstrapServers: String,
      topic: String,
      checkpointDir: String): DataStreamWriter[Row] =
    wire.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
}
