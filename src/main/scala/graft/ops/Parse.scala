package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference consumer's parse chain (C1-C4 of SURVEY §2.2): cast binary →
  * string, `from_json` with a fixed permissive schema, struct flatten
  * (`select("data.*")`), null-rejection filter
  * (`/root/reference/consumer/consumer.py:108-111`), plus the dashboard's
  * tolerant casts (D1-D3, `reporting/reporting.py:77-89`).
  *
  * All expressions are Catalyst built-ins (`JsonToStructs`, `Cast`) — fully
  * codegen'd, no UDFs, so the chain stays inside one WholeStageCodegen span
  * over the scan.
  */
object Parse {

  /** Schema of the `events.props` JSON payload. */
  val propsSchema: StructType = StructType(Seq(StructField("k", LongType, nullable = true)))

  /** The fields of `json` parsed with `schema`, one output column per
    * field, for a `select` that filters on them afterwards. Malformed JSON
    * degrades to nulls (PERMISSIVE `from_json`).
    *
    * The parse sits behind a `Generate` (`inline(array(from_json(...)))`)
    * so that it runs ONCE per row. A plain `from_json(...).as("data")`
    * followed by `data.*` and a null filter on the fields does not:
    * Catalyst pushes the filter below the flatten and substitutes the
    * alias into it, so each `isnotnull(data.f)` gets its own (pruned)
    * `from_json`, and the projection keeps one more — one Jackson parse
    * per filtered field plus one. A filter cannot be pushed below a
    * generator's output, so here it reads the generated columns. A NULL
    * or malformed input yields one row of nulls, as `data.*` would. */
  private[graft] def jsonFields(json: Column, schema: StructType): Column =
    inline(array(from_json(json, schema)))

  /** C2: parse the `props` JSON column with a declared schema; malformed rows
    * degrade to nulls (PERMISSIVE), mirroring `from_json` at
    * `consumer/consumer.py:109`. The parse runs once per row
    * ([[jsonFields]]). */
  def parseProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), jsonFields(col("props"), propsSchema))
      .select(col("event_id"), col("k").as("k_val"))
      .filter(col("k_val").isNotNull)

  /** C1+C2+C3+C4 round-trip: serialize a projection to JSON (the wire format,
    * `producer/producer.py:31`), re-parse with the declared schema, flatten
    * with `data.*` — proves the full parse pipeline preserves the
    * reference's event contract.
    *
    * The C4 null-rejection runs BEFORE serialization: over already-structured
    * input the filter commutes with the lossless roundtrip (`to_json` keeps
    * the 3 fields; PERMISSIVE `from_json` maps them back 1:1), and placing it
    * post-parse makes Catalyst's filter pushdown substitute the `from_json`
    * alias into each of the 3 null checks — 4 Jackson parses per row instead
    * of 1, a hard 4× on the dominant stage at 100 TB. The flatten itself is
    * safe: CollapseProject refuses to inline the expensive parse
    * (SPARK-36718), so `data.*` reads struct fields of a single parse.
    * Where the filter must follow the parse (wire input, `props`),
    * [[jsonFields]] keeps it to one parse instead. */
  def roundtripJson(s: SparkSession, d: String): DataFrame = {
    val wireSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType)))
    Tables.events(s, d)
      .filter(col("event_id").isNotNull && col("user_id").isNotNull && col("event_type").isNotNull)
      .select(to_json(struct(col("event_id"), col("user_id"), col("event_type"))).as("json_str"))
      .select(from_json(col("json_str"), wireSchema).as("data"))
      .select(col("data.*"))
  }

  /** D1-D3: tolerant casts — entity-key synthesis (reference ids are
    * `"user_<n>"`, `producer/producer.py:19`), timestamp → date truncation,
    * null-drop. The date truncation still happens (cast to DateType inside
    * the null filter); the HASHED projection carries it as a `yyyy-MM-dd`
    * string so the whole suite's output surface stays DATE-free
    * ([[graft.HashedTypes]] — this column shipped as DATE green for 15
    * rounds, but one proven-fragile canonicalization class is one too
    * many to keep in a hashed output). */
  def castFilter(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        concat(lit("user_"), col("user_id")).as("user_key"),
        col("ts").cast(DateType).as("event_date"))
      .filter(col("user_key").isNotNull && col("event_date").isNotNull)
      .withColumn("event_date", date_format(col("event_date"), "yyyy-MM-dd"))

  /** Dead-letter audit — the accountability twin of the C4 null-rejection
    * filter: instead of silently dropping malformed events, classify every
    * row by its FIRST failing required-field check. The reference's filter
    * (`consumer/consumer.py:111`) checks its wire schema's three required
    * fields (user_id, item_id, timestamp); the five-field list here
    * (event_id, ts, user_id, event_type, value) is this repo's
    * events-schema ANALOGUE of that contract, not the reference's list —
    * same drop-if-any-null semantics over the local table's columns — and
    * publish per-reason counts with an id range for tracing back into the
    * source. A real pipeline writes the quarantined rows to a dead-letter
    * table and THIS summary to its monitoring sink; the summary is the
    * oracle-checkable surface. Plan: one scan, map-side CASE classify, one
    * tiny aggregation keyed by reason (≤6 groups) — partial agg shrinks it
    * map-side, so the 100 TB cost is the scan it shares with ingest. */
  /** First-failing-required-field classification — shared by the batch
    * rollup below and the streaming twin
    * ([[graft.streaming.EventPipeline.streamedDeadLetter]]). */
  private[graft] def deadLetterReason: org.apache.spark.sql.Column =
    when(col("event_id").isNull, "null_event_id")
      .when(col("ts").isNull, "null_ts")
      .when(col("user_id").isNull, "null_user_id")
      .when(col("event_type").isNull, "null_event_type")
      .when(col("value").isNull, "null_value")
      .otherwise("ok")

  /** Per-reason rollup over a classified frame (batch and streaming share
    * this aggregation — identical lineage, only execution mode differs). */
  private[graft] def deadLetterRollup(classified: DataFrame): DataFrame =
    classified
      .groupBy(col("reason"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))

  def deadLetter(s: SparkSession, d: String): DataFrame =
    deadLetterRollup(Tables.events(s, d).withColumn("reason", deadLetterReason))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c_parse_props" -> parseProps,
    "c_roundtrip_json" -> roundtripJson,
    "c_cast_filter" -> castFilter,
    "c_dead_letter" -> deadLetter)

  val oracle: Map[String, String] = Map(
    "c_parse_props" ->
      // TRY_CAST: Spark's from_json yields null for a non-numeric `k`; plain
      // CAST would hard-error in DuckDB instead of mirroring that null.
      """SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events
        |WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL""".stripMargin,
    "c_roundtrip_json" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL""".stripMargin,
    "c_cast_filter" ->
      """SELECT event_id, 'user_' || user_id AS user_key,
        |       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL""".stripMargin,
    "c_dead_letter" ->
      """WITH c AS (SELECT event_id,
        |             CASE WHEN event_id IS NULL THEN 'null_event_id'
        |                  WHEN ts IS NULL THEN 'null_ts'
        |                  WHEN user_id IS NULL THEN 'null_user_id'
        |                  WHEN event_type IS NULL THEN 'null_event_type'
        |                  WHEN value IS NULL THEN 'null_value'
        |                  ELSE 'ok' END AS reason
        |           FROM events)
        |SELECT reason, count(*) AS n_rows,
        |       CAST(min(event_id) AS BIGINT) AS min_event_id,
        |       CAST(max(event_id) AS BIGINT) AS max_event_id
        |FROM c GROUP BY 1""".stripMargin)
}
