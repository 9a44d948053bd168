package graft.cdc

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium change-event semantics, re-expressed as Spark columns.
  *
  * Mirrors the reference's envelope handling
  * (reference: backend/ingestion/cdc_event_logger.py:301-540) and the
  * ExtractNewRecordState "unwrap" transform it configures on every sink
  * (reference: backend/ingestion/sink_config.py:165-180,
  * backend/ingestion/debezium_config.py:297-303).
  *
  * The driver test data has no live Kafka stream, so the changelog is
  * *derived deterministically* from the `events` table — both this engine
  * and the DuckDB oracle derive it identically:
  * `signup→c, error→d, everything else→u`, PK = user_id, seq = event_id.
  */
object Cdc {

  /** Canonical changelog: (op, pk, ts, seq, value, props). */
  def changelog(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    ev.select(
      opFromEventType(col("event_type")).as("op"),
      col("user_id").as("pk"),
      col("ts"),
      col("event_id").as("seq"),
      col("value"),
      col("props"))
  }

  /** SQL prefix the oracle queries share (DuckDB side of [[changelog]]). */
  val changelogSql: String =
    """WITH changelog AS (
      |  SELECT CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
      |         user_id AS pk, ts, event_id AS seq, value, props
      |  FROM events
      |)""".stripMargin

  def opFromEventType(c: Column): Column =
    when(c === "signup", "c").when(c === "error", "d").otherwise("u")

  /** Debezium op code → normalized event class
    * (reference: cdc_event_logger.py:448-457 op_mapping). */
  def normalizeOp(op: Column): Column =
    when(op === "c", "insert")
      .when(op === "r", "insert")
      .when(op === "u", "update")
      .when(op === "d", "delete")
      .when(op === "t", "truncate")
      .otherwise("unknown")

  /** Envelope schema for the derived events changelog (payload part of a
    * Debezium message: {before, after, source, op, ts_ms}). */
  val envelopeSchema: StructType = {
    val row = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    StructType(Seq(
      StructField("before", row),
      StructField("after", row),
      StructField("source", StructType(Seq(
        StructField("db", StringType),
        StructField("schema", StringType),
        StructField("table", StringType),
        StructField("ts_ms", LongType)))),
      StructField("op", StringType),
      StructField("ts_ms", LongType)))
  }

  /** Serialize the derived changelog into Debezium-style JSON wire messages.
    * This is the "Kafka topic" surrogate: downstream operators parse it back
    * with [[parseEnvelope]], exercising the real from_json path. */
  def toWire(spark: SparkSession, dir: String): DataFrame = {
    // spread: every wire consumer pays per-row to_json here and from_json
    // above (the two heaviest row expressions in the CDC family) — the
    // parallelism guard keeps them off a single single-split scan task
    // (parse_envelope 2.7 → 0.8 s at sf0.1; no-op at production splits)
    val ev = Tables.spread(Tables.load(spark, dir, "events"))
    val row = struct(col("user_id"), col("event_type"), col("value"))
    val op = opFromEventType(col("event_type"))
    ev.select(
      concat(lit("graft.public."), col("event_type")).as("topic"),
      col("event_id").as("offset"),
      to_json(struct(
        when(op === "d", row).otherwise(lit(null).cast(envelopeSchema("before").dataType)).as("before"),
        when(op =!= "d", row).otherwise(lit(null).cast(envelopeSchema("after").dataType)).as("after"),
        struct(
          lit("graft").as("db"), lit("public").as("schema"),
          lit("events").as("table"), unix_millis(col("ts")).as("ts_ms")).as("source"),
        op.as("op"),
        unix_millis(col("ts")).as("ts_ms"))).as("value"))
  }

  /** Parse Debezium JSON wire messages (the from_json path a streaming
    * ingest uses). Returns the typed envelope plus routing columns parsed
    * from the topic name — the reference's fallback routing
    * (cdc_event_logger.py:478-489: server.schema.table). */
  def parseEnvelope(wire: DataFrame): DataFrame = {
    val parts = split(col("topic"), "\\.")
    wire
      .withColumn("envelope", from_json(col("value"), envelopeSchema))
      .select(
        col("topic"), col("offset"),
        parts.getItem(0).as("server_name"),
        parts.getItem(1).as("schema_name"),
        parts.getItem(2).as("table_name"),
        col("envelope.*"))
  }

  /** Parsed envelopes ([[parseEnvelope]]) as the canonical changelog
    * columns (op, pk, ts, seq, value): the row image's key and value
    * (`after`, or `before` for a delete), the event time at ms precision
    * and the wire offset as seq. An envelope with no op is unroutable (a
    * poisoned message, see `Pipeline`'s DLQ) and is dropped. */
  private[graft] def envelopeChangelog(envelopes: DataFrame): DataFrame =
    envelopes.where(col("op").isNotNull).select(
      col("op"),
      coalesce(col("after.user_id"), col("before.user_id")).as("pk"),
      timestamp_millis(col("ts_ms")).as("ts"),
      col("offset").as("seq"),
      coalesce(col("after.value"), col("before.value")).as("value"))

  /** Dead-letter routing: wire messages whose envelope fails to parse go
    * to the DLQ instead of poisoning the apply (the reference's consumer
    * loop catches per-message parse errors and keeps consuming —
    * cdc_event_logger.py's try/except around json.loads). Corruption is
    * simulated deterministically (offset % 97 → truncated JSON) so the
    * oracle can account for routes without byte-identical JSON. */
  def dlqRoute(wire: DataFrame): DataFrame = {
    val corrupted = when(col("offset") % 97 === 0,
      col("value").substr(lit(1), length(col("value")) - 5))
      .otherwise(col("value"))
    wire
      .withColumn("envelope", from_json(corrupted, envelopeSchema))
      // PERMISSIVE parse of malformed JSON yields a null struct (or a
      // struct with null op) — either way the message is unroutable
      .withColumn("route",
        when(col("envelope").isNull || col("envelope.op").isNull, "dlq")
          .otherwise("main"))
      .groupBy("route")
      .agg(
        count(lit(1)).as("n_messages"),
        min(col("offset")).as("first_offset"),
        max(col("offset")).as("last_offset"))
      .orderBy("route")
  }

  val dlqRouteSql: String =
    """SELECT CASE WHEN event_id % 97 = 0 THEN 'dlq' ELSE 'main' END AS route,
      |       count(*) AS n_messages,
      |       min(event_id) AS first_offset, max(event_id) AS last_offset
      |FROM events GROUP BY route ORDER BY route""".stripMargin

  /** ExtractNewRecordState with delete.handling.mode=rewrite: flatten the
    * envelope to the row image (after; before for deletes), adding
    * __op, __source_ts_ms, __deleted (reference: sink_config.py:165-180). */
  def unwrap(envelopes: DataFrame): DataFrame = {
    val img = when(col("op") === "d", col("before")).otherwise(col("after"))
    envelopes.select(
      img.getField("user_id").as("user_id"),
      img.getField("event_type").as("event_type"),
      img.getField("value").as("value"),
      col("op").as("__op"),
      col("source.ts_ms").as("__source_ts_ms"),
      (col("op") === "d").as("__deleted"))
  }
}
