package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}
import graft.sources.WireSource

/** Live payload-presence watch — the streaming twin of
  * `cdc_payload_profile` and the mirror image of [[SchemaWatch]]:
  * SchemaWatch alerts on UNKNOWN fields arriving; this alerts on
  * DECLARED fields dropping off the wire. A producer that stops
  * populating a column is invisible to the apply path (from_json reads
  * the absent field as null and the sink happily persists nulls), so
  * silent data loss must be caught at the wire, per topic, the batch it
  * starts.
  *
  * Detection counts, per (topic, declared field) over non-delete
  * messages, how many `after` records carry the field; any batch where
  * presence < 100% appends an alert row with the first offending
  * offset. Deletes are exempt (they carry `before`, not `after` — the
  * serializer's null-omission contract, profiled by
  * cdc_payload_profile).
  *
  * Scale shape: per micro-batch one map-keys parse + a per-row explode
  * of the |declared-fields| literal spine, aggregated to the bounded
  * (topic, field) key space; the alert collect is ≤ |topics|·|fields|
  * rows; the alert log is a [[BatchLog]], so checkpoint replay is
  * idempotent. */
object PayloadWatch {

  /** The serializer's declared after-record fields. */
  val declaredFields: Seq[String] = SchemaWatch.declaredFields

  /** Per-batch presence audit over raw wire messages: one row per
    * (topic, declared field) with any absence —
    * (topic, field, n_msgs, n_present, presence, first_missing_offset). */
  def missingInBatch(wire: DataFrame): DataFrame =
    wire
      .select(col("topic"), col("offset"),
        from_json(col("value"), StructType(Seq(
          StructField("after", MapType(StringType, StringType)),
          StructField("op", StringType)))).as("env"))
      .where(col("env.op") =!= "d" && col("env.after").isNotNull)
      .select(col("topic"), col("offset"), map_keys(col("env.after")).as("keys"))
      .select(col("topic"), col("offset"), col("keys"),
        explode(array(declaredFields.map(lit(_)): _*)).as("field"))
      .groupBy("topic", "field")
      .agg(
        count(lit(1)).as("n_msgs"),
        sum(when(array_contains(col("keys"), col("field")), 1L).otherwise(0L)).as("n_present"),
        min(when(!array_contains(col("keys"), col("field")), col("offset")))
          .as("first_missing_offset"))
      .where(col("n_present") < col("n_msgs"))
      .select(col("topic"), col("field"), col("n_msgs"), col("n_present"),
        (col("n_present").cast("double") / col("n_msgs").cast("double")).as("presence"),
        col("first_missing_offset"))

  /** Start the watch: raw wire stream → per-batch presence audit →
    * alert rows appended under `alertPath`, batch_id-partitioned. */
  def start(
      spark: SparkSession,
      wirePath: String,
      alertPath: String,
      checkpointPath: String): StreamingQuery =
    MicroBatches.start(WireSource.readRawStream(spark, wirePath), checkpointPath) {
      (batch, batchId) =>
        // bounded collect: ≤ |topics|·|declared fields| rows per batch
        val rows = missingInBatch(batch).collect()
        if (rows.nonEmpty) {
          val spark = batch.sparkSession
          import spark.implicits._
          BatchLog.write(
            rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2),
                r.getLong(3), r.getDouble(4), r.getLong(5)))
              .toDF("topic", "field", "n_msgs", "n_present", "presence",
                "first_missing_offset"),
            alertPath, batchId)
        }
        ()
    }
}
