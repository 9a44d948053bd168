package graft.streaming

import graft.cdc.{Cdc, SchemaDdl}
import graft.sources.WireSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Live schema-drift watch over the CDC wire — the streaming front half
  * of the reference's schema sync (schema_service.py monitor_schema_drift
  * → sync_schema): while the pipeline applies changes, this query watches
  * the SAME wire for envelope fields the declared schema doesn't know,
  * and for each batch that carries any, appends an alert row WITH the
  * cross-dialect ALTER delta ([[graft.cdc.SchemaDdl.alterTableDdl]])
  * a target needs to absorb the drift.
  *
  * Detection parses `after` as an untyped map — the declared-struct parse
  * the apply path uses silently DROPS unknown fields (from_json keeps
  * only schema fields), which is exactly why a separate watch is needed:
  * the apply stays total, the watch sees what it ignored.
  *
  * Scale shape: per micro-batch one map-keys explode + a groupBy on the
  * (tiny) unknown-field key space; the alert log is a [[BatchLog]], so
  * checkpoint replay is idempotent.
  * New fields arrive as strings (a schemaless JSON wire carries no type),
  * matching the reference's VARCHAR-first evolution. */
object SchemaWatch {

  /** Fields the declared envelope knows (the apply path's schema). */
  val declaredFields: Seq[String] =
    Cdc.envelopeSchema("after").dataType.asInstanceOf[StructType].fieldNames.toSeq

  /** Unknown after-fields in a batch of raw wire messages:
    * (field, n_events, first_offset). */
  def driftInBatch(wire: DataFrame): DataFrame =
    wire
      .select(col("offset"),
        from_json(col("value"), StructType(Seq(
          StructField("after", org.apache.spark.sql.types.MapType(StringType, StringType)))))
          .getField("after").as("after"))
      .where(col("after").isNotNull)
      .select(col("offset"), explode(map_keys(col("after"))).as("field"))
      .where(!col("field").isin(declaredFields: _*))
      .groupBy("field")
      .agg(count(lit(1)).as("n_events"), min(col("offset")).as("first_offset"))

  /** Start the watch: raw wire stream → per-batch drift detection →
    * alert rows (field, n_events, first_offset, batch_id, alter_ddl)
    * appended under `alertPath`, one ALTER per new field in `dialect`. */
  def start(
      spark: SparkSession,
      wirePath: String,
      alertPath: String,
      checkpointPath: String,
      table: String = "events",
      dialect: SchemaDdl.Dialect = SchemaDdl.Postgres): StreamingQuery =
    MicroBatches.start(WireSource.readRawStream(spark, wirePath), checkpointPath) {
      (batch, batchId) =>
        // bounded collect: rows = distinct UNKNOWN fields in this batch
        // (a handful at worst — this is drift, not data)
        val rows = driftInBatch(batch).collect()
        if (rows.nonEmpty) {
          val target = Cdc.envelopeSchema("after").dataType.asInstanceOf[StructType]
          // alert rows built from the ALREADY-collected result — writing
          // the drift frame back would re-run the whole parse + explode +
          // aggregation over the batch a second time
          val alerts = rows.map { r =>
            val f = r.getString(0)
            // one field per plan so each alert row carries ITS statement
            val plan = SchemaDdl.alterTableDdl(table,
              StructType(target.fields :+ StructField(f, StringType)), target, dialect)
            (f, r.getLong(1), r.getLong(2), plan.statements.mkString("; "))
          }.toSeq
          val spark = batch.sparkSession
          import spark.implicits._
          BatchLog.write(alerts.toDF("field", "n_events", "first_offset", "alter_ddl"),
            alertPath, batchId)
        }
        ()
    }
}
