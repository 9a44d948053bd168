package graft.sources

import graft.cdc.Cdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-backed CDC wire source: the Spark-native stand-in for the Kafka
  * topics the reference consumes (reference: backend/ingestion/
  * cdc_event_logger.py consumer + kafka_connect_client.py). Messages are
  * JSON lines of (topic, offset, value=Debezium envelope JSON) — exactly
  * what a Kafka batch/stream read would deliver as (topic, offset, value).
  *
  * In production the same pipeline binds to `spark.readStream.format(
  * "kafka")`; the schema and downstream operators are identical, which is
  * the point: the source is swappable.
  */
object WireSource {

  val wireSchema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("offset", LongType),
    StructField("value", StringType)))

  /** Publish the derived changelog as wire files (the "topic"). */
  def publish(spark: SparkSession, dir: String, outPath: String): Unit =
    Cdc.toWire(spark, dir)
      .write.mode("overwrite").json(outPath)

  /** Batch-consume wire files → parsed envelopes. */
  def readBatch(spark: SparkSession, path: String): DataFrame =
    Cdc.parseEnvelope(spark.read.schema(wireSchema).json(path))

  /** Stream-consume raw wire messages (topic, offset, value) — the one
    * place that sets wire admission per trigger (file-source streaming;
    * swap `.json(path)` for `.format("kafka")` against a live bus). */
  private[graft] def readRawStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(wireSchema).option("maxFilesPerTrigger", "4").json(path)

  /** Stream-consume wire files → parsed envelopes. */
  def readStream(spark: SparkSession, path: String): DataFrame =
    Cdc.parseEnvelope(readRawStream(spark, path))
}
