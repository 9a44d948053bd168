package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Object-store sink with the bundled Confluent S3 sink connector's
  * layout semantics (the reference ships confluentinc-kafka-connect-s3
  * and provisions it in sink_config.py:455-480: DefaultPartitioner,
  * JsonFormat, flush.size rotation): wire messages land under
  * `topics/<topic>/partition=<p>/` as JSON objects holding at most
  * `flush.size` records each. Spark expresses the whole contract
  * declaratively — `partitionBy(topic, partition)` is the
  * DefaultPartitioner layout, `maxRecordsPerFile` is flush.size — so
  * rotation needs no custom writer loop and scales with the cluster.
  * Object NAMES are engine-managed (Spark part files vs the
  * connector's `<topic>+<partition>+<startOffset>` convention); layout
  * and rotation are the mirrored semantics.
  *
  * The Kafka partition is modeled as offset % partitions (the wire
  * carries no producer key; any deterministic assignment works — the
  * layout contract is per-(topic, partition) directories, not a
  * specific hash).
  */
object ObjectStoreSink {

  /** Write the wire frame in the connector's object layout. */
  def write(wire: DataFrame, basePath: String,
            partitions: Int = 4, flushSize: Int = 10): Unit =
    wire
      .withColumn("partition", pmod(col("offset"), lit(partitions.toLong)).cast("int"))
      .write
      .partitionBy("topic", "partition")
      .option("maxRecordsPerFile", flushSize.toLong)
      .mode(SaveMode.Overwrite)
      .json(s"$basePath/topics")

  /** The connector's actual operating mode — a streaming consumer
    * landing objects continuously. Spark's native streaming file sink
    * gives the same layout/rotation via the identical declarative knobs,
    * and UPGRADES the connector's at-least-once delivery to exactly-once
    * (the sink's checkpointed manifest commits each micro-batch's
    * objects atomically; readers see only committed objects). */
  def startStream(spark: SparkSession, wirePath: String, basePath: String,
                  checkpointPath: String, partitions: Int = 4,
                  flushSize: Int = 10): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.WireSource.readRawStream(spark, wirePath)
      .withColumn("partition", pmod(col("offset"), lit(partitions.toLong)).cast("int"))
      .writeStream
      .format("json")
      .partitionBy("topic", "partition")
      .option("maxRecordsPerFile", flushSize.toLong)
      .option("path", s"$basePath/topics")
      .option("checkpointLocation", checkpointPath)
      .start()

  /** Read the landed objects back as a wire frame (topic/partition come
    * from the directory layout). */
  def read(spark: SparkSession, basePath: String): DataFrame =
    spark.read.json(s"$basePath/topics")

  /** Object manifest — the browse surface over the landed layout: one
    * row per object with its (topic, partition) and record count.
    * Listing is driver-side Hadoop FS metadata (an admin operation over
    * object counts, not data); record counts come from one distributed
    * read grouped by input file. */
  def manifest(spark: SparkSession, basePath: String): DataFrame =
    spark.read.json(s"$basePath/topics")
      .withColumn("object", input_file_name())
      .groupBy("topic", "partition", "object")
      .agg(count(lit(1)).as("n_records"))
      .orderBy("topic", "partition", "object")
}
