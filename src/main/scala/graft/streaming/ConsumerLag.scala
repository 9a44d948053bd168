package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Continuous consumer-offset lag — the streaming twin of the batch
  * `cdc_consumer_lag` (graft.cdc.Monitoring.consumerLag) and the live
  * form of the reference's lag report (check_consumer_lag.py:24-90):
  * after every micro-batch, for each (group, topic, partition), the
  * committed offset (messages applied through the PREVIOUS batch), the
  * end offset (messages arrived through THIS batch) and their
  * difference — which is exactly the backlog this batch consumed. The
  * batch operator models a sink trailing by a time horizon; this one
  * reports the position of the stream itself, the number a Kafka admin
  * API would return between two commits.
  *
  * Scale shape: each micro-batch collapses to per-(topic, partition)
  * message counts before anything touches state — state rows per batch
  * are bounded by |topics × partitions|, never the messages. Both logs
  * are [[BatchLog]]s: a replayed batch reads only state batches < its
  * own id then counts itself from its in-memory frame, so a replay
  * neither double-counts its own arrivals nor loses them.
  */
object ConsumerLag {

  final case class Config(
      wirePath: String,
      statePath: String,
      checkpointPath: String,
      partitions: Int = 4)

  private def countsPath(cfg: Config) = s"${cfg.statePath}/counts"
  private def lagPath(cfg: Config) = s"${cfg.statePath}/lag"

  private val countSchema = StructType(Seq(
    StructField("topic", StringType),
    StructField("table_name", StringType),
    StructField("partition", LongType),
    StructField("n_messages", LongType)))

  /** Per-(topic, partition) message counts for one parsed-envelope batch —
    * the bounded state grain. Partition is keyed the same way the batch
    * twin keys it: the row key modulo the partition count. */
  private[graft] def partitionDeltas(batch: DataFrame, partitions: Int): DataFrame =
    batch
      .select(col("topic"), col("table_name"),
        (coalesce(col("after.user_id"), col("before.user_id")) % partitions)
          .cast(LongType).as("partition"))
      .groupBy("topic", "table_name", "partition")
      .agg(count(lit(1)).as("n_messages"))

  /** Start the monitor over the wire (file source, Kafka-swappable like
    * [[graft.sources.WireSource]]). */
  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    MicroBatches.start(graft.sources.WireSource.readStream(spark, cfg.wirePath),
      cfg.checkpointPath)(monitorBatch(spark, cfg, _, _))

  /** One micro-batch: persist this batch's per-partition deltas, then
    * write the (group, topic, partition) lag rows — committed = the
    * cumulative count through the prior batches, end = committed plus
    * this batch's own arrivals. Exposed for direct batch use (replay
    * tests drive it directly). */
  private[graft] def monitorBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    val deltas = partitionDeltas(batch, cfg.partitions)
    BatchLog.write(deltas, countsPath(cfg), batchId)
    val prior = BatchLog.before(spark, countsPath(cfg), countSchema, batchId)
      .groupBy("topic", "table_name", "partition")
      .agg(sum(col("n_messages")).as("committed_offset"))
    val report = deltas
      .select(col("topic"), col("table_name"), col("partition"),
        col("n_messages").as("arrived"))
      .join(prior, Seq("topic", "table_name", "partition"), "full")
      .select(
        concat(lit("connect-sink-"), col("table_name")).as("group_id"),
        col("topic"), col("partition"),
        coalesce(col("committed_offset"), lit(0L)).as("committed_offset"),
        (coalesce(col("committed_offset"), lit(0L)) + coalesce(col("arrived"), lit(0L)))
          .as("end_offset"))
      .withColumn("lag", col("end_offset") - col("committed_offset"))
    BatchLog.write(report, lagPath(cfg), batchId)
  }

  /** Read back the per-batch lag report. */
  def lag(spark: SparkSession, cfg: Config): DataFrame =
    BatchLog.history(spark, lagPath(cfg))
      .orderBy("batch_id", "topic", "partition")
}
