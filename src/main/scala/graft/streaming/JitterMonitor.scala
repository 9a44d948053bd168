package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuous inter-arrival jitter — the streaming twin of the batch
  * `cdc_arrival_jitter` (graft.cdc.Monitoring.arrivalJitter): after every
  * micro-batch, per topic, the cumulative coefficient of variation of
  * inter-event gaps (CV = σ/μ — Poisson ≈ 1, heartbeat ≈ 0, batchy
  * replication ≫ 1), the number a trigger-interval autotuner watches
  * live instead of recomputing over the whole stream.
  *
  * The trick that keeps it exact AND bounded: gap moments telescope.
  * Each batch contributes its INTRA-batch gap sums (one topic-partitioned
  * lag window over the batch) plus one BOUNDARY gap per topic (this
  * batch's first event against the previous batch's last, recovered from
  * the stored per-batch envelope rows — |topics|×|batches| rows, never
  * events). The cumulative Σg/Σg² fold over those exact DECIMAL(38,0)
  * sums equals the batch operator's single-pass sums bit-for-bit, so the
  * emitted mean/σ/CV match the batch op exactly on an in-order replay —
  * the spec pins that equality.
  *
  * Scale shape: state rows per batch are bounded by |topics|; both logs
  * are [[BatchLog]]s and the report folds only batches ≤ its own id, so
  * an at-least-once replay overwrites its own partition and never
  * double-counts.
  */
object JitterMonitor {

  final case class Config(
      wirePath: String,
      statePath: String,
      checkpointPath: String)

  private def deltasPath(cfg: Config) = s"${cfg.statePath}/deltas"
  private def reportPath(cfg: Config) = s"${cfg.statePath}/report"

  private val d38 = DecimalType(38, 0)

  private val deltaSchema = StructType(Seq(
    StructField("topic", StringType),
    StructField("n_events", LongType),
    StructField("first_ms", LongType),
    StructField("last_ms", LongType),
    StructField("n_gaps", LongType),
    StructField("sg", d38),
    StructField("sg2", d38),
    StructField("max_gap_ms", LongType),
    StructField("n_simultaneous", LongType)))

  /** One parsed-envelope batch reduced to the per-topic gap grain: the
    * batch's own intra-batch gap moments plus its (first, last) event-ms
    * envelope — everything the boundary fold needs later. */
  private[graft] def batchDeltas(batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("topic").orderBy("ts_ms", "offset")
    batch
      .select(col("topic"), col("ts_ms"), col("offset"))
      .withColumn("gap", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .groupBy("topic")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("first_ms"),
        max(col("ts_ms")).as("last_ms"),
        count(col("gap")).as("n_gaps"),
        coalesce(sum(col("gap").cast(d38)), lit(0L).cast(d38)).cast(d38).as("sg"),
        coalesce(sum(col("gap").cast(d38) * col("gap").cast(d38)), lit(0L).cast(d38))
          .cast(d38).as("sg2"),
        max(col("gap")).as("max_gap_ms"),
        coalesce(sum(when(col("gap") === 0L, 1L)), lit(0L)).as("n_simultaneous"))
  }

  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    MicroBatches.start(graft.sources.WireSource.readStream(spark, cfg.wirePath),
      cfg.checkpointPath)(monitorBatch(spark, cfg, _, _))

  /** One micro-batch: persist this batch's per-topic deltas, then fold
    * every delta with batch_id ≤ this one — intra sums plus the
    * lag-recovered boundary gaps — into the cumulative jitter report.
    * Exposed for direct batch use (replay tests drive it directly). */
  private[graft] def monitorBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    val deltas = batchDeltas(batch).withColumn("batch_id", lit(batchId))
    BatchLog.write(deltas, deltasPath(cfg), batchId)
    val all = BatchLog.before(spark, deltasPath(cfg), deltaSchema, batchId)
      .unionByName(deltas)
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy("topic").orderBy("batch_id")
    val withBoundary = all
      .withColumn("boundary_gap", col("first_ms") - lag(col("last_ms"), 1).over(bw))
    val rolled = withBoundary.groupBy("topic")
      .agg(
        sum(col("n_events")).as("n_events"),
        (sum(col("n_gaps")) + count(col("boundary_gap"))).as("n_gaps"),
        (sum(col("sg")) + coalesce(sum(col("boundary_gap").cast(d38)), lit(0L).cast(d38)))
          .cast(d38).as("sg"),
        (sum(col("sg2")) + coalesce(
          sum(col("boundary_gap").cast(d38) * col("boundary_gap").cast(d38)),
          lit(0L).cast(d38))).cast(d38).as("sg2"),
        greatest(max(col("max_gap_ms")), max(col("boundary_gap"))).as("max_gap_ms"),
        (sum(col("n_simultaneous"))
          + coalesce(sum(when(col("boundary_gap") === 0L, 1L)), lit(0L)))
          .as("n_simultaneous"))
    val nD = col("n_gaps").cast("double")
    val mean = col("sg").cast("double") / nD
    val varG = greatest(col("sg2").cast("double") / nD - mean * mean, lit(0.0))
    val report = rolled
      .where(col("n_gaps") > 0L)
      .select(col("topic"), col("n_events"), col("n_gaps"),
        mean.as("mean_gap_ms"),
        sqrt(varG).as("std_gap_ms"),
        when(mean > 0.0, sqrt(varG) / mean).as("cv"),
        col("max_gap_ms"), col("n_simultaneous"))
    BatchLog.write(report, reportPath(cfg), batchId)
  }

  /** Read back the per-batch cumulative jitter report. */
  def jitter(spark: SparkSession, cfg: Config): DataFrame =
    BatchLog.history(spark, reportPath(cfg))
      .orderBy("batch_id", "topic")
}
