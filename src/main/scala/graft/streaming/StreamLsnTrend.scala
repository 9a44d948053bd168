package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuous LSN-latency trend — the streaming twin of the batch
  * `cdc_lsn_latency_trend` (graft.cdc.Monitoring.lsnLatencyTrend; the
  * reference serves the same chart live from api.py:8261's
  * lsn-latency-trend endpoint): after every micro-batch, per 10-minute
  * bucket, the source log position (running max LSN), the position a
  * 6-bucket-behind consumer has processed, their gap, and the pending
  * count — the dashboard trend, updated as events arrive instead of
  * recomputed over the whole history.
  *
  * The telescoping trick ([[JitterMonitor]]'s pattern, simpler here
  * because the per-bucket grain needs no boundary recovery): each batch
  * reduces to (bucket_id, bucket_max LSN, n_arrived) rows; max and count
  * are associative, so folding all batch deltas with a bucket-keyed
  * re-aggregation reproduces the batch operator's per-bucket aggregate
  * EXACTLY, and the spine/running-max/lag windows (SHARED code:
  * Monitoring.lsnTrendFromBuckets) then run over the same bounded
  * |buckets|-row trend — the emitted report matches the batch op
  * bit-for-bit on an in-order replay (the spec pins that equality).
  *
  * Scale shape: state rows per batch are bounded by the batch's bucket
  * span (≤ |buckets| total after folding); both logs are [[BatchLog]]s
  * and the report folds only batches ≤ its own id, so an at-least-once
  * replay overwrites its own partition and never double-counts.
  */
object StreamLsnTrend {

  final case class Config(
      wirePath: String,
      statePath: String,
      checkpointPath: String,
      bucketMs: Long = 600000L,
      horizonBuckets: Int = 6)

  private def deltasPath(cfg: Config) = s"${cfg.statePath}/deltas"
  private def reportPath(cfg: Config) = s"${cfg.statePath}/report"

  private val deltaSchema = StructType(Seq(
    StructField("bucket_id", LongType),
    StructField("bucket_max", LongType),
    StructField("n_arrived", LongType)))

  /** One batch of (ts_ms, lsn) arrivals reduced to the per-bucket grain:
    * the bucket's max LSN and arrival count — everything the fold needs. */
  private[graft] def batchDeltas(batch: DataFrame, bucketMs: Long): DataFrame =
    batch
      .select(expr(s"ts_ms div $bucketMs").as("bucket_id"), col("lsn"))
      .groupBy("bucket_id")
      .agg(max(col("lsn")).as("bucket_max"), count(lit(1)).as("n_arrived"))

  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    MicroBatches.start(
      graft.sources.WireSource.readStream(spark, cfg.wirePath)
        .select(col("ts_ms"), col("offset").as("lsn")),
      cfg.checkpointPath)(monitorBatch(spark, cfg, _, _))

  /** One micro-batch: persist this batch's per-bucket deltas, then fold
    * every delta with batch_id ≤ this one into the cumulative trend.
    * Exposed for direct batch use (replay tests drive it directly). */
  private[graft] def monitorBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    val deltas = batchDeltas(batch, cfg.bucketMs)
    BatchLog.write(deltas, deltasPath(cfg), batchId)
    // fold: max/count are associative, so the bucket re-aggregation over
    // all deltas IS the batch operator's per-bucket aggregate
    val agg = BatchLog.before(spark, deltasPath(cfg), deltaSchema, batchId)
      .select("bucket_id", "bucket_max", "n_arrived")
      .unionByName(deltas)
      .groupBy("bucket_id")
      .agg(max(col("bucket_max")).as("bucket_max"),
        sum(col("n_arrived")).as("n_arrived"))
    BatchLog.write(
      graft.cdc.Monitoring.lsnTrendFromBuckets(agg, cfg.bucketMs, cfg.horizonBuckets),
      reportPath(cfg), batchId)
  }

  /** Read back the per-batch cumulative trend report. */
  def trend(spark: SparkSession, cfg: Config): DataFrame =
    BatchLog.history(spark, reportPath(cfg))
      .orderBy("batch_id", "bucket")
}
