package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuous distinct-users-to-date — the streaming twin of
  * `q_cumulative_uniques_approx` (graft.analytics.Sketches
  * .approxCumulativeUniques), making its docstring's claim executable
  * (r15 verdict item 5): "at 100 TB the same union telescopes as
  * streaming state".
  *
  * State is ONE Datasketches HLL per day (a few KB each, ≤|days| rows
  * total) — never a per-user row anywhere: each micro-batch reduces to
  * per-day sketches (`hll_sketch_agg`, map-side combined), which merge
  * into the prior state by `hll_union_agg` per day. Merging chunk
  * sketches is bit-identical to sketching the whole day at once (the
  * sketch is a deterministic function of the input SET at a fixed
  * lgConfigK), so the replayed board matches the batch operator's
  * estimates EXACTLY — not within-tolerance — and the parity spec pins
  * equality (StreamCumulativeUniquesSpec, the JitterMonitor precedent).
  *
  * The board re-runs the batch operator's exact tail over the bounded
  * day-sketch table: a running `hll_union_agg` window ordered by day
  * (the ≤|days|-row allowlisted global-window shape), estimates out,
  * n_new as the difference of consecutive cumulative estimates.
  * `n_active_approx` here is the day sketch's own estimate
  * (`hll_sketch_estimate`) — the batch operator reports
  * `approx_count_distinct` (HLL++, a different sketch family) for that
  * column, so the parity contract covers the day axis and the
  * cumulative/n_new columns, and the spec separately bounds n_active
  * against the exact per-day count.
  *
  * Idempotency: per-batch state snapshots in a [[BatchLog]], each
  * derived from the N−1 snapshot — an at-least-once replay of batch N
  * overwrites its own snapshot from the same base and converges
  * (HLL union is idempotent: re-merging the same sketch changes
  * nothing). */
object StreamCumulativeUniques {

  final case class Config(statePath: String, checkpointPath: String,
      lgConfigK: Int = 12)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType)))

  private def sketchesPath(cfg: Config) = s"${cfg.statePath}/day_sketches"

  private val sketchSchema = StructType(Seq(
    StructField("day", TimestampType),
    StructField("sk", BinaryType)))

  def start(spark: SparkSession, eventsPath: String, cfg: Config): StreamingQuery =
    MicroBatches.start(
      spark.readStream.schema(eventSchema)
        .option("maxFilesPerTrigger", "4").json(eventsPath),
      cfg.checkpointPath) { (batch, batchId) =>
        monitorBatch(batch.sparkSession, cfg, batch, batchId)
      }

  /** One micro-batch of events (ts, user_id): reduce to per-day sketches,
    * union into the N−1 snapshot, write the N snapshot. Exposed for
    * direct batch use (replay tests drive it directly). */
  private[graft] def monitorBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    val batchSketches = batch
      .select(date_trunc("DAY", col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("user_id"), lit(cfg.lgConfigK)).as("sk"))
    val next = BatchLog.snapshot(spark, sketchesPath(cfg), sketchSchema, batchId - 1)
      .unionByName(batchSketches)
      .groupBy("day")
      .agg(hll_union_agg(col("sk"), lit(true)).as("sk"))
    BatchLog.write(next, sketchesPath(cfg), batchId)
  }

  /** The cumulative-uniques board after `batchId` — the batch operator's
    * exact tail over the ≤|days| day-sketch state. */
  def board(spark: SparkSession, cfg: Config, batchId: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
    BatchLog.snapshot(spark, sketchesPath(cfg), sketchSchema, batchId)
      .withColumn("n_active_approx",
        hll_sketch_estimate(col("sk")))
      .withColumn("cum_uniques_approx",
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(true)).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow))))
      .withColumn("n_new_approx",
        col("cum_uniques_approx") -
          coalesce(lag(col("cum_uniques_approx"), 1).over(w), lit(0L)))
      .select("day", "n_active_approx", "n_new_approx", "cum_uniques_approx")
      .orderBy("day")
  }
}
