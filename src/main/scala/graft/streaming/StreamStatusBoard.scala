package graft.streaming

import graft.cdc.Cdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuously-maintained pipeline status board — the streaming twin of
  * the batch `cdc_status_board` (graft.cdc.Monitoring.statusBoard), the
  * one dashboard panel a user actually WATCHES (the reference's landing
  * page polls pipeline status continuously; api.py pipeline-status +
  * frontend dashboard). Recomputing the batch board per poll re-reads the
  * whole event history; every column it serves telescopes over compact
  * per-table state instead:
  *
  *  - n_events / n_deletes / last_event_ts: associative counters, folded
  *    per (table, ts) into a rollup table;
  *  - n_keys: distinct (table, user) pairs — a monotone set, stored as
  *    state (O(|distinct keys|), the exact-dedup admission shape);
  *  - lag_p95_ms / freshest_lag_ms / status: lag is relative to the
  *    GLOBAL high-water mark, which moves with every batch — so raw lags
  *    cannot be stored, but the (table, ts → n_events) rollup preserves
  *    the exact multiset of timestamps, and the board computes
  *    `percentile(lag_ms, 0.95, n_events)` (the frequency-weighted form)
  *    against the current hwm at READ time. Exact percentile parity with
  *    the batch operator, state bounded by distinct (table, ts) pairs.
  *    At 100 TB the rollup coarsens to minutes — [[monitorBatchCoarse]]/
  *    [[boardCoarse]], registered with a spec'd ≤1-bin error contract;
  *    the exact rollup is the spec-parity form.
  *
  * Parity contract ([[StreamLsnTrend]] precedent): replaying the same
  * events through any chunking yields the batch board bit-for-bit —
  * counters are order-free (sums/maxes/set union), and lag math happens
  * only at read time (spec-pinned 3-chunk replay).
  *
  * Idempotency: per-batch state SNAPSHOTS in [[BatchLog]]s, each
  * derived from the N−1 snapshot — an at-least-once replay of batch N
  * overwrites its own snapshot from the same base and converges. */
object StreamStatusBoard {

  final case class Config(statePath: String, checkpointPath: String)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType)))

  private def rollupPath(cfg: Config) = s"${cfg.statePath}/rollup"
  private def rollupMinutePath(cfg: Config) = s"${cfg.statePath}/rollup_minute"
  // each mode owns its keys snapshot chain end-to-end (like rollup vs
  // rollup_minute): sharing one path meant boardCoarse at batch N read a
  // keys snapshot that only existed if the OTHER mode had folded every
  // batch on the same statePath (ADVICE r15)
  private def keysPath(cfg: Config, coarse: Boolean) =
    if (coarse) s"${cfg.statePath}/keys_minute" else s"${cfg.statePath}/keys"

  private val rollupSchema = StructType(Seq(
    StructField("table_name", StringType),
    StructField("ts", TimestampType),
    StructField("n_events", LongType),
    StructField("n_deletes", LongType)))

  private val keysSchema = StructType(Seq(
    StructField("table_name", StringType),
    StructField("user_id", LongType)))

  def start(spark: SparkSession, eventsPath: String, cfg: Config): StreamingQuery =
    MicroBatches.start(
      spark.readStream.schema(eventSchema)
        .option("maxFilesPerTrigger", "4").json(eventsPath),
      cfg.checkpointPath) { (batch, batchId) =>
        monitorBatch(batch.sparkSession, cfg, batch, batchId)
      }

  /** One micro-batch of events (ts, user_id, event_type): fold the batch
    * into the N−1 snapshots, write the N snapshots. Exposed for direct
    * batch use (replay tests). */
  private[graft] def monitorBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit =
    foldBatch(spark, cfg, batch, batchId, coarse = false)

  /** The 100 TB form the exact board's docstring names: the SAME fold,
    * with the rollup key coarsened to the MINUTE. State is bounded by
    * (table, active-minute) pairs — at any event rate, one row per table
    * per minute — instead of distinct exact timestamps, and every
    * read-time lag is off by at most one bin (both hwm and ts truncate
    * down, so the error is two-sided: |coarse − exact| < 60 000 ms).
    * Counters still telescope exactly (sums don't care about the key
    * grain), so n_events / n_deletes / n_keys / delete_share are
    * bit-identical to the exact board; lag_p95_ms carries the hard
    * ≤1-bin bound — tighter than a quantile sketch's rank guarantee, with
    * the same bounded-state shape (StreamStatusBoardSpec pins both).
    * A sketch would add nothing here: after coarsening, the percentile
    * input IS the bounded rollup, so the exact frequency-weighted
    * percentile over it is already cheaper than sketch maintenance. */
  private[graft] def monitorBatchCoarse(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit =
    foldBatch(spark, cfg, batch, batchId, coarse = true)

  private def foldBatch(spark: SparkSession, cfg: Config, batch: DataFrame,
      batchId: Long, coarse: Boolean): Unit = {
    val tsCol = if (coarse) date_trunc("minute", col("ts")) else col("ts")
    val ev = batch.select(
      col("event_type").as("table_name"), col("user_id"), tsCol.as("ts"),
      Cdc.opFromEventType(col("event_type")).as("op"))
    val rPath = if (coarse) rollupMinutePath(cfg) else rollupPath(cfg)
    // (table, ts) rollup: timestamp multiset at the mode's grain,
    // counters telescope
    val batchRollup = ev.groupBy("table_name", "ts")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("op") === "d", 1L).otherwise(0L)).as("n_deletes"))
    val nextRollup = BatchLog.snapshot(spark, rPath, rollupSchema, batchId - 1)
      .unionByName(batchRollup)
      .groupBy("table_name", "ts")
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("n_deletes")).as("n_deletes"))
    BatchLog.write(nextRollup, rPath, batchId)
    // distinct (table, user) set: monotone union
    val nextKeys = BatchLog.snapshot(spark, keysPath(cfg, coarse), keysSchema, batchId - 1)
      .unionByName(ev.select("table_name", "user_id"))
      .dropDuplicates("table_name", "user_id")
    BatchLog.write(nextKeys, keysPath(cfg, coarse), batchId)
  }

  /** The board after `batchId` — bit-parity with
    * [[graft.cdc.Monitoring.statusBoard]] over the replayed events. Lag
    * math runs HERE, against the state's current high-water mark, with
    * the frequency-weighted exact percentile over the rollup. */
  def board(spark: SparkSession, cfg: Config, batchId: Long): DataFrame =
    boardFrom(spark, cfg, batchId, coarse = false)

  /** The board over the minute-coarsened state ([[monitorBatchCoarse]]):
    * counters exact, lag columns within one bin of [[board]]. */
  def boardCoarse(spark: SparkSession, cfg: Config, batchId: Long): DataFrame =
    boardFrom(spark, cfg, batchId, coarse = true)

  private def boardFrom(spark: SparkSession, cfg: Config, batchId: Long,
      coarse: Boolean): DataFrame = {
    val rollup = BatchLog.snapshot(spark,
      if (coarse) rollupMinutePath(cfg) else rollupPath(cfg), rollupSchema, batchId)
    val keys = BatchLog.snapshot(spark, keysPath(cfg, coarse), keysSchema, batchId)
      .groupBy("table_name").agg(count(lit(1)).as("n_keys"))
    val hwm = rollup.agg(max(col("ts")).as("hwm"))
    rollup.crossJoin(broadcast(hwm))
      .withColumn("lag_ms", unix_millis(col("hwm")) - unix_millis(col("ts")))
      .groupBy("table_name")
      .agg(
        sum(col("n_events")).as("n_events"),
        max(col("ts")).as("last_event_ts"),
        sum(col("n_deletes")).as("n_deletes"),
        expr("percentile(lag_ms, 0.95, n_events)").as("lag_p95_ms"),
        min(col("lag_ms")).as("freshest_lag_ms"))
      .join(keys, Seq("table_name"))
      .withColumn("delete_share",
        col("n_deletes").cast("double") / col("n_events").cast("double"))
      .withColumn("status",
        when(col("freshest_lag_ms") <= 3600000L, "active").otherwise("stale"))
      .select("table_name", "n_events", "n_keys", "last_event_ts",
        "delete_share", "lag_p95_ms", "status")
      .orderBy("table_name")
  }
}
