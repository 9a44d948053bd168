package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

/** Continuous replication-freshness SLA ladder — the streaming twin of the
  * batch `cdc_lag_sla` (graft.cdc.Monitoring.lagSla): after every
  * micro-batch, for each standard freshness objective (1 hour / 1 day /
  * 7 days / 30 days against the stream's own high-water mark), the share
  * of ALL events ingested so far that sits within the objective, plus a
  * breach flag against the configured per-tier compliance floor — the
  * live "are we meeting the replication SLA right now" dashboard, next to
  * [[graft.streaming.MixMonitor]]'s mix row.
  *
  * Scale shape: each micro-batch collapses to per-MINUTE event counts
  * (date_trunc, the same calendar-bounded state grain as the batch
  * burst/anomaly monitors) plus one exact max-ts row before anything
  * touches state; state is those deltas partitioned by batch_id, so the
  * cumulative ladder is a conditional aggregation over |minutes| tiny
  * rows, never the events. Both logs are [[BatchLog]]s, and a replayed
  * batch reads only state batches < its own id.
  *
  * Quantization contract: events are credited at their minute's START, so
  * a bucket's imputed lag (hwm − bucket_start) is an UPPER bound on every
  * member event's true lag — compliance is a conservative lower bound,
  * never an overclaim, and is exact for minute-aligned events (the spec
  * pins bit-parity with the batch operator on such a stream). The
  * high-water mark itself is NOT quantized (exact max ts per batch rides
  * along in state). */
object LagSla {

  final case class Config(
      wirePath: String,
      statePath: String,
      checkpointPath: String,
      /** minimum compliant share per tier; a tier under its floor raises
        * `breach` in that batch's ladder row */
      objectives: Map[String, Double] = Map(
        "1_hour" -> 0.95, "2_day" -> 0.99, "3_week" -> 1.0, "4_month" -> 1.0))

  /** Same tiers as the batch operator — the twins must ladder identically. */
  private val slos = Seq(("1_hour", 3600000L), ("2_day", 86400000L),
    ("3_week", 604800000L), ("4_month", 2592000000L))

  private def countsPath(cfg: Config) = s"${cfg.statePath}/counts"
  private def slaPath(cfg: Config) = s"${cfg.statePath}/sla"

  private val countSchema = StructType(Seq(
    StructField("minute", TimestampType),
    StructField("n_events", LongType),
    StructField("max_ts", TimestampType)))

  /** Per-minute event-count deltas for one changelog-shaped batch (`ts`
    * timestamp column) — the bounded state grain. */
  private[graft] def minuteDeltas(batch: DataFrame): DataFrame =
    batch
      .groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("max_ts"))

  /** Start the monitor over the wire (file source, Kafka-swappable like
    * [[graft.sources.WireSource]]): parsed envelopes → event timestamps. */
  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    MicroBatches.start(
      graft.sources.WireSource.readStream(spark, cfg.wirePath)
        .select(timestamp_millis(col("ts_ms")).as("ts")),
      cfg.checkpointPath)(monitorBatch(spark, cfg, _, _))

  /** One micro-batch: persist this batch's per-minute deltas, rebuild the
    * cumulative ladder from state batches ≤ this one, write the 4 ladder
    * rows. Exposed for direct batch use (replay tests drive it directly). */
  private[graft] def monitorBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    val deltas = minuteDeltas(batch)
    BatchLog.write(deltas, countsPath(cfg), batchId)
    // cumulative = prior batches' deltas + this batch's in-memory frame, so
    // a replay that overwrote its own partition still counts itself once
    val prior = BatchLog.before(spark, countsPath(cfg), countSchema, batchId)
      .select("minute", "n_events", "max_ts")
    val cum = prior.unionAll(deltas)
    val hwm = cum.agg(max(col("max_ts")).as("hwm"))
    // bucket lag = hwm − bucket start (upper bound on member lags); the
    // whole ladder is ONE conditional aggregation over |minutes| rows
    val lags = cum.crossJoin(broadcast(hwm))
      .select(col("n_events"),
        (unix_millis(col("hwm")) - unix_millis(col("minute"))).as("lag_ms"))
    val aggCols = sum(col("n_events")).as("n_events") +: slos.map { case (name, ms) =>
      sum(when(col("lag_ms") <= ms, col("n_events")).otherwise(0L)).as(s"w_$name")
    }
    val agged = lags.agg(aggCols.head, aggCols.tail: _*)
    val ladder = agged.select(explode(array(slos.map { case (name, ms) =>
        struct(lit(name).as("slo"), lit(ms).as("slo_ms"),
          col("n_events"), col(s"w_$name").as("n_within"),
          lit(cfg.objectives.getOrElse(name, 1.0)).as("objective"))
      }: _*)).as("s"))
      .select(col("s.slo").as("slo"), col("s.slo_ms").as("slo_ms"),
        col("s.n_events").as("n_events"), col("s.n_within").as("n_within"),
        (col("s.n_within").cast("double") / col("s.n_events").cast("double"))
          .as("compliance"),
        col("s.objective").as("objective"))
      .withColumn("breach", col("compliance") < col("objective"))
    BatchLog.write(ladder, slaPath(cfg), batchId)
  }

  /** Read back the per-batch SLA ladder (4 rows per micro-batch). */
  def sla(spark: SparkSession, cfg: Config): DataFrame =
    BatchLog.history(spark, slaPath(cfg))
      .orderBy("batch_id", "slo")

  /** Error-budget burn view over the persisted ladder — the streaming
    * twin of the batch `cdc_error_budget`: each stored micro-batch ladder
    * row gets the violation budget its objective buys (exact integer
    * floor(n·(10000−bps)/10000); the stored double objective rounds back
    * to basis points first, so 0.95 is 9500 and not 9499), the observed
    * violations, a within-budget/exhausted status and the burn ratio
    * (null for a zero budget). Pure read-side projection — no new state,
    * so it inherits [[monitorBatch]]'s replay idempotency. */
  def errorBudget(spark: SparkSession, cfg: Config): DataFrame =
    sla(spark, cfg)
      .withColumn("objective_bps", round(col("objective") * 10000).cast("long"))
      .withColumn("violations", col("n_events") - col("n_within"))
      .withColumn("allowed",
        expr("(n_events * (10000 - objective_bps)) div 10000"))
      .withColumn("status",
        when(col("violations") <= col("allowed"), "within_budget")
          .otherwise("exhausted"))
      .withColumn("burn_ratio",
        when(col("allowed") > 0,
          col("violations").cast("double") / col("allowed").cast("double")))
      .select("batch_id", "slo", "objective_bps", "n_events", "n_within",
        "violations", "allowed", "status", "burn_ratio")
      .orderBy("batch_id", "slo")
}
