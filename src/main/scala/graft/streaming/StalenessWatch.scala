package graft.streaming

import graft.sinks.DirSwap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Continuous table-liveness watch — the streaming twin of the batch
  * `cdc_table_staleness` audit, in the frozen-handshake shape of
  * [[OutlierMonitor]]: the BATCH pass publishes each table's historical
  * cadence (mean and max inter-event gap), the stream maintains a tiny
  * last-seen state table and, per micro-batch, flags every declared
  * table whose CURRENT silence against the stream clock exceeds its own
  * frozen max gap (`overdue`) — or that has never arrived at all
  * (`missing`). Re-deriving cadence from the stream itself would let a
  * stalling connector stretch its own baseline and never alarm;
  * freezing it is the point.
  *
  * The stream clock is the max last-seen ms across ALL tables (stream
  * time, not wall time — same convention as the batch op's high-water
  * mark), so a fully stalled pipeline does not false-alarm every table:
  * that is the [[LagSla]] family's job to catch.
  *
  * Scale shape: each micro-batch reduces to ≤|tables| (table, max ms)
  * rows before anything leaves the executors; the state table is
  * |tables| rows merged monotonically (max), so an at-least-once replay
  * can never move it backwards; the alert log is a [[BatchLog]].
  */
object StalenessWatch {

  /** Frozen per-table cadence: the numbers `cdc_table_staleness`
    * publishes (mean/max inter-event gap in ms). */
  final case class Cadence(meanGapMs: Double, maxGapMs: Long)

  final case class Config(
      statePath: String,
      alertPath: String,
      checkpointPath: String,
      cadence: Map[String, Cadence])

  val eventSchema: StructType = StructType(Seq(
    StructField("table_name", StringType),
    StructField("ms", LongType)))

  /** The handshake: derive the frozen cadence map from the BATCH
    * staleness audit's output (bounded collect — |tables| rows).
    * Tables with fewer than 2 events have no cadence and are skipped. */
  def cadenceOf(stalenessRows: DataFrame): Map[String, Cadence] =
    stalenessRows
      .where(col("n_events") >= 2L && col("mean_gap_ms").isNotNull)
      .select("table_name", "mean_gap_ms", "max_gap_ms")
      .collect()
      .map(r => r.getString(0) -> Cadence(r.getDouble(1), r.getLong(2)))
      .toMap

  private val stateSchema = StructType(Seq(
    StructField("table_name", StringType),
    StructField("last_ms", LongType)))

  /** The last-seen table; absent before the first batch. It is replaced
    * through a [[DirSwap]], so a crash mid-swap leaves it at `.bak`, where
    * it is read from. A state that exists but cannot be read fails the
    * batch — read as empty, the batch would overwrite every other table's
    * last-seen time. */
  private def readState(spark: SparkSession, cfg: Config): Map[String, Long] =
    DirSwap.committed(spark, cfg.statePath) match {
      case None => Map.empty
      case Some(src) => spark.read.schema(stateSchema).parquet(src)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  /** Process one micro-batch: merge last-seen, score every declared
    * table against its frozen cadence, append the batch's alert rows. */
  def watchBatch(spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    // executors reduce the batch to <= |tables| rows before this collect
    val seen = batch.groupBy("table_name").agg(max(col("ms")).as("last_ms"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val prior = readState(spark, cfg)
    // monotone max-merge: a replayed batch can never move a table backwards
    val merged = (prior.keySet ++ seen.keySet).map { t =>
      t -> math.max(prior.getOrElse(t, Long.MinValue), seen.getOrElse(t, Long.MinValue))
    }.toMap
    if (merged.nonEmpty) {
      val hwm = merged.values.max
      val alerts = cfg.cadence.toSeq.sortBy(_._1).map { case (t, c) =>
        merged.get(t) match {
          case Some(last) =>
            val silence = hwm - last
            val status = if (silence > c.maxGapMs) "overdue" else "ok"
            (t, last, silence, silence.toDouble / c.meanGapMs, status)
          case None =>
            (t, -1L, -1L, Double.NaN, "missing")
        }
      }
      BatchLog.write(
        alerts.toDF("table_name", "last_ms", "silence_ms", "staleness_score", "status"),
        cfg.alertPath, batchId)
      val tmp = cfg.statePath + ".tmp"
      merged.toSeq.toDF("table_name", "last_ms")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      DirSwap.commit(spark, tmp, cfg.statePath)
    }
  }

  /** The alert log (all batches). */
  def alerts(spark: SparkSession, cfg: Config): DataFrame =
    BatchLog.history(spark, cfg.alertPath)

  /** Start the watch over a (table_name, ms) event stream. */
  def start(spark: SparkSession, eventsPath: String, cfg: Config): StreamingQuery =
    MicroBatches.start(
      spark.readStream.schema(eventSchema)
        .option("maxFilesPerTrigger", "4").json(eventsPath),
      cfg.checkpointPath) { (batch, batchId) =>
        watchBatch(batch.sparkSession, cfg, batch, batchId)
      }
}
