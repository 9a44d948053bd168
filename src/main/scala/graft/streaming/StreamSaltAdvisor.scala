package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuous salt advisor — the streaming twin of the batch
  * `cdc_salt_advisor` (graft.cdc.Monitoring.saltAdvisor): the apply-
  * topology decision panel (key counts, skew ratio, p99, recommended
  * salt), maintained incrementally as changes arrive instead of
  * recomputed over the whole changelog. A live pipeline reads the latest
  * row to decide when the hot-key materializer needs re-salting — the
  * panel that is consulted BEFORE the decision the reference's sink
  * config hard-codes.
  *
  * The telescoping trick ([[StreamLsnTrend]]'s pattern at the per-key
  * grain): each micro-batch reduces to (pk, n_events) rows; counts are
  * associative, so folding all batch deltas with a pk-keyed sum
  * reproduces the batch operator's per-key count table EXACTLY, and the
  * count-of-counts + window tail (SHARED code:
  * Monitoring.saltAdvisorFromPerKey) then emits the identical panel —
  * streamed ≡ batch bit-for-bit on any replay split (spec-pinned).
  *
  * Scale shape: delta rows per batch are bounded by the batch's key
  * span; the fold is one map-side-combined sum keyed by pk (the same
  * shuffle the batch op pays once) and the decision tail runs over the
  * count-of-counts table, bounded by distinct count VALUES. Both logs
  * are [[BatchLog]]s and the fold takes only batches ≤ its own id, so an
  * at-least-once replay overwrites its own partition and never
  * double-counts.
  */
object StreamSaltAdvisor {

  final case class Config(
      wirePath: String,
      statePath: String,
      checkpointPath: String,
      targetPerTask: Long = 10000L)

  private def deltasPath(cfg: Config) = s"${cfg.statePath}/deltas"
  private def reportPath(cfg: Config) = s"${cfg.statePath}/report"

  private val deltaSchema = StructType(Seq(
    StructField("pk", LongType),
    StructField("n_events", LongType)))

  /** One batch of pk arrivals reduced to the per-key grain. */
  private[graft] def batchDeltas(batch: DataFrame): DataFrame =
    batch.groupBy("pk").agg(count(lit(1)).as("n_events"))

  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    MicroBatches.start(
      // pk off the parsed envelope: a delete carries only `before`
      graft.sources.WireSource.readStream(spark, cfg.wirePath)
        .select(coalesce(col("after.user_id"), col("before.user_id")).as("pk")),
      cfg.checkpointPath)(monitorBatch(spark, cfg, _, _))

  /** One micro-batch: persist this batch's per-key deltas, fold every
    * delta with batch_id ≤ this one into the per-key count table, and
    * emit the advisor panel through the SHARED batch decision tail.
    * Exposed for direct batch use (replay tests drive it directly). */
  private[graft] def monitorBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    val deltas = batchDeltas(batch)
    BatchLog.write(deltas, deltasPath(cfg), batchId)
    // fold: counts are associative — the pk-keyed sum over all deltas IS
    // the batch operator's per-key count table
    val perKey = BatchLog.before(spark, deltasPath(cfg), deltaSchema, batchId)
      .select("pk", "n_events")
      .unionByName(deltas)
      .groupBy("pk")
      .agg(sum(col("n_events")).as("cnt"))
    BatchLog.write(graft.cdc.Monitoring.saltAdvisorFromPerKey(perKey, cfg.targetPerTask),
      reportPath(cfg), batchId)
  }

  /** The emitted per-batch panel history (one row per micro-batch). */
  private[graft] def panel(spark: SparkSession, cfg: Config): DataFrame =
    BatchLog.history(spark, reportPath(cfg))
}
