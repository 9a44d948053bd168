package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuous offset-continuity monitor — the streaming twin of the
  * batch backfill family (`cdc_offset_gaps` / `cdc_backfill_ranges`;
  * graft.cdc.Monitoring.offsetGaps / backfillRanges). Gap detection is
  * where a live monitor matters most: a lost offset is actionable the
  * micro-batch it fails to arrive, not at the next nightly audit.
  *
  * The fold state is ISLANDS, not events: each micro-batch reduces to
  * its per-topic contiguous observed-offset ranges (start, end), and
  * interval union is associative + order-independent, so merging all
  * batches' islands reproduces the batch operator's view of the full
  * wire EXACTLY — regardless of how arrivals were split across batches
  * or in what order ranges landed (the spec replays both a range split
  * and an interleaved mod-3 split). From the merged islands both
  * reports fall out closed-form:
  *   - gaps report (per topic): n_messages = Σ island sizes,
  *     min/max offset from the island extremes, n_missing by
  *     subtraction, max_gap/n_gaps from inter-island holes — the exact
  *     columns of [[graft.cdc.Monitoring.offsetGaps]];
  *   - backfill ranges: the inter-island holes themselves, one row per
  *     contiguous missing range — [[graft.cdc.Monitoring.backfillRanges]].
  *
  * Scale shape: per-batch windows partition on topic (the batch op's own
  * shuffle key) and run over the BATCH's rows only; the cross-batch fold
  * windows run over islands — bounded by the number of observed
  * discontinuities, never the event count (a healthy topic is ONE island
  * however many trillions of offsets it carries). All three logs are
  * [[BatchLog]]s and the fold reads only batches ≤ its own id: an
  * at-least-once replay overwrites its own partition and never
  * double-counts.
  */
object StreamBackfill {

  final case class Config(
      wirePath: String,
      statePath: String,
      checkpointPath: String)

  private def islandsPath(cfg: Config) = s"${cfg.statePath}/islands"
  private def gapsPath(cfg: Config) = s"${cfg.statePath}/gaps"
  private def rangesPath(cfg: Config) = s"${cfg.statePath}/ranges"

  private val islandSchema = StructType(Seq(
    StructField("topic", StringType),
    StructField("start", LongType),
    StructField("end", LongType)))

  /** One batch of (topic, offset) arrivals reduced to its contiguous
    * observed ranges — the gaps-and-islands constant `offset − row_number`
    * island key, per topic. Everything the fold needs. */
  private[graft] def batchIslands(batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("topic").orderBy("offset")
    batch
      .select(col("topic"), col("offset"))
      .withColumn("isl", col("offset") - row_number().over(w))
      .groupBy("topic", "isl")
      .agg(min(col("offset")).as("start"), max(col("offset")).as("end"))
      .select("topic", "start", "end")
  }

  /** Merge per-batch islands into the union of observed ranges: running
    * max of `end` over the start-ordered islands per topic; a new merged
    * group opens when an island starts past that max + 1 (adjacent
    * ranges from different batches coalesce — offsets 1-10 then 11-20 is
    * ONE island). Runs over islands only, never events. */
  private[graft] def mergeIslands(islands: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("topic").orderBy("start", "end")
    val wPrev = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    islands
      .withColumn("reach", max(col("end")).over(wPrev))
      .withColumn("opens",
        when(col("reach").isNull || col("start") > col("reach") + 1, 1L).otherwise(0L))
      .withColumn("grp", sum(col("opens")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("topic", "grp")
      .agg(min(col("start")).as("start"), max(col("end")).as("end"))
      .select("topic", "start", "end")
  }

  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    MicroBatches.start(
      graft.sources.WireSource.readRawStream(spark, cfg.wirePath)
        .select(col("topic"), col("offset")),
      cfg.checkpointPath)(monitorBatch(spark, cfg, _, _))

  /** One micro-batch: persist this batch's islands, fold every island
    * with batch_id ≤ this one into the merged observed ranges, emit both
    * reports. Exposed for direct batch use (replay tests drive it). */
  private[graft] def monitorBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    val islands = batchIslands(batch)
    BatchLog.write(islands, islandsPath(cfg), batchId)
    val merged = mergeIslands(
      BatchLog.before(spark, islandsPath(cfg), islandSchema, batchId)
        .select("topic", "start", "end")
        .unionByName(islands))
    // inter-island holes: the gap BEFORE each island (from the previous
    // island's end) — the backfill ranges, and the gap stats' raw rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("topic").orderBy("start")
    val holed = merged.withColumn("prev_end", lag(col("end"), 1).over(w))
    val ranges = holed
      .where(col("prev_end").isNotNull)
      .select(
        col("topic"),
        (col("prev_end") + 1).as("gap_from"),
        (col("start") - 1).as("gap_to"),
        (col("start") - col("prev_end") - 1).as("n_missing"))
    BatchLog.write(ranges, rangesPath(cfg), batchId)
    val gaps = holed
      .groupBy("topic")
      .agg(
        sum(col("end") - col("start") + 1).as("n_messages"),
        min(col("start")).as("min_offset"),
        max(col("end")).as("max_offset"),
        (max(col("end")) - min(col("start")) + 1
          - sum(col("end") - col("start") + 1)).as("n_missing"),
        coalesce(max(col("start") - col("prev_end") - 1), lit(0L)).as("max_gap"),
        count(when(col("prev_end").isNotNull, 1)).as("n_gaps"))
    BatchLog.write(gaps, gapsPath(cfg), batchId)
  }

  /** Read back the per-batch cumulative offset-continuity report — the
    * streamed [[graft.cdc.Monitoring.offsetGaps]]. */
  def gaps(spark: SparkSession, cfg: Config): DataFrame =
    BatchLog.history(spark, gapsPath(cfg))
      .orderBy("batch_id", "topic")

  /** Read back the per-batch backfill plan — the streamed
    * [[graft.cdc.Monitoring.backfillRanges]]. */
  def ranges(spark: SparkSession, cfg: Config): DataFrame =
    BatchLog.history(spark, rangesPath(cfg))
      .orderBy("batch_id", "topic", "gap_from")
}
