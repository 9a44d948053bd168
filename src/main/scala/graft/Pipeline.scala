package graft

import graft.cdc.Materialize
import graft.sinks.TableSink
import graft.sources.WireSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The product surface: one call builds and starts a replication pipeline
  * — the Spark-native form of the reference's CDCManager
  * (reference: backend/ingestion/cdc_manager.py create_pipeline /
  * start_pipeline, pipeline_service.py lifecycle).
  *
  * A pipeline is: wire source (Kafka-swappable) → envelope parse/unwrap →
  * changelog → per-micro-batch upsert into the state table, with optional
  * full-load snapshot first (enable_full_load). Monitoring reads the
  * query's progress, mirroring metrics_collector.
  */
object Pipeline {

  final case class Config(
      wirePath: String,
      statePath: String,
      checkpointPath: String,
      fullLoadFrom: Option[DataFrame] = None,
      dlqPath: Option[String] = None,
      // fanout routing list — the reference's static `table.include.list`
      // (debezium_config.py table_include_list). Empty = discover once from
      // the wire at start (convenience for backfills/tests).
      fanoutTables: Seq[String] = Nil)

  /** Convert parsed envelopes into the canonical changelog shape. */
  private def toChangelog(envelopes: DataFrame): DataFrame =
    envelopes.select(
      col("op"),
      coalesce(col("after.user_id"), col("before.user_id")).as("pk"),
      timestamp_millis(col("ts_ms")).as("ts"),
      col("offset").as("seq"),
      coalesce(col("after.value"), col("before.value")).as("value"))

  /** Create + start: optional full load, then continuous apply. Each
    * micro-batch merges into the state table with upsert semantics —
    * idempotent, so at-least-once delivery is exactly-once in the table. */
  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    // full load (transfer.py equivalent): seed the state table with the
    // snapshot columns at their declared types — a seed missing one fails
    // here, at start, not later as nulls in a declared-schema read
    val seed = cfg.fullLoadFrom match {
      case Some(snapshot) =>
        snapshot.select(TableSink.snapshotSchema.fields.toSeq
          .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], TableSink.snapshotSchema)
    }
    // Seed only on first start: a restart from checkpoint must keep the
    // existing state (the stream will deliver only unprocessed files).
    // stateExists also sees the .bak a crashed swap leaves — seeding over
    // that window would replace the only surviving copy with an empty table.
    if (!TableSink.stateExists(spark, cfg.statePath))
      TableSink.writeSnapshot(seed, "user_id", cfg.statePath)

    WireSource.readStream(spark, cfg.wirePath)
      .writeStream
      .option("checkpointLocation", cfg.checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-message parse guard (the reference consumer's try/except):
        // an unroutable envelope goes to the DLQ, never into the apply —
        // one poisoned message must not corrupt state or kill the query
        val bad = batch.where(col("op").isNull)
        cfg.dlqPath.foreach { p =>
          // idempotent under micro-batch replay: each batch owns its
          // batch_id partition, and a retry overwrites only that partition
          bad.select("topic", "offset").withColumn("batch_id", lit(batchId))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(p)
        }
        TableSink.upsert(spark, cfg.statePath,
          toChangelog(batch.where(col("op").isNotNull)))
        ()
      }
      .start()
  }

  /** Multi-table pipeline (table.include.list): one wire stream fans out
    * to a state table per routed table name. Each micro-batch splits by
    * the topic-derived table and upserts each slice into its own state
    * path — the per-table apply is identical to the single-table path.
    *
    * The routing list is static provisioning config, so it is resolved
    * ONCE here (from `cfg.fanoutTables`, or one discovery scan of the wire
    * when unset) — the micro-batch body does no driver-side
    * distinct/collect. Tables outside the list are not consumed, exactly
    * like topics a connector never subscribed to. */
  def startFanout(spark: SparkSession, cfg: Config): StreamingQuery = {
    val staticTables: Seq[String] =
      if (cfg.fanoutTables.nonEmpty) cfg.fanoutTables
      else WireSource.readBatch(spark, cfg.wirePath)
        .select("table_name").distinct().collect().map(_.getString(0)).toSeq
    WireSource.readStream(spark, cfg.wirePath)
      .writeStream
      .option("checkpointLocation", cfg.checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one materialization of the micro-batch, |tables| cheap slices
        batch.persist()
        try {
          // same poisoned-message guard as the single-table path: a null-op
          // envelope must land in the DLQ, not vanish inside the merge's
          // op filter with no trace
          val bad = batch.where(col("op").isNull)
          cfg.dlqPath.foreach { p =>
            bad.select("topic", "offset").withColumn("batch_id", lit(batchId))
              .write.partitionBy("batch_id")
              .option("partitionOverwriteMode", "dynamic")
              .mode("overwrite").parquet(p)
          }
          val good = batch.where(col("op").isNotNull)
          // static list when provisioned (the reference's table.include.list);
          // if neither config nor start-time discovery found tables (wire
          // was empty at start), fall back to discovering from THIS batch —
          // a bounded collect over the persisted micro-batch, never silent
          // event loss for late-appearing tables
          val tables: Seq[String] =
            if (staticTables.nonEmpty) staticTables
            else good.select("table_name").distinct().collect().map(_.getString(0)).toSeq
          tables.foreach { t =>
            val slice = toChangelog(good.where(col("table_name") === t))
            val path = s"${cfg.statePath}/$t"
            // limit-1 probe on the persisted batch, not a shuffle: idle
            // tables must not pay a state rewrite every micro-batch
            if (!slice.isEmpty) {
              if (!TableSink.stateExists(spark, path))
                // weighted seed: carries the per-key applied watermark
                // (max_seq), so a checkpoint replay of the seeding batch
                // is dropped by upsert instead of double-counted; the
                // tombstone-keeping form so a key deleted at the end of
                // the seed batch keeps its watermark and count too
                TableSink.writeSnapshot(
                  Materialize.latestStateWeighted(slice.withColumn("weight", lit(1L))),
                  "user_id", path)
              else
                TableSink.upsert(spark, path, slice)
            }
            ()
          }
        } finally { batch.unpersist(); () }
        ()
      }
      .start()
  }

  /** Run the single-table pipeline under the auto-recovery policy
    * ([[graft.cdc.Recovery]], the reference's recover_failed_pipeline):
    * rebuild-and-restart from the same checkpoint on failure, capped
    * attempts, give-up with the attempt log. `run` drives each started
    * query (production: `_.awaitTermination()`; tests drain with
    * processAllAvailable). The checkpoint + idempotent upsert make the
    * replayed micro-batch harmless, so restart IS recovery. */
  def runSupervised(
      spark: SparkSession,
      cfg: Config,
      run: org.apache.spark.sql.streaming.StreamingQuery => Unit = _.awaitTermination(),
      maxRestarts: Int = 3,
      delayMs: Long = 60000L): graft.cdc.Recovery.Outcome =
    graft.cdc.Recovery.supervise(() => start(spark, cfg), run, maxRestarts, delayMs)

  /** Result of an operator-initiated pause — the reference's stop_pipeline
    * response shape (pipeline_id / stopped flags / status). */
  final case class PauseResult(id: String, status: String, lastBatchId: Long)

  /** Graceful operator-initiated stop — the Spark-native form of the
    * reference's pause-before-delete (cdc_manager.py:2305-2330
    * stop_pipeline PAUSES the connectors; the checkpoint/offsets survive so
    * a later resume continues where it left off).
    *
    * `drain = true` (default) first lets every buffered wire file process
    * to a batch boundary, so the pause point is clean. Set `drain = false`
    * for a source with continuous arrivals (drain would chase its tail):
    * stopping mid-batch is still safe — an uncommitted micro-batch is
    * replayed on resume, and [[graft.sinks.TableSink.upsert]]'s per-key
    * watermark makes the replay a no-op, so pause NEVER costs an event or
    * a duplicate apply either way. The checkpoint is retained: this is
    * pause, not teardown. */
  def pause(q: StreamingQuery, drain: Boolean = true): PauseResult = {
    if (drain) q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    PauseResult(q.id.toString, "PAUSED",
      Option(q.lastProgress).map(_.batchId).getOrElse(-1L))
  }

  /** Resume a paused pipeline: [[start]] against the SAME config. The
    * retained checkpoint delivers only wire files not yet committed, the
    * state-seed guard skips re-seeding, and the upsert watermark drops any
    * replayed boundary batch — so events that accumulated during the pause
    * are applied exactly once and nothing before the pause is reapplied.
    * Fails loudly if the checkpoint is absent (that is a first start, not
    * a resume — use [[start]]). */
  def resume(spark: SparkSession, cfg: Config): StreamingQuery = {
    val ckpt = new org.apache.hadoop.fs.Path(cfg.checkpointPath)
    val fs = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(ckpt),
      s"resume: no checkpoint at ${cfg.checkpointPath} — this would be a first start; use start()")
    start(spark, cfg)
  }

  /** Pipeline status from the live query (metrics_collector surface). */
  def status(q: StreamingQuery): Map[String, Any] = {
    val p = Option(q.lastProgress)
    Map(
      "id" -> q.id.toString,
      "isActive" -> q.isActive,
      "batchId" -> p.map(_.batchId).getOrElse(-1L),
      "numInputRows" -> p.map(_.numInputRows).getOrElse(0L),
      "inputRowsPerSecond" -> p.map(_.inputRowsPerSecond).getOrElse(0.0))
  }

  /** Batch (non-continuous) form of the same pipeline, for backfills. */
  def runBatch(spark: SparkSession, wirePath: String, statePath: String): DataFrame = {
    val changes = toChangelog(WireSource.readBatch(spark, wirePath))
    TableSink.writeSnapshot(Materialize.latestSnapshot(changes), "user_id", statePath)
    spark.read.parquet(statePath)
  }
}
