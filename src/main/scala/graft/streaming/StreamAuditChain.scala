package graft.streaming

import graft.cdc.Cdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Continuous tamper-evident audit chain — the streaming twin of the
  * batch `cdc_audit_chain` (graft.cdc.Monitoring.auditChain), and the
  * one monitor where INCREMENTAL maintenance is the entire point: the
  * batch operator re-folds every key's full history per run (md5 chains
  * don't skip-merge), while a hash chain is precisely a left fold —
  * state (per key: chain head + link count) extends by folding only the
  * NEW links on top of the stored head. At 100 TB of history the batch
  * recompute reads everything ever written; the stream reads one batch.
  *
  * Parity contract (the [[StreamLsnTrend]] precedent): on an IN-ORDER
  * replay — batches respect each key's (t, seq, payload) chain order,
  * which a seq-ordered CDC wire delivers — the streamed head equals the
  * batch operator's chain_hash bit-for-bit (spec-pinned). Out-of-order
  * arrivals are a re-fold, not a merge; detecting them is
  * `cdc_order_violations` / `stream_backfill`'s job, and the reference
  * semantics (an append-only audit log) match the in-order contract.
  *
  * Idempotency: per-batch state SNAPSHOTS in a [[BatchLog]]
  * (state-after-batch-N), each derived from the N−1 snapshot — an
  * at-least-once replay of batch N overwrites its own snapshot from the
  * same N−1 base and converges to the same head. State is O(|keys|). */
object StreamAuditChain {

  final case class Config(
      wirePath: String,
      statePath: String,
      checkpointPath: String)

  private def chainsPath(cfg: Config) = s"${cfg.statePath}/chains"

  private val chainSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("n_links", LongType),
    StructField("chain_hash", StringType)))

  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    MicroBatches.start(
      Cdc.envelopeChangelog(graft.sources.WireSource.readStream(spark, cfg.wirePath)),
      cfg.checkpointPath)(monitorBatch(spark, cfg, _, _))

  /** One micro-batch of changelog rows (pk, ts, seq, op, value): fold the
    * batch's links per key on top of the N−1 snapshot's chain head, write
    * the N snapshot. Exposed for direct batch use (replay tests). */
  private[graft] def monitorBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    // the batch operator's exact payload rendering (Monitoring.auditChain)
    val payload = concat_ws(":",
      col("op"), graft.dec(col("value"), 18, 2).cast("string"), col("seq").cast("string"))
    val newLinks = batch
      .select(col("pk").as("user_id"),
        unix_millis(col("ts")).as("t"), col("seq"), payload.as("payload"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("new_links"),
        // in-chain-order payloads of THIS batch only — bounded by the
        // key's share of one micro-batch, never its full history
        transform(array_sort(collect_list(struct(col("t"), col("seq"), col("payload")))),
          x => x.getField("payload")).as("ps"))
    val prior = BatchLog.snapshot(spark, chainsPath(cfg), chainSchema, batchId - 1)
    val next = prior
      .join(newLinks, Seq("user_id"), "full")
      .select(
        col("user_id"),
        (coalesce(col("n_links"), lit(0L)) + coalesce(col("new_links"), lit(0L)))
          .as("n_links"),
        aggregate(
          coalesce(col("ps"), array().cast("array<string>")),
          // seed = the stored chain head; a brand-new key starts from the
          // batch operator's literal seed
          coalesce(col("chain_hash"), lit("graft-chain-seed")),
          (acc, x) => md5(concat(acc, x))).as("chain_hash"))
    BatchLog.write(next, chainsPath(cfg), batchId)
  }

  /** Read back the chain state after `batchId` — the streamed
    * [[graft.cdc.Monitoring.auditChain]]. */
  def chains(spark: SparkSession, cfg: Config, batchId: Long): DataFrame =
    BatchLog.snapshot(spark, chainsPath(cfg), chainSchema, batchId).orderBy("user_id")
}
