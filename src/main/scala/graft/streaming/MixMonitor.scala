package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Continuous mix-landing monitor — the streaming twin of the batch
  * `pipe_mix_drift` check: the batch planner (`pipe_domain_mix` /
  * `pipe_temperature_mix`) decides a TARGET per-source token mix, and
  * this query watches the ingest stream to report, after every
  * micro-batch, how far the corpus ingested SO FAR sits from that
  * target (total-variation distance) and which source is the worst
  * offender — the "is the sampler actually landing the plan?" dashboard
  * row, with an alert flag once drift exceeds the configured budget.
  *
  * Scale shape: each micro-batch aggregates to per-source token DELTAS
  * before anything touches state; state is those deltas partitioned by
  * batch_id, so the cumulative view is a pruned scan of
  * |batches|×|sources| tiny rows, never the documents. The drift math
  * runs on the ≤|sources| cumulative rows collected to the driver —
  * the same rows the batch operator's final one-row aggregation holds —
  * with the module's 2⁴⁰ gap quantization, so a replayed batch
  * recomputes bit-identical drift. Both logs are [[BatchLog]]s:
  * at-least-once delivery overwrites exactly its own partition, and a
  * replayed batch reads only state batches < its own id, so it never
  * double-counts its previous write.
  */
object MixMonitor {

  final case class Config(
      docsPath: String,
      statePath: String,
      checkpointPath: String,
      targets: Map[String, Double],
      alertTv: Double = 0.1)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("text", StringType)))

  private val Q = 1099511627776.0 // 2^40

  private def countsPath(cfg: Config) = s"${cfg.statePath}/counts"
  private def driftPath(cfg: Config) = s"${cfg.statePath}/drift"

  private val countSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("n_tokens", LongType)))

  /** Per-source whitespace-token deltas for one batch of documents —
    * the same token definition the batch budget/mix operators use, with
    * an empty-document guard: split(trim(''), '\\s+') yields [""] with
    * size 1, and a monitor that credits phantom tokens to whichever
    * source ships empty docs would skew the very drift it polices (the
    * batch twins run on the curated corpus, where empty texts are
    * already filtered out; the wire is not curated yet). Counting
    * non-empty split pieces — rather than a trim()-emptiness test —
    * also covers tab/newline-only docs, which sql trim (spaces only)
    * leaves non-empty. */
  private[graft] def tokenDeltas(batch: DataFrame): DataFrame =
    batch
      .select(col("source"),
        size(filter(split(col("text"), "\\s+"),
          t => length(t) > 0)).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(sum(col("n_tokens")).as("n_tokens"))

  /** Drift of a cumulative (source, n_tokens) table against the target
    * mix: (n_sources, corpus_tokens, tv_distance, max_gap,
    * max_gap_source). Runs on ≤ |sources ∪ targets| rows; gaps are
    * 2⁴⁰-quantized before summing, the argmax ties to the larger source
    * name — deterministic and replay-stable. */
  private[graft] def driftOf(cum: Seq[(String, Long)], targets: Map[String, Double])
      : (Long, Long, Double, Double, String) = {
    val total = cum.map(_._2).sum
    val sources = (cum.map(_._1) ++ targets.keys).distinct.sorted
    val current = cum.toMap
    val gaps = sources.map { s =>
      val share = if (total == 0L) 0.0 else current.getOrElse(s, 0L).toDouble / total.toDouble
      val gap = math.abs(share - targets.getOrElse(s, 0.0))
      (s, gap, math.floor(gap * Q).toLong)
    }
    val tv = gaps.map(_._3).sum.toDouble / Q / 2.0
    val (worst, maxGap, _) =
      if (gaps.isEmpty) ("", 0.0, 0L)
      else gaps.maxBy { case (s, _, gq) => (gq, s) }
    (sources.length.toLong, total, tv, maxGap, worst)
  }

  /** Start the monitor over a JSON-lines document feed (swap the file
    * source for `format("kafka")` exactly like
    * [[graft.sources.WireSource]]). */
  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    MicroBatches.start(
      spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").json(cfg.docsPath),
      cfg.checkpointPath)(monitorBatch(spark, cfg, _, _))

  /** One micro-batch: persist this batch's per-source token deltas,
    * rebuild the cumulative mix from state batches ≤ this one, append
    * the drift row. Exposed for direct batch use. */
  private[graft] def monitorBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    val deltas = tokenDeltas(batch)
    BatchLog.write(deltas, countsPath(cfg), batchId)
    // cumulative = prior batches' deltas + this batch's (freshly written —
    // but summed from the in-memory frame, so a replay that overwrote its
    // own partition still counts itself exactly once)
    val prior = BatchLog.before(spark, countsPath(cfg), countSchema, batchId)
      .select("source", "n_tokens")
    val cum = prior.unionAll(deltas)
      .groupBy("source").agg(sum(col("n_tokens")).as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val (nSources, total, tv, maxGap, worst) = driftOf(cum, cfg.targets)
    val row = Seq((nSources, total, tv, maxGap, worst, tv > cfg.alertTv))
    import spark.implicits._
    BatchLog.write(
      row.toDF("n_sources", "corpus_tokens", "tv_distance",
        "max_gap", "max_gap_source", "alert"),
      driftPath(cfg), batchId)
  }

  /** Read back the per-batch drift log for dashboards/tests. */
  def drift(spark: SparkSession, cfg: Config): DataFrame =
    BatchLog.history(spark, driftPath(cfg))
}
