package graft.streaming

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming corpus admission — `dedup_incremental` as a continuous
  * pipeline: every micro-batch of incoming documents is band-joined
  * against the PERSISTED signature index, near-duplicates of already-
  * admitted documents are rejected, and the survivors' signatures are
  * appended to the index. This is the "never ingest a near-dup twice"
  * guard for a training corpus that grows by crawl — the streaming twin
  * of the batch operator, sharing its exact shingle/minhash/band
  * machinery so streaming-admitted and batch-built index state are
  * interchangeable.
  *
  * Within a micro-batch the lower doc_id acts as the member for its
  * band-collision partners (a batch containing two copies admits one),
  * regardless of the lower doc's own verdict — conservative: a document
  * rejected against the index still blocks its in-batch copies, which
  * can only reject text that duplicates something already seen.
  *
  * Scale shape: per batch, cost is the batch's band-bucket overlap with
  * the index — never |index|² and never a rescan of raw index text (only
  * the shingle/band state tables are read). All three state logs are
  * [[BatchLog]]s, so a replayed micro-batch overwrites exactly its own
  * partition — idempotent under at-least-once delivery.
  */
object CorpusAdmission {

  final case class Config(
      docsPath: String,
      statePath: String,
      checkpointPath: String,
      threshold: Double = 0.6)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def shinglesPath(cfg: Config) = s"${cfg.statePath}/shingles"
  private def bandsPath(cfg: Config) = s"${cfg.statePath}/bands"
  private def decisionsPath(cfg: Config) = s"${cfg.statePath}/decisions"

  private val shingleSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("shingles", ArrayType(StringType))))
  private val bandSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("band_id", IntegerType),
    StructField("band_key", StringType)))

  /** Start the continuous admission query over a JSON-lines document
    * feed (swap the file source for `format("kafka")` exactly like
    * [[graft.sources.WireSource]]). */
  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    MicroBatches.start(
      spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").json(cfg.docsPath),
      cfg.checkpointPath)(admitBatch(spark, cfg, _, _))

  /** One micro-batch: decide every incoming doc, persist decisions and
    * the admitted docs' signature state. Exposed for direct batch use
    * (a backfill is the same operation with a big batch). */
  private[graft] def admitBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit = {
    val sh = Dedup.shinglesOf(batch).persist()
    // bands feeds both sides of the self-join AND the state write —
    // persist it too, or the 16-permutation signature subtree re-executes
    // per consumer on every micro-batch
    val bands = Dedup.bandsOf(sh).persist()
    try {
      // the index visible to batch N is exactly the state batches < N
      // wrote: a REPLAYED batch must not match against its own previous
      // write (it would reject everything against itself), and the
      // batch_id partitioning makes the exclusion a pruned scan
      val idxSh = BatchLog.before(spark, shinglesPath(cfg), shingleSchema, batchId)
        .select("doc_id", "shingles")
      val idxBands = BatchLog.before(spark, bandsPath(cfg), bandSchema, batchId)
        .select("doc_id", "band_id", "band_key")

      // candidates: batch × index, plus batch × batch with the lower id
      // as the member side — bare id pairs only, no shingle arrays yet
      val candIdx = bands
        .join(idxBands.withColumnRenamed("doc_id", "match_id"), Seq("band_id", "band_key"))
        .select(col("doc_id"), col("match_id"))
      val candSelf = bands
        .join(
          bands.select(col("band_id"), col("band_key"), col("doc_id").as("match_id")),
          Seq("band_id", "band_key"))
        .where(col("doc_id") > col("match_id"))
        .select(col("doc_id"), col("match_id"))
      val cands = candIdx.unionAll(candSelf).dropDuplicates("doc_id", "match_id")

      // exact-Jaccard verify on candidates only; member shingles come from
      // the index state ∪ this batch (for the within-batch member side)
      val memberSh = idxSh.unionAll(sh)
        .withColumnRenamed("doc_id", "match_id").withColumnRenamed("shingles", "sh_b")
      val verified = cands
        .join(sh.withColumnRenamed("shingles", "sh_a"), "doc_id")
        .join(memberSh, "match_id")
        .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("n_union",
          size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") - col("n_common"))
        .withColumn("jaccard", col("n_common").cast("double") / col("n_union").cast("double"))
        .select("doc_id", "match_id", "jaccard")
      val w = Window.partitionBy("doc_id").orderBy(col("jaccard").desc, col("match_id"))
      val best = verified.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")

      val decisions = batch.select(col("doc_id"))
        .join(best, Seq("doc_id"), "left")
        .withColumn("admitted", when(col("jaccard") >= cfg.threshold, 0L).otherwise(1L))
        .persist()
      try {
        BatchLog.write(decisions, decisionsPath(cfg), batchId)
        val admittedIds = decisions.where(col("admitted") === 1L).select("doc_id")
        BatchLog.write(sh.join(admittedIds, "doc_id"), shinglesPath(cfg), batchId)
        BatchLog.write(bands.join(admittedIds, "doc_id"), bandsPath(cfg), batchId)
      } finally { decisions.unpersist(); () }
    } finally { bands.unpersist(); sh.unpersist(); () }
  }

  /** Read back the decision log (doc_id, match_id, jaccard, admitted,
    * batch_id) for monitoring/tests. */
  def decisions(spark: SparkSession, cfg: Config): DataFrame =
    BatchLog.history(spark, decisionsPath(cfg))
}
