package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Continuous embedding-outlier monitor — the streaming twin of the
  * batch `emb_outlier_share` screen, shaped the way production vector
  * monitors actually run: the BATCH pass computes each label's centroid
  * and distance distribution (mean/σ) at index-build time, and the
  * stream scores every arriving vector against those FROZEN statistics —
  * flagging mislabeled/cross-domain rows (and vectors for labels the
  * index has never seen) at ingest, before they poison ANN recall or
  * semantic dedup. Re-deriving centroids per micro-batch would let a
  * poisoned stream move its own baseline; freezing them is the point.
  *
  * Scale shape: the reference statistics are |labels|·d — broadcast;
  * scoring is a per-row index-ordered fold (bit-stable, the module's
  * convention); each micro-batch reduces to |labels| counter rows
  * before anything is written. The log is a [[BatchLog]]: an
  * at-least-once replay overwrites exactly its own partition, so the
  * monitor log never double-counts.
  */
object OutlierMonitor {

  /** Per-label frozen reference: (centroid, mean_d2, std_d2) — the
    * numbers `emb_outlier_share` publishes per label. */
  final case class LabelStats(centroid: Seq[Double], meanD2: Double, stdD2: Double)

  final case class Config(
      vecsPath: String,
      statePath: String,
      checkpointPath: String,
      stats: Map[Int, LabelStats],
      sigmas: Double = 2.0)

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("label", IntegerType),
    StructField("embedding", ArrayType(DoubleType))))

  private def logPath(cfg: Config) = s"${cfg.statePath}/outliers"

  /** Index-ordered squared-L2 fold against the broadcast centroid. */
  private def d2Col(emb: Column, cent: Column): Column =
    aggregate(
      transform(sequence(lit(1), size(emb)),
        i => (element_at(emb, i) - element_at(cent, i))
          * (element_at(emb, i) - element_at(cent, i))),
      lit(0.0), (acc, x) => acc + x)

  /** Score one batch of vectors against the frozen stats: per label the
    * arrival count, outliers beyond mean + sigmas·σ, and vectors whose
    * label the index does not know (flagged wholesale — an unknown
    * label IS the anomaly). Exposed for direct batch use and specs. */
  private[graft] def scoreBatch(spark: SparkSession, cfg: Config, batch: DataFrame): DataFrame = {
    import spark.implicits._
    val ref = cfg.stats.toSeq
      .map { case (l, s) => (l, s.centroid, s.meanD2, s.stdD2) }
      .toDF("label", "centroid", "mean_d2", "std_d2")
    batch
      .join(broadcast(ref), Seq("label"), "left")
      .withColumn("known", col("centroid").isNotNull)
      .withColumn("is_outlier",
        when(!col("known"), lit(true))
          .otherwise(d2Col(col("embedding"), col("centroid")) >
            col("mean_d2") + lit(cfg.sigmas) * col("std_d2")))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        sum(when(!col("known"), 1L).otherwise(0L)).as("n_unknown_label"))
      .withColumn("outlier_share",
        col("n_outliers").cast("double") / col("n_vecs").cast("double"))
  }

  /** One micro-batch: score, stamp, write idempotently. */
  private[graft] def monitorBatch(
      spark: SparkSession, cfg: Config, batch: DataFrame, batchId: Long): Unit =
    BatchLog.write(scoreBatch(spark, cfg, batch), logPath(cfg), batchId)

  /** Start the monitor over a JSON-lines vector feed (swap the file
    * source for `format("kafka")` exactly like
    * [[graft.sources.WireSource]]). */
  def start(spark: SparkSession, cfg: Config): StreamingQuery =
    MicroBatches.start(
      spark.readStream.schema(vecSchema)
        .option("maxFilesPerTrigger", "1").json(cfg.vecsPath),
      cfg.checkpointPath)(monitorBatch(spark, cfg, _, _))

  /** Read back the per-(batch, label) outlier log. */
  def outliers(spark: SparkSession, cfg: Config): DataFrame =
    BatchLog.history(spark, logPath(cfg))

  /** Derive the frozen per-label stats from a reference vector table —
    * the batch-side handshake (what `emb_outlier_share` computes,
    * packaged for the monitor's Config). Driver-side result is
    * |labels|·d — catalog-sized. */
  def statsOf(ref: DataFrame): Map[Int, LabelStats] = {
    val long = ref.select(col("vec_id"), col("label"),
      posexplode(col("embedding")).as(Seq("pos", "x")))
    val cent = long.groupBy("label", "pos")
      .agg((sum(col("x").cast("double")) / count(lit(1))).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (l, rows) =>
        l -> rows.sortBy(_._2).map(_._3).toSeq
      }
    val centDf = cent.toSeq.map { case (l, c) => (l, c) }
    val spark = ref.sparkSession
    import spark.implicits._
    val cdf = centDf.toDF("label", "centroid")
    val d2 = ref.join(broadcast(cdf), "label")
      .select(col("label"), d2Col(col("embedding").cast(ArrayType(DoubleType)), col("centroid")).as("d2"))
      .groupBy("label")
      .agg(avg(col("d2")).as("m"), stddev_pop(col("d2")).as("s"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    cent.map { case (l, c) =>
      val (m, s) = d2.getOrElse(l, (0.0, 0.0))
      l -> LabelStats(c, m, s)
    }.toMap
  }
}
