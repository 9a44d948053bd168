package graft

import graft.streaming.OutlierMonitor
import graft.streaming.OutlierMonitor.{Config, LabelStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming embedding-outlier monitor: frozen-stats scoring, unknown
  * labels, replay idempotency. */
class OutlierMonitorSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("outlier-monitor").toString

  // two tight reference clusters far apart: label 0 near the origin,
  // label 1 near (10, 10)
  private val stats = Map(
    0 -> LabelStats(Seq(0.0, 0.0), 0.02, 0.01),
    1 -> LabelStats(Seq(10.0, 10.0), 0.02, 0.01))

  private def cfg(state: String) =
    Config(vecsPath = "unused", statePath = state, checkpointPath = "unused",
      stats = stats)

  test("frozen-stats scoring flags cross-cluster and unknown-label vectors") {
    val c = cfg(tmp())
    val batch = Seq(
      (1L, 0, Seq(0.1, 0.0)),    // inlier for label 0
      (2L, 0, Seq(9.9, 10.1)),   // label-0 vector sitting in cluster 1 -> outlier
      (3L, 1, Seq(10.0, 10.1)),  // inlier for label 1
      (4L, 7, Seq(0.0, 0.0))     // unknown label -> flagged wholesale
    ).toDF("vec_id", "label", "embedding")
    val rows = OutlierMonitor.scoreBatch(spark, c, batch)
      .collect().map(r => r.getAs[Int]("label") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Long]("n_outliers"),
          r.getAs[Long]("n_unknown_label")))).toMap
    assert(rows(0) === ((2L, 1L, 0L)), "one of the two label-0 vectors is an outlier")
    assert(rows(1) === ((1L, 0L, 0L)))
    assert(rows(7) === ((1L, 1L, 1L)), "unknown label flags wholesale")
  }

  test("the monitor log is batch-partitioned and a replay never double-counts") {
    val c = cfg(tmp())
    val b1 = Seq((1L, 0, Seq(0.0, 0.1)), (2L, 1, Seq(3.0, 3.0)))
      .toDF("vec_id", "label", "embedding")
    val b2 = Seq((3L, 1, Seq(10.1, 10.0))).toDF("vec_id", "label", "embedding")
    OutlierMonitor.monitorBatch(spark, c, b1, 0L)
    OutlierMonitor.monitorBatch(spark, c, b2, 1L)
    val log = OutlierMonitor.outliers(spark, c)
    assert(log.count() === 3) // two labels in batch 0, one in batch 1
    assert(log.agg(sum("n_vecs")).collect()(0).getLong(0) === 3L)
    // at-least-once replay of batch 0 overwrites its own partition only
    OutlierMonitor.monitorBatch(spark, c, b1, 0L)
    val replayed = OutlierMonitor.outliers(spark, c)
    assert(replayed.count() === 3, "replay must not duplicate log rows")
    assert(replayed.agg(sum("n_vecs")).collect()(0).getLong(0) === 3L)
    // the far-off label-1 vector in batch 0 was flagged; batch 1's inlier was not
    val flagged = replayed.where(col("batch_id") === 0 && col("label") === 1)
      .select("n_outliers").collect()(0).getLong(0)
    assert(flagged === 1L)
    val clean = replayed.where(col("batch_id") === 1)
      .select("n_outliers").collect()(0).getLong(0)
    assert(clean === 0L)
  }

  test("start over a vector feed logs what batch 0 over the same rows does") {
    val base = tmp()
    val c = Config(s"$base/vecs", s"$base/state", s"$base/ckpt", stats)
    TestSpark.writeJsonFile(Seq((1L, 0, Seq(0.1, 0.0)), (2L, 0, Seq(9.9, 10.1)),
      (3L, 1, Seq(10.0, 10.1)), (4L, 7, Seq(0.0, 0.0)))
      .toDF("vec_id", "label", "embedding"), c.vecsPath)
    TestSpark.drain(OutlierMonitor.start(spark, c))
    val direct = c.copy(statePath = s"$base/direct")
    OutlierMonitor.monitorBatch(spark, direct,
      spark.read.schema(OutlierMonitor.vecSchema).json(c.vecsPath), 0L)
    def rows(cfg: Config) =
      OutlierMonitor.outliers(spark, cfg).orderBy("label").collect().map(_.toString).toSeq
    assert(rows(direct).length == 3 && rows(c) == rows(direct))
  }

  test("statsOf derives frozen stats that accept the reference population") {
    val ref = Seq(
      (1L, 0, Seq(0.0f, 0.0f)), (2L, 0, Seq(0.2f, 0.0f)), (3L, 0, Seq(0.0f, 0.2f)),
      (4L, 1, Seq(5.0f, 5.0f)), (5L, 1, Seq(5.2f, 5.0f)), (6L, 1, Seq(5.0f, 5.2f)))
      .toDF("vec_id", "label", "embedding")
    val s = OutlierMonitor.statsOf(ref)
    assert(s.keySet === Set(0, 1))
    assert(s(0).centroid.length === 2)
    assert(math.abs(s(1).centroid.head - 5.0667) < 0.01)
    // scoring the reference against its own stats flags (almost) nothing:
    // every point is within 2 sigma of its own distribution here
    val c = Config("unused", tmp(), "unused", s)
    val scored = OutlierMonitor.scoreBatch(spark, c,
      ref.withColumn("embedding", col("embedding").cast("array<double>")))
    assert(scored.agg(sum("n_outliers")).collect()(0).getLong(0) === 0L)
  }
}
