package graft

import graft.cdc.Monitoring
import graft.streaming.JitterMonitor
import graft.streaming.JitterMonitor.Config
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming inter-arrival jitter: boundary-gap telescoping, exact
  * equality with the batch operator on an in-order replay, and replay
  * idempotency. */
class JitterMonitorSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val dir = TestSpark.dir

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("jitter-monitor").toString

  private def cfg() = Config(wirePath = "unused", statePath = tmp(), checkpointPath = "unused")

  test("boundary gaps telescope across batches on a hand-built stream") {
    val c = cfg()
    val b0 = Seq(("t.a", 0L, 1L), ("t.a", 10L, 2L), ("t.b", 5L, 3L))
      .toDF("topic", "ts_ms", "offset")
    val b1 = Seq(("t.a", 30L, 4L), ("t.b", 5L, 5L)).toDF("topic", "ts_ms", "offset")
    JitterMonitor.monitorBatch(spark, c, b0, 0L)
    JitterMonitor.monitorBatch(spark, c, b1, 1L)
    val last = JitterMonitor.jitter(spark, c).where(col("batch_id") === 1L)
      .collect().map(r => r.getAs[String]("topic") -> r).toMap
    // topic a: gaps 10 (intra batch 0) and 20 (boundary) -> mean 15, max 20
    val a = last("t.a")
    assert(a.getAs[Long]("n_gaps") == 2L)
    assert(math.abs(a.getAs[Double]("mean_gap_ms") - 15.0) < 1e-12)
    assert(a.getAs[Long]("max_gap_ms") == 20L)
    assert(a.getAs[Long]("n_simultaneous") == 0L)
    // topic b: one boundary gap of 0 -> simultaneous arrival
    val b = last("t.b")
    assert(b.getAs[Long]("n_gaps") == 1L)
    assert(b.getAs[Long]("n_simultaneous") == 1L)
    assert(math.abs(b.getAs[Double]("mean_gap_ms") - 0.0) < 1e-12)
  }

  test("chunked replay reproduces the batch operator bit-for-bit") {
    val c = cfg()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("ts_ms", "offset")
    val ev = Tables.load(spark, dir, "events")
      .select(concat(lit("graft.public."), col("event_type")).as("topic"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id").as("offset"))
      .withColumn("rn", row_number().over(w))
    val n = ev.count()
    val cut1 = n / 3; val cut2 = 2 * n / 3
    JitterMonitor.monitorBatch(spark, c, ev.where(col("rn") <= cut1), 0L)
    JitterMonitor.monitorBatch(spark, c,
      ev.where(col("rn") > cut1 && col("rn") <= cut2), 1L)
    JitterMonitor.monitorBatch(spark, c, ev.where(col("rn") > cut2), 2L)
    val streamed = JitterMonitor.jitter(spark, c).where(col("batch_id") === 2L)
      .collect().map(r => r.getAs[String]("topic") -> r).toMap
    val batch = Monitoring.arrivalJitter(spark, dir).collect()
    assert(batch.nonEmpty && streamed.size == batch.length)
    batch.foreach { b =>
      val s = streamed(b.getAs[String]("topic"))
      assert(s.getAs[Long]("n_gaps") == b.getAs[Long]("n_gaps"))
      // exact integer sums fold identically, so the doubles are bit-equal
      assert(s.getAs[Double]("mean_gap_ms") == b.getAs[Double]("mean_gap_ms"))
      assert(s.getAs[Double]("std_gap_ms") == b.getAs[Double]("std_gap_ms"))
      assert(s.getAs[Double]("cv") == b.getAs[Double]("cv"))
      assert(s.getAs[Long]("max_gap_ms") == b.getAs[Long]("max_gap_ms"))
      assert(s.getAs[Long]("n_simultaneous") == b.getAs[Long]("n_simultaneous"))
    }
  }

  test("start over the wire reports what batch 0 over the same envelopes does") {
    val base = tmp()
    val c = Config(s"$base/wire", s"$base/state", s"$base/ckpt")
    graft.sources.WireSource.publish(spark, dir, c.wirePath)
    TestSpark.drain(JitterMonitor.start(spark, c))
    val direct = c.copy(statePath = s"$base/direct")
    JitterMonitor.monitorBatch(spark, direct,
      graft.sources.WireSource.readBatch(spark, c.wirePath), 0L)
    def rows(cfg: Config) = JitterMonitor.jitter(spark, cfg).collect().map(_.toString).toSeq
    assert(rows(direct).nonEmpty && rows(c) == rows(direct))
  }

  test("an at-least-once replay overwrites its own partition and never double-counts") {
    val c = cfg()
    val b0 = Seq(("t.a", 0L, 1L), ("t.a", 7L, 2L)).toDF("topic", "ts_ms", "offset")
    val b1 = Seq(("t.a", 9L, 3L)).toDF("topic", "ts_ms", "offset")
    JitterMonitor.monitorBatch(spark, c, b0, 0L)
    JitterMonitor.monitorBatch(spark, c, b1, 1L)
    val before = JitterMonitor.jitter(spark, c).where(col("batch_id") === 1L).collect()
    JitterMonitor.monitorBatch(spark, c, b1, 1L) // replay
    val after = JitterMonitor.jitter(spark, c).where(col("batch_id") === 1L).collect()
    assert(before.length == after.length)
    assert(after.head.getAs[Long]("n_gaps") == 2L)
    assert(math.abs(after.head.getAs[Double]("mean_gap_ms") - 4.5) < 1e-12)
  }
}
