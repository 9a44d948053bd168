package graft

import graft.cdc.Monitoring
import graft.streaming.StreamLsnTrend
import graft.streaming.StreamLsnTrend.Config
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** StreamLsnTrend — streamed ≡ batch parity for the LSN-latency trend
  * (the 20th streaming component): chunked replay of the events table
  * must reproduce `Monitoring.lsnLatencyTrend` bit-for-bit, and an
  * at-least-once batch replay must not double-count.
  */
class StreamLsnTrendSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val dir = TestSpark.dir

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("lsn-trend").toString

  private def cfg() = Config(wirePath = "unused", statePath = tmp(), checkpointPath = "unused")

  test("chunked replay reproduces the batch operator bit-for-bit") {
    val c = cfg()
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts_ms", "lsn")
    val ev = Tables.load(spark, dir, "events")
      .select(unix_millis(col("ts")).as("ts_ms"), col("event_id").as("lsn"))
      .withColumn("rn", row_number().over(w))
    val n = ev.count()
    val cut1 = n / 3; val cut2 = 2 * n / 3
    StreamLsnTrend.monitorBatch(spark, c, ev.where(col("rn") <= cut1), 0L)
    StreamLsnTrend.monitorBatch(spark, c,
      ev.where(col("rn") > cut1 && col("rn") <= cut2), 1L)
    StreamLsnTrend.monitorBatch(spark, c, ev.where(col("rn") > cut2), 2L)
    val streamed = StreamLsnTrend.trend(spark, c).where(col("batch_id") === 2L)
      .drop("batch_id").orderBy("bucket").collect()
    val batch = Monitoring.lsnLatencyTrend(spark, dir).orderBy("bucket").collect()
    assert(batch.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[java.sql.Timestamp]("bucket") == b.getAs[java.sql.Timestamp]("bucket"))
      // everything downstream is integer-exact, so equality is exact
      assert(s.getAs[Long]("source_lsn") == b.getAs[Long]("source_lsn"))
      assert(s.getAs[Long]("processed_lsn") == b.getAs[Long]("processed_lsn"))
      assert(s.getAs[Long]("lsn_gap") == b.getAs[Long]("lsn_gap"))
      assert(s.getAs[Long]("n_arrived") == b.getAs[Long]("n_arrived"))
      assert(s.getAs[Long]("n_pending") == b.getAs[Long]("n_pending"))
    }
  }

  test("start over the wire reproduces the batch operator") {
    val base = tmp()
    val c = Config(s"$base/wire", s"$base/state", s"$base/ckpt")
    graft.sources.WireSource.publish(spark, dir, c.wirePath)
    TestSpark.drain(StreamLsnTrend.start(spark, c))
    val streamed = StreamLsnTrend.trend(spark, c).where(col("batch_id") === 0L)
      .drop("batch_id").orderBy("bucket").collect().map(_.toString).toSeq
    val batch = Monitoring.lsnLatencyTrend(spark, dir).orderBy("bucket")
      .collect().map(_.toString).toSeq
    assert(batch.nonEmpty && streamed == batch)
  }

  test("mid-stream report is the batch operator over the prefix") {
    val c = cfg()
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts_ms", "lsn")
    val ev = Tables.load(spark, dir, "events")
      .select(unix_millis(col("ts")).as("ts_ms"), col("event_id").as("lsn"))
      .withColumn("rn", row_number().over(w))
    val cut = ev.count() / 2
    StreamLsnTrend.monitorBatch(spark, c, ev.where(col("rn") <= cut), 0L)
    val r = StreamLsnTrend.trend(spark, c).where(col("batch_id") === 0L).collect()
    assert(r.nonEmpty)
    // prefix invariants: arrivals sum to the prefix size, gap = src - proc
    assert(r.map(_.getAs[Long]("n_arrived")).sum == cut)
    r.foreach { row =>
      assert(row.getAs[Long]("lsn_gap") ==
        row.getAs[Long]("source_lsn") - row.getAs[Long]("processed_lsn"))
      assert(row.getAs[Long]("n_pending") >= 0L)
    }
    // source_lsn is a running max: non-decreasing over buckets
    val src = r.sortBy(_.getAs[java.sql.Timestamp]("bucket").getTime)
      .map(_.getAs[Long]("source_lsn"))
    assert(src.zip(src.tail).forall { case (a, b) => a <= b })
  }

  test("an at-least-once replay overwrites its own partition and never double-counts") {
    val c = cfg().copy(bucketMs = 10L, horizonBuckets = 1)
    val b0 = Seq((0L, 1L), (7L, 2L)).toDF("ts_ms", "lsn")
    val b1 = Seq((25L, 3L)).toDF("ts_ms", "lsn")
    StreamLsnTrend.monitorBatch(spark, c, b0, 0L)
    StreamLsnTrend.monitorBatch(spark, c, b1, 1L)
    val before = StreamLsnTrend.trend(spark, c).where(col("batch_id") === 1L).collect()
    StreamLsnTrend.monitorBatch(spark, c, b1, 1L) // replay
    val after = StreamLsnTrend.trend(spark, c).where(col("batch_id") === 1L).collect()
    assert(before.length == after.length)
    // buckets 0,1,2 (bucket 1 densified empty); total arrivals still 3
    assert(after.map(_.getAs[Long]("n_arrived")).sum == 3L)
    val byBucket = after.map(r =>
      r.getAs[java.sql.Timestamp]("bucket").getTime -> r).toMap
    assert(byBucket(10L).getAs[Long]("n_arrived") == 0L, "empty bucket densified")
    assert(byBucket(20L).getAs[Long]("source_lsn") == 3L)
    assert(byBucket(20L).getAs[Long]("processed_lsn") == 2L, "lag-1 horizon")
  }
}
