package graft

import graft.cdc.{Cdc, Monitoring}
import graft.streaming.StreamBackfill
import graft.streaming.StreamBackfill.Config
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** StreamBackfill — streamed ≡ batch parity for the backfill family:
  * chunked replay of the wire must reproduce `Monitoring.offsetGaps` AND
  * `Monitoring.backfillRanges` bit-for-bit, under BOTH a range split and
  * an interleaved split (interval union is order-independent), and an
  * at-least-once batch replay must not double-count.
  */
class StreamBackfillSpec extends AnyFunSuite {
  import TestSpark.{spark, dir}

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("backfill").toString

  private def cfg() = Config(wirePath = "unused", statePath = tmp(), checkpointPath = "unused")

  private def wire = Cdc.toWire(spark, dir).select("topic", "offset")

  private def assertParity(c: Config, lastBatch: Long): Unit = {
    val sGaps = StreamBackfill.gaps(spark, c).where(col("batch_id") === lastBatch)
      .drop("batch_id").orderBy("topic").collect().map(_.toString)
    val bGaps = Monitoring.offsetGaps(Cdc.toWire(spark, dir))
      .orderBy("topic").collect().map(_.toString)
    assert(bGaps.nonEmpty && sGaps.toSeq == bGaps.toSeq,
      "streamed offset-gaps report must equal the batch operator bit-for-bit")
    val sRanges = StreamBackfill.ranges(spark, c).where(col("batch_id") === lastBatch)
      .drop("batch_id").orderBy("topic", "gap_from").collect().map(_.toString)
    val bRanges = Monitoring.backfillRanges(Cdc.toWire(spark, dir))
      .orderBy("topic", "gap_from").collect().map(_.toString)
    assert(sRanges.toSeq == bRanges.toSeq,
      "streamed backfill ranges must equal the batch operator bit-for-bit")
  }

  test("3-chunk range replay reproduces both batch operators bit-for-bit") {
    val c = cfg()
    val n = wire.agg(max(col("offset"))).collect()(0).getLong(0)
    val cut1 = n / 3; val cut2 = 2 * n / 3
    StreamBackfill.monitorBatch(spark, c, wire.where(col("offset") <= cut1), 0L)
    StreamBackfill.monitorBatch(spark, c,
      wire.where(col("offset") > cut1 && col("offset") <= cut2), 1L)
    StreamBackfill.monitorBatch(spark, c, wire.where(col("offset") > cut2), 2L)
    assertParity(c, 2L)
  }

  test("interleaved mod-3 replay folds to the same reports (order-independent union)") {
    // offsets interleave across batches — every batch sees singleton
    // islands everywhere, and ONLY the cross-batch interval union can
    // reconstruct the continuity picture
    val c = cfg()
    (0L to 2L).foreach { i =>
      StreamBackfill.monitorBatch(spark, c, wire.where(pmod(col("offset"), lit(3)) === i), i)
    }
    assertParity(c, 2L)
  }

  test("at-least-once replay of a batch overwrites its own partition — no double count") {
    val c = cfg()
    val n = wire.agg(max(col("offset"))).collect()(0).getLong(0)
    val half = n / 2
    StreamBackfill.monitorBatch(spark, c, wire.where(col("offset") <= half), 0L)
    StreamBackfill.monitorBatch(spark, c, wire.where(col("offset") > half), 1L)
    val before = StreamBackfill.gaps(spark, c).where(col("batch_id") === 1L)
      .drop("batch_id").orderBy("topic").collect().map(_.toString)
    // the failure-recovery path: batch 1 re-delivered with the same id
    StreamBackfill.monitorBatch(spark, c, wire.where(col("offset") > half), 1L)
    val after = StreamBackfill.gaps(spark, c).where(col("batch_id") === 1L)
      .drop("batch_id").orderBy("topic").collect().map(_.toString)
    assert(after.toSeq == before.toSeq, "replay must be idempotent")
    assertParity(c, 1L)
  }

  test("start over the wire reproduces both batch operators") {
    val base = tmp()
    val c = Config(s"$base/wire", s"$base/state", s"$base/ckpt")
    graft.sources.WireSource.publish(spark, dir, c.wirePath)
    TestSpark.drain(StreamBackfill.start(spark, c))
    assertParity(c, 0L)
  }

  test("a mid-stream report sees only its prefix (gaps close as offsets arrive)") {
    val c = cfg()
    val topics = wire.select("topic").distinct().collect().map(_.getString(0)).sorted
    // batch 0: even offsets only — maximal discontinuity
    StreamBackfill.monitorBatch(spark, c, wire.where(pmod(col("offset"), lit(2)) === 0), 0L)
    val mid = StreamBackfill.gaps(spark, c).where(col("batch_id") === 0L)
    val midGapTopics = mid.where(col("n_gaps") > 0).count()
    assert(midGapTopics == topics.length,
      "with only even offsets, every topic must report open gaps")
    // batch 1: the odd offsets close every hole
    StreamBackfill.monitorBatch(spark, c, wire.where(pmod(col("offset"), lit(2)) === 1), 1L)
    assertParity(c, 1L)
  }
}
