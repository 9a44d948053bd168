package graft

import graft.cdc.Monitoring
import graft.streaming.StreamStatusBoard
import graft.streaming.StreamStatusBoard.Config
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** StreamStatusBoard — streamed ≡ batch parity for the dashboard's status
  * board (the panel a user watches continuously), replay idempotency, and
  * chunking-invariance: every column telescopes (counters / set union),
  * with the hwm-relative lag math deferred to read time, so ANY chunking
  * of the same events must reproduce the batch board bit-for-bit.
  */
class StreamStatusBoardSpec extends AnyFunSuite {
  import TestSpark.{spark, dir}

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("status-board").toString

  private def cfg() = Config(statePath = tmp(), checkpointPath = "unused")

  private def events() = Tables.load(spark, dir, "events")
    .select("event_id", "ts", "user_id", "event_type")

  // chunk by event_id — arbitrary (NOT time-ordered) chunking, which the
  // order-free fold must tolerate
  private def chunks(n: Int) = {
    val ev = events()
    (0 until n).map(i => ev.where(pmod(col("event_id"), lit(n)) === i))
  }

  private def streamed(c: Config, lastBatch: Long) =
    StreamStatusBoard.board(spark, c, lastBatch).collect().map(_.toString)

  private def batchOp() =
    Monitoring.statusBoard(spark, dir).collect().map(_.toString)

  test("3-chunk replay reproduces the batch status board bit-for-bit") {
    val c = cfg()
    chunks(3).zipWithIndex.foreach { case (b, i) =>
      StreamStatusBoard.monitorBatch(spark, c, b, i.toLong)
    }
    val s = streamed(c, 2L)
    val b = batchOp()
    assert(b.nonEmpty && s.toSeq == b.toSeq,
      "telescoped counters + read-time lag math must equal the batch board " +
        "(exact frequency-weighted percentile over the ts rollup)")
  }

  test("at-least-once replay of a batch rebuilds the same snapshot (no double count)") {
    val c = cfg()
    val bs = chunks(2)
    StreamStatusBoard.monitorBatch(spark, c, bs(0), 0L)
    StreamStatusBoard.monitorBatch(spark, c, bs(1), 1L)
    val before = streamed(c, 1L)
    StreamStatusBoard.monitorBatch(spark, c, bs(1), 1L) // failure-recovery redelivery
    assert(streamed(c, 1L).toSeq == before.toSeq,
      "snapshot N derives from snapshot N-1, so replaying N converges")
    assert(streamed(c, 1L).toSeq == batchOp().toSeq)
  }

  test("start over an event feed builds the board batch 0 over the same rows does") {
    val base = tmp()
    val c = Config(s"$base/state", s"$base/ckpt")
    TestSpark.writeJsonFile(events(), s"$base/events")
    TestSpark.drain(StreamStatusBoard.start(spark, s"$base/events", c))
    val direct = c.copy(statePath = s"$base/direct")
    StreamStatusBoard.monitorBatch(spark, direct,
      spark.read.schema(StreamStatusBoard.eventSchema).json(s"$base/events"), 0L)
    assert(streamed(direct, 0L).nonEmpty && streamed(c, 0L).toSeq == streamed(direct, 0L).toSeq)
  }

  test("the board is chunking-invariant: 1-batch and 5-batch replays agree") {
    val c1 = cfg(); val c5 = cfg()
    StreamStatusBoard.monitorBatch(spark, c1, events(), 0L)
    chunks(5).zipWithIndex.foreach { case (b, i) =>
      StreamStatusBoard.monitorBatch(spark, c5, b, i.toLong)
    }
    assert(streamed(c1, 0L).toSeq == streamed(c5, 4L).toSeq)
  }

  test("minute-coarsened board: counters exact, lag p95 within one bin, state bounded by active minutes") {
    val c = cfg()
    chunks(3).zipWithIndex.foreach { case (b, i) =>
      StreamStatusBoard.monitorBatch(spark, c, b, i.toLong)
      StreamStatusBoard.monitorBatchCoarse(spark, c, b, i.toLong)
    }
    val exact = StreamStatusBoard.board(spark, c, 2L)
      .select("table_name", "n_events", "n_keys", "delete_share", "lag_p95_ms")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val coarse = StreamStatusBoard.boardCoarse(spark, c, 2L)
      .select("table_name", "n_events", "n_keys", "delete_share", "lag_p95_ms")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(coarse.keySet == exact.keySet && exact.nonEmpty)
    exact.foreach { case (t, (n, k, ds, p95)) =>
      val (cn, ck, cds, cp95) = coarse(t)
      assert(cn == n && ck == k && cds == ds,
        s"$t: counters must be exact under coarsening (sums ignore key grain)")
      assert(math.abs(cp95 - p95) < 60000.0,
        s"$t: coarse p95 $cp95 must sit within one minute bin of exact $p95")
    }
    // the bounded-state claim: the coarse rollup holds one row per
    // (table, active minute) — at most the exact rollup's row count and
    // exactly the distinct (table, minute) population
    val exactRows = spark.read.parquet(s"${c.statePath}/rollup")
      .where(col("batch_id") === 2L)
    val coarseRows = spark.read.parquet(s"${c.statePath}/rollup_minute")
      .where(col("batch_id") === 2L)
    val minutePop = exactRows
      .select(col("table_name"), date_trunc("minute", col("ts"))).distinct().count()
    assert(coarseRows.count() == minutePop && minutePop <= exactRows.count())
  }
}
