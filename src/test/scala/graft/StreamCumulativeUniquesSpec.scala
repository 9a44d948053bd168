package graft

import graft.analytics.Sketches
import graft.streaming.StreamCumulativeUniques
import graft.streaming.StreamCumulativeUniques.Config
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** StreamCumulativeUniques — streamed ≡ batch parity for the HLL
  * distinct-to-date sketch (r15 verdict item 5): a chunked replay of the
  * events table must reproduce `Sketches.approxCumulativeUniques`'s
  * cumulative estimates EXACTLY (the union of chunk sketches is the
  * sketch of the union at a fixed lgConfigK), an at-least-once replay
  * must converge, and state must stay one row per day. */
class StreamCumulativeUniquesSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = TestSpark.dir

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("cum-uniques").toString

  private def cfg() = Config(statePath = tmp(), checkpointPath = "unused")

  private def events() = Tables.load(spark, dir, "events")
    .select(col("event_id"), col("ts"), col("user_id"))

  test("3-chunk replay reproduces the batch sketch operator's estimates exactly") {
    val c = cfg()
    val ev = events()
    // arrival-order chunks (by event_id), NOT day-aligned: days straddle
    // chunk boundaries, so the per-day union across batches is exercised
    StreamCumulativeUniques.monitorBatch(spark, c, ev.where(col("event_id") % 3 === 0), 0L)
    StreamCumulativeUniques.monitorBatch(spark, c, ev.where(col("event_id") % 3 === 1), 1L)
    StreamCumulativeUniques.monitorBatch(spark, c, ev.where(col("event_id") % 3 === 2), 2L)
    val streamed = StreamCumulativeUniques.board(spark, c, 2L).collect()
    val batch = Sketches.approxCumulativeUniques(spark, dir).collect()
    assert(batch.nonEmpty && streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[java.sql.Timestamp]("day") === b.getAs[java.sql.Timestamp]("day"))
      // Datasketches HLL is deterministic in the input SET: merged chunk
      // sketches == the single-pass sketch, so cumulative estimates are
      // EQUAL, not merely close
      assert(s.getAs[Long]("cum_uniques_approx") === b.getAs[Long]("cum_uniques_approx"),
        s"day ${s.get(0)}: streamed cumulative differs from batch")
      assert(s.getAs[Long]("n_new_approx") === b.getAs[Long]("n_new_approx"))
    }
  }

  test("n_active day estimates stay within 5% of the exact per-day distinct count") {
    val c = cfg()
    StreamCumulativeUniques.monitorBatch(spark, c, events(), 0L)
    val exact = Tables.load(spark, dir, "events")
      .select(date_trunc("DAY", col("ts")).as("day"), col("user_id"))
      .groupBy("day").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    StreamCumulativeUniques.board(spark, c, 0L).collect().foreach { r =>
      val e = exact(r.getAs[java.sql.Timestamp]("day"))
      val a = r.getAs[Long]("n_active_approx")
      assert(math.abs(a.toDouble - e) / e < 0.05, s"day ${r.get(0)}: $a vs exact $e")
    }
  }

  test("at-least-once replay of a batch converges (HLL union is idempotent)") {
    val c = cfg()
    val ev = events()
    StreamCumulativeUniques.monitorBatch(spark, c, ev.where(col("event_id") % 2 === 0), 0L)
    StreamCumulativeUniques.monitorBatch(spark, c, ev.where(col("event_id") % 2 === 1), 1L)
    val first = StreamCumulativeUniques.board(spark, c, 1L).collect()
    // redeliver batch 1 (same data, same id): snapshot 1 is rebuilt from
    // snapshot 0 and must not change
    StreamCumulativeUniques.monitorBatch(spark, c, ev.where(col("event_id") % 2 === 1), 1L)
    val second = StreamCumulativeUniques.board(spark, c, 1L).collect()
    assert(first.map(_.toString).toSeq === second.map(_.toString).toSeq)
  }

  test("start over an event feed builds the board batch 0 over the same rows does") {
    val base = tmp()
    val c = Config(s"$base/state", s"$base/ckpt")
    TestSpark.writeJsonFile(Tables.load(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type"), s"$base/events")
    TestSpark.drain(StreamCumulativeUniques.start(spark, s"$base/events", c))
    val direct = c.copy(statePath = s"$base/direct")
    StreamCumulativeUniques.monitorBatch(spark, direct,
      spark.read.schema(StreamCumulativeUniques.eventSchema).json(s"$base/events"), 0L)
    def rows(cfg: Config) =
      StreamCumulativeUniques.board(spark, cfg, 0L).collect().map(_.toString).toSeq
    assert(rows(direct).nonEmpty && rows(c) == rows(direct))
  }

  test("state is bounded: one sketch row per day, regardless of chunking") {
    val c = cfg()
    val ev = events()
    (0 until 5).foreach { i =>
      StreamCumulativeUniques.monitorBatch(spark, c, ev.where(col("event_id") % 5 === i), i.toLong)
    }
    val days = Tables.load(spark, dir, "events")
      .select(date_trunc("DAY", col("ts"))).distinct().count()
    val stateRows = spark.read
      .parquet(s"${c.statePath}/day_sketches")
      .where(col("batch_id") === 4L).count()
    assert(stateRows === days, "state must hold exactly one HLL per day")
  }
}
