package graft

import graft.cdc.{Cdc, Materialize, Recovery, Resilience}
import graft.sinks.TableSink
import graft.sources.WireSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** Auto-recovery policy (reference recovery.py): a pipeline killed
  * mid-stream restarts from its checkpoint, replays the interrupted
  * micro-batch idempotently, and converges to the one-shot state; a
  * pipeline that keeps dying is given up on after the restart cap. */
class RecoverySpec extends AnyFunSuite {
  import TestSpark.{spark, dir}

  private def toChangelog(envelopes: DataFrame): DataFrame =
    envelopes.select(
      col("op"),
      coalesce(col("after.user_id"), col("before.user_id")).as("pk"),
      timestamp_millis(col("ts_ms")).as("ts"),
      col("offset").as("seq"),
      coalesce(col("after.value"), col("before.value")).as("value"))

  test("supervisor restarts a query killed mid-stream; state matches the one-shot run") {
    val base = Files.createTempDirectory("recover").toString
    val wire = s"$base/wire"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    Cdc.toWire(spark, dir).write.mode("append").json(wire)

    // seed the empty state table the way Pipeline.start does
    TableSink.writeSnapshot(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        TableSink.snapshotSchema),
      "user_id", state)

    // the apply body dies once, mid-stream, on the first micro-batch —
    // the injected equivalent of an executor/sink failure
    val poisoned = new AtomicBoolean(true)
    def mk(): StreamingQuery =
      WireSource.readStream(spark, wire)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (poisoned.getAndSet(false))
            throw new RuntimeException("injected mid-stream failure")
          TableSink.upsert(spark, state, toChangelog(batch.where(col("op").isNotNull)))
          ()
        }
        .start()

    val slept = new AtomicInteger(0)
    val outcome = Recovery.supervise(
      mk,
      run = q => { q.processAllAvailable(); q.stop() },
      maxRestarts = 3, delayMs = 10L,
      sleep = _ => { slept.incrementAndGet(); () })

    assert(outcome.recovered)
    assert(outcome.restarts === 1, "exactly one restart should have been needed")
    assert(outcome.attempts.head.error.contains("injected mid-stream failure"),
      "the attempt log must carry the root cause, not the streaming wrapper")
    assert(slept.get === 1)

    // state parity: the replayed micro-batch applied idempotently
    val got = TableSink.readLive(spark, state)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = Materialize.latestSnapshot(Cdc.changelog(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, v) => assert(got(k) === v, s"key $k") }
  }

  test("supervisor gives up cleanly after maxRestarts consecutive failures") {
    val base = Files.createTempDirectory("giveup").toString
    val wire = s"$base/wire"
    Cdc.toWire(spark, dir).where(col("offset") < 50)
      .write.mode("append").json(wire)
    val starts = new AtomicInteger(0)
    def mk(): StreamingQuery = {
      starts.incrementAndGet()
      WireSource.readStream(spark, wire)
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (_: DataFrame, _: Long) =>
          throw new RuntimeException("always dies")
        }
        .start()
    }
    val outcome = Recovery.supervise(
      mk, run = q => { q.processAllAvailable(); q.stop() },
      maxRestarts = 2, delayMs = 1L, sleep = _ => ())
    assert(!outcome.recovered)
    assert(outcome.failures === 3, "initial run + 2 restarts, all failed")
    assert(outcome.restarts === 2, "the final failure triggers give-up, not a restart")
    assert(starts.get === 3, "no restart beyond the cap")
    assert(outcome.finalError.exists(_.contains("always dies")))
  }

  test("a non-retryable failure short-circuits without burning restarts") {
    val starts = new AtomicInteger(0)
    def mk(): StreamingQuery = {
      starts.incrementAndGet()
      throw new Resilience.NonRetryableError("bad credentials")
    }
    val outcome = Recovery.supervise(
      mk, run = _ => (), maxRestarts = 5, delayMs = 1L, sleep = _ => ())
    assert(!outcome.recovered)
    assert(starts.get === 1)
    assert(outcome.finalError.exists(_.contains("bad credentials")))
    // the terminal failure is recorded, and it triggered no restart
    assert(outcome.failures === 1)
    assert(outcome.restarts === 0)
  }

  test("a retryable failure then a non-retryable one counts exactly one restart") {
    val starts = new AtomicInteger(0)
    def mk(): StreamingQuery = {
      if (starts.incrementAndGet() === 1) throw new RuntimeException("transient")
      else throw new Resilience.NonRetryableError("config broken")
    }
    val outcome = Recovery.supervise(
      mk, run = _ => (), maxRestarts = 5, delayMs = 1L, sleep = _ => ())
    assert(!outcome.recovered)
    assert(starts.get === 2)
    assert(outcome.failures === 2, "both failed runs must be recorded")
    assert(outcome.restarts === 1, "one restart happened; the non-retryable end triggered none")
  }

  test("supervised product pipeline drains clean and matches the one-shot state") {
    val base = Files.createTempDirectory("supervised").toString
    val cfg = Pipeline.Config(s"$base/wire", s"$base/state", s"$base/ckpt")
    Cdc.toWire(spark, dir).write.mode("append").json(cfg.wirePath)
    val outcome = Pipeline.runSupervised(spark, cfg,
      run = q => { q.processAllAvailable(); q.stop() },
      maxRestarts = 2, delayMs = 1L)
    assert(outcome.recovered)
    assert(outcome.restarts === 0, "a healthy pipeline must not burn restart attempts")
    val got = TableSink.readLive(spark, cfg.statePath)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = Materialize.latestSnapshot(Cdc.changelog(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, v) => assert(got(k) === v, s"key $k") }
  }

  test("monitor sweep recovers only the dead pipeline and never touches the healthy one") {
    val base = Files.createTempDirectory("monitor").toString
    Cdc.toWire(spark, dir).where(col("offset") < 50)
      .write.mode("append").json(s"$base/wire")
    // healthy: a live no-op query
    val healthy = spark.readStream
      .format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("noop")
      .option("checkpointLocation", s"$base/ckpt_h").start()
    // dead: a query that already terminated with an error
    val dead = WireSource.readStream(spark, s"$base/wire")
      .writeStream.option("checkpointLocation", s"$base/ckpt_d")
      .foreachBatch { (_: DataFrame, _: Long) =>
        throw new RuntimeException("boom")
      }.start()
    try dead.processAllAvailable() catch { case _: Throwable => () }
    try dead.stop() catch { case _: Throwable => () }
    assert(!dead.isActive)

    def rebuilt(): StreamingQuery =
      WireSource.readStream(spark, s"$base/wire")
        .writeStream.option("checkpointLocation", s"$base/ckpt_d2")
        .foreachBatch { (_: DataFrame, _: Long) => () }.start()
    // deliberately taken down: terminated WITHOUT an exception — a sweep
    // must never resurrect it
    val stoppedQ = spark.readStream
      .format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("noop")
      .option("checkpointLocation", s"$base/ckpt_s").start()
    stoppedQ.stop()
    assert(!stoppedQ.isActive && stoppedQ.exception.isEmpty)

    try {
      val sweep = Recovery.checkAndRecover(
        running = Map("healthy" -> healthy, "dead" -> dead,
          "taken-down" -> stoppedQ, "orphan" -> dead),
        rebuild = Map("healthy" -> (() => fail("healthy pipeline must not be rebuilt")),
          "taken-down" -> (() => fail("a cleanly-stopped pipeline must not be restarted")),
          "dead" -> (rebuilt _)),
        run = q => { q.processAllAvailable(); q.stop() },
        maxRestarts = 1, delayMs = 1L, sleep = _ => ())
      assert(sweep.checked === 4)
      assert(sweep.healthy === 1)
      assert(sweep.stopped === 1)
      assert(sweep.unhealthy === 2)
      assert(sweep.recovered === 1)
      // the dead pipeline with no rebuild entry must be VISIBLE as
      // unrecovered, not silently dropped from the report
      assert(sweep.outcomes.keySet === Set("dead", "orphan"))
      assert(!sweep.outcomes("orphan").recovered)
      assert(sweep.outcomes("orphan").finalError.exists(_.contains("no rebuild registered")))
      assert(healthy.isActive, "the healthy pipeline must keep running through a sweep")
    } finally healthy.stop()
  }

  test("recoverAll sweeps independently: one exhausted pipeline doesn't stop the rest") {
    val base = Files.createTempDirectory("sweep").toString
    Cdc.toWire(spark, dir).where(col("offset") < 50)
      .write.mode("append").json(s"$base/wire")
    val healedOnce = new AtomicBoolean(true)
    def healing(): StreamingQuery =
      WireSource.readStream(spark, s"$base/wire")
        .writeStream.option("checkpointLocation", s"$base/ckpt_heal")
        .foreachBatch { (_: DataFrame, _: Long) =>
          if (healedOnce.getAndSet(false)) throw new RuntimeException("one-time")
          ()
        }.start()
    def hopeless(): StreamingQuery =
      WireSource.readStream(spark, s"$base/wire")
        .writeStream.option("checkpointLocation", s"$base/ckpt_hopeless")
        .foreachBatch { (_: DataFrame, _: Long) =>
          throw new RuntimeException("always dies")
        }.start()
    val sweep = Recovery.recoverAll(
      Map("healing" -> (healing _), "hopeless" -> (hopeless _)),
      run = q => { q.processAllAvailable(); q.stop() },
      maxRestarts = 1, delayMs = 1L, sleep = _ => ())
    assert(sweep.totalFailed === 2)
    assert(sweep.recovered === 1)
    assert(sweep.failed === 1)
    assert(sweep.details("healing").recovered)
    assert(!sweep.details("hopeless").recovered)
  }
}
