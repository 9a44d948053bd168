package graft

import graft.cdc.{Cdc, Materialize}
import graft.sources.WireSource
import graft.sinks.TableSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class PipelineSpec extends AnyFunSuite {
  import TestSpark.{spark, dir}

  test("streaming pipeline ends in the batch-materialized state") {
    val base = Files.createTempDirectory("pipeline").toString
    WireSource.publish(spark, dir, s"$base/wire")

    val q = Pipeline.start(spark, Pipeline.Config(
      wirePath = s"$base/wire",
      statePath = s"$base/state",
      checkpointPath = s"$base/ckpt"))
    q.processAllAvailable()
    val st = Pipeline.status(q)
    q.stop()

    assert(st("isActive") === true)
    assert(st("batchId").asInstanceOf[Long] >= 0L)

    val state = TableSink.readLive(spark, s"$base/state")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = Materialize.latestSnapshot(Cdc.changelog(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // streaming ts is ms-truncated; values must still agree because seq
    // breaks ordering ties identically
    assert(state.keySet === expected.keySet)
    expected.foreach { case (k, v) => assert(state(k) === v, s"key $k") }
  }

  test("pipeline routes poisoned messages to the DLQ, applies the rest") {
    // the single-table and the fanout pipeline share the guard; applied
    // keys are (state table, key), "" naming the single-table state
    def liveKeys(table: String, path: String): Set[(String, Long)] =
      TableSink.readLive(spark, path).collect().map(r => table -> r.getLong(0)).toSet
    val starts = Seq[(String, (SparkSession, Pipeline.Config) => StreamingQuery,
        String => Set[(String, Long)], Set[(String, Long)])](
      ("start", Pipeline.start, liveKeys("", _),
        Materialize.latestSnapshot(Cdc.changelog(spark, dir))
          .collect().map(r => "" -> r.getLong(0)).toSet),
      ("startFanout", Pipeline.startFanout,
        state => new java.io.File(state).listFiles().filter(_.isDirectory)
          .flatMap(t => liveKeys(t.getName, t.getPath)).toSet,
        Materialize.fanoutApply(Cdc.parseEnvelope(Cdc.toWire(spark, dir)))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSet))
    starts.foreach { case (name, start, applied, expected) =>
      val base = Files.createTempDirectory("dlq").toString
      WireSource.publish(spark, dir, s"$base/wire")
      // inject a poisoned wire file: valid (topic, offset) but garbage envelope
      Files.writeString(
        java.nio.file.Path.of(s"$base/wire/poison.json"),
        """{"topic":"graft.public.events","offset":999999999,"value":"NOT JSON"}""" + "\n")

      val q = start(spark, Pipeline.Config(
        wirePath = s"$base/wire",
        statePath = s"$base/state",
        checkpointPath = s"$base/ckpt",
        dlqPath = Some(s"$base/dlq")))
      q.processAllAvailable()
      q.stop()

      val dlq = spark.read.parquet(s"$base/dlq").collect()
      assert(dlq.map(_.getAs[Long]("offset")).toSet === Set(999999999L), name)
      // the apply still processed everything else
      assert(applied(s"$base/state") === expected, name)
    }
  }

  test("fanout pipeline materializes one state table per routed table") {
    val base = Files.createTempDirectory("fanout").toString
    WireSource.publish(spark, dir, s"$base/wire")
    val q = Pipeline.startFanout(spark, Pipeline.Config(
      wirePath = s"$base/wire", statePath = s"$base/state", checkpointPath = s"$base/ckpt"))
    q.processAllAvailable()
    q.stop()

    val expected = graft.cdc.Materialize.fanoutApply(
      graft.cdc.Cdc.parseEnvelope(graft.cdc.Cdc.toWire(spark, dir)))
    val tables = new java.io.File(s"$base/state").listFiles().filter(_.isDirectory).map(_.getName)
    // every live routed table materialized ('error' is all-deletes -> empty or absent)
    val expByTable = expected.collect().groupBy(_.getString(0))
    expByTable.foreach { case (t, rows) =>
      assert(tables.contains(t), s"missing state for table $t")
      val got = TableSink.readLive(spark, s"$base/state/$t")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val exp = rows.map(r => r.getLong(1) -> r.getDouble(2)).toMap
      assert(got === exp, s"table $t")
    }
  }

  test("fanout: replaying the batch that created each table's state moves no value and no count") {
    val base = Files.createTempDirectory("fanoutreplay").toString
    WireSource.publish(spark, dir, s"$base/wire")
    val cfg = Pipeline.Config(
      wirePath = s"$base/wire", statePath = s"$base/state", checkpointPath = s"$base/ckpt")
    def states(): Map[String, Map[Long, (Double, Long)]] =
      new java.io.File(s"$base/state").listFiles().filter(_.isDirectory).map { t =>
        t.getName -> TableSink.readLive(spark, t.getPath)
          .select("user_id", "last_value", "n_changes").collect()
          .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
      }.toMap
    TestSpark.drain(Pipeline.startFanout(spark, cfg))
    // the fixture's wire is one micro-batch, so batch 0 created every state
    val commits = new java.io.File(s"$base/ckpt/commits")
    assert(commits.list().filterNot(_.startsWith(".")).toSeq === Seq("0"))
    val seeded = states()
    // a crash after the apply but before the commit: restart replays batch 0
    commits.listFiles().foreach(_.delete())
    TestSpark.drain(Pipeline.startFanout(spark, cfg))
    assert(states() === seeded)
    val expected = Materialize.fanoutApply(Cdc.parseEnvelope(Cdc.toWire(spark, dir)))
      .collect().groupBy(_.getString(0)).map { case (t, rows) =>
        t -> rows.map(r => r.getLong(1) -> ((r.getDouble(2), r.getLong(4)))).toMap
      }
    expected.foreach { case (t, rows) => assert(seeded(t) === rows, s"table $t") }
  }

  test("pause/resume: events accumulate during the pause, zero loss, zero duplicate applies") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("pauseresume").toString
    val wire = Cdc.toWire(spark, dir)
    // first half of the stream arrives, pipeline drains it, operator pauses
    wire.where(col("offset") < 500).write.mode("overwrite").json(s"$base/wire")
    val cfg = Pipeline.Config(
      wirePath = s"$base/wire",
      statePath = s"$base/state",
      checkpointPath = s"$base/ckpt")
    val q1 = Pipeline.start(spark, cfg)
    q1.processAllAvailable()
    val paused = Pipeline.pause(q1)
    assert(paused.status === "PAUSED")
    assert(!q1.isActive)
    assert(paused.lastBatchId >= 0L)
    val midState = TableSink.readLive(spark, s"$base/state")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap

    // second half lands WHILE the pipeline is paused; state must not move
    wire.where(col("offset") >= 500).write.mode("append").json(s"$base/wire")
    val stillPaused = TableSink.readLive(spark, s"$base/state")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(stillPaused === midState, "state moved while paused")

    // resume from the SAME checkpoint, drain the backlog
    val q2 = Pipeline.resume(spark, cfg)
    q2.processAllAvailable()
    Pipeline.pause(q2)

    // bit-parity with an uninterrupted batch materialization of the full
    // stream — including n_changes, which counts APPLIES per key: any
    // double-apply across the pause boundary would inflate it
    val got = TableSink.readLive(spark, s"$base/state")
      .select("user_id", "last_value", "n_changes")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val expected = Materialize.latestSnapshot(Cdc.changelog(spark, dir))
      .select("user_id", "last_value", "n_changes")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got.keySet === expected.keySet, "event loss or phantom keys across pause")
    expected.foreach { case (k, (v, n)) =>
      assert(got(k)._1 === v, s"value mismatch for key $k")
      assert(got(k)._2 === n, s"apply-count mismatch for key $k (duplicate or lost apply)")
    }

    // resume without a checkpoint is a loud error, not a silent first start
    val e = intercept[IllegalArgumentException] {
      Pipeline.resume(spark, cfg.copy(checkpointPath = s"$base/no-such-ckpt"))
    }
    assert(e.getMessage.contains("resume"))
  }

  test("batch backfill produces the same state table") {
    val base = Files.createTempDirectory("pipelineb").toString
    WireSource.publish(spark, dir, s"$base/wire")
    val state = Pipeline.runBatch(spark, s"$base/wire", s"$base/state")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = Materialize.latestSnapshot(Cdc.changelog(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state === expected)
  }

  test("full-load seed is stored in the state columns; a seed missing one fails at start") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("pipelineseed").toString
    // an empty wire: no micro-batch rewrites the seeded state
    Files.createDirectories(java.nio.file.Path.of(s"$base/wire"))
    val seed = spark.range(5).select(col("id").cast("int").as("user_id"),
      (col("id") / 4).cast("decimal(10,2)").as("last_value"),
      timestamp_millis(col("id")).as("updated_at"), lit(1L).as("n_changes"),
      lit("extra").as("note"))
    def cfg(state: String, from: org.apache.spark.sql.DataFrame) = Pipeline.Config(
      wirePath = s"$base/wire", statePath = s"$base/$state",
      checkpointPath = s"$base/ckpt-$state", fullLoadFrom = Some(from))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.start(spark, cfg("bad", seed.drop("n_changes")))
    }
    assert(e.getMessage.contains("n_changes"))
    assert(!TableSink.stateExists(spark, s"$base/bad"))

    Pipeline.start(spark, cfg("good", seed)).stop()
    assert(spark.read.parquet(s"$base/good").schema === TableSink.snapshotSchema)
  }
}
