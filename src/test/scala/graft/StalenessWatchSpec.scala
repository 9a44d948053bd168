package graft

import graft.cdc.Monitoring
import graft.streaming.StalenessWatch
import graft.streaming.StalenessWatch.{Cadence, Config}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming staleness watch: frozen-cadence scoring, missing tables,
  * monotone state under replay, and the batch-op handshake. */
class StalenessWatchSpec extends AnyFunSuite {
  import TestSpark.{spark, dir}
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("staleness-watch").toString

  private def cfg(): Config = {
    val base = tmp()
    Config(statePath = s"$base/state", alertPath = s"$base/alerts",
      checkpointPath = s"$base/ckpt",
      cadence = Map(
        "a" -> Cadence(10.0, 20L),
        "b" -> Cadence(5.0, 10L),
        "c" -> Cadence(100.0, 200L)))
  }

  test("a silent table goes overdue against its own frozen gap; unseen tables are missing") {
    val c = cfg()
    val b1 = Seq(("a", 0L), ("a", 50L), ("a", 100L), ("b", 95L)).toDF("table_name", "ms")
    StalenessWatch.watchBatch(spark, c, b1, 0L)
    val r1 = StalenessWatch.alerts(spark, c).where(col("batch_id") === 0L)
      .collect().map(r => r.getAs[String]("table_name") -> r.getAs[String]("status")).toMap
    // hwm = 100: a silence 0 (ok), b silence 5 <= 10 (ok), c never seen
    assert(r1 === Map("a" -> "ok", "b" -> "ok", "c" -> "missing"))

    val b2 = Seq(("a", 200L), ("c", 199L)).toDF("table_name", "ms")
    StalenessWatch.watchBatch(spark, c, b2, 1L)
    val rows2 = StalenessWatch.alerts(spark, c).where(col("batch_id") === 1L).collect()
    val r2 = rows2.map(r => r.getAs[String]("table_name") -> r.getAs[String]("status")).toMap
    // hwm = 200: b last 95 -> silence 105 > its max gap 10 -> overdue
    assert(r2 === Map("a" -> "ok", "b" -> "overdue", "c" -> "ok"))
    val bRow = rows2.find(_.getAs[String]("table_name") == "b").get
    assert(bRow.getAs[Long]("silence_ms") === 105L)
    assert(math.abs(bRow.getAs[Double]("staleness_score") - 105.0 / 5.0) < 1e-12)
  }

  test("replaying an old batch never moves the state backwards or duplicates alerts") {
    val c = cfg()
    val b1 = Seq(("a", 0L), ("b", 10L)).toDF("table_name", "ms")
    val b2 = Seq(("a", 500L)).toDF("table_name", "ms")
    StalenessWatch.watchBatch(spark, c, b1, 0L)
    StalenessWatch.watchBatch(spark, c, b2, 1L)
    val before = StalenessWatch.alerts(spark, c).count()
    // at-least-once replay of batch 0: state must stay at the max
    StalenessWatch.watchBatch(spark, c, b1, 0L)
    assert(StalenessWatch.alerts(spark, c).count() === before,
      "replay overwrites its own partition only")
    val state = spark.read.parquet(c.statePath)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state("a") === 500L, "monotone max-merge survives the replay")
    // and the replayed batch-0 alerts are scored against the CURRENT clock
    val replayed0 = StalenessWatch.alerts(spark, c)
      .where(col("batch_id") === 0L && col("table_name") === "b").collect().head
    assert(replayed0.getAs[String]("status") === "overdue",
      "b is 490ms silent against the replayed clock")
  }

  test("an unreadable state fails the batch and leaves the state files untouched") {
    val c = cfg()
    StalenessWatch.watchBatch(spark, c, Seq(("a", 0L), ("b", 10L)).toDF("table_name", "ms"), 0L)
    val state = java.nio.file.Paths.get(c.statePath)
    java.nio.file.Files.write(state.resolve("part-99999-garbage.parquet"),
      "not a parquet file".getBytes)
    def files(): Map[String, Seq[Byte]] = {
      val ls = java.nio.file.Files.list(state)
      try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.getFileName.toString -> java.nio.file.Files.readAllBytes(p).toSeq).toMap
      finally ls.close()
    }
    val before = files()
    // read as "no state", batch 1 would overwrite b's last-seen time
    intercept[Exception] {
      StalenessWatch.watchBatch(spark, c, Seq(("a", 500L)).toDF("table_name", "ms"), 1L)
    }
    assert(files() === before)
  }

  test("a crash mid-swap (last-seen only at .bak) keeps the other tables' times") {
    val c = cfg()
    StalenessWatch.watchBatch(spark, c, Seq(("a", 0L), ("b", 10L)).toDF("table_name", "ms"), 0L)
    // the state a crash between the swap's two renames leaves
    java.nio.file.Files.move(java.nio.file.Paths.get(c.statePath),
      java.nio.file.Paths.get(c.statePath + ".bak"))
    StalenessWatch.watchBatch(spark, c, Seq(("a", 15L)).toDF("table_name", "ms"), 1L)
    val r = StalenessWatch.alerts(spark, c).where(col("batch_id") === 1L).collect()
      .map(r => r.getAs[String]("table_name") -> (r.getAs[Long]("last_ms"), r.getAs[String]("status")))
      .toMap
    // b's last-seen 10 survives; read as empty it would be missing
    assert(r === Map("a" -> (15L, "ok"), "b" -> (10L, "ok"), "c" -> (-1L, "missing")))
    val state = spark.read.parquet(c.statePath)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state === Map("a" -> 15L, "b" -> 10L))
    assert(!new java.io.File(c.statePath + ".bak").exists())
  }

  test("start over an event feed alerts and keeps state as batch 0 over the same rows does") {
    val c = cfg()
    val eventsPath = tmp()
    TestSpark.writeJsonFile(Seq(("a", 0L), ("a", 50L), ("a", 100L), ("b", 95L))
      .toDF("table_name", "ms"), s"$eventsPath/events")
    TestSpark.drain(StalenessWatch.start(spark, s"$eventsPath/events", c))
    val base = tmp()
    val direct = c.copy(statePath = s"$base/state", alertPath = s"$base/alerts")
    StalenessWatch.watchBatch(spark, direct,
      spark.read.schema(StalenessWatch.eventSchema).json(s"$eventsPath/events"), 0L)
    def alerts(cfg: Config) = StalenessWatch.alerts(spark, cfg)
      .orderBy("table_name").collect().map(_.toString).toSeq
    def state(cfg: Config) = spark.read.parquet(cfg.statePath)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(alerts(direct).length == 3 && alerts(c) == alerts(direct))
    assert(state(c) === Map("a" -> 100L, "b" -> 95L) && state(c) === state(direct))
  }

  test("handshake: the frozen map derives from the batch staleness audit's output") {
    val cadence = StalenessWatch.cadenceOf(Monitoring.tableStaleness(spark, dir))
    assert(cadence.nonEmpty)
    cadence.values.foreach { c =>
      assert(c.meanGapMs > 0.0)
      assert(c.maxGapMs >= 1L)
    }
  }
}
