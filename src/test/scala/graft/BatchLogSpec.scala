package graft

import graft.sources.WireSource
import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The batch-id state log every streaming monitor keeps: absent logs read
  * empty with the declared schema, a replay replaces only its own
  * partition, `before` and `snapshot` never see a batch's own write, and
  * every monitor read-back types `batch_id` as a long. */
class BatchLogSpec extends AnyFunSuite {
  import TestSpark.{spark, dir}
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("batch-log").toString

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("n", LongType)))

  private def rows(df: DataFrame): Set[(String, Long, Long)] =
    df.select("k", "n", "batch_id").as[(String, Long, Long)].collect().toSet

  test("an absent log reads as an empty frame of the declared schema") {
    val path = s"${tmp()}/absent"
    val before = BatchLog.before(spark, path, schema, 3L)
    assert(before.isEmpty)
    assert(before.schema === schema.add("batch_id", LongType))
    val snap = BatchLog.snapshot(spark, path, schema, 3L)
    assert(snap.isEmpty)
    assert(snap.schema === schema)
  }

  test("a replay replaces only its own partition; before(N) and snapshot see no batch >= N") {
    val path = s"${tmp()}/log"
    BatchLog.write(Seq(("a", 1L)).toDF("k", "n"), path, 0L)
    BatchLog.write(Seq(("b", 2L)).toDF("k", "n"), path, 1L)
    BatchLog.write(Seq(("c", 3L)).toDF("k", "n"), path, 2L)
    // at-least-once redelivery of batch 1 with different content
    BatchLog.write(Seq(("d", 4L), ("e", 5L)).toDF("k", "n"), path, 1L)
    assert(rows(BatchLog.history(spark, path)) ===
      Set(("a", 1L, 0L), ("d", 4L, 1L), ("e", 5L, 1L), ("c", 3L, 2L)))
    assert(rows(BatchLog.before(spark, path, schema, 1L)) === Set(("a", 1L, 0L)))
    assert(BatchLog.before(spark, path, schema, 0L).isEmpty)
    assert(BatchLog.snapshot(spark, path, schema, 1L).as[(String, Long)].collect().toSet ===
      Set(("d", 4L), ("e", 5L)))
    assert(BatchLog.snapshot(spark, path, schema, -1L).isEmpty)
  }

  test("every monitor read-back types batch_id as a long") {
    val base = tmp()
    def st(name: String) = s"$base/$name"
    WireSource.publish(spark, dir, st("wire"))
    val envelopes = WireSource.readBatch(spark, st("wire"))

    val lag = ConsumerLag.Config("unused", st("lag"), "unused")
    ConsumerLag.monitorBatch(spark, lag, envelopes, 0L)
    val jit = JitterMonitor.Config("unused", st("jitter"), "unused")
    JitterMonitor.monitorBatch(spark, jit, envelopes, 0L)
    val sla = LagSla.Config("unused", st("sla"), "unused")
    LagSla.monitorBatch(spark, sla, envelopes.select(timestamp_millis(col("ts_ms")).as("ts")), 0L)
    val mix = MixMonitor.Config("unused", st("mix"), "unused", targets = Map("a" -> 1.0))
    MixMonitor.monitorBatch(spark, mix, Seq((1L, "a", "x y")).toDF("doc_id", "source", "text"), 0L)
    val out = OutlierMonitor.Config("unused", st("outliers"), "unused",
      stats = Map(1 -> OutlierMonitor.LabelStats(Seq(0.0, 0.0), 1.0, 0.5)))
    OutlierMonitor.monitorBatch(spark, out,
      Seq((1L, 1, Seq(0.1, 0.2))).toDF("vec_id", "label", "embedding"), 0L)
    val fill = StreamBackfill.Config("unused", st("backfill"), "unused")
    StreamBackfill.monitorBatch(spark, fill,
      Seq(("t", 1L), ("t", 2L), ("t", 5L)).toDF("topic", "offset"), 0L)
    val lsn = StreamLsnTrend.Config("unused", st("lsn"), "unused")
    StreamLsnTrend.monitorBatch(spark, lsn,
      Seq((0L, 1L), (700000L, 2L)).toDF("ts_ms", "lsn"), 0L)
    val salt = StreamSaltAdvisor.Config("unused", st("salt"), "unused")
    StreamSaltAdvisor.monitorBatch(spark, salt, Seq(1L, 1L, 2L).toDF("pk"), 0L)
    val adm = CorpusAdmission.Config("unused", st("admission"), "unused")
    CorpusAdmission.admitBatch(spark, adm, Seq((1L,
      "the quick brown fox jumps over the lazy dog while the cat watches from the sill"))
      .toDF("doc_id", "text"), 0L)
    val stale = StalenessWatch.Config(st("stale"), st("stale_alerts"), "unused",
      cadence = Map("a" -> StalenessWatch.Cadence(1.0, 2L)))
    StalenessWatch.watchBatch(spark, stale, Seq(("a", 0L)).toDF("table_name", "ms"), 0L)

    val readBacks = Seq(
      "ConsumerLag.lag" -> ConsumerLag.lag(spark, lag),
      "JitterMonitor.jitter" -> JitterMonitor.jitter(spark, jit),
      "LagSla.sla" -> LagSla.sla(spark, sla),
      "MixMonitor.drift" -> MixMonitor.drift(spark, mix),
      "OutlierMonitor.outliers" -> OutlierMonitor.outliers(spark, out),
      "StreamBackfill.gaps" -> StreamBackfill.gaps(spark, fill),
      "StreamBackfill.ranges" -> StreamBackfill.ranges(spark, fill),
      "StreamLsnTrend.trend" -> StreamLsnTrend.trend(spark, lsn),
      "StreamSaltAdvisor.panel" -> StreamSaltAdvisor.panel(spark, salt),
      "CorpusAdmission.decisions" -> CorpusAdmission.decisions(spark, adm),
      "StalenessWatch.alerts" -> StalenessWatch.alerts(spark, stale))
    readBacks.foreach { case (name, df) =>
      assert(df.schema("batch_id").dataType === LongType, name)
      assert(!df.isEmpty, name)
    }
  }
}
