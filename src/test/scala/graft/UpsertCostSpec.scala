package graft

import graft.sinks.TableSink
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

/** What a [[TableSink.upsert]] costs: its shuffle and its job count follow
  * the increment, not the stored state, no read launches a Parquet
  * schema-inference job, and repeated applies do not pile up files.
  */
class UpsertCostSpec extends AnyFunSuite {
  import TestSpark.spark
  import UpsertCostSpec.Cost

  private def measure(body: => Unit): Cost = {
    val jobs, outside, shuffle = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          outside.incrementAndGet()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    Cost(jobs.get, outside.get, shuffle.get)
  }

  /** A snapshot-seeded state of `keys` keys, brought to its upserted
    * (six-column) form by one warm-up apply. */
  private def state(keys: Int, warmUp: DataFrame): String = {
    val path = Files.createTempDirectory(s"upsertcost$keys").toString + "/state"
    TableSink.writeSnapshot(spark.range(keys).select(col("id").as("user_id"),
      (col("id") % 1000 / 10.0).as("last_value"),
      timestamp_millis(lit(1672531200000L) + col("id")).as("updated_at"),
      lit(1L).as("n_changes")), "user_id", path)
    TableSink.upsert(spark, path, warmUp)
    path
  }

  /** `n` changelog rows over the first 1,000 keys, seqs from `seq0`. */
  private def increment(n: Int, seq0: Long): DataFrame =
    spark.range(n).select(
      when(col("id") % 7 === 0, lit("d")).otherwise(lit("u")).as("op"),
      (col("id") * 37 % 1000).as("pk"),
      timestamp_millis(lit(1700000000000L) + col("id")).as("ts"),
      (lit(seq0) + col("id")).as("seq"),
      (col("id") % 500 / 4.0).as("value"))

  test("an apply's shuffle and jobs do not grow with the state; no read infers a schema") {
    val costs = Seq(10000, 100000).map { keys =>
      val path = state(keys, increment(400, 0L))
      val batch = increment(400, 1000L)
      val apply = measure(TableSink.upsert(spark, path, batch))
      val read = measure(TableSink.readLive(spark, path).agg(count(lit(1)), sum("last_value")).collect())
      assert(apply.outsideSql === 0L, s"$keys keys: upsert ran a job outside SQL execution")
      assert(read.outsideSql === 0L, s"$keys keys: readLive ran a job outside SQL execution")
      keys -> apply
    }.toMap
    val (small, large) = (costs(10000), costs(100000))
    assert(large.jobs === small.jobs, s"jobs: $small vs $large")
    assert(small.shuffleBytes > 0L)
    assert(math.abs(large.shuffleBytes - small.shuffleBytes) <= small.shuffleBytes / 10,
      s"shuffle bytes grew with the state: ${small.shuffleBytes} at 10k keys, ${large.shuffleBytes} at 100k")
  }

  test("30 consecutive upserts do not grow the state's file count") {
    val path = state(20000, increment(40, 0L))
    val files = (1 to 30).map { i =>
      TableSink.upsert(spark, path, increment(40, i * 100L))
      TableSink.compactionPlan(spark, path).nFiles
    }
    assert(files.drop(10).max <= files.take(10).max, s"file counts per apply: $files")
    assert(files.max <= 2L * spark.sparkContext.defaultParallelism, s"file counts per apply: $files")
  }
}

object UpsertCostSpec {
  /** Jobs, jobs run outside any SQL execution (Parquet schema inference
    * is such a job), and shuffle bytes written, while a call runs. */
  final case class Cost(jobs: Long, outsideSql: Long, shuffleBytes: Long)
}
