package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Shared local session, test data dir and synthetic fixtures for all suites. */
object TestSpark {
  val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = {
    val s = Tables.localSession("graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run a started stream over everything its source holds, then stop it. */
  def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** `df` as one JSON-lines file under `path`: a file-source stream
    * admits it as one micro-batch, batch 0. */
  def writeJsonFile(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.json(path)

  /** Seeded Zipf(1)-skewed changelog (op, pk, ts, seq, value) of `n`
    * events over pks 1..`keys`: pk = floor((keys+1)^u) for a per-row
    * uniform u hashed from (seed, id), so P(pk = k) ∝ log((k+1)/k) and
    * pk 1 is the hot key. Rows are pure functions of their id, so the
    * data is identical under any partitioning. Every third event shares
    * a ts (seq breaks the tie) and one in eight is a delete. */
  def zipfChangelog(n: Long, keys: Long, seed: Long): DataFrame = {
    val u = pmod(xxhash64(lit(seed), col("id")), lit(1L << 53)).cast("double") / (1L << 53).toDouble
    spark.range(n).select(
      when(pmod(xxhash64(lit(seed + 1), col("id")), lit(8L)) === 0L, "d").otherwise("u").as("op"),
      floor(pow(lit(keys + 1.0), u)).cast("long").as("pk"),
      timestamp_millis(lit(1700000000000L) + expr("id div 3") * 1000L).as("ts"),
      col("id").as("seq"),
      (pmod(col("id"), lit(97L)) + 0.25).as("value"))
  }
}
