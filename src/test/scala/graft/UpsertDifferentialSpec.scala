package graft

import graft.cdc.Materialize
import graft.sinks.TableSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Differential check of the touched-keys [[TableSink.upsert]]: over
  * seeded random batch sequences, the stored table (tombstones, `max_seq`
  * and `n_changes` included) must equal, after every apply, what the
  * whole-state merge it replaced would have stored.
  */
class UpsertDifferentialSpec extends AnyFunSuite {
  import TestSpark.spark

  private val changeSchema = StructType(Seq(
    StructField("op", StringType), StructField("pk", LongType),
    StructField("ts", TimestampType), StructField("seq", LongType),
    StructField("value", DoubleType)))

  /** The oracle: the whole-state merge, every stored row re-entering it. */
  private def wholeStateMerge(stored: DataFrame, changes: DataFrame): DataFrame = {
    val s0 =
      if (stored.columns.contains("max_seq")) stored
      else stored.withColumn("max_seq", lit(Long.MinValue))
    val s =
      if (s0.columns.contains("is_deleted")) s0
      else s0.withColumn("is_deleted", lit(false))
    val existing = s.select(col("user_id").as("pk"),
      when(col("is_deleted"), lit("d")).otherwise(lit("c")).as("op"),
      col("last_value").cast("double").as("value"),
      col("updated_at").as("ts"), col("max_seq").as("seq"),
      col("n_changes").as("weight"))
    val fresh = changes.select("pk", "op", "value", "ts", "seq")
      .join(existing.select(col("pk"), col("seq").as("applied_seq")), Seq("pk"), "left")
      .where(col("applied_seq").isNull || col("seq") > col("applied_seq"))
      .drop("applied_seq")
    Materialize.latestStateWeighted(existing.unionByName(fresh.withColumn("weight", lit(1L))))
  }

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Rows sorted by key (null key first). */
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(r => Option(r.head).map(_.toString).getOrElse(""))

  /** A 4-column snapshot seed over keys 0..29 plus a null key, values with
    * three decimals so the merge's cent rounding shows on untouched rows. */
  private def seedState(r: scala.util.Random): DataFrame =
    frame((0 until 30).map(k => Row(Long.box(k.toLong), r.nextInt(1000000) / 1000.0,
      new java.sql.Timestamp(1000L * r.nextInt(40)), 1L + r.nextInt(5))) :+
      Row(null, 1.005, new java.sql.Timestamp(5000L), 2L),
      TableSink.snapshotSchema)

  test("touched-keys upsert stores exactly what the whole-state merge stores, after every apply") {
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed)
      val path = Files.createTempDirectory(s"upsertdiff$seed").toString + "/state"
      var seq = 0L
      def event(op: String, pk: java.lang.Long, tsSec: Long): Row = {
        seq += 1
        val v = if (r.nextInt(15) == 0) null else Double.box(r.nextInt(1000000) / 1000.0)
        Row(op, pk, new java.sql.Timestamp(tsSec * 1000L), seq, v)
      }
      // keys 0..39 (10 never seeded), about one null key in 20; event
      // times overlap across batches, so ts and seq order disagree
      def batch(b: Int, n: Int): Seq[Row] = Seq.fill(n) {
        val pk = if (r.nextInt(20) == 0) null else Long.box(r.nextInt(40).toLong)
        val op = Seq("c", "u", "u", "d")(r.nextInt(4))
        event(op, pk, b * 30L + r.nextInt(60))
      }
      val deleted = Long.box(5L)
      val b1 = batch(1, 25)
      val b2 = batch(2, 20) :+ event("d", deleted, 200L)
      val b3 = event("c", deleted, 201L) +: batch(3, 20)
      val b5 = batch(5, 25)
      val b6 = batch(6, 15) ++ Seq(event("u", null, 300L), event("d", null, 301L))
      val steps: Seq[(String, Seq[Row])] = Seq(
        "fresh batch" -> b1, "batch ending in a delete" -> b2,
        "recreate in the next batch" -> b3, "full replay of an earlier batch" -> b2,
        "apply onto a state that exists only as .bak" -> b5, "null key updated then deleted" -> b6)

      val seedDf = seedState(r)
      TableSink.writeSnapshot(seedDf, "user_id", path)
      var oracle: DataFrame = seedDf
      steps.zipWithIndex.foreach { case ((what, rows), i) =>
        val changes = frame(rows, changeSchema)
        if (what.contains(".bak")) {
          val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
          assert(fs.rename(new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.fs.Path(path + ".bak")))
        }
        val live = TableSink.upsert(spark, path, changes)
        val want = wholeStateMerge(oracle, changes)
        val wantRows = rowsOf(want)
        oracle = frame(wantRows.map(Row.fromSeq), want.schema)
        val ctx = s"seed $seed, step ${i + 1} ($what)"
        val got = rowsOf(spark.read.parquet(path))
        val (extra, missing) = (got.diff(wantRows), wantRows.diff(got))
        assert(extra.isEmpty && missing.isEmpty,
          s"$ctx: stored, not in the oracle: $extra; in the oracle, not stored: $missing")
        assert(rowsOf(live) === rowsOf(oracle.where(!col("is_deleted")).drop("is_deleted")), ctx)
      }
      // the sequence reached the cases it exists for
      val last = oracle.collect()
      assert(last.exists(row => row.isNullAt(0)), s"seed $seed: null key stored")
      assert(last.exists(_.getAs[Boolean]("is_deleted")), s"seed $seed: a tombstone stored")
    }
  }
}
