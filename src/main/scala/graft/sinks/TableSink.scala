package graft.sinks

import graft.cdc.Materialize
import graft.dec
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-backed table sink with the reference's JDBC-sink apply semantics
  * (reference: backend/ingestion/sink_config.py — insert.mode=upsert,
  * delete.enabled, pk.mode=record_key), expressed as parquet state.
  *
  * Cost model of an [[upsert]]: only the keys the increment touches go
  * through a shuffle, so shuffle bytes are proportional to the increment,
  * not to the state. The untouched rest of the state streams through one
  * narrow scan-and-rewrite of the state files (no exchange, no sort).
  * Reads declare the state schema, so neither an apply nor a live read pays
  * a Parquet schema-inference job. Against a warehouse this maps to
  * `df.write.jdbc` or a MERGE INTO on a lakehouse table — the changelog
  * algebra is identical.
  */
object TableSink {

  /** The columns of a full-load snapshot, which every state table has. */
  val snapshotSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("last_value", DoubleType),
    StructField("updated_at", TimestampType), StructField("n_changes", LongType)))

  /** The declared schema of a stored state table: the snapshot columns
    * plus the watermark and tombstone columns [[upsert]] adds. A
    * snapshot-seeded state reads its missing `max_seq` and `is_deleted` as
    * null; [[readState]] maps them to "nothing applied yet" and "live". */
  private val stateSchema: StructType =
    snapshotSchema.add("max_seq", LongType).add("is_deleted", BooleanType)

  /** Full-load snapshot write (transfer.py equivalent): `nBuckets` evenly
    * sized files, written in parallel. */
  def writeSnapshot(df: DataFrame, keyCol: String, path: String, nBuckets: Int = 32): Unit =
    df.repartition(nBuckets, col(keyCol))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Apply a changelog increment to the stored state: latest change per
    * key wins across {stored state ∪ increment}; deleted keys stay in the
    * stored table as TOMBSTONE rows (`is_deleted = true`, hidden from
    * [[readLive]] and from the returned frame). Writes the new state and
    * returns its live view.
    *
    * Replay-idempotent: the state carries a per-key applied watermark
    * (max_seq) and increment rows with seq ≤ it are dropped BEFORE the
    * merge, so an at-least-once redelivery of a whole micro-batch changes
    * neither values nor n_changes. The tombstone retains a deleted key's
    * watermark and cumulative change count, which makes the stored state
    * batch-boundary-independent: a delete-then-recreate pair split across
    * two micro-batches merges to exactly the one-batch (and one-shot
    * batch materialization) result — without the tombstone the recreate
    * would restart the key's count and forget its replay watermark. A
    * genuinely NEW event above the watermark re-inserts the key —
    * log-order apply, the JDBC-sink semantics; note an event-time
    * resolution over the full changelog can disagree with it on
    * (ts,seq)-disordered keys. Tombstone retention is bounded by deleted
    * key cardinality; reclaim space offline with the `cdc_tombstone_gc`
    * policy (drop tombstones older than every replayable source offset),
    * like any compacted-topic retention.
    *
    * Touched-keys merge: the increment's distinct keys are broadcast and
    * split the state (null-safe, so a null key merges with a stored null
    * key as a group-by would) into touched and untouched rows. Only the
    * touched rows ∪ the increment are replay-filtered and merged; the
    * untouched rows are written back through the merge's own output
    * projection, so every stored column is what a whole-state merge would
    * have written. */
  def upsert(spark: SparkSession, path: String, changes: DataFrame): DataFrame = {
    val increment = changes.select("pk", "op", "value", "ts", "seq")
    val keys = broadcast(increment.select(col("pk").as("touched_pk")).distinct())
    val state = readState(spark, path)
    def split(how: String) = state.join(keys, state("user_id") <=> keys("touched_pk"), how)
    val existing = split("left_semi")
      // stored state re-enters the merge carrying the per-key applied
      // watermark as its seq and the cumulative change count as its
      // weight; a tombstone re-enters as the delete it recorded, so the
      // merge keeps it dead unless a fresh, newer event revives the key
      .select(col("user_id").as("pk"),
        when(col("is_deleted"), lit("d")).otherwise(lit("c")).as("op"),
        col("last_value").as("value"),
        col("updated_at").as("ts"), col("max_seq").as("seq"),
        col("n_changes").as("weight"))
    // drop already-applied rows (micro-batch replay): anything at or
    // below the key's applied watermark contributed to the stored row
    val fresh = increment
      .join(existing.select(col("pk"), col("seq").as("applied_seq")), Seq("pk"), "left")
      .where(col("applied_seq").isNull || col("seq") > col("applied_seq"))
      .drop("applied_seq")
    val merged = Materialize.latestStateWeighted(
      existing.unionByName(fresh.withColumn("weight", lit(1L))))
    // a single stored row merged alone: latestStateWeighted's projection
    val untouched = split("left_anti").select(
      col("user_id"), dec(col("last_value"), 18, 2).cast("double").as("last_value"),
      col("updated_at"), col("n_changes"), col("max_seq"), col("is_deleted"))
    val tmp = path + ".tmp"
    merged.unionByName(untouched).write.mode(SaveMode.Overwrite).parquet(tmp)
    DirSwap.commit(spark, tmp, path)
    readLive(spark, path)
  }

  /** The live view of a state table: tombstone rows filtered out, helper
    * column dropped — what downstream consumers should read. Columns:
    * `user_id`, `last_value`, `updated_at`, `n_changes`, `max_seq`
    * (`Long.MinValue` for rows of a snapshot-seeded state that no upsert
    * has touched yet). */
  def readLive(spark: SparkSession, path: String): DataFrame =
    readState(spark, path).where(!col("is_deleted")).drop("is_deleted")

  /** True when recoverable state exists at `path` — either the live table
    * or the `.bak` left by a swap that crashed between its two renames.
    * Seeding decisions MUST use this (not a bare exists(path)): after such
    * a crash the live path is absent but `.bak` holds the real state, and
    * seeding over it would orphan then delete the only copy. */
  def stateExists(spark: SparkSession, path: String): Boolean =
    DirSwap.committed(spark, path).isDefined

  /** Read the state table with its declared schema, falling back to the
    * `.bak` left by a swap that crashed between its two renames. An absent
    * state reads as empty, so the first [[upsert]] creates it. */
  private def readState(spark: SparkSession, path: String): DataFrame =
    DirSwap.committed(spark, path) match {
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], stateSchema)
      case Some(src) =>
        // snapshot-seeded state (writeSnapshot of a plain materialization)
        // predates the watermark/tombstone columns: "nothing applied yet",
        // all rows live
        spark.read.schema(stateSchema).parquet(src)
          .withColumn("max_seq", coalesce(col("max_seq"), lit(Long.MinValue)))
          .withColumn("is_deleted", coalesce(col("is_deleted"), lit(false)))
    }

  /** Time-partitioned lake write (the reference's S3 sink with time-based
    * partitioning): rows land under dt=YYYY-MM-DD directories so readers
    * prune by date. Dynamic overwrite: an incremental write replaces only
    * the dt partitions it carries — static overwrite would silently erase
    * every previously landed date on each call. */
  def writeTimePartitioned(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("dt", date_format(col(tsCol), "yyyy-MM-dd"))
      .repartition(col("dt"))
      .write.partitionBy("dt")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(path)

  /** Append-only audit sink (pipeline_runs equivalent). */
  def appendAudit(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Small-file health report for a parquet table directory — the lake
    * maintenance statistic a streaming sink degrades on (every
    * micro-batch appends a sliver; a year of 1-minute triggers is half a
    * million files and the NameNode/S3-listing, task-scheduling, and
    * footer-reading overheads eat the cluster): data file count, total
    * bytes, mean file bytes, and the file count a compaction to
    * `targetFileBytes` (default 128 MiB — the HDFS-block / Iceberg / Delta
    * convention) would leave. Pure driver-side FS metadata — no data
    * read. */
  def compactionPlan(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): CompactionPlan = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var nFiles = 0L; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      // count data files only — _SUCCESS markers and checksums are not
      // what compaction rewrites
      if (f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) {
        nFiles += 1; bytes += f.getLen
      }
    }
    val target = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    CompactionPlan(nFiles, bytes, target, nFiles > target)
  }

  final case class CompactionPlan(
      nFiles: Long, totalBytes: Long, targetFiles: Long, worthCompacting: Boolean)

  /** Execute a compaction: rewrite the table at `targetFiles` files via
    * the [[DirSwap]] that [[upsert]] uses. Returns the plan it executed.
    *
    * CONCURRENCY CONTRACT — the WRITER must be stopped (pipeline paused,
    * see [[graft.Pipeline.pause]]) for the duration of this call: the
    * rewrite reads the table at one instant and swaps directories at a
    * later one, so any upsert/append that lands in between is silently
    * discarded by the swap (a lost update, with no error raised). This
    * maintenance op does NOT take part in the upsert watermark protocol —
    * schedule it the way the reference schedules snapshots: on a paused
    * pipeline. Readers: there is an instant between the two renames where
    * the table path does not exist; concurrent readers should retry on
    * FileNotFound (the window is two FS metadata ops). A crash between the
    * renames leaves the complete pre-compaction table at `<path>.bak`,
    * which [[readLive]] reads and the next [[upsert]] promotes back. */
  def compactSmallFiles(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): CompactionPlan = {
    val plan = compactionPlan(spark, path, targetFileBytes)
    if (plan.worthCompacting) {
      val tmp = path + ".compact.tmp"
      spark.read.parquet(path)
        .repartition(plan.targetFiles.toInt)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      DirSwap.commit(spark, tmp, path)
      ()
    }
    plan
  }
}
