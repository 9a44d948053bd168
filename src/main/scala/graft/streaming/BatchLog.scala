package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The batch-id state log every streaming monitor (and the Pipeline DLQ)
  * keeps: micro-batch N's output is the `batch_id=N` partition of a
  * parquet directory, written by dynamic partition overwrite, so an
  * at-least-once replay of N replaces exactly its own partition. A
  * replayed batch must read only what batches < N wrote ([[before]]), or
  * the state snapshot batch N − 1 left ([[snapshot]]) — never its own
  * earlier write, or it would count itself twice.
  *
  * State reads take the declared schema (no schema-inference job, and an
  * absent directory reads as an empty frame of that schema). Read-backs
  * of a whole log ([[history]]) cast `batch_id` to long: directory-name
  * inference narrows small ids to int, and a dashboard must not depend on
  * which ids happen to exist. */
private[graft] object BatchLog {

  private def exists(spark: SparkSession, path: String): Boolean = {
    // resolve the filesystem FROM the path — FileSystem.get(conf) returns
    // the default FS and throws "Wrong FS" for s3a://… state on an
    // hdfs-default cluster
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Stamp `df` with `batchId` and overwrite only that batch's partition. */
  def write(df: DataFrame, path: String, batchId: Long): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(path)

  /** The rows batches < `batchId` wrote, `schema` plus a long `batch_id`. */
  def before(spark: SparkSession, path: String, schema: StructType, batchId: Long): DataFrame = {
    val withId = schema.add("batch_id", LongType)
    if (exists(spark, path))
      spark.read.schema(withId).parquet(path).where(col("batch_id") < batchId)
    else empty(spark, withId)
  }

  /** The state batch `batchId` wrote, without its `batch_id` column;
    * empty before the first batch (`batchId` < 0). */
  def snapshot(spark: SparkSession, path: String, schema: StructType, batchId: Long): DataFrame =
    if (batchId >= 0 && exists(spark, path))
      spark.read.schema(schema.add("batch_id", LongType)).parquet(path)
        .where(col("batch_id") === batchId).drop("batch_id")
    else empty(spark, schema)

  /** The whole log, every batch, with `batch_id` as a long. */
  def history(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).withColumn("batch_id", col("batch_id").cast(LongType))
}
