package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe replacement of a table directory by one written beside it.
  *
  * The writer writes the new table to a tmp directory, then [[commit]]
  * swaps it in with two renames: live → `<path>.bak`, tmp → live.
  * Invariant: at every instant at least one of {live, `.bak`} holds a
  * complete committed table, and every rename is checked (Hadoop
  * `FileSystem.rename` reports failure as `false`; an unchecked failed
  * live → bak rename would make the second rename nest the tmp dir INSIDE
  * the live dir, silently mixing old and new files). A crash between the
  * renames leaves the previous table only at `.bak`; readers find it
  * through [[committed]], and the next [[commit]] promotes it first.
  */
private[graft] object DirSwap {

  // path-resolved FS: FileSystem.get(conf) is the DEFAULT filesystem and
  // throws "Wrong FS" for tables on s3a://… when the default is hdfs/local
  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace the table at `path` by the complete table written at `tmp`. */
  def commit(spark: SparkSession, tmp: String, path: String): Unit = {
    val dst = new Path(path)
    val bak = new Path(path + ".bak")
    val fs = fsOf(spark, dst)
    def mv(from: Path, to: Path): Unit =
      require(fs.rename(from, to), s"swap: rename $from -> $to failed")
    // recovering from a crashed swap (only .bak survives): promote the
    // backup FIRST — deleting it while dst is absent would leave a window
    // with no recoverable copy at all
    if (!fs.exists(dst) && fs.exists(bak)) mv(bak, dst)
    if (fs.exists(dst)) {
      fs.delete(bak, true)
      mv(dst, bak)
    }
    mv(new Path(tmp), dst)
    fs.delete(bak, true)
  }

  /** Where the committed table at `path` is: the live directory, else the
    * `.bak` a swap that crashed between its renames left, else None. */
  def committed(spark: SparkSession, path: String): Option[String] = {
    val live = new Path(path)
    val fs = fsOf(spark, live)
    if (fs.exists(live)) Some(path)
    else if (fs.exists(new Path(path + ".bak"))) Some(path + ".bak")
    else None
  }
}
