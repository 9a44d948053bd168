package graft

import org.apache.spark.sql.functions._

/** Whole-registry parallelism-invariance sweep — the per-round artifact
  * behind PartitionInvarianceSpec's sampled version: every registered
  * query is fingerprinted (sorted row strings, md5-folded) under
  * (shuffle.partitions=4, AQE on), (=7, AQE on) and (=4, AQE off); any
  * query whose rows move with the execution layout is reported. The
  * DuckDB gate runs at ONE fixed layout, so this is the determinism
  * evidence it cannot produce.
  *
  * Usage: runMain graft.InvarianceSweep <sfDir>
  * Prints one line per mismatching query (expected: none) and a summary.
  */
object InvarianceSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Tables.localSession("graft-invariance",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    def fingerprint(name: String): String =
      try {
        val rows = SparkEntry.queries(name)(spark, sfDir)
          .collect().map(_.toString).sorted
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.foreach(r => md.update(r.getBytes("UTF-8")))
        s"${rows.length}:${md.digest().map("%02x".format(_)).mkString}"
      } catch { case e: Throwable => s"ERROR:${e.getClass.getSimpleName}" }
    val names = SparkEntry.queries.keys.toSeq.sorted
    def sweep(partitions: String, aqe: String): Map[String, String] = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      // Evict every cached/memoized build before the layout runs — the
      // shared builds memoize .cache()'d intermediates per (session, dir),
      // and without this the later layouts would merely RE-READ blocks
      // materialized under the first layout, making their invariance
      // vacuous. With the eviction, every query re-executes its full plan
      // under this layout's confs.
      SharedBuilds.clear(spark)
      spark.catalog.clearCache()
      names.map(n => n -> fingerprint(n)).toMap
    }
    val base = sweep("4", "true")
    val p7 = sweep("7", "true")
    val noAqe = sweep("4", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    var bad = 0
    names.foreach { n =>
      val (a, b, c) = (base(n), p7(n), noAqe(n))
      if (a != b || a != c) {
        bad += 1
        println(s"MISMATCH $n base=$a p7=$b noaqe=$c")
      }
    }
    println(s"== invariance sweep: ${names.length} queries, $bad layout-sensitive, " +
      s"${base.values.count(_.startsWith("ERROR"))} errored " +
      "(caches+memos evicted before every layout: all queries genuinely re-executed per layout)")
    spark.stop()
  }
}
