package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Targeted profiling main: times the shared builds and a named subset of
  * registered queries in one JVM, without paying a full registry bench.
  *
  * Usage: runMain graft.Profile <sfDir> <passes> [query ...]
  *
  * Forces [[SharedBuilds.all]] first, each under a `shared:<name>` line
  * (each line is its marginal cost over the lines before it, exactly as
  * in Bench), then runs whole passes over the named queries (every
  * registered query when none is named) in Bench's pass-major order and
  * prints every pass with the heap in use after it and the classes Spark
  * compiled during it (`compiles N`: a warm pass that compiles again shows
  * generated-code cache thrash, or code that differs per construction).
  * The closing table gives per query the cold (first) pass, the median,
  * the min, the classes compiled in the last pass and every pass. With
  * one query name the passes are back-to-back repeats: a monotone slope
  * there means per-execution JVM degradation.
  * `SPARK_GRAFT_CPUS` sets the local core count, as in Bench.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <passes> [query ...]")
    val sfDir = args(0)
    val passes = args(1).toInt
    require(passes >= 1, s"passes must be >= 1, got $passes")
    val names = if (args.length > 2) args.drop(2).toVector else SparkEntry.queries.keys.toVector
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query: $n"))
    val spark = Tables.localSession("graft-profile",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // same honest action as Bench: evaluate every output column; returns
    // the seconds and the classes compiled meanwhile
    def run(df: => org.apache.spark.sql.DataFrame): (Double, Long) = {
      val (t0, c0) = (System.nanoTime(), compiled())
      df.write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, compiled() - c0)
    }
    SharedBuilds.all.foreach { case (n, fn) =>
      println(f"shared:$n%-28s ${run(fn(spark, sfDir))._1}%.3f s")
    }
    val rt = Runtime.getRuntime
    val runs = (1 to passes).map { pass =>
      val rs = names.map(n => run(SparkEntry.queries(n)(spark, sfDir)))
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      println(f"pass $pass%2d  ${rs.map(_._1).sum}%8.3f s  heap ${heapMb}M  compiles ${rs.map(_._2).sum}")
      rs
    }.transpose
    println(f"${"query"}%-28s  cold  median     min  compiles  passes")
    names.zip(runs).foreach { case (n, rs) =>
      val ts = rs.map(_._1)
      val sorted = ts.sorted
      println(f"$n%-28s ${ts.head}%6.3f  ${sorted(sorted.length / 2)}%6.3f  ${sorted.head}%6.3f  " +
        f"${rs.last._2}%8d  " + ts.map(t => f"$t%.2f").mkString(" "))
    }
    spark.stop()
  }
}
