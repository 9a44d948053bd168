package graft

/** Writes `explain("formatted")` physical plans for a list of queries to a
  * directory — the per-round scale-evidence artifact (PLANS_r{N}/) so the
  * plan shapes of the most expensive queries are reviewable from the repo
  * without re-running anything.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <query> [query...]
  *        runMain graft.PlanDump <sfDir> <outDir> ALL   — whole registry
  *
  * ALL is the per-round mode (r11 verdict: stale dumps understate current
  * quality — regenerate every registered query each round and delete the
  * superseded directories, so each query has exactly one current dump).
  * Planner-only (no execution), so the full registry dumps in minutes.
  * Dumps are written [[normalized]], so they diff raw across runs and
  * commits.
  */
object PlanDump {
  /** `name`'s formatted physical plan, [[normalized]]. */
  def planText(spark: org.apache.spark.sql.SparkSession, sfDir: String, name: String): String =
    normalized(SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode))

  /** Masks the counters a plan prints that move between runs of one
    * commit: expression ids (`#12`), exchange `plan_id=`s (they shift
    * with AQE re-planning), RDD ids (`MapPartitionsRDD[446]`), the
    * `File.scala:<line>` call sites of `localCheckpoint` nodes, and the
    * JVM-generated class name and identity hash of a `mapPartitions`
    * lambda. */
  private def normalized(plan: String): String =
    plan.replaceAll("#\\d+", "#_")
      .replaceAll("plan_id=\\d+", "plan_id=_")
      .replaceAll("RDD\\[\\d+\\]", "RDD[_]")
      .replaceAll("(\\w+\\.scala):\\d+", "$1:_")
      .replaceAll("Lambda(\\$\\d+)?/0x\\p{XDigit}+@\\p{XDigit}+", "Lambda_")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <query|ALL> [query...]")
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val spark = Tables.localSession("graft-plandump",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.drop(2).sameElements(Array("ALL"))) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    names.foreach { name =>
      try {
        java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
          planText(spark, sfDir, name).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
