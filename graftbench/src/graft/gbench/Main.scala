package graft.gbench

import graft.Tables
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point, launched by graftbench/run.py:
  *
  *   graft.gbench.Main --workload <cdc_replicate|query_mix> --seed N
  *     --seconds S --trace 0|1 --work DIR --data DIR --out DIR
  *     [--reference FILE] [--record FILE]
  *
  * Prints one line per metric, then the one-line JSON result.
  */
object Main {
  val cpus = 4

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, data: Path, out: Path, reference: Option[Path], record: Option[Path])

  final case class Metric(name: String, value: Double, unit: String)

  /** What a workload hands back; Main adds memory and the failure share. */
  final case class Outcome(tally: Stats.Tally, setupS: Double, opP50S: Double, roundS: Double,
      itemsPerS: Double, tails: Seq[String], layers: Map[String, Double],
      perOp: Map[String, Double] = Map.empty)

  final case class Ctx(spark: SparkSession, opts: Opts, tracer: Tracer)

  /** Per-layer metrics with their units; a traced run reports every one,
    * 0 where the workload does not reach the layer. */
  val layerUnits: Seq[(String, String)] = Seq(
    "Tables.load_s" -> "s", "Tables.load_jobs" -> "count",
    "SparkEntry.build_s" -> "s", "SparkEntry.build_jobs" -> "count",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "exec.jobs" -> "count", "exec.one_task_jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_s" -> "s", "exec.critical_path_s" -> "s",
    "exec.parallel_eff" -> "ratio", "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.gc_s" -> "s",
    "cdc.query_s" -> "s", "analytics.query_s" -> "s", "dedup.query_s" -> "s",
    "similarity.query_s" -> "s", "similarity.jobs" -> "count", "text.query_s" -> "s",
    "multimodal.query_s" -> "s",
    "dedup.shared_build_s" -> "s", "multimodal.shared_build_s" -> "s",
    "analytics.shared_build_s" -> "s",
    "Pipeline.trigger_s" -> "s", "Pipeline.add_batch_s" -> "s", "Pipeline.overhead_s" -> "s",
    "Pipeline.pickup_s" -> "s",
    "sources.parse_s" -> "s", "cdc.merge_s" -> "s", "sinks.upsert_s" -> "s",
    "sinks.upsert_jobs" -> "count", "sinks.bytes_written_per_event" -> "B",
    "sinks.state_files" -> "count", "sinks.state_mb" -> "MB", "sinks.read_live_s" -> "s",
    "sinks.snapshot_s" -> "s")

  /** The Spark counters of `recs`, each scaled by `per`, under exec.* names;
    * parallel efficiency is executor run time over wall × cpus. */
  def execMetrics(recs: Seq[Tracer#Rec], per: Double): Map[String, Double] = {
    def sum(k: String): Double = recs.map(_.counters.getOrElse(k, 0.0)).sum
    val wallS = recs.map(_.span.duration).sum / 1e9
    Map(
      "exec.jobs" -> sum("jobs") * per, "exec.one_task_jobs" -> sum("one_task_jobs") * per,
      "exec.stages" -> sum("stages") * per, "exec.tasks" -> sum("tasks") * per,
      "exec.task_s" -> sum("task_ms") / 1e3 * per,
      "exec.critical_path_s" -> sum("critical_path_ms") / 1e3 * per,
      "exec.parallel_eff" -> (if (wallS > 0) sum("task_ms") / 1e3 / (wallS * cpus) else 0.0),
      "exec.shuffle_write_mb" -> sum("shuffle_write_bytes") / 1e6 * per,
      "exec.spill_mb" -> sum("spill_bytes") / 1e6 * per,
      "exec.gc_s" -> sum("gc_ms") / 1e3 * per,
      "plan.analysis_s" -> sum("analysis_ms") / 1e3 * per,
      "plan.optimization_s" -> sum("optimization_ms") / 1e3 * per,
      "plan.planning_s" -> sum("planning_ms") / 1e3 * per)
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr: which phase ended, seconds since JVM start. */
  def phase(name: String): Unit =
    System.err.println(f"graftbench: $name done at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("data")), Paths.get(need("out")),
      m.get("reference").map(Paths.get(_)), m.get("record").map(Paths.get(_)))
  }

  private def json(ms: Seq[Metric]): String =
    ms.map(x => s""""${x.name}": {"value": ${x.value}, "unit": "${x.unit}"}""").mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val run: Ctx => Outcome = opts.workload match {
      case "cdc_replicate" => Replicate.run
      case "query_mix" => Mix.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.createDirectories(opts.work)
    Files.createDirectories(opts.out)
    val spark = Tables.localSession("graftbench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, opts.trace)
    phase("session")
    val out =
      try tracer.span("run")(run(Ctx(spark, opts, tracer)))
      finally {
        spark.streams.active.foreach(_.stop())
        tracer.drain()
      }
    spark.stop()

    val tally = out.tally
    val e2e = Seq(
      Metric("setup_s", out.setupS, "s"),
      Metric("op_p50_s", out.opP50S, "s"),
      Metric("round_s", out.roundS, "s"),
      Metric("items_per_s", out.itemsPerS, "1/s"),
      Metric("peak_rss_mb", peakRssMb(), "MB"),
      Metric("ok_share", 1.0 - tally.failedShare, "share"))
    val selfByLayer = Stats.selfTimeByLayer(tracer.records.map(_.span))
    val layers = layerUnits.map { case (n, u) => Metric(n, out.layers.getOrElse(n, 0.0), u) }

    val tag = s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}"
    val selfJson = selfByLayer.toSeq.sortBy(-_._2)
      .map { case (l, ns) => s""""$l": ${ns / 1e9}""" }.mkString("{", ", ", "}")
    Files.write(opts.out.resolve(s"$tag.json"), (
      s"""{"workload": "${opts.workload}", "seed": ${opts.seed}, "seconds": ${opts.seconds}, """ +
        s""""attempted": ${tally.attempted}, "failed": ${tally.failed}, "end_to_end": ${json(e2e)}, """ +
        s""""per_layer": ${json(layers)}, "self_s": $selfJson, """ +
        s""""per_op_median_s": ${out.perOp.toSeq.sortBy(-_._2).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")}, """ +
        s""""tails": ${out.tails.map("\"" + _ + "\"").mkString("[", ", ", "]")}}""" + "\n").getBytes("UTF-8"))
    if (opts.trace)
      Files.write(opts.out.resolve(s"$tag-spans.jsonl"),
        tracer.spansJson(tag).mkString("", "\n", "\n").getBytes("UTF-8"))

    (e2e ++ (if (opts.trace) layers else Nil)).foreach(m => println(f"metric ${m.name} = ${m.value}%.6g ${m.unit}"))
    out.tails.foreach(t => println(s"tail $t"))
    println(f"failed_share = ${tally.failedShare}%.4f (${tally.failed} of ${tally.attempted})")
    println(s"""{"correct": ${tally.failed == 0}, "attempted": ${tally.attempted}, "failed": ${tally.failed}, """ +
      s""""metrics": ${json(if (opts.trace) layers else e2e)}}""")
  }
}
