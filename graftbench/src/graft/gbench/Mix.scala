package graft.gbench

import graft.{SparkEntry, Tables}
import graft.gbench.Main.{Ctx, Outcome, phase, time}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}

/** `query_mix`: registry queries from graft's two user groups, one client,
  * closed loop, on a fixed generated fixture.
  *
  * The ops queries (monitoring, validation, catalog) are short and bound by
  * the driver: schema inference, planning, job launches. The corpus
  * queries (ANN, dedup, text, multimodal, relational) are multi-stage or
  * iterative and bound by the executors. Set-up forces the shared corpus
  * builds these queries read. Each query is `SparkEntry.queries(n)(spark,
  * dir)` followed by a noop write; each round runs the mix in an order
  * shuffled by the seed.
  */
object Mix {
  val ops: Seq[String] = Seq(
    "cdc_event_counts", "cdc_status_board", "cdc_materialize_latest", "cdc_parse_envelope")
  val corpus: Seq[String] = Seq(
    "ann_ivf_topk", "dedup_blocking_health", "text_doc_freq", "mm_video_decode",
    "q_mad_approx_gate")
  val queries: Seq[String] = ops ++ corpus

  /** Measured rounds for a run of `seconds`: one per 5 s, 3 at 15 s (a warm
    * round takes 6-7 s on 4 cpus; two rounds spread twice as much). A fixed
    * count, not a deadline, so every run measures the same work at the same
    * point of JVM warm-up. */
  def rounds(seconds: Int): Int = math.max(1, math.round(seconds / 5.0).toInt)

  /** Shared corpus builds the mix reads, by owning module. */
  val sharedBuilds: Seq[(String, String, (SparkSession, String) => DataFrame)] = {
    def pick(module: String, all: Seq[(String, (SparkSession, String) => DataFrame)], names: Set[String]) =
      all.filter(b => names(b._1)).map { case (n, f) => (module, n, f) }
    pick("dedup", graft.dedup.Dedup.sharedBuilds,
      Set("norm_corpus")) ++
      pick("multimodal", graft.multimodal.Decoded.sharedBuilds, Set("decoded_video_frames")) ++
      pick("analytics", graft.analytics.SketchGates.sharedBuilds, Set("mad_exact"))
  }

  def module(q: String): String = q.takeWhile(_ != '_') match {
    case "cdc" => "cdc"
    case "q" => "analytics"
    case "dedup" => "dedup"
    case "ann" | "emb" => "similarity"
    case "text" | "pipe" => "text"
    case "mm" => "multimodal"
    case other => other
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The fixed fixture, generated once per build directory. */
  def fixture(spark: SparkSession, data: Path): String = {
    val dir = data.resolve("mix-v1")
    if (!Files.exists(dir.resolve("_READY"))) {
      val tmp = data.resolve(s"mix-v1.tmp${ProcessHandle.current().pid()}")
      Data.writeAll(spark, tmp.toString, seed = 42L, Data.mixScale)
      Files.createFile(tmp.resolve("_READY"))
      Files.createDirectories(data)
      Files.move(tmp, dir)
    }
    dir.toString
  }

  def readReference(p: Path): Map[String, String] = {
    val kv = "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
    kv.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).map(m => m.group(1) -> m.group(2)).toMap
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = fixture(spark, ctx.opts.data)
    var tally = Stats.Tally()
    phase("fixture")

    // warm-up pass, first and cold, that also checks every query's rows
    // against the reference fingerprints
    val reference = ctx.opts.reference.filter(Files.exists(_)).map(readReference).getOrElse(Map.empty)
    val prints = queries.map { q =>
      val fp = try Some(tr.span("check")(Stats.fingerprint(
        SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq)))
      catch { case e: Exception => println(s"query $q failed: $e"); None }
      val ok = fp.isDefined && (ctx.opts.record.isDefined || reference.get(q) == fp)
      if (fp.isDefined && !ok) println(s"query $q fingerprint ${fp.get} != reference ${reference.get(q)}")
      tally = tally.record(ok)
      q -> fp.getOrElse("ERROR")
    }
    ctx.opts.record.foreach { p =>
      Files.write(p, prints.map { case (q, f) => s"""  "$q": "$f"""" }
        .mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    }

    phase("check")

    // set-up, three times and warm: evict every memo and cached block,
    // then force the shared builds; the median is setup_s
    val buildTimes = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    val setups = (1 to 3).map { _ =>
      time(tr.span("setup") {
        graft.dedup.Dedup.clearMemos(spark)
        graft.multimodal.Decoded.clearMemos(spark)
        graft.analytics.SketchGates.clearMemos(spark)
        spark.catalog.clearCache()
        val perModule = sharedBuilds.groupBy(_._1).map { case (m, bs) =>
          m -> time(tr.span(s"$m.shared_build")(bs.foreach { case (_, _, f) => noop(f(spark, dir)) }))._2
        }
        perModule.foreach { case (m, t) => buildTimes(m) = buildTimes(m) :+ t }
      })._2
    }

    phase("set-up")

    // measured closed loop: whole rounds, each a seeded shuffle of the mix,
    // so every query has the same number of samples
    val rng = new scala.util.Random(ctx.opts.seed)
    val lat = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val t0 = System.nanoTime()
    for (_ <- 1 to rounds(ctx.opts.seconds); q <- rng.shuffle(queries)) {
      val ok = try {
        lat += q -> time(tr.span(s"${module(q)}.query") {
          val df = tr.span("SparkEntry.build")(SparkEntry.queries(q)(spark, dir))
          tr.span("exec.write")(noop(df))
        })._2
        true
      } catch { case e: Exception => println(s"query $q failed: $e"); false }
      tally = tally.record(ok)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    phase("measure")
    System.err.println("graftbench: round seconds " +
      lat.map(_._2).grouped(queries.length).map(r => f"${r.sum}%.3f").mkString(" "))
    val all = lat.map(_._2).toSeq
    val perQuery = lat.groupBy(_._1).map { case (q, xs) => q -> Stats.median(xs.map(_._2).toSeq) }

    // traced run: per-layer numbers, normalised to one pass over the mix
    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      val perPass = queries.length.toDouble / math.max(1, lat.length)
      val sweeps = 3
      for (_ <- 1 to sweeps; t <- Tables.all) tr.span("Tables.load")(Tables.load(spark, dir, t))
      Main.execMetrics(tr.records.filter(_.span.name.endsWith(".query")), perPass) ++
        queries.map(module).distinct.map(m =>
          s"$m.query_s" -> perQuery.filter(kv => module(kv._1) == m).values.sum) ++
        Map(
          "Tables.load_s" -> tr.seconds("Tables.load") / sweeps,
          "Tables.load_jobs" -> tr.total("Tables.load", "jobs") / sweeps,
          "SparkEntry.build_s" -> tr.seconds("SparkEntry.build") * perPass,
          "SparkEntry.build_jobs" -> tr.total("SparkEntry.build", "jobs") * perPass,
          "similarity.jobs" -> tr.total("similarity.query", "jobs") * perPass) ++
        buildTimes.map { case (m, ts) => s"$m.shared_build_s" -> Stats.median(ts) }
    }
    val tails = Stats.tailPercentile(all.length).map(p =>
      f"query_p$p%d_s = ${Stats.percentile(all, p)}%.4f s (n=${all.length})").toSeq
    Outcome(tally, setupS = Stats.median(setups), opP50S = Stats.median(all),
      roundS = perQuery.values.sum, itemsPerS = lat.length / wall, tails = tails, layers = layers, perOp = perQuery)
  }
}
