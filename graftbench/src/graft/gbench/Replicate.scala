package graft.gbench

import graft.Pipeline
import graft.cdc.{Cdc, Materialize}
import graft.gbench.Main.{Ctx, Outcome, phase, time}
import graft.sinks.TableSink
import graft.sources.WireSource
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, StandardCopyOption}

/** `cdc_replicate`: graft's product surface, wire → parse → upsert, as one
  * publisher driving a running `Pipeline` in a closed loop.
  *
  * Set-up full-loads a state table of synthetic keys (disjoint from the
  * stream's keys) through `Pipeline.start(fullLoadFrom = …)` and applies
  * one warm-up file. Each step then renames one wire file into the source
  * directory, waits on `processAllAvailable()` and reads the live state
  * (row count and value sum) before publishing the next file, so the
  * state is much larger than each batch and every write is followed by a
  * read.
  */
object Replicate {
  val users = 1500
  val files = 50
  val perFile = 400
  val seedKeys = 100000
  val seedKeyBase = 1000000L
  /** Measured steps for a run of `seconds`: an apply plus read takes about
    * 2 s on 4 cpus. A fixed count, so every run measures the same work. */
  def steps(seconds: Int): Int = math.min(files - 1, math.max(1, seconds / 2))

  private val stateCols = Seq("user_id", "last_value", "updated_at", "n_changes").map(col)

  /** The synthetic full-load snapshot, deterministic in `seed`. */
  def seedState(spark: SparkSession, seed: Long): DataFrame = {
    def h(salt: Long) = xxhash64(col("id"), lit(seed), lit(salt))
    spark.range(seedKeys).select(
      (lit(seedKeyBase) + col("id")).as("user_id"),
      (pmod(h(1), lit(1000000L)) / 100.0).as("last_value"),
      timestamp_millis(lit(1672531200000L) + pmod(h(2), lit(31536000000L))).as("updated_at"),
      (lit(1L) + pmod(h(3), lit(9L))).as("n_changes"))
  }

  /** The changelog shape `TableSink.upsert` takes, from parsed envelopes. */
  def toChangelog(envelopes: DataFrame): DataFrame =
    envelopes.where(col("op").isNotNull).select(
      col("op"),
      coalesce(col("after.user_id"), col("before.user_id")).as("pk"),
      timestamp_millis(col("ts_ms")).as("ts"),
      col("offset").as("seq"),
      coalesce(col("after.value"), col("before.value")).as("value"))

  /** Stored state re-expressed as weighted changelog rows, the way an
    * upsert feeds it into the merge. */
  private def stateAsChangelog(spark: SparkSession, path: String): DataFrame = {
    val s = spark.read.parquet(path)
    s.select(col("user_id").as("pk"),
      (if (s.columns.contains("is_deleted")) when(col("is_deleted"), lit("d")).otherwise(lit("c"))
      else lit("c")).as("op"),
      col("last_value").as("value"), col("updated_at").as("ts"),
      (if (s.columns.contains("max_seq")) col("max_seq") else lit(Long.MinValue)).as("seq"),
      col("n_changes").as("weight"))
  }

  /** Row count and order-independent hash of a state's four columns. */
  private def digest(df: DataFrame): Row =
    df.agg(count(lit(1)), bit_xor(xxhash64(stateCols: _*))).head()

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def fileName(k: Int): String = f"part-$k%05d.json"

  /** Write to a hidden temp name, then atomically rename into the source. */
  private def publish(dir: Path, k: Int, body: Array[Byte]): Unit = {
    val tmp = dir.resolve(s".${fileName(k)}.tmp")
    Files.write(tmp, body)
    Files.move(tmp, dir.resolve(fileName(k)), StandardCopyOption.ATOMIC_MOVE)
  }

  private def dirStats(p: Path): (Int, Long) = {
    val fs = Files.walk(p).filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .toArray.map(_.asInstanceOf[Path])
    (fs.length, fs.map(Files.size).sum)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val work = ctx.opts.work
    val seed = ctx.opts.seed
    var tally = Stats.Tally()

    // inputs: the seeded event stream as wire files in offset order
    val cdcDir = work.resolve("events").toString
    Data.writeEvents(spark, cdcDir, seed, files * perFile, users, gapMs = 2000)
    val bodies: IndexedSeq[Array[Byte]] =
      Cdc.toWire(spark, cdcDir).select(col("offset"), to_json(struct(col("*")))).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).map(_._2)
        .grouped(perFile).map(_.mkString("", "\n", "\n").getBytes("UTF-8")).toIndexedSeq
    val seedDf = seedState(spark, seed)
    phase("inputs")

    // set-up, three times into fresh directories: full load + one warm-up
    // apply; the third pipeline keeps running for the measurement
    def setup(i: Int) = {
      val wire = work.resolve(s"wire$i")
      Files.createDirectories(wire)
      val cfg = Pipeline.Config(wire.toString, work.resolve(s"state$i").toString,
        work.resolve(s"checkpoint$i").toString, fullLoadFrom = Some(seedDf))
      val (q, s) = time(tr.span("setup") {
        val q = tr.span("Pipeline.start")(Pipeline.start(spark, cfg))
        publish(wire, 0, bodies(0))
        tr.span("Pipeline.apply")(q.processAllAvailable())
        q
      })
      (q, cfg, wire, s)
    }
    val setups = (1 to 3).map { i =>
      val s = setup(i)
      if (i < 3) {
        s._1.stop()
        Seq("wire", "state", "checkpoint").foreach(d => deleteTree(work.resolve(s"$d$i")))
      }
      s
    }
    val (query, cfg, wire, _) = setups.last
    phase("set-up")

    // measured closed loop
    val applies = scala.collection.mutable.ArrayBuffer[Double]()
    val reads = scala.collection.mutable.ArrayBuffer[Double]()
    val cycles = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var k = 1
    while (k <= steps(ctx.opts.seconds)) {
      val c0 = System.nanoTime()
      publish(wire, k, bodies(k))
      val ok = try {
        applies += time(tr.span("Pipeline.apply")(query.processAllAvailable()))._2
        true
      } catch { case e: Exception => println(s"apply $k failed: $e"); false }
      tally = tally.record(ok)
      val read = try {
        val (_, s) = time(tr.span("sinks.read_live")(
          TableSink.readLive(spark, cfg.statePath).agg(count(lit(1)), sum(col("last_value"))).collect()))
        reads += s
        true
      } catch { case e: Exception => println(s"read $k failed: $e"); false }
      tally = tally.record(read)
      cycles += (System.nanoTime() - c0) / 1e9
      k += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    query.stop()
    phase("measure")

    // correctness: stream keys against a one-shot materialisation of the
    // published changelog; seeded keys untouched
    val live = TableSink.readLive(spark, cfg.statePath).select(stateCols: _*)
    val stream = live.where(col("user_id") < seedKeyBase)
    val expected = Materialize.latestSnapshot(
      Cdc.changelog(spark, cdcDir).where(col("seq") < lit(k.toLong * perFile))).select(stateCols: _*)
    val badKeys = stream.exceptAll(expected).count() + expected.exceptAll(stream).count()
    if (badKeys > 0) println(s"cdc_replicate: $badKeys stream-key rows differ from Materialize.latestSnapshot")
    tally = tally.record(badKeys == 0)
    val (got, want) = (digest(live.where(col("user_id") >= seedKeyBase)), digest(seedDf))
    if (got != want) println(s"cdc_replicate: seeded keys changed: $got != $want")
    tally = tally.record(got == want)
    phase("check")

    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      val measured = tr.named("Pipeline.apply").takeRight(applies.length)
      val batches = tr.progress.all.filter(_.rows > 0).takeRight(applies.length)
      def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val (stateFiles, stateBytes) = dirStats(java.nio.file.Paths.get(cfg.statePath))

      // direct drive of sources, cdc and sinks over the first published files
      val direct = work.resolve("direct").toString
      tr.span("sinks.snapshot")(TableSink.writeSnapshot(seedDf, "user_id", direct))
      val written = (0 until math.min(k, 6)).map { j =>
        val file = wire.resolve(fileName(j)).toString
        tr.span("sources.parse")(noop(WireSource.readBatch(spark, file)))
        val changes = toChangelog(WireSource.readBatch(spark, file))
        tr.span("cdc.merge")(noop(Materialize.latestStateWeighted(
          stateAsChangelog(spark, direct).unionByName(changes.withColumn("weight", lit(1L))))))
        tr.span("sinks.upsert")(TableSink.upsert(spark, direct, changes))
        dirStats(java.nio.file.Paths.get(direct))._2.toDouble / perFile
      }
      def spanMed(n: String): Double = med(tr.named(n).map(_.span.duration / 1e9))
      Main.execMetrics(measured, 1.0 / math.max(1, measured.length)) ++ Map(
        "Pipeline.trigger_s" -> med(batches.map(_.triggerMs / 1e3)),
        "Pipeline.add_batch_s" -> med(batches.map(_.addBatchMs / 1e3)),
        "Pipeline.overhead_s" -> med(batches.map(b => (b.triggerMs - b.addBatchMs) / 1e3)),
        "Pipeline.pickup_s" -> med(applies.toSeq.zip(batches).map { case (a, b) => a - b.triggerMs / 1e3 }),
        "sources.parse_s" -> spanMed("sources.parse"),
        "cdc.merge_s" -> spanMed("cdc.merge"),
        "sinks.upsert_s" -> spanMed("sinks.upsert"),
        "sinks.upsert_jobs" -> med(tr.named("sinks.upsert").map(_.counters.getOrElse("jobs", 0.0))),
        "sinks.bytes_written_per_event" -> med(written),
        "sinks.state_files" -> stateFiles.toDouble,
        "sinks.state_mb" -> stateBytes / 1e6,
        "sinks.read_live_s" -> med(reads.toSeq),
        "sinks.snapshot_s" -> spanMed("sinks.snapshot"))
    }
    val tails = Seq("apply" -> applies, "state_read" -> reads).flatMap { case (n, xs) =>
      Stats.tailPercentile(xs.length).map(p =>
        f"${n}_p$p%d_s = ${Stats.percentile(xs.toSeq, p)}%.4f s (n=${xs.length})")
    }
    Outcome(tally,
      setupS = Stats.median(setups.map(_._4)),
      opP50S = Stats.median(applies.toSeq),
      roundS = Stats.median(cycles.toSeq),
      itemsPerS = (k - 1).toDouble * perFile / wall,
      tails = tails :+ f"state_read_p50_s = ${Stats.median(reads.toSeq)}%.4f s (n=${reads.length})",
      layers = layers)
  }
}
