package graft

/** Benchmark main: times every registered query at the target scale factor
  * and emits (a) a one-line headline JSON on stdout for the driver and (b) a
  * full per-query record — median AND raw per-pass timings for ALL queries —
  * as a JSON file. The file is the canonical record: the driver captures only
  * the LAST 2000 characters of stdout, and 190 per-query entries (~4.7 KB)
  * cannot physically fit in that window, so the stdout line carries a
  * one-per-family headline subset plus a pointer to the file.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // shared session defaults (UTC, AQE, shuffle partitions): the timings
    // must measure the SAME plans the correctness runs validate
    val spark = Tables.localSession("graft-bench", cpus)
    // ERROR, not WARN: the 9 audited bounded-window queries each emit a
    // "No Partition Defined for Window" warning per pass, and those lines
    // (justified — the inputs are pre-aggregated/cardinality-capped, see
    // GlobalPlanAuditSpec's allowlist) were drowning the driver's
    // 2000-char stdout tail that must end with the JSON line below.
    spark.sparkContext.setLogLevel("ERROR")
    // Warm up the JVM/codegen/file index so the first timed query isn't
    // charged session startup.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    spark.range(1000).selectExpr("sum(id)").collect()
    // Per-query median over N full passes: a single pass is ±3× noisy per
    // query (JIT/GC/AQE jitter in one JVM), which would hide a real 2×
    // regression. Whole-suite passes (not back-to-back reps) so pass 1
    // absorbs codegen/JIT warmup for every query shape.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    require(passes >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $passes")
    // Force the memoized shared builds FIRST, each under its own
    // attributed `shared:<name>` line: the per-query medians below then
    // measure marginal cost, and the one-time build cost stops hiding
    // inside whichever family member a pass happens to run first (r8's
    // pipe_dedup_waterfall 38.9 s cold pass).
    val shared: Vector[(String, Double)] =
      SharedBuilds.all.toVector.map { case (n, fn) =>
        val t0 = System.nanoTime()
        val t = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] shared:$n FAILED: ${e.getMessage}")
            Double.NaN
        }
        s"shared:$n" -> t
      }
    val sharedTotal = shared.map(_._2).filterNot(_.isNaN).sum
    val names = SparkEntry.queries.keys.toVector
    // Frozen baselines, read BEFORE the passes: the clean-window probe
    // below needs the sentinel medians. Parsed with BenchMath's flat-JSON
    // regex (the files are {"queries": {"name": num, ...}}); absent →
    // empty. Parsing/statistic logic lives in BenchMath under unit
    // coverage (BenchMathSpec).
    def readBaseline(path: String): Map[String, Double] = BenchMath.readBaseline(path)
    val baseline: Map[String, Double] =
      readBaseline(sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE_QUERIES.json"))
    val baselineNew: Map[String, Double] = readBaseline(
      sys.env.getOrElse("SPARK_GRAFT_BASELINE_NEW", "BASELINE_QUERIES_R14.json"))
    val baselineMulti: Map[String, Double] = readBaseline(
      sys.env.getOrElse("SPARK_GRAFT_BASELINE_SENT_MULTI", "BASELINE_SENTINELS_MULTI.json"))
    // r16-epoch freeze for the multi-stage (3+-shuffle) r12 queries: their
    // watch drift is adjudicated against THIS addendum with the r16-frozen
    // multi-stage sentinel class — same epoch on both sides, which is what
    // retired the r16 MultiEpochAnchorR12=1.38 scalar (a frozen one-off
    // drift estimate that pushed the effective multi watch threshold to
    // ~2x, vacating the band exactly at the hard-gate boundary).
    val baselineMultiQ: Map[String, Double] = readBaseline(
      sys.env.getOrElse("SPARK_GRAFT_BASELINE_MULTI_Q", "BASELINE_QUERIES_R16_MULTI.json"))
    val sentinels = Vector(
      "q1_agg", "q3_topk", "q_window_rank", "cdc_unwrap", "cdc_event_counts",
      "dedup_exact", "ann_bruteforce_topk", "emb_exact_dup", "text_tokens",
      "pipe_token_histogram")
    val sentCommon = sentinels.filter(s => baseline.contains(s) && names.contains(s))
    // ── Clean-window probe with ONE bounded retry (r15 verdict item 6) ──
    // Three of the last four driver benches landed in loaded windows
    // (sentinel 1.24–1.84), turning the headline raw ratio into weather.
    // Before the full pass: time the 10 frozen sentinels (each twice,
    // min-of-two, so first-run codegen doesn't read as load) and if the
    // window looks loaded (probe ratio > 1.15) sleep once and re-probe.
    // Both attempts land in the artifact; the full pass then proceeds
    // regardless — the probe buys a better window when one is a minute
    // away and otherwise documents that it wasn't.
    def probeOnce(): Double = {
      // same failure discipline as timeOne: a crashed sentinel is skipped
      // (with its baseline term) rather than aborting the bench before
      // pass 1 ever runs — the probe is advisory, the passes are the data
      val pairs = sentCommon.flatMap { n =>
        def once(): Double = {
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        try Some(math.min(once(), once()) -> baseline(n))
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] probe:$n FAILED: ${e.getMessage}")
            None
        }
      }
      if (pairs.isEmpty) Double.NaN else pairs.map(_._1).sum / pairs.map(_._2).sum
    }
    val probeAttempts: Vector[Double] =
      if (sentCommon.size < sentinels.size / 2) Vector.empty
      else {
        val first = probeOnce()
        if (!first.isNaN && first > 1.15) {
          Thread.sleep(sys.env.getOrElse("SPARK_GRAFT_PROBE_SLEEP_MS", "60000").toLong)
          Vector(first, probeOnce())
        } else Vector(first)
      }
    // a crashed query must NOT masquerade as a fast one: failures record
    // NaN (excluded from medians) and are reported, never silently timed
    def timeOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      try {
        // noop-format sink, not count(): under a count Catalyst prunes
        // the final projection expressions, under-measuring per-row
        // compute; the noop write evaluates every output column and
        // discards the rows executor-side (no driver collect)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        name -> (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          name -> Double.NaN
      }
    }
    // every pass times the registry AND the frozen multi-stage sentinels
    // (SentinelsMulti) in the same window, so both sentinel classes
    // sample the same timeline the measured queries lived through
    val passResults: Vector[(Map[String, Double], Map[String, Double])] =
      Vector.fill(passes) {
        val reg = names.map(n => timeOne(n, SparkEntry.queries(n))).toMap
        val multi = SentinelsMulti.queries.map { case (n, fn) => timeOne(n, fn) }.toMap
        (reg, multi)
      }
    val timings: Vector[Map[String, Double]] = passResults.map(_._1)
    val multiTimings: Vector[Map[String, Double]] = passResults.map(_._2)
    val failed = names.filter(n => timings.forall(t => t(n).isNaN))
    // Mid-run load catch (r16 verdict item 4): the pre-run probe cannot see
    // load that arrives AFTER pass 1 starts (r16's driver window: probe
    // 0.986, then one pass of dedup_band_config_sweep at 47.5 s vs a
    // 1.49 s min). Queries whose pass spread is pathological (max/min > 3
    // AND max−min > 0.3 s — i.e. at least one pass was grossly off) get ONE
    // extra timed pass here at the end of the run; the retime joins the
    // sample and the median is recomputed over passes+retime when that is
    // cleaner (lower). Bounded: at most one extra pass per flagged query,
    // recorded verbatim in the artifact as `retimes`.
    val retimes: Map[String, Double] = names.flatMap { name =>
      if (BenchMath.retimeWorthy(timings.map(_(name)))) {
        val (_, t) = timeOne(name, SparkEntry.queries(name))
        if (t.isNaN) None else Some(name -> t)
      } else None
    }.toMap
    val results: Map[String, Double] = names.flatMap { name =>
      BenchMath.medianWithRetime(timings.map(_(name)), retimes.get(name))
        .map(name -> _)
    }.toMap
    // Per-query min across passes: the load-robust statistic. A median is
    // inflated by ambient load in 2 of 3 passes; the min is inflated only
    // when EVERY pass was loaded — so in loaded windows the regression
    // gate below evaluates on mins (r14: the driver's loaded run showed 30
    // median-based false positives, all of them clean on min-of-passes).
    // Retimes join the min sample too: a min is only honest if the retime
    // could not beat it.
    val mins: Map[String, Double] = names.flatMap { name =>
      val ok = timings.map(_(name)).filterNot(_.isNaN) ++ retimes.get(name)
      if (ok.isEmpty) None else Some(name -> ok.min)
    }.toMap
    def r3(v: Double): String = if (v.isNaN) "null" else f"$v%.3f"
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Ratio vs the FROZEN baseline (BASELINE.md / BASELINE_QUERIES.json,
    // set end of r12): sum of this run's medians over the baseline's
    // query set divided by the frozen sum — the comparable-subset number,
    // immune to registry growth.
    val common = baseline.keySet.intersect(results.keySet)
    val baselineRatio: Option[Double] =
      if (common.isEmpty) None
      else Some(common.toSeq.map(results).sum / common.toSeq.map(baseline).sum)
    // Supplementary frozen baseline for queries added AFTER the r12 freeze
    // (BASELINE.md addendum, r14 clean-window medians): their creep is
    // otherwise invisible to the gate. Kept in a separate file and a
    // separate ratio so the r12 yardstick stays untouched.
    val commonNew = baselineNew.keySet.intersect(results.keySet)
    val baselineRatioNew: Option[Double] =
      if (commonNew.isEmpty) None
      else Some(commonNew.toSeq.map(results).sum / commonNew.toSeq.map(baselineNew).sum)
    // Ambient-drift correction: this machine swings 1.1-1.2x between runs of
    // identical code (r13: untouched queries moved 1.09-1.23x), so the raw
    // ratio alone cannot distinguish a code regression from weather. The
    // sentinel set is 10 cheap queries, one-per-family, whose code has been
    // frozen since the r12 baseline was cut; because each pass times the
    // whole suite in registry order, the sentinels sample the run's whole
    // timeline. Their ratio vs their frozen medians estimates the ambient
    // factor; dividing it out yields the code-attributable ratio. Both
    // numbers are emitted — the raw ratio stays the honest artifact, the
    // corrected one is the regression signal.
    // sentDone, not sentCommon: a sentinel that failed in EVERY pass has no
    // entry in `results`, and mapping it here would throw after all passes
    // completed, losing the whole run's artifact (ADVICE r16)
    val sentDone = sentCommon.filter(results.contains)
    val sentinelRatio: Option[Double] =
      if (sentDone.size < sentinels.size / 2) None
      else Some(sentDone.map(results).sum / sentDone.map(baseline).sum)
    // The multi-stage sentinel class (SentinelsMulti, frozen r16): their
    // ratio prices ambient drift in the multi-stage regime — watch-band
    // queries (3+ exchanges) are adjudicated against THIS ratio, cheap
    // single-stage queries against the one above.
    val multiMedians: Map[String, Double] = SentinelsMulti.queries.map(_._1).flatMap { n =>
      val ok = multiTimings.map(_(n)).filterNot(_.isNaN).sorted
      if (ok.isEmpty) None else Some(n -> ok(ok.length / 2))
    }.toMap
    val multiMins: Map[String, Double] = SentinelsMulti.queries.map(_._1).flatMap { n =>
      val ok = multiTimings.map(_(n)).filterNot(_.isNaN)
      if (ok.isEmpty) None else Some(n -> ok.min)
    }.toMap
    val multiCommon = SentinelsMulti.queries.map(_._1)
      .filter(n => baselineMulti.contains(n) && multiMedians.contains(n))
    val sentinelRatioMulti: Option[Double] =
      if (multiCommon.isEmpty) None
      else Some(multiCommon.map(multiMedians).sum / multiCommon.map(baselineMulti).sum)
    val correctedRatio: Option[Double] = for {
      b <- baselineRatio; s <- sentinelRatio if s > 0
    } yield b / s
    // Per-query regression gate, evaluated HERE (not by hand): a query
    // regresses when its statistic is ≥2× its frozen median AND ≥0.3 s
    // absolute slower. The statistic is the median in clean windows and
    // the min-of-passes in loaded ones (sentinel_ratio > 1.15) — the
    // run-level sentinel division cannot gate per-query, but a min only
    // stays inflated if every pass was loaded. Frozen values: r12 set ∪
    // the r14 addendum for post-freeze queries.
    val loadedWindow = sentinelRatio.exists(_ > 1.15)
    val gateStat: Map[String, Double] = if (loadedWindow) mins else results
    val frozen = baseline ++ baselineNew
    val regressions = frozen.keysIterator.flatMap { n =>
      gateStat.get(n).collect {
        case t if t >= 2 * frozen(n) && t - frozen(n) >= 0.3 => n
      }
    }.toVector.sorted
    // Per-query exchange counts (planner-only, AFTER the timed passes so
    // the planning pass cannot warm pass 1): the r15 verdict's rule —
    // judge a query's drift against the sentinel class matching its own
    // stage count — made executable. 3+ shuffles → the multi-stage
    // class; fewer → the single-stage class.
    //
    // Counting rule (r16 ADVICE + audit): DISTINCT shuffle Exchange node
    // ids from the FORMATTED explain. The previous raw substring count
    // was wrong two ways — it matched BroadcastExchange/ReusedExchange
    // (not shuffles), and the plain toString re-prints a cached
    // InMemoryRelation's subtree under EVERY scan that references it, so
    // a query over three memoized builds counted the same exchange five
    // times (dedup_pair_degree read 67; it executes 7 distinct shuffles,
    // most inside build-once cached plans). Node ids dedupe the prints;
    // the (?<![A-Za-z]) guard drops Broadcast/Reused.
    val exchangeCounts: Map[String, Int] = names.map { n =>
      n -> (try BenchMath.distinctShuffleExchanges(
        SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
      catch { case _: Throwable => -1 })
    }.toMap
    // Watch adjudication, class-matched and SAME-EPOCH on both sides
    // (r16 verdict item 1): a multi-stage query is compared against its
    // r16-epoch frozen median (BASELINE_QUERIES_R16_MULTI.json) using the
    // r16-frozen multi-stage sentinel ratio; a single-stage query against
    // its r12/r14 frozen median using the r12-frozen single-stage ratio.
    // No scalar epoch anchor remains: the retired MultiEpochAnchorR12
    // (=1.38, a one-off burn-down geomean) modeled r12→r16 drift inside a
    // multiplier, which pushed the effective multi threshold to ~2× —
    // vacuous exactly at the hard-gate boundary. The hard regression gate
    // above still runs on the r12 ∪ r14 freeze, untouched.
    // Pair selection lives in BenchMath.watchPair (unit-covered): a multi
    // query with no same-epoch freeze is adjudicated single-stage rather
    // than dividing an r12/r14 median by the r16 multi ratio (ADVICE r17).
    def isMulti(n: String): Boolean = exchangeCounts.getOrElse(n, 0) >= 3
    // same statistic discipline as the regression gate: medians in clean
    // windows, min-of-passes in loaded ones (a loaded window inflates
    // every median; the min only stays inflated if every pass was loaded)
    val watchCorrected: Vector[String] = frozen.keysIterator.flatMap { n =>
      for {
        t <- gateStat.get(n)
        (f, r) <- BenchMath.watchPair(isMulti(n), baselineMultiQ.get(n),
          frozen.get(n), sentinelRatio, sentinelRatioMulti)
        if r > 0 && t / r >= 1.45 * f && t - f >= 0.2
      } yield n
    }.toVector.sorted
    // Per-family common-subset ratios vs the r12 freeze (r17 verdict item
    // 3): the diffuse-creep telemetry. Computed in BenchMath under unit
    // coverage; emitted in BOTH the full record (with subset sizes) and
    // the stdout headline (ratios only) so the driver artifact carries
    // the time series.
    val familyRatios: Map[String, (Double, Int)] =
      BenchMath.familyRatios(results, baseline)
    val baselineJson = baselineRatio
      .map(r => s""","baseline_ratio":${r3(r)},"baseline_common":${common.size}""")
      .getOrElse("") +
      baselineRatioNew
        .map(r => s""","baseline_ratio_new":${r3(r)},"baseline_new_common":${commonNew.size}""")
        .getOrElse("") +
      sentinelRatio.map(r => s""","sentinel_ratio":${r3(r)}""").getOrElse("") +
      sentinelRatioMulti.map(r => s""","sentinel_ratio_multi":${r3(r)}""").getOrElse("") +
      correctedRatio.map(r => s""","baseline_ratio_drift_corrected":${r3(r)}""").getOrElse("") +
      s""","probe_attempts":${probeAttempts.map(r3).mkString("[", ",", "]")}""" +
      s""","regression_stat":"${if (loadedWindow) "min" else "median"}"""" +
      s""","n_regressions":${regressions.size}""" +
      s""","n_watch_corrected":${watchCorrected.size}""" +
      s""","n_retimes":${retimes.size}""" +
      s""","families":${familyRatios.toSeq.sortBy(_._1)
        .map { case (f, (r, _)) => s""""$f":${r3(r)}""" }.mkString("{", ",", "}")}"""
    // Full per-query record → file. Per-pass raws are kept alongside the
    // median so a cold-cache pass 1 (memoized corpus builds being paid by
    // whichever query touches them first) is distinguishable from a query
    // that is genuinely slow every pass.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    val fullQueries = names.sorted.map { name =>
      val raw = timings.map(_(name)).map(r3).mkString("[", ",", "]")
      val retime = retimes.get(name).map(v => s""", "retime": ${r3(v)}""").getOrElse("")
      s"""    "$name": {"median": ${results.get(name).map(r3).getOrElse("null")}, "min": ${mins.get(name).map(r3).getOrElse("null")}, "exchanges": ${exchangeCounts.getOrElse(name, -1)}$retime, "passes": $raw}"""
    }.mkString(",\n")
    // sentinel medians emitted verbatim so a judge can recompute the
    // ambient factor without re-deriving the set from source
    val sentinelLines = sentDone.map(s =>
      s"""    "$s": {"median": ${r3(results(s))}, "frozen": ${r3(baseline(s))}}""")
      .mkString(",\n")
    // multi-stage sentinel medians verbatim (frozen value beside each
    // when BASELINE_SENTINELS_MULTI.json is present), same recompute
    // courtesy as the single-stage block
    val sentinelMultiLines = SentinelsMulti.queries.map(_._1)
      .filter(multiMedians.contains).map { s =>
        val frozen = baselineMulti.get(s).map(v => s""", "frozen": ${r3(v)}""").getOrElse("")
        s"""    "$s": {"median": ${r3(multiMedians(s))}, "min": ${r3(multiMins(s))}$frozen}"""
      }.mkString(",\n")
    val sharedLines = shared
      .map { case (n, t) => s"""    "$n": ${r3(t)}""" }.mkString(",\n")
    val familyLines = familyRatios.toSeq.sortBy(_._1).map { case (f, (r, n)) =>
      s"""    "$f": {"ratio": ${r3(r)}, "n": $n}"""
    }.mkString(",\n")
    val fullJson =
      s"""{
         |  "metric": "total", "value": ${r3(total)}, "unit": "sec",
         |  "sf": "$sfDir", "cpus": $cpus, "passes": $passes,
         |  "n_queries": ${results.size}, "n_failed": ${failed.length}$baselineJson,
         |  "failed": ${failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |  "regressions": ${regressions.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |  "watch_corrected": ${watchCorrected.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |  "sentinels": {
         |$sentinelLines
         |  },
         |  "sentinels_multi": {
         |$sentinelMultiLines
         |  },
         |  "families": {
         |$familyLines
         |  },
         |  "shared_total": ${r3(sharedTotal)},
         |  "shared": {
         |$sharedLines
         |  },
         |  "queries": {
         |$fullQueries
         |  }
         |}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Per-cpu-count snapshot of the same record: the driver runs the bench
    // at BOTH 32 and 8 cpus into the same BENCH_FULL.json path, so the
    // second (scaling) run clobbers the 32-cpu full record (observed r18 —
    // only the stdout headline survived). A cpu-suffixed copy means each
    // core count keeps its own latest record.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(fullPath.stripSuffix(".json") + s"_c$cpus.json"),
      fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Clean-window record preservation (r16 verdict item 6): the driver's
    // per-round re-run overwrites BENCH_FULL.json, and when its window is
    // loaded the round's best evidence survives only in git history. When
    // BOTH the pre-run probe and the end-of-run sentinel classes read
    // clean (≤ 1.15), also write the record to a stable side file, so the
    // repo root always carries the most recent clean-window full record.
    // Scale guard: the frozen medians are sf0.1 numbers, so a "clean"
    // probe at any OTHER scale says nothing about them — without this an
    // sf0.01 smoke run whose tiny-input ratios happen to read <=1.15
    // overwrites the preserved sf0.1 record (observed r18).
    // Cpu guard (r18 verdict item 2): the frozen medians are also
    // local[32] numbers — the driver's 8-cpu scaling run read "clean" and
    // overwrote the preserved record with 8-cpu timings plus an 8-entry
    // cpu-mismatch watch list. A clean probe at any other core count says
    // nothing about the freeze.
    val freezeSfDir = sys.env.getOrElse("SPARK_GRAFT_FREEZE_SF_DIR", "/root/testdata/sf0.1")
    val freezeCpus = sys.env.getOrElse("SPARK_GRAFT_FREEZE_CPUS", "32").toInt
    val cleanWindow = sfDir == freezeSfDir && cpus == freezeCpus &&
      probeAttempts.lastOption.exists(p => !p.isNaN && p <= 1.15) &&
      sentinelRatio.exists(_ <= 1.15) && sentinelRatioMulti.forall(_ <= 1.15)
    if (cleanWindow)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_CLEAN", "BENCH_FULL_latest_clean.json")),
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Headline stdout line (driver-parsed): one query per operator family,
    // rounded to 3 decimals; `value` stays the total across ALL queries.
    val headline = Vector(
      "q1_agg", "q3_topk", "q5_multijoin", "q7_volume", "q10_returns",
      "q_window_rank", "q_cube", "q_asof_join", "q_sessionize",
      "cdc_parse_envelope", "cdc_unwrap", "cdc_materialize_latest",
      "cdc_scd2_history", "cdc_incremental_agg", "cdc_compact",
      "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
      "dedup_embedding_cosine", "ann_bruteforce_topk", "ann_ivf_topk",
      "ann_knn_join", "text_langid", "text_quality", "text_tokens",
      "mm_frame_sample", "pipe_chunk_documents", "pipe_interleave")
    val qs = headline.flatMap(k => results.get(k).map(v => s"\"$k\":${r3(v)}"))
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.length},"shared_total":${r3(sharedTotal)}$baselineJson,"full":"$fullPath","queries":$qs,"sf":"$sfDir"}"""
    require(line.length < 1900, s"bench line too long: ${line.length}")
    println(line)
    spark.stop()
  }
}
