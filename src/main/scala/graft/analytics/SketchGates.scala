package graft.analytics

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable contract gates for the sketch twins (r16 verdict
  * item 3).
  *
  * The 8 `_approx` registry entries can never hash-match a DuckDB
  * oracle: a GK/KLL sketch's rank pick, an HLL register estimate, or a
  * CMS cell sum is engine-specific, so the driver recorded them as
  * permanent rows-only checks and their accuracy contracts lived only
  * in SketchesSpec — OUR test, not the driver's independent gate.
  *
  * Each gate here evaluates the contract INSIDE a query: it runs the
  * sketch twin and its exact twin in one plan and outputs only
  * (a) exact-side values the oracle recomputes independently and
  * (b) BIGINT 0/1 contract verdicts (within-tolerance, one-sided,
  * monotone …) whose expected value under the contract is 1. The DuckDB
  * oracle recomputes the exact columns and pins the verdict columns to
  * literal 1 — so the driver's hash compare now independently enforces
  * the same bound SketchesSpec asserts: if a sketch ever drifts outside
  * its contract, the flag flips to 0 and the gate row hash-fails.
  *
  * The tolerances mirror SketchesSpec line for line (2% relative for
  * GK quantile twins, the N·depth/width CMS ceiling, 5% HLL, one
  * 60 s rounding step for the advised watermark). The twins themselves
  * are unchanged — these are companions, not replacements.
  *
  * Scale shape: each gate is the union of its two twins' plans plus a
  * broadcast-sized join on the group key (≤ |groups| rows on both
  * sides), so the gate costs what the two twins cost and adds no new
  * large shuffle.
  */
object SketchGates {

  private val memos = new graft.SharedBuilds.Owner

  /** 0/1 verdict: |a − e| / max(|e|, floor) < tol. */
  private def within(a: Column, e: Column, tol: Double, floor: Double = 1.0): Column =
    (abs(a - e) / greatest(abs(e), lit(floor)) < tol).cast("long")

  /** [[Relational.madByFlag]]'s ≤|flags|-row result, memoized per
    * (session, dir) — the gate's exact side (r18 verdict item 3: the gate
    * deliberately runs BOTH twins, so the registry paid the two exact
    * percentile passes — the heaviest per-row aggregate in the family —
    * twice per sweep, once in q_mad and again inside this gate). Same
    * bounded [[graft.SharedBuilds]] memo + attributed `shared:` accounting
    * as the dedup corpus builds (Bench forces it before timing, so the
    * gate's median measures its marginal cost: the sketch side plus a
    * 3-row join). q_mad itself stays un-memoized — its bench line keeps
    * measuring the exact computation. Within-session only; every fresh
    * run recomputes from the parquet inputs. */
  private val madExactCache = memos.frames()
  private[graft] def madExact(spark: SparkSession, dir: String): DataFrame =
    madExactCache(spark, dir)(Relational.madByFlag(spark, dir))

  /** Evict for `spark` — InvarianceSweep calls this between layouts (same
    * contract as Dedup/Decoded.clearMemos). */
  private[graft] def clearMemos(spark: SparkSession): Unit = memos.clear(spark)

  /** Bench forces these under attributed `shared:` lines BEFORE timing the
    * registry (same contract as [[graft.dedup.Dedup.sharedBuilds]]). */
  def sharedBuilds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "mad_exact" -> ((s, d) => madExact(s, d)))

  /** `q_mad_approx_gate` — per return flag: exact row count (oracle
    * recomputes) plus 2%-relative verdicts on the sketched median and
    * MAD vs [[Relational.madByFlag]]. `tol` exists for SketchGatesSpec's
    * non-vacuity proof: at an impossible tolerance the flags flip to 0
    * through the real wiring — the verdicts are computed comparisons,
    * not constants that happen to match the oracle's literal 1s. */
  def madGate(spark: SparkSession, dir: String, tol: Double = 0.02): DataFrame = {
    val e = madExact(spark, dir)
      .select(col("l_returnflag"), col("n_rows"),
        col("median_price").as("e_med"), col("mad").as("e_mad"))
    val a = Sketches.approxMad(spark, dir)
      .select(col("l_returnflag"), col("n_rows").as("a_n"),
        col("median_price").as("a_med"), col("mad").as("a_mad"))
    e.join(a, "l_returnflag")
      .select(col("l_returnflag"), col("n_rows"),
        (col("a_n") === col("n_rows")).cast("long").as("n_equal"),
        within(col("a_med"), col("e_med"), tol, 1e-9).as("median_within_2pct"),
        within(col("a_mad"), col("e_mad"), tol, 1e-9).as("mad_within_2pct"))
      .orderBy("l_returnflag")
  }

  val madGateSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |       CAST(1 AS BIGINT) AS n_equal,
      |       CAST(1 AS BIGINT) AS median_within_2pct,
      |       CAST(1 AS BIGINT) AS mad_within_2pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** `cdc_lag_percentiles_approx_gate` — per cohort: the exact max lag
    * (identical on both paths by contract, oracle recomputes it from the
    * changelog) plus 2% verdicts on the sketched p50/p90/p99 vs
    * [[graft.cdc.Monitoring.lagPercentiles]]. `tol` exists for the
    * non-vacuity flip proof (SketchGatesSpec): tol=0 makes `within`'s
    * strict `<` unsatisfiable, so every within-verdict must flip to 0
    * through the registered wiring. */
  def lagPercentilesGate(changelog: DataFrame, tol: Double = 0.02): DataFrame = {
    val e = graft.cdc.Monitoring.lagPercentiles(changelog)
      .select(col("cohort"), col("max_ms"),
        col("p50_ms").as("e50"), col("p90_ms").as("e90"), col("p99_ms").as("e99"))
    val a = Sketches.approxLagPercentiles(changelog)
      .select(col("cohort"), col("max_ms").as("a_max"),
        col("p50_ms").as("a50"), col("p90_ms").as("a90"), col("p99_ms").as("a99"))
    e.join(a, "cohort")
      .select(col("cohort"), col("max_ms"),
        (col("a_max") === col("max_ms")).cast("long").as("max_equal"),
        within(col("a50"), col("e50"), tol).as("p50_within_2pct"),
        within(col("a90"), col("e90"), tol).as("p90_within_2pct"),
        within(col("a99"), col("e99"), tol).as("p99_within_2pct"))
      .orderBy("cohort")
  }

  def lagPercentilesGateSql(cl: String): String =
    s"""$cl, hwm AS (SELECT max(ts) AS hwm FROM changelog)
       |SELECT pk % 10 AS cohort,
       |       max(epoch_ms(hwm) - epoch_ms(ts)) AS max_ms,
       |       CAST(1 AS BIGINT) AS max_equal,
       |       CAST(1 AS BIGINT) AS p50_within_2pct,
       |       CAST(1 AS BIGINT) AS p90_within_2pct,
       |       CAST(1 AS BIGINT) AS p99_within_2pct
       |FROM changelog CROSS JOIN hwm GROUP BY cohort ORDER BY cohort""".stripMargin

  /** `cdc_event_size_pcts_approx_gate` — per topic: exact count/min/max
    * (identical on both paths, oracle recomputes) plus 2% verdicts on
    * the sketched byte quantiles vs
    * [[graft.cdc.Monitoring.eventSizePercentiles]]. `tol` is the
    * non-vacuity knob: tol=0 is unsatisfiable under `within`'s strict
    * `<`, flipping every within-verdict (SketchGatesSpec). */
  def eventSizeGate(spark: SparkSession, dir: String, tol: Double = 0.02): DataFrame = {
    val e = graft.cdc.Monitoring.eventSizePercentiles(spark, dir)
      .select(col("topic"), col("n_messages"), col("min_bytes"), col("max_bytes"),
        col("p50_bytes").as("e50"), col("p90_bytes").as("e90"), col("p99_bytes").as("e99"))
    val a = Sketches.approxEventSizePercentiles(spark, dir)
      .select(col("topic"), col("n_messages").as("a_n"), col("min_bytes").as("a_min"),
        col("max_bytes").as("a_max"),
        col("p50_bytes").as("a50"), col("p90_bytes").as("a90"), col("p99_bytes").as("a99"))
    e.join(a, "topic")
      .select(col("topic"), col("n_messages"), col("min_bytes"), col("max_bytes"),
        (col("a_n") === col("n_messages") && col("a_min") === col("min_bytes") &&
          col("a_max") === col("max_bytes")).cast("long").as("exact_fields_equal"),
        within(col("a50"), col("e50"), tol).as("p50_within_2pct"),
        within(col("a90"), col("e90"), tol).as("p90_within_2pct"),
        within(col("a99"), col("e99"), tol).as("p99_within_2pct"))
      .orderBy("topic")
  }

  def eventSizeGateSql(overhead: Int = 64): String =
    s"""WITH sized AS (
       |  SELECT 'graft.public.' || event_type AS topic,
       |         CAST(length(props) AS BIGINT) + $overhead AS msg_bytes
       |  FROM events)
       |SELECT topic, count(*) AS n_messages,
       |       min(msg_bytes) AS min_bytes, max(msg_bytes) AS max_bytes,
       |       CAST(1 AS BIGINT) AS exact_fields_equal,
       |       CAST(1 AS BIGINT) AS p50_within_2pct,
       |       CAST(1 AS BIGINT) AS p90_within_2pct,
       |       CAST(1 AS BIGINT) AS p99_within_2pct
       |FROM sized GROUP BY topic ORDER BY topic""".stripMargin

  /** `cdc_watermark_advise_approx_gate` — one row: exact event/late
    * counts (the lateness derivation is shared; oracle recomputes) plus
    * 2% verdicts on the sketched lateness quantiles and a SCALE-DERIVED
    * step verdict on the advised watermark vs
    * [[graft.cdc.Monitoring.watermarkAdvise]].
    *
    * The advised watermark is ceil(p99/60000)·60000 on both paths, so a
    * p99 within tol of exact implies the advised values differ by at
    * most tol·p99 plus one rounding step. The r17 verdict allowed
    * exactly ONE 60 s step, which a contract-respecting 2% p99 error
    * exceeds once p99 > 3,000,000 ms — a scale-sensitive flip with no
    * code defect (ADVICE r17). The bound is now derived from the exact
    * p99 magnitude in-plan: (1 + ceil(tol·e99/60000))·60000, which
    * degrades to the old one-step bound at the current fixture scales
    * (tol·e99 < 60 s) and stays valid at every scale.
    *
    * Non-vacuity knobs (SketchGatesSpec): tol=0 flips every
    * within-verdict; stepMs=-1 makes the step bound negative, which an
    * absolute difference can never satisfy, flipping the step verdict. */
  def watermarkAdviseGate(changelog: DataFrame, tol: Double = 0.02,
                          stepMs: Long = 60000L): DataFrame = {
    val e = graft.cdc.Monitoring.watermarkAdvise(changelog)
      .select(col("n_events"), col("n_late"), col("p50_ms").as("e50"),
        col("p95_ms").as("e95"), col("p99_ms").as("e99"),
        col("advised_watermark_ms").as("e_adv"))
    val a = Sketches.approxWatermarkAdvise(changelog)
      .select(col("n_events").as("a_n"), col("n_late").as("a_late"),
        col("p50_ms").as("a50"), col("p95_ms").as("a95"), col("p99_ms").as("a99"),
        col("advised_watermark_ms").as("a_adv"))
    e.crossJoin(a)
      .select(col("n_events"), col("n_late"),
        (col("a_n") === col("n_events") && col("a_late") === col("n_late"))
          .cast("long").as("counts_equal"),
        within(col("a50"), col("e50"), tol).as("p50_within_2pct"),
        within(col("a95"), col("e95"), tol).as("p95_within_2pct"),
        within(col("a99"), col("e99"), tol).as("p99_within_2pct"),
        (abs(col("a_adv") - col("e_adv")) <=
          (lit(1L) + ceil(col("e99") * tol / 60000.0).cast("long")) * stepMs)
          .cast("long").as("advised_within_tol_steps"))
  }

  def watermarkAdviseGateSql(cl: String): String =
    s"""$cl, lat AS (
       |  SELECT greatest(0, coalesce(
       |           max(epoch_ms(ts)) OVER (PARTITION BY pk ORDER BY seq
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - epoch_ms(ts), 0)) AS late_ms
       |  FROM changelog)
       |SELECT count(*) AS n_events,
       |       count(CASE WHEN late_ms > 0 THEN 1 END) AS n_late,
       |       CAST(1 AS BIGINT) AS counts_equal,
       |       CAST(1 AS BIGINT) AS p50_within_2pct,
       |       CAST(1 AS BIGINT) AS p95_within_2pct,
       |       CAST(1 AS BIGINT) AS p99_within_2pct,
       |       CAST(1 AS BIGINT) AS advised_within_tol_steps
       |FROM lat""".stripMargin

  /** `emb_dim_quantiles_approx_gate` — per dimension: exact value count
    * (oracle recomputes) plus rank-envelope verdicts: each sketched
    * quantile must lie inside the exact [p−0.005, p+0.005] value
    * envelope (SketchesSpec's contract — the right bound for a
    * value-PICKING sketch vs an INTERPOLATING exact percentile).
    *
    * `envScale` scales the rank half-widths (±0.005 around p01/p99,
    * ±0.05 around p50) and exists for the non-vacuity flip proof: a
    * NEGATIVE scale inverts every envelope (lo rank above hi rank), so
    * an interval-membership verdict over a non-constant dimension must
    * flip to 0 through the registered wiring. The default keeps the
    * registered expression literally identical. */
  def dimQuantilesGate(spark: SparkSession, dir: String,
                       envScale: Double = 1.0): DataFrame = {
    val ranks =
      if (envScale == 1.0) "0.005, 0.015, 0.45, 0.55, 0.985, 0.995"
      else {
        def clamp(r: Double) = math.max(0.0, math.min(1.0, r))
        Seq(0.01 - 0.005 * envScale, 0.01 + 0.005 * envScale,
          0.5 - 0.05 * envScale, 0.5 + 0.05 * envScale,
          0.99 - 0.005 * envScale, 0.99 + 0.005 * envScale)
          .map(clamp).mkString(", ")
      }
    val env = Tables.load(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        expr(s"percentile(x, array($ranks))").as("e"))
    val a = Sketches.approxDimQuantiles(spark, dir)
      .select(col("dim"), col("n").as("a_n"),
        col("p01").as("a01"), col("p50").as("a50"), col("p99").as("a99"))
    def inEnv(a: Column, lo: Column, hi: Column): Column =
      (a >= lo && a <= hi).cast("long")
    env.join(a, "dim")
      .select(col("dim"), col("n"),
        (col("a_n") === col("n")).cast("long").as("n_equal"),
        inEnv(col("a01"), element_at(col("e"), 1), element_at(col("e"), 2)).as("p01_in_envelope"),
        inEnv(col("a50"), element_at(col("e"), 3), element_at(col("e"), 4)).as("p50_in_envelope"),
        inEnv(col("a99"), element_at(col("e"), 5), element_at(col("e"), 6)).as("p99_in_envelope"))
      .orderBy("dim")
  }

  val dimQuantilesGateSql: String =
    """WITH longf AS (
      |  SELECT CAST(unnest(generate_series(0, len(embedding) - 1)) AS BIGINT) AS dim
      |  FROM embeddings)
      |SELECT dim, count(*) AS n,
      |       CAST(1 AS BIGINT) AS n_equal,
      |       CAST(1 AS BIGINT) AS p01_in_envelope,
      |       CAST(1 AS BIGINT) AS p50_in_envelope,
      |       CAST(1 AS BIGINT) AS p99_in_envelope
      |FROM longf GROUP BY dim ORDER BY dim""".stripMargin

  /** `cdc_hot_key_share_approx_gate` — per hot key (exact top-20): the
    * exact count (oracle recomputes the same top-k with the same
    * tie-break) plus the CMS one-sidedness verdict (estimate ≥ exact,
    * structural) and the N·depth/width overcount ceiling verdict.
    *
    * `boundScale` multiplies the ceiling and exists for the non-vacuity
    * flip proof: a NEGATIVE scale makes the ceiling negative, which the
    * CMS overcount (structurally ≥ 0) can never satisfy — the ceiling
    * verdict must flip to 0 on every row through the registered wiring.
    * The default keeps the registered expression literally identical. */
  def hotKeyShareGate(spark: SparkSession, dir: String,
                      depth: Int = 4, width: Int = 1024,
                      boundScale: Double = 1.0): DataFrame = {
    val total = Tables.load(spark, dir, "events").agg(count(lit(1)).as("n_events"))
    val ceilingExpr =
      if (boundScale == 1.0) col("n_events").cast("double") * depth / width
      else col("n_events").cast("double") * depth / width * boundScale
    Sketches.approxHotKeyShare(spark, dir)
      .crossJoin(broadcast(total))
      .select(col("user_id"), col("exact_cnt"),
        (col("cms_cnt") >= col("exact_cnt")).cast("long").as("one_sided_ok"),
        ((col("cms_cnt") - col("exact_cnt")).cast("double") <= ceilingExpr)
          .cast("long").as("overcount_within_bound"),
        (col("est_share") === col("cms_cnt").cast("double") / col("n_events").cast("double"))
          .cast("long").as("share_consistent"))
      .orderBy(col("exact_cnt").desc, col("user_id"))
  }

  val hotKeyShareGateSql: String =
    """WITH per_key AS (
      |  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
      |SELECT user_id, cnt AS exact_cnt,
      |       CAST(1 AS BIGINT) AS one_sided_ok,
      |       CAST(1 AS BIGINT) AS overcount_within_bound,
      |       CAST(1 AS BIGINT) AS share_consistent
      |FROM per_key ORDER BY cnt DESC, user_id LIMIT 20""".stripMargin

  /** `text_doc_freq_approx_gate` — per head term (exact top-20 df): the
    * exact document frequency (oracle recomputes with the same
    * normalization and tie-break) plus the CMS one-sidedness verdict and
    * the estimated-ratio consistency verdict.
    *
    * `oneSidedSlack` shifts the one-sidedness threshold and exists for
    * the non-vacuity flip proof: demanding df_est ≥ df + 10^15 is
    * unsatisfiable at any corpus size this engine will ever see, so the
    * one-sided verdict must flip to 0 on every row through the
    * registered wiring. The default keeps the registered expression
    * literally identical. */
  def docFreqGate(spark: SparkSession, dir: String,
                  oneSidedSlack: Double = 0.0): DataFrame = {
    val nDocs = Tables.load(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val oneSided =
      if (oneSidedSlack == 0.0) col("df_est") >= col("df")
      else col("df_est").cast("double") >= col("df").cast("double") + oneSidedSlack
    Sketches.approxDocFreqHead(spark, dir)
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"),
        oneSided.cast("long").as("one_sided_ok"),
        (col("df_ratio_est") === col("df_est").cast("double") / col("n_docs").cast("double"))
          .cast("long").as("ratio_consistent"))
      .orderBy(col("df").desc, col("term"))
  }

  val docFreqGateSql: String =
    """WITH terms AS (
      |  SELECT unnest(list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS term
      |  FROM documents),
      |df AS (
      |  SELECT term, count(*) AS df FROM terms WHERE length(term) >= 3 GROUP BY term)
      |SELECT term, df,
      |       CAST(1 AS BIGINT) AS one_sided_ok,
      |       CAST(1 AS BIGINT) AS ratio_consistent
      |FROM df ORDER BY df DESC, term LIMIT 20""".stripMargin

  /** `q_cumulative_uniques_approx_gate` — per day: the exact active
    * count (oracle recomputes) plus per-estimator verdicts vs
    * [[Relational.cumulativeUniques]] and the union-monotonicity verdict
    * (cumulative estimates never decrease).
    *
    * Tolerances track each estimator's OWN contract: the cumulative
    * curve rides the lgK=12 Datasketches HLL union (rsd ≈ 1.6%), so 5%
    * is a ≥3σ deterministic bound; the per-day `n_active_approx` column
    * is Spark's `approx_count_distinct` at its default rsd 0.05, so its
    * deterministic bound is 3×rsd = 15% (a 5% flag on a 5%-rsd
    * estimator flips on ~1 day in 3 by construction — SketchesSpec's
    * 5% assertion holds at its fixed sf0.001 fixture, but a hash gate
    * must hold at every driver scale).
    *
    * Scale envelope of the fixed-percentage verdicts (ADVICE r17): both
    * bounds are deterministic MULTIPLES of each estimator's rsd (3×rsd
    * for the per-day 5%-rsd estimator, ≥3×rsd for the 1.6%-rsd
    * cumulative union), so they stay valid as cardinalities GROW — HLL
    * relative error shrinks or holds with n. The regime they do not
    * cover is tiny per-day cardinalities (≲ 100 actives/day), where an
    * HLL's discrete register states make relative error lumpy; the
    * driver fixtures are well above that floor at every sf.
    *
    * Non-vacuity knobs (SketchGatesSpec): tolActive=0 / tolCum=0 make
    * `within`'s strict `<` unsatisfiable; monotoneSlack demands each
    * day's cumulative estimate EXCEED its predecessor by the slack,
    * which 10^15 makes impossible — each flips its verdict through the
    * registered wiring. Defaults keep the registered expressions
    * literally identical. */
  def cumulativeUniquesGate(spark: SparkSession, dir: String,
                            tolActive: Double = 0.15, tolCum: Double = 0.05,
                            monotoneSlack: Long = 0L): DataFrame = {
    val e = Relational.cumulativeUniques(spark, dir)
      .select(col("day"), col("n_active"), col("cum_uniques").as("e_cum"))
    val a = Sketches.approxCumulativeUniques(spark, dir)
      .select(col("day"), col("n_active_approx").as("a_act"),
        col("cum_uniques_approx").as("a_cum"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
    val prev = coalesce(lag(col("a_cum"), 1).over(w), lit(0L))
    val monotone =
      if (monotoneSlack == 0L) col("a_cum") >= prev
      else col("a_cum") >= prev + monotoneSlack
    e.join(a, "day")
      .select(col("day"), col("n_active"),
        within(col("a_act"), col("n_active"), tolActive).as("active_within_3rsd"),
        within(col("a_cum"), col("e_cum"), tolCum).as("cum_within_5pct"),
        monotone.cast("long").as("monotone_ok"))
      .orderBy("day")
  }

  val cumulativeUniquesGateSql: String =
    """WITH ev AS (
      |  SELECT date_trunc('day', ts) AS day, user_id FROM events)
      |SELECT day, count(DISTINCT user_id) AS n_active,
      |       CAST(1 AS BIGINT) AS active_within_3rsd,
      |       CAST(1 AS BIGINT) AS cum_within_5pct,
      |       CAST(1 AS BIGINT) AS monotone_ok
      |FROM ev GROUP BY day ORDER BY day""".stripMargin

  /** `cdc_hot_key_share_cms` — the DEPLOYMENT CMS topology under the
    * driver's gate (r16 verdict item 5): cells aggregated straight from
    * the raw event stream under ≤ depth×width grouping keys
    * ([[Sketches.cmsCellCounts]] — the ONLY shuffle the sketch side
    * pays, plan-pinned in PlanShapeSpec), probed with an external
    * candidate list ([[Sketches.cmsProbe]], broadcast cells). The
    * candidate list here is the exact top-k — the accuracy contract
    * needs exact counts to compare against, and the oracle recomputes
    * the same list — but the build side never groups by key: the
    * estimate for each candidate comes exclusively from the ≤4096-cell
    * table. Output: per-candidate exact count (oracle recomputes) plus
    * the one-sidedness and overcount-ceiling verdicts. */
  def hotKeyShareCms(spark: SparkSession, dir: String, topK: Int = 20,
                     depth: Int = 4, width: Int = 1024,
                     boundScale: Double = 1.0): DataFrame = {
    val keys = Tables.load(spark, dir, "events").select(col("user_id").as("item"))
    val cells = Sketches.cmsCellCounts(keys, depth, width)
    val candidates = keys.groupBy("item").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("item")).limit(topK)
    val total = keys.agg(count(lit(1)).as("n_events"))
    // boundScale: non-vacuity knob, same design as [[hotKeyShareGate]] —
    // a negative scale makes the ceiling unsatisfiable for a
    // structurally non-negative overcount; default keeps the registered
    // expression literally identical
    val ceilingExpr =
      if (boundScale == 1.0) col("n_events").cast("double") * depth / width
      else col("n_events").cast("double") * depth / width * boundScale
    Sketches.cmsProbe(cells, candidates.select("item"), depth, width)
      .join(candidates, "item")
      .crossJoin(broadcast(total))
      .select(col("item").as("user_id"), col("exact_cnt"),
        (col("cms_cnt") >= col("exact_cnt")).cast("long").as("one_sided_ok"),
        ((col("cms_cnt") - col("exact_cnt")).cast("double") <= ceilingExpr)
          .cast("long").as("overcount_within_bound"))
      .orderBy(col("exact_cnt").desc, col("user_id"))
  }

  val hotKeyShareCmsSql: String =
    """WITH per_key AS (
      |  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
      |SELECT user_id, cnt AS exact_cnt,
      |       CAST(1 AS BIGINT) AS one_sided_ok,
      |       CAST(1 AS BIGINT) AS overcount_within_bound
      |FROM per_key ORDER BY cnt DESC, user_id LIMIT 20""".stripMargin
}
