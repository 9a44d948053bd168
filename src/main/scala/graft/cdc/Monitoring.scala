package graft.cdc

import graft.dec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Pipeline observability aggregates — the Spark-native form of the
  * reference's monitoring stack:
  *   - event counts by type/table (metrics_collector.py:29-130, dashboard)
  *   - events-over-time buckets (frontend dashboard/overview.tsx)
  *   - throughput events/sec (metrics_collector.collect_pipeline_metrics)
  *   - lag trend (lag_monitor.py:173-212)
  *   - threshold alert rules (alerting/alert_engine.py:62-100)
  *   - op-mix / delete-ratio health (cdc_health_monitor.py)
  *
  * All are single-shuffle group-aggregations with map-side partials.
  */
object Monitoring {

  /** Event counts by normalized op class + distinct affected keys. */
  def eventCounts(changelog: DataFrame): DataFrame =
    changelog
      .groupBy(Cdc.normalizeOp(col("op")).as("event_class"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("pk")).as("n_keys"),
        sum(dec(col("value"))).cast(DecimalType(28, 2)).cast("double").as("total_value"))
      .orderBy("event_class")

  /** Events-per-minute time series (dashboard events-over-time). */
  def eventsPerMinute(changelog: DataFrame): DataFrame =
    changelog
      .groupBy(date_trunc("minute", col("ts")).as("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast(DecimalType(28, 2)).cast("double").as("sum_value"))
      .orderBy("bucket")

  /** Per-hour throughput in events/sec (exact-long count / fixed window). */
  def throughput(changelog: DataFrame): DataFrame =
    changelog
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("bucket"),
        col("n_events"),
        (col("n_events").cast("double") / lit(3600.0)).as("events_per_sec"))
      .orderBy("bucket")

  /** Lag trend: per-hour avg/max of (high-watermark − event ts) in ms.
    * The global high watermark is a 1-row broadcast join, never a
    * partition-less window (which would serialize at scale). */
  def lagTrend(changelog: DataFrame): DataFrame = {
    val hwm = changelog.agg(max(col("ts")).as("hwm"))
    changelog
      .crossJoin(broadcast(hwm))
      .select(
        date_trunc("hour", col("ts")).as("bucket"),
        (unix_millis(col("hwm")) - unix_millis(col("ts"))).as("lag_ms"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("lag_ms")).cast(LongType).as("total_lag_ms"),
        max(col("lag_ms")).as("max_lag_ms"))
      .withColumn("avg_lag_ms", col("total_lag_ms").cast("double") / col("n_events"))
      .orderBy("bucket")
  }

  /** Threshold alert rules evaluated over hourly metric windows.
    * Rules are a broadcast-joined literal dimension, mirroring
    * alert_engine._evaluate_rule's metric/threshold/condition triple. */
  def alertEval(spark: SparkSession, changelog: DataFrame): DataFrame = {
    import spark.implicits._
    val rules = Seq(
      ("r_error_burst", "error_count", 10.0, "gt", "critical"),
      ("r_low_volume", "event_count", 100.0, "lt", "warning"),
      ("r_delete_storm", "delete_count", 25.0, "gt", "warning"))
      .toDF("rule_id", "metric", "threshold", "condition", "severity")

    val metrics = changelog
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(
        count(lit(1)).cast("double").as("event_count"),
        count(when(col("op") === "d", 1)).cast("double").as("delete_count"))
      .withColumn("error_count", col("delete_count"))
      .select(col("bucket"), expr("stack(3, 'event_count', event_count, 'delete_count', delete_count, 'error_count', error_count) as (metric, metric_value)"))

    metrics
      .join(broadcast(rules), "metric")
      .where(
        (col("condition") === "gt" && col("metric_value") > col("threshold")) ||
        (col("condition") === "lt" && col("metric_value") < col("threshold")))
      .select(col("rule_id"), col("bucket"), col("metric"), col("metric_value"), col("threshold"), col("severity"))
      .orderBy("rule_id", "bucket")
  }

  /** Notification dispatch (alert_engine.py:100-183 _create_alert +
    * _send_alerts): each triggered alert fans out to one outbox row per
    * configured channel, carrying the reference's message format
    * `{rule}: {metric} ({value}) {condition} {threshold}`. Channels
    * outside the known set (email/webhook/slack) are routed to
    * `unknown_channel` rather than silently dropped — the reference logs
    * a warning; an outbox keeps them auditable. The actual send is I/O
    * a delivery worker drains from this outbox. */
  def alertDispatch(spark: SparkSession, changelog: DataFrame): DataFrame = {
    import spark.implicits._
    val dim = Seq(
      ("r_error_burst", "gt", Seq("email", "slack", "pager")),
      ("r_low_volume", "lt", Seq("webhook")),
      ("r_delete_storm", "gt", Seq("slack", "webhook")))
      .toDF("rule_id", "condition", "channels")
    val known = Seq("email", "webhook", "slack")
    alertEval(spark, changelog)
      .join(broadcast(dim), "rule_id")
      .withColumn("channel", explode(col("channels")))
      .select(
        col("rule_id"), col("bucket"), col("channel"), col("severity"),
        when(col("channel").isInCollection(known), "sent")
          .otherwise("unknown_channel").as("delivery"),
        concat(
          col("rule_id"), lit(": "), col("metric"), lit(" ("),
          col("metric_value").cast("long").cast("string"), lit(") "),
          col("condition"), lit(" "),
          col("threshold").cast("long").cast("string")).as("message"))
      .orderBy("rule_id", "bucket", "channel")
  }

  /** Event-time disorder statistics: per key cohort, how often events
    * arrive (in seq order) with an event time behind the running maximum,
    * and by how much — the numbers that size a streaming watermark. */
  def disorderStats(changelog: DataFrame): DataFrame = {
    // % (not pmod): the oracle SQL and every sibling cohort operator
    // (deleteRatio, lagPercentiles, heartbeatGaps) bucket with %, and the
    // two disagree on negative keys
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pk") % 10)
      .orderBy("seq")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    changelog
      .withColumn("cohort", col("pk") % 10)
      .withColumn("prev_max_ms", max(unix_millis(col("ts"))).over(w))
      .withColumn("regress_ms",
        when(col("prev_max_ms").isNull, lit(0L))
          .otherwise(greatest(col("prev_max_ms") - unix_millis(col("ts")), lit(0L))))
      .groupBy("cohort")
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("regress_ms") > 0, 1)).as("n_late"),
        max(col("regress_ms")).as("max_regress_ms"))
      .withColumn("late_ratio", col("n_late").cast("double") / col("n_events").cast("double"))
      .orderBy("cohort")
  }

  /** Alert debounce (the notification hygiene the reference's alert engine
    * needs): a candidate is suppressed when it falls inside the cooldown
    * of the last FIRED alert — measuring from the previous candidate
    * (fired or not) would let a sustained burst re-arm the cooldown
    * forever and deliver exactly one notification for a multi-day
    * incident. The greedy fired-chain is inherently sequential, so it
    * runs as a per-rule sorted iteration (flatMapGroups); group size is
    * the rule's candidate-HOUR count, never the event volume. */
  def alertSuppress(changelog: DataFrame, threshold: Long = 2, cooldownHours: Long = 6): DataFrame = {
    val spark = changelog.sparkSession
    import spark.implicits._
    val candidates = changelog
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(when(col("op") === "d", 1)).as("n_errors"))
      .where(col("n_errors") > threshold)
      .withColumn("rule_id", lit("r_error_burst"))
    val cooldownMs = cooldownHours * 3600000L
    candidates
      .select(col("rule_id"), col("bucket").cast("timestamp"), col("n_errors"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        var lastFired = Long.MinValue
        it.toSeq.sortBy(_._2.getTime).iterator.map { case (r, b, n) =>
          val fire = lastFired == Long.MinValue || b.getTime - lastFired > cooldownMs
          if (fire) lastFired = b.getTime
          (r, b, n, !fire)
        }
      }
      .toDF("rule_id", "bucket", "n_errors", "suppressed")
      .orderBy("bucket")
  }

  /** Op-mix health per key cohort: delete ratio flags destructive churn. */
  def deleteRatio(changelog: DataFrame): DataFrame =
    changelog
      .groupBy((col("pk") % 10).as("cohort"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("op") === "d", 1)).as("n_deletes"),
        count(when(col("op") === "c", 1)).as("n_inserts"))
      .withColumn("delete_ratio", col("n_deletes").cast("double") / col("n_events").cast("double"))
      .orderBy("cohort")

  /** Incremental view maintenance: a per-minute metrics table maintained
    * from changelog increments. Partial aggregates from each increment
    * merge additively — the streaming-engine property that makes the
    * dashboard cheap to keep fresh. Demonstrated here as (prefix ⊕ tail)
    * which must equal the one-shot aggregation. */
  def incrementalAgg(changelog: DataFrame, cutoverSeq: Long): DataFrame = {
    def partial(df: DataFrame) = df
      .groupBy(date_trunc("minute", col("ts")).as("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(graft.dec(col("value"))).cast(DecimalType(38, 2)).as("sum_value"))
    partial(changelog.where(col("seq") < cutoverSeq))
      .unionAll(partial(changelog.where(col("seq") >= cutoverSeq)))
      .groupBy("bucket")
      .agg(
        sum(col("n_events")).as("n_events"),
        sum(col("sum_value")).cast(DecimalType(28, 2)).cast("double").as("sum_value"))
      .orderBy("bucket")
  }

  /** Composite per-window health status (cdc_health_monitor.py): severity
    * laddder from error volume and event volume. */
  def healthScore(changelog: DataFrame): DataFrame =
    changelog
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("op") === "d", 1)).as("n_errors"))
      .withColumn("status",
        when(col("n_errors") > 10, "critical")
          .when(col("n_errors") > 5, "degraded")
          .when(col("n_events") < 50, "idle")
          .otherwise("healthy"))
      .orderBy("bucket")

  /** Exact lag percentiles per key cohort (lag_monitor reporting). The
    * rank window is PARTITIONED by cohort — the exact-percentile shape
    * that still scales (a global exact percentile would single-partition;
    * at 100 TB swap in approx_percentile for the global view). */
  def lagPercentiles(changelog: DataFrame): DataFrame = {
    val hwm = changelog.agg(max(col("ts")).as("hwm"))
    val lags = changelog
      .crossJoin(broadcast(hwm))
      .select((col("pk") % 10).as("cohort"),
        (unix_millis(col("hwm")) - unix_millis(col("ts"))).as("lag_ms"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cohort").orderBy("lag_ms")
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("cohort")
    def pick(p: Double) =
      max(when(col("rn") === ceil(lit(p) * col("n")).cast("long"), col("lag_ms")))
    lags
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wc))
      .groupBy("cohort")
      .agg(
        pick(0.5).as("p50_ms"), pick(0.9).as("p90_ms"), pick(0.99).as("p99_ms"),
        max(col("lag_ms")).as("max_ms"))
      .orderBy("cohort")
  }

  /** Topic-name routing: parse server.schema.table out of topic strings and
    * count messages per route (cdc_event_logger.py:478-489 fallback). */
  def topicRoute(wire: DataFrame): DataFrame = {
    val parts = split(col("topic"), "\\.")
    wire
      .select(
        parts.getItem(0).as("server_name"),
        parts.getItem(1).as("schema_name"),
        parts.getItem(2).as("table_name"))
      .groupBy("server_name", "schema_name", "table_name")
      .agg(count(lit(1)).as("n_messages"))
      .orderBy("server_name", "schema_name", "table_name")
  }

  /** Op-transition matrix — the changelog's state machine audited: per
    * (previous op → op) pair within each key's (ts, seq) order, the
    * transition count and whether the pair is legal CDC grammar (c may
    * only follow d or start a key; d/u must follow c/u; a second c after
    * a live row is a "double create"). The complement of
    * [[orderViolations]] (which audits TIME order): this audits OP order,
    * the thing a misconfigured snapshot re-run or an at-least-once
    * producer without idempotent keys corrupts first.
    *
    * Scale shape: one lag window PARTITIONED BY KEY (shuffle by pk,
    * per-key sort — the co-partitioned shape every sessionizer uses),
    * then a ≤|op|² aggregation. */
  def opTransitions(changelog: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk").orderBy("ts", "seq")
    changelog
      .select(col("pk"), col("ts"), col("seq"), col("op"))
      .withColumn("prev_op", lag(col("op"), 1).over(w))
      .select(coalesce(col("prev_op"), lit("start")).as("prev_op"), col("op"))
      .groupBy("prev_op", "op")
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("legal",
        (col("prev_op") === "start") ||
          (col("op") === "c" && col("prev_op") === "d") ||
          (col("op") =!= "c" && (col("prev_op") === "c" || col("prev_op") === "u")))
      .orderBy("prev_op", "op")
  }

  def opTransitionsSql(changelogSql: String): String =
    s"""$changelogSql,
       |lagged AS (
       |  SELECT coalesce(lag(op) OVER (PARTITION BY pk ORDER BY ts, seq), 'start') AS prev_op, op
       |  FROM changelog)
       |SELECT prev_op, op, count(*) AS n_transitions,
       |       (prev_op = 'start')
       |         OR (op = 'c' AND prev_op = 'd')
       |         OR (op <> 'c' AND prev_op IN ('c', 'u')) AS legal
       |FROM lagged GROUP BY prev_op, op
       |ORDER BY prev_op, op""".stripMargin

  /** Per-table status board — the one-screen dashboard rollup the
    * reference serves from its pipeline-status endpoints (api.py
    * get_pipeline_status + metrics summary): for every routed table, the
    * event/key volumes, op-mix delete share, last event time, p95
    * replication lag against the global high-water mark, and an
    * active/stale verdict (stale = silent for over an hour of stream
    * time). The per-metric operators (eventCounts, lagPercentiles,
    * deleteRatio, heartbeatGaps) answer the deep-dive questions; this is
    * the landing table that says which table to dive into.
    *
    * Scale shape: one scan, a broadcast 1-row hwm join, ONE per-table
    * aggregation (percentile + conditional sums in the same hash
    * aggregate); output is |tables| rows. */
  def statusBoard(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_type").as("table_name"), col("user_id"), col("ts"),
        Cdc.opFromEventType(col("event_type")).as("op"))
    val hwm = ev.agg(max(col("ts")).as("hwm"))
    ev.crossJoin(broadcast(hwm))
      .select(col("table_name"), col("user_id"), col("ts"), col("op"),
        (unix_millis(col("hwm")) - unix_millis(col("ts"))).as("lag_ms"))
      .groupBy("table_name")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_keys"),
        max(col("ts")).as("last_event_ts"),
        sum(when(col("op") === "d", 1L).otherwise(0L)).as("n_deletes"),
        expr("percentile(lag_ms, 0.95)").as("lag_p95_ms"),
        min(col("lag_ms")).as("freshest_lag_ms"))
      .withColumn("delete_share",
        col("n_deletes").cast("double") / col("n_events").cast("double"))
      .withColumn("status",
        when(col("freshest_lag_ms") <= 3600000L, "active").otherwise("stale"))
      .select("table_name", "n_events", "n_keys", "last_event_ts",
        "delete_share", "lag_p95_ms", "status")
      .orderBy("table_name")
  }

  val statusBoardSql: String =
    """WITH ev AS (
      |  SELECT event_type AS table_name, user_id, ts,
      |         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op
      |  FROM events),
      |hwm AS (SELECT max(ts) AS hwm FROM ev),
      |lagged AS (
      |  SELECT table_name, user_id, ts, op,
      |         epoch_ms(hwm) - epoch_ms(ts) AS lag_ms
      |  FROM ev, hwm),
      |g AS (
      |  SELECT table_name, count(*) AS n_events,
      |         count(DISTINCT user_id) AS n_keys,
      |         max(ts) AS last_event_ts,
      |         CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
      |         quantile_cont(lag_ms, 0.95) AS lag_p95_ms,
      |         min(lag_ms) AS freshest_lag_ms
      |  FROM lagged GROUP BY table_name)
      |SELECT table_name, n_events, n_keys, last_event_ts,
      |       CAST(n_deletes AS DOUBLE) / CAST(n_events AS DOUBLE) AS delete_share,
      |       lag_p95_ms,
      |       CASE WHEN freshest_lag_ms <= 3600000 THEN 'active' ELSE 'stale' END AS status
      |FROM g ORDER BY table_name""".stripMargin

  /** Per-table uptime report — the SLA-percentage reading of liveness
    * ([[tableStaleness]] answers "is it stale NOW"; this answers "what
    * fraction of the stream's life was it flowing"): per table, the
    * distinct active minutes over the GLOBAL stream span (so tables are
    * comparable), the uptime share, and an availability grade on the
    * standard 99/95/90 ladder. A table can be currently fresh yet have
    * terrible uptime (bursty connector) — both views are needed.
    *
    * Scale shape: one scan, a per-(table, minute) distinct reduced
    * map-side, a ≤|tables|-key rollup, and the global span attached as
    * a broadcast 1-row aggregate. */
  def uptimeReport(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_type").as("table_name"),
        // Column `/` is double division — DIV keeps the minute integral
        expr("unix_millis(ts) DIV 60000").as("minute"))
    val span = ev.agg(
      (max(col("minute")) - min(col("minute")) + 1L).as("span_minutes"))
    val per = ev.select("table_name", "minute").distinct()
      .groupBy("table_name")
      .agg(count(lit(1)).as("active_minutes"))
    per.crossJoin(broadcast(span))
      .withColumn("uptime_share",
        col("active_minutes").cast("double") / col("span_minutes").cast("double"))
      .withColumn("grade",
        when(col("uptime_share") >= 0.99, lit("three_nines_ish"))
          .when(col("uptime_share") >= 0.95, lit("ok"))
          .when(col("uptime_share") >= 0.90, lit("degraded"))
          .otherwise(lit("poor")))
      .select("table_name", "active_minutes", "span_minutes", "uptime_share", "grade")
      .orderBy("table_name")
  }

  val uptimeReportSql: String =
    """WITH ev AS (
      |  SELECT event_type AS table_name, epoch_ms(ts) // 60000 AS minute
      |  FROM events),
      |span AS (
      |  SELECT max(minute) - min(minute) + 1 AS span_minutes FROM ev),
      |per AS (
      |  SELECT table_name, count(*) AS active_minutes
      |  FROM (SELECT DISTINCT table_name, minute FROM ev) GROUP BY table_name)
      |SELECT table_name, active_minutes, span_minutes,
      |       CAST(active_minutes AS DOUBLE) / CAST(span_minutes AS DOUBLE) AS uptime_share,
      |       CASE WHEN CAST(active_minutes AS DOUBLE) / CAST(span_minutes AS DOUBLE) >= 0.99 THEN 'three_nines_ish'
      |            WHEN CAST(active_minutes AS DOUBLE) / CAST(span_minutes AS DOUBLE) >= 0.95 THEN 'ok'
      |            WHEN CAST(active_minutes AS DOUBLE) / CAST(span_minutes AS DOUBLE) >= 0.90 THEN 'degraded'
      |            ELSE 'poor' END AS grade
      |FROM per CROSS JOIN span ORDER BY table_name""".stripMargin

  /** Ingest load calendar — the dow×hour heat grid capacity planning
    * reads before scheduling snapshots, compaction, or maintenance
    * windows: event volume per (ISO weekday, hour) cell with its share
    * of total traffic and the peak-hour flag per weekday. Schedule the
    * heavy batch work in the cells this table shows dark.
    *
    * Scale shape: one scan, one ≤168-key map-side-combined aggregation;
    * the share/peak windows run over that bounded grid. */
  def loadCalendar(spark: SparkSession, dir: String): DataFrame = {
    val grid = graft.Tables.load(spark, dir, "events")
      .groupBy(
        (expr("weekday(ts)") + 1).cast("long").as("isodow"),
        hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    val perDow = org.apache.spark.sql.expressions.Window.partitionBy("isodow")
    grid
      .withColumn("share",
        col("n_events").cast("double") / sum(col("n_events")).over(tot).cast("double"))
      .withColumn("is_peak_hour",
        col("n_events") === max(col("n_events")).over(perDow))
      .orderBy("isodow", "hour")
  }

  val loadCalendarSql: String =
    """WITH g AS (
      |  SELECT CAST(isodow(ts) AS BIGINT) AS isodow,
      |         CAST(hour(ts) AS BIGINT) AS hour,
      |         count(*) AS n_events
      |  FROM events GROUP BY 1, 2)
      |SELECT isodow, hour, n_events,
      |       CAST(n_events AS DOUBLE) / CAST(sum(n_events) OVER () AS DOUBLE) AS share,
      |       n_events = max(n_events) OVER (PARTITION BY isodow) AS is_peak_hour
      |FROM g ORDER BY isodow, hour""".stripMargin

  /** Cadence-relative table staleness — the dynamic complement to
    * [[statusBoard]]'s fixed one-hour rule: a 1-event-per-day table is
    * not stale after two silent hours, a 1-per-second table very much
    * is. Per routed table, the silence since its last event (against
    * the stream's high-water mark) scored against the table's OWN
    * historical cadence: `staleness_score` = silence over mean
    * inter-event gap, and `status` = overdue exactly when the current
    * silence already exceeds the longest gap the table has ever shown
    * (an observation outside its whole history — alert-worthy without
    * any tuned threshold).
    *
    * Determinism: every quantity derives from exact epoch-ms integers;
    * the two double ratios use identical expression trees in both
    * engines. The max-gap window orders by ms only — tie order cannot
    * change the sorted-difference multiset, so the max is well-defined.
    *
    * Scale shape: one scan; the gap window partitions on table_name;
    * the rollup is ≤|tables| keys; the high-water mark is a broadcast
    * 1-row join. */
  def tableStaleness(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_type").as("table_name"),
        unix_millis(col("ts")).as("ms"))
    val hwm = ev.agg(max(col("ms")).as("hwm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("table_name").orderBy("ms")
    val perTable = ev
      .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(w))
      .groupBy("table_name")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ms")).as("first_ms"),
        max(col("ms")).as("last_ms"),
        max(col("gap_ms")).as("max_gap_ms"))
    val meanGap = (col("last_ms") - col("first_ms")).cast("double") /
      (col("n_events") - 1L).cast("double")
    perTable.crossJoin(broadcast(hwm))
      .withColumn("silence_ms", col("hwm") - col("last_ms"))
      .select(col("table_name"), col("n_events"), col("last_ms"),
        col("silence_ms"), col("max_gap_ms"),
        when(col("n_events") >= 2L, meanGap).as("mean_gap_ms"),
        when(col("n_events") >= 2L && col("last_ms") > col("first_ms"),
          col("silence_ms").cast("double") / meanGap).as("staleness_score"),
        when(col("n_events") < 2L, lit("unknown"))
          .when(col("silence_ms") > col("max_gap_ms"), lit("overdue"))
          .otherwise(lit("ok")).as("status"))
      .orderBy("table_name")
  }

  val tableStalenessSql: String =
    """WITH ev AS (
      |  SELECT event_type AS table_name, epoch_ms(ts) AS ms FROM events),
      |hwm AS (SELECT max(ms) AS hwm FROM ev),
      |g AS (
      |  SELECT table_name, ms,
      |         ms - lag(ms) OVER (PARTITION BY table_name ORDER BY ms) AS gap_ms
      |  FROM ev),
      |agg AS (
      |  SELECT table_name, count(*) AS n_events,
      |         min(ms) AS first_ms, max(ms) AS last_ms,
      |         max(gap_ms) AS max_gap_ms
      |  FROM g GROUP BY table_name)
      |SELECT table_name, n_events, last_ms,
      |       hwm - last_ms AS silence_ms,
      |       max_gap_ms,
      |       CASE WHEN n_events >= 2
      |            THEN CAST(last_ms - first_ms AS DOUBLE) / CAST(n_events - 1 AS DOUBLE)
      |       END AS mean_gap_ms,
      |       CASE WHEN n_events >= 2 AND last_ms > first_ms
      |            THEN CAST(hwm - last_ms AS DOUBLE)
      |                 / (CAST(last_ms - first_ms AS DOUBLE) / CAST(n_events - 1 AS DOUBLE))
      |       END AS staleness_score,
      |       CASE WHEN n_events < 2 THEN 'unknown'
      |            WHEN hwm - last_ms > max_gap_ms THEN 'overdue'
      |            ELSE 'ok' END AS status
      |FROM agg CROSS JOIN hwm ORDER BY table_name""".stripMargin

  /** Heartbeat / silence detection: per key cohort, the distribution of
    * inter-event gaps in event-time order, and how many exceeded the
    * silence threshold — the liveness signal a connector heartbeat table
    * feeds. The lag window partitions by cohort (never global), so the
    * sort is per-cohort and scales with cohort count. */
  def heartbeatGaps(changelog: DataFrame, silenceMs: Long = 60000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort").orderBy("ts", "seq")
    changelog
      .select((col("pk") % 10).as("cohort"), col("ts"), col("seq"))
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("gap_ms", unix_millis(col("ts")) - col("prev_ms"))
      .groupBy("cohort")
      .agg(
        count(col("gap_ms")).as("n_gaps"),
        max(col("gap_ms")).as("max_gap_ms"),
        count(when(col("gap_ms") > silenceMs, 1)).as("n_silences"))
      .withColumn("silence_ratio",
        col("n_silences").cast("double") / col("n_gaps").cast("double"))
      .orderBy("cohort")
  }

  def heartbeatGapsSql(changelogSql: String, silenceMs: Long = 60000L): String =
    s"""$changelogSql, g AS (
       |  SELECT pk % 10 AS cohort,
       |         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY pk % 10 ORDER BY ts, seq) AS gap_ms
       |  FROM changelog)
       |SELECT cohort, count(gap_ms) AS n_gaps, max(gap_ms) AS max_gap_ms,
       |       count(CASE WHEN gap_ms > $silenceMs THEN 1 END) AS n_silences,
       |       CAST(count(CASE WHEN gap_ms > $silenceMs THEN 1 END) AS DOUBLE)
       |         / CAST(count(gap_ms) AS DOUBLE) AS silence_ratio
       |FROM g GROUP BY cohort ORDER BY cohort""".stripMargin

  /** Partition-skew report: how evenly the key space spreads over a
    * deterministic bucketing (pk % n) — the check that decides whether a
    * changelog needs salting before its shuffle-by-key apply. skew_ratio
    * is bucket share relative to perfect balance (1.0 = even). The
    * window runs over the ALREADY-AGGREGATED n-row bucket table, so the
    * single partition is bounded by bucket count, not data size. */
  def partitionSkew(changelog: DataFrame, nBuckets: Int = 32): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    changelog
      .groupBy((col("pk") % nBuckets).as("bucket"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("pk")).as("n_keys"))
      .withColumn("skew_ratio",
        col("n_events").cast("double") * nBuckets / sum(col("n_events")).over(w).cast("double"))
      .select("bucket", "n_events", "n_keys", "skew_ratio")
      .orderBy("bucket")
  }

  def partitionSkewSql(changelogSql: String, nBuckets: Int = 32): String =
    s"""$changelogSql, b AS (
       |  SELECT pk % $nBuckets AS bucket, count(*) AS n_events, count(DISTINCT pk) AS n_keys
       |  FROM changelog GROUP BY bucket)
       |SELECT bucket, n_events, n_keys,
       |       CAST(n_events AS DOUBLE) * $nBuckets / CAST(sum(n_events) OVER () AS DOUBLE) AS skew_ratio
       |FROM b ORDER BY bucket""".stripMargin

  /** Transactional-outbox routing (the Debezium outbox event router the
    * reference's connector config surface exposes): events are outbox
    * rows (aggregate type/id + JSON payload); route each to its
    * destination topic and report per-destination delivery stats,
    * including payload-parse health. One hash aggregation by destination. */
  def outboxRoute(wire: DataFrame): DataFrame = {
    val parts = split(col("topic"), "\\.")
    wire
      .select(
        concat(lit("outbox."), parts.getItem(2)).as("destination"),
        col("offset"),
        get_json_object(col("value"), "$.after.user_id").cast("long").as("aggregate_id"))
      .groupBy("destination")
      .agg(
        count(lit(1)).as("n_messages"),
        countDistinct(col("aggregate_id")).as("n_aggregates"),
        min(col("offset")).as("first_offset"),
        max(col("offset")).as("last_offset"),
        count(when(col("aggregate_id").isNull, 1)).as("n_unparsed"))
      .orderBy("destination")
  }

  val outboxRouteSql: String =
    """SELECT 'outbox.' || event_type AS destination,
      |       count(*) AS n_messages,
      |       count(DISTINCT CASE WHEN event_type <> 'error' THEN user_id END) AS n_aggregates,
      |       min(event_id) AS first_offset, max(event_id) AS last_offset,
      |       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_unparsed
      |FROM events GROUP BY destination ORDER BY destination""".stripMargin

  /** Streaming state-store sizing: key cardinality, history-depth
    * distribution and projected state bytes (key + fixed row width) —
    * the numbers that decide executor memory and whether RocksDB state
    * is needed before a stateful query ships. Exact integer stats; the
    * projection is integer arithmetic both engines share. */
  def stateSize(changelog: DataFrame, rowBytes: Long = 64L): DataFrame = {
    val perKey = changelog.groupBy(col("pk")).agg(count(lit(1)).as("hist"))
    perKey.agg(
      count(lit(1)).as("n_keys"),
      sum(col("hist")).as("n_events"),
      max(col("hist")).as("max_history"),
      expr("percentile(hist, 0.5)").as("p50_history"),
      expr("percentile(hist, 0.99)").as("p99_history"))
      .withColumn("projected_state_bytes", col("n_keys") * rowBytes)
      .withColumn("projected_scd2_bytes", col("n_events") * rowBytes)
  }

  def stateSizeSql(changelogSql: String, rowBytes: Long = 64L): String =
    s"""$changelogSql, per_key AS (
       |  SELECT pk, count(*) AS hist FROM changelog GROUP BY pk)
       |SELECT count(*) AS n_keys,
       |       CAST(sum(hist) AS BIGINT) AS n_events,
       |       max(hist) AS max_history,
       |       quantile_cont(hist, 0.5) AS p50_history,
       |       quantile_cont(hist, 0.99) AS p99_history,
       |       count(*) * $rowBytes AS projected_state_bytes,
       |       CAST(sum(hist) AS BIGINT) * $rowBytes AS projected_scd2_bytes
       |FROM per_key""".stripMargin

  /** Retention-policy impact: how many events (and what share) each
    * candidate retention horizon would purge, measured against the
    * stream's own high watermark — the sizing table for choosing a
    * tombstone/compaction horizon. One scan, conditional counts. */
  def retentionImpact(changelog: DataFrame): DataFrame = {
    val day = 86400000L
    val hw = changelog.agg(max(unix_millis(col("ts"))).as("hw"))
    changelog
      .select(unix_millis(col("ts")).as("ms"))
      .crossJoin(broadcast(hw))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("ms") < col("hw") - 1 * day, 1)).as("purged_1d"),
        count(when(col("ms") < col("hw") - 7 * day, 1)).as("purged_7d"),
        count(when(col("ms") < col("hw") - 30 * day, 1)).as("purged_30d"))
      .withColumn("share_7d",
        col("purged_7d").cast("double") / col("n_events").cast("double"))
  }

  def retentionImpactSql(changelogSql: String): String =
    s"""$changelogSql, hw AS (SELECT max(epoch_ms(ts)) AS hw FROM changelog)
       |SELECT count(*) AS n_events,
       |       count(CASE WHEN epoch_ms(ts) < hw - ${86400000L} THEN 1 END) AS purged_1d,
       |       count(CASE WHEN epoch_ms(ts) < hw - ${7 * 86400000L} THEN 1 END) AS purged_7d,
       |       count(CASE WHEN epoch_ms(ts) < hw - ${30 * 86400000L} THEN 1 END) AS purged_30d,
       |       CAST(count(CASE WHEN epoch_ms(ts) < hw - ${7 * 86400000L} THEN 1 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS share_7d
       |FROM changelog, hw""".stripMargin

  /** Key-lifecycle census: every key classified by its op history —
    * insert-only, updated, deleted, or resurrected (a create arriving
    * after a delete in event-time order). Lifecycle mix is the shape
    * metric that predicts state-store churn and compaction value. One
    * per-key aggregation over ordered existence flags. */
  def keyLifecycle(changelog: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk").orderBy("ts", "seq")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    changelog
      .withColumn("resurrect",
        when(col("op") === "c" &&
          max(when(col("op") === "d", lit(1)).otherwise(lit(0))).over(w) === 1, 1)
          .otherwise(0))
      .groupBy("pk")
      .agg(
        count(when(col("op") === "u", 1)).as("n_upd"),
        count(when(col("op") === "d", 1)).as("n_del"),
        max(col("resurrect")).as("res"))
      .select(
        when(col("res") === 1, "resurrected")
          .when(col("n_del") > 0, "deleted")
          .when(col("n_upd") > 0, "updated")
          .otherwise("insert_only").as("lifecycle"))
      .groupBy("lifecycle")
      .agg(count(lit(1)).as("n_keys"))
      .orderBy("lifecycle")
  }

  def keyLifecycleSql(changelogSql: String): String =
    s"""$changelogSql, flags AS (
       |  SELECT pk, op,
       |         CASE WHEN op = 'c' AND coalesce(max(CASE WHEN op = 'd' THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY pk ORDER BY ts, seq
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1
       |           THEN 1 ELSE 0 END AS resurrect
       |  FROM changelog),
       |per_key AS (
       |  SELECT pk,
       |         count(CASE WHEN op = 'u' THEN 1 END) AS n_upd,
       |         count(CASE WHEN op = 'd' THEN 1 END) AS n_del,
       |         max(resurrect) AS res
       |  FROM flags GROUP BY pk)
       |SELECT CASE WHEN res = 1 THEN 'resurrected'
       |            WHEN n_del > 0 THEN 'deleted'
       |            WHEN n_upd > 0 THEN 'updated'
       |            ELSE 'insert_only' END AS lifecycle,
       |       count(*) AS n_keys
       |FROM per_key GROUP BY lifecycle ORDER BY lifecycle""".stripMargin

  /** Volume forecast: least-squares trend over daily event counts with
    * EXACT integer sufficient statistics (n, Σx, Σy, Σxy, Σx²) — the
    * float math happens once on identical operands, so the slope is
    * bit-identical across engines and partitionings. Output: the fit and
    * the projected daily volume 7 days past the last observed day. The
    * capacity-planning complement of [[burstDetect]]. */
  def volumeForecast(changelog: DataFrame): DataFrame = {
    val daily = changelog
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x", datediff(col("day"),
        to_date(lit("2020-01-01"))).cast("long"))
    daily.agg(
      count(lit(1)).as("n_days"),
      sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      max(col("x")).as("last_x"))
      .withColumn("slope",
        (col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("intercept",
        col("sy").cast("double") / col("n_days").cast("double") -
          col("slope") * (col("sx").cast("double") / col("n_days").cast("double")))
      .withColumn("forecast_plus_7d",
        col("intercept") + col("slope") * (col("last_x") + 7).cast("double"))
      .select("n_days", "slope", "intercept", "forecast_plus_7d")
  }

  def volumeForecastSql(changelogSql: String): String =
    s"""$changelogSql, daily AS (
       |  SELECT date_trunc('day', ts) AS day, count(*) AS y
       |  FROM changelog GROUP BY day),
       |xy AS (
       |  SELECT CAST(date_diff('day', DATE '2020-01-01', day) AS BIGINT) AS x, y FROM daily),
       |s AS (
       |  SELECT count(*) AS n_days,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
       |         max(x) AS last_x
       |  FROM xy),
       |fit AS (
       |  SELECT n_days,
       |         CAST(n_days * sxy - sx * sy AS DOUBLE)
       |           / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope,
       |         sx, sy, last_x
       |  FROM s)
       |SELECT n_days, slope,
       |       CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)
       |         - slope * (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) AS intercept,
       |       (CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)
       |         - slope * (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)))
       |         + slope * CAST(last_x + 7 AS DOUBLE) AS forecast_plus_7d
       |FROM fit""".stripMargin

  /** Micro-batch trigger sizing: from the arrival-rate distribution
    * (events per minute), the trigger interval that keeps a micro-batch
    * near the target row count even at p95 load — the streaming twin of
    * capacity planning, alongside [[watermarkAdvise]] (lateness) and
    * [[stateSize]] (memory). Integer/percentile math shared exactly by
    * both engines; advised seconds floor at 1. */
  def triggerAdvise(changelog: DataFrame, targetRows: Long = 10000L): DataFrame =
    changelog
      .groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_minutes"),
        expr("percentile(n, 0.5)").as("p50_per_min"),
        expr("percentile(n, 0.95)").as("p95_per_min"),
        max(col("n")).as("max_per_min"))
      .withColumn("advised_trigger_sec",
        greatest(lit(1L),
          floor(lit(targetRows.toDouble) / col("p95_per_min") * 60.0).cast("long")))

  def triggerAdviseSql(changelogSql: String, targetRows: Long = 10000L): String =
    s"""$changelogSql, per_min AS (
       |  SELECT date_trunc('minute', ts) AS minute, count(*) AS n
       |  FROM changelog GROUP BY minute)
       |SELECT count(*) AS n_minutes,
       |       quantile_cont(n, 0.5) AS p50_per_min,
       |       quantile_cont(n, 0.95) AS p95_per_min,
       |       max(n) AS max_per_min,
       |       greatest(1, CAST(floor($targetRows.0 / quantile_cont(n, 0.95) * 60.0) AS BIGINT)) AS advised_trigger_sec
       |FROM per_min""".stripMargin

  /** Ordering-violation report: the actionable twin of
    * [[disorderStats]] — every event whose event time regressed below
    * its key's running maximum (in arrival = seq order), with the
    * regression size. These are the rows a late-data audit inspects and
    * the watermark must cover. One key-partitioned window + filter. */
  def orderViolations(changelog: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk").orderBy("seq")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    changelog
      .select(col("pk"), col("seq"), unix_millis(col("ts")).as("ms"))
      .withColumn("hw", max(col("ms")).over(w))
      .where(col("ms") < col("hw"))
      .select(col("pk").as("user_id"), col("seq"),
        (col("hw") - col("ms")).as("regression_ms"))
      .orderBy("user_id", "seq")
  }

  def orderViolationsSql(changelogSql: String): String =
    s"""$changelogSql, hw AS (
       |  SELECT pk, seq, epoch_ms(ts) AS ms,
       |         max(epoch_ms(ts)) OVER (PARTITION BY pk ORDER BY seq
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hw
       |  FROM changelog)
       |SELECT pk AS user_id, seq, hw - ms AS regression_ms
       |FROM hw WHERE ms < hw
       |ORDER BY user_id, seq""".stripMargin

  /** Backfill planning: the actionable form of [[offsetGaps]] — one row
    * per contiguous missing-offset range (topic, from, to, size), ready
    * to drive a replay consumer. Same single window; only gap rows
    * survive the filter. */
  def backfillRanges(wire: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("topic").orderBy("offset")
    wire
      .select(col("topic"), col("offset"))
      .withColumn("prev", lag(col("offset"), 1).over(w))
      .where(col("offset") - col("prev") > 1)
      .select(
        col("topic"),
        (col("prev") + 1).as("gap_from"),
        (col("offset") - 1).as("gap_to"),
        (col("offset") - col("prev") - 1).as("n_missing"))
      .orderBy("topic", "gap_from")
  }

  val backfillRangesSql: String =
    """WITH wire AS (
      |  SELECT 'graft.public.' || event_type AS topic, event_id AS "offset" FROM events),
      |seqd AS (
      |  SELECT topic, "offset",
      |         lag("offset") OVER (PARTITION BY topic ORDER BY "offset") AS prev
      |  FROM wire)
      |SELECT topic, prev + 1 AS gap_from, "offset" - 1 AS gap_to,
      |       "offset" - prev - 1 AS n_missing
      |FROM seqd WHERE "offset" - prev > 1
      |ORDER BY topic, gap_from""".stripMargin

  /** Tamper-evident audit chain: per key, the fold of md5(prev ∥ change)
    * over the ordered change sequence — any retroactive edit, drop or
    * reorder of a change flips the key's final chain hash, so replicas
    * can be compared by |keys| hashes instead of row-by-row. Payload
    * strings use exact decimal rendering (double→VARCHAR differs between
    * engines on exponent forms); both engines fold the sorted list left
    * to right. Per-key lists are bounded by per-key history. */
  def auditChain(changelog: DataFrame): DataFrame = {
    val payload = concat_ws(":",
      col("op"), dec(col("value"), 18, 2).cast("string"), col("seq").cast("string"))
    // collectAggGuard: the per-key history list is an UNBOUNDED collect
    // buffer — restore a sized spill threshold for this plan only (the
    // session-wide raise assumes fixed-size argmax buffers).
    graft.Tables.collectAggGuard(changelog
      .select(col("pk"), unix_millis(col("ts")).as("t"), col("seq"), payload.as("payload"))
      .groupBy(col("pk").as("user_id"))
      .agg(
        count(lit(1)).as("n_links"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("t"), col("seq"), col("payload")))),
            x => x.getField("payload")),
          lit("graft-chain-seed"),
          (acc, x) => md5(concat(acc, x))).as("chain_hash"))
      .orderBy("user_id"))
  }

  def auditChainSql(changelogSql: String): String =
    s"""$changelogSql, items AS (
       |  SELECT pk, epoch_ms(ts) AS t, seq,
       |         op || ':' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR)
       |            || ':' || CAST(seq AS VARCHAR) AS payload
       |  FROM changelog),
       |arr AS (
       |  SELECT pk, count(*) AS n_links, list(payload ORDER BY t, seq) AS ps
       |  FROM items GROUP BY pk)
       |SELECT pk AS user_id, n_links,
       |       list_reduce(list_prepend('graft-chain-seed', ps), (acc, x) -> md5(acc || x)) AS chain_hash
       |FROM arr ORDER BY user_id""".stripMargin

  /** Traffic-burst detection: per-minute event counts scored against the
    * stream's own mean/σ — buckets with z ≥ 2 are the ingest spikes an
    * operator wants paged about (consumer-lag precursors). Variance uses
    * the exact integer sums Σn and Σn² (both engines sum BIGINTs), so
    * every float op downstream has identical operands → identical z. One
    * time-bucket aggregation + a broadcast 1-row stats join. */
  def burstDetect(changelog: DataFrame, z: Double = 2.0): DataFrame = {
    val perMin = changelog
      .groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n_events"))
    // moments as windows over the ≤|minutes| rollup — the
    // crossJoin(broadcast(perMin.agg)) form planned the event rollup twice
    val wAllM = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    perMin
      .withColumn("n_buckets", count(lit(1)).over(wAllM))
      .withColumn("s1", sum(col("n_events")).over(wAllM))
      .withColumn("s2", sum(col("n_events") * col("n_events")).over(wAllM))
      .withColumn("mean", col("s1").cast("double") / col("n_buckets").cast("double"))
      .withColumn("variance",
        col("s2").cast("double") / col("n_buckets").cast("double") - col("mean") * col("mean"))
      .withColumn("zscore",
        (col("n_events").cast("double") - col("mean")) / sqrt(col("variance")))
      // variance > 0 guard: on perfectly uniform traffic the zscore is
      // 0/0 = NaN and NaN >= z evaluates TRUE on both engines — a steady
      // stream would flag every minute as a burst
      .where(col("variance") > 0 && col("zscore") >= z)
      .select("minute", "n_events", "mean", "zscore")
      .orderBy("minute")
  }

  /** Replication-freshness SLA ladder: against the stream's own
    * high-water mark, what share of events sits within each standard
    * freshness objective (1 hour / 1 day / 7 days / 30 days) — the
    * one-table answer to "are we meeting the replication SLA, and at
    * which tier does compliance break". Read next to [[lagTrend]] (the
    * when) and [[lagPercentiles]] (the how bad): this is the
    * contractual yes/no per tier.
    *
    * Scale shape: ONE conditional-aggregation pass over the changelog
    * (four when-sums in the same hash aggregate); the ladder rows come
    * from exploding a 4-element literal array over the single result
    * row. Shares are divisions of exact counts. */
  def lagSla(changelog: DataFrame): DataFrame = {
    val slos = Seq(("1_hour", 3600000L), ("2_day", 86400000L),
      ("3_week", 604800000L), ("4_month", 2592000000L))
    val hwm = changelog.agg(max(col("ts")).as("hwm"))
    val lags = changelog.crossJoin(broadcast(hwm))
      .select((unix_millis(col("hwm")) - unix_millis(col("ts"))).as("lag_ms"))
    val aggCols = count(lit(1)).as("n_events") +: slos.map { case (name, ms) =>
      sum(when(col("lag_ms") <= ms, 1L).otherwise(0L)).as(s"w_$name")
    }
    val agged = lags.agg(aggCols.head, aggCols.tail: _*)
    agged.select(explode(array(slos.map { case (name, ms) =>
        struct(lit(name).as("slo"), lit(ms).as("slo_ms"),
          col("n_events"), col(s"w_$name").as("n_within"))
      }: _*)).as("s"))
      .select(col("s.slo").as("slo"), col("s.slo_ms").as("slo_ms"),
        col("s.n_events").as("n_events"), col("s.n_within").as("n_within"),
        (col("s.n_within").cast("double") / col("s.n_events").cast("double"))
          .as("compliance"))
      .orderBy("slo")
  }

  def lagSlaSql(changelogSql: String): String =
    s"""$changelogSql, hwm AS (SELECT max(ts) AS hwm FROM changelog),
       |lags AS (
       |  SELECT epoch_ms(hwm) - epoch_ms(ts) AS lag_ms FROM changelog, hwm),
       |agged AS (
       |  SELECT count(*) AS n_events,
       |         CAST(sum(CASE WHEN lag_ms <= 3600000 THEN 1 ELSE 0 END) AS BIGINT) AS w_hour,
       |         CAST(sum(CASE WHEN lag_ms <= 86400000 THEN 1 ELSE 0 END) AS BIGINT) AS w_day,
       |         CAST(sum(CASE WHEN lag_ms <= 604800000 THEN 1 ELSE 0 END) AS BIGINT) AS w_week,
       |         CAST(sum(CASE WHEN lag_ms <= 2592000000 THEN 1 ELSE 0 END) AS BIGINT) AS w_month
       |  FROM lags)
       |SELECT slo, slo_ms, n_events, n_within,
       |       CAST(n_within AS DOUBLE) / CAST(n_events AS DOUBLE) AS compliance
       |FROM (
       |  SELECT '1_hour' AS slo, CAST(3600000 AS BIGINT) AS slo_ms, n_events, w_hour AS n_within FROM agged
       |  UNION ALL SELECT '2_day', 86400000, n_events, w_day FROM agged
       |  UNION ALL SELECT '3_week', 604800000, n_events, w_week FROM agged
       |  UNION ALL SELECT '4_month', 2592000000, n_events, w_month FROM agged)
       |ORDER BY slo""".stripMargin

  /** SLO error-budget burn over the freshness ladder — the SRE view of
    * [[lagSla]]: each tier's objective (basis points, matching the
    * streaming monitor's floors: 95%/99%/100%/100%) buys an allowed
    * violation budget of floor(n·(10000−bps)/10000) events; this reports
    * how much of that budget the observed violations consumed and
    * whether the tier is within budget or exhausted. All budget
    * arithmetic is exact integer (the ratio is a division of exact
    * longs, null when the objective allows zero violations and none
    * occurred beyond it — burn of an empty budget is undefined, not
    * infinite). Adds one projection over [[lagSla]]'s single
    * conditional-aggregation pass. */
  def errorBudget(changelog: DataFrame): DataFrame = {
    val bps = Seq(("1_hour", 9500L), ("2_day", 9900L),
      ("3_week", 10000L), ("4_month", 10000L))
    val bpsCol = bps.foldLeft(lit(null).cast("long")) { case (acc, (slo, b)) =>
      when(col("slo") === slo, lit(b)).otherwise(acc)
    }
    lagSla(changelog)
      .withColumn("objective_bps", bpsCol)
      .withColumn("violations", col("n_events") - col("n_within"))
      .withColumn("allowed",
        expr("(n_events * (10000 - objective_bps)) div 10000"))
      .withColumn("status",
        when(col("violations") <= col("allowed"), "within_budget")
          .otherwise("exhausted"))
      .withColumn("burn_ratio",
        when(col("allowed") > 0,
          col("violations").cast("double") / col("allowed").cast("double")))
      .select("slo", "objective_bps", "n_events", "n_within", "violations",
        "allowed", "status", "burn_ratio")
      .orderBy("slo")
  }

  def errorBudgetSql(changelogSql: String): String =
    s"""$changelogSql, hwm AS (SELECT max(ts) AS hwm FROM changelog),
       |lags AS (
       |  SELECT epoch_ms(hwm) - epoch_ms(ts) AS lag_ms FROM changelog, hwm),
       |agged AS (
       |  SELECT count(*) AS n_events,
       |         CAST(sum(CASE WHEN lag_ms <= 3600000 THEN 1 ELSE 0 END) AS BIGINT) AS w_hour,
       |         CAST(sum(CASE WHEN lag_ms <= 86400000 THEN 1 ELSE 0 END) AS BIGINT) AS w_day,
       |         CAST(sum(CASE WHEN lag_ms <= 604800000 THEN 1 ELSE 0 END) AS BIGINT) AS w_week,
       |         CAST(sum(CASE WHEN lag_ms <= 2592000000 THEN 1 ELSE 0 END) AS BIGINT) AS w_month
       |  FROM lags),
       |tiers AS (
       |  SELECT '1_hour' AS slo, CAST(9500 AS BIGINT) AS objective_bps, n_events, w_hour AS n_within FROM agged
       |  UNION ALL SELECT '2_day', 9900, n_events, w_day FROM agged
       |  UNION ALL SELECT '3_week', 10000, n_events, w_week FROM agged
       |  UNION ALL SELECT '4_month', 10000, n_events, w_month FROM agged),
       |b AS (
       |  SELECT slo, objective_bps, n_events, n_within,
       |         n_events - n_within AS violations,
       |         (n_events * (10000 - objective_bps)) // 10000 AS allowed
       |  FROM tiers)
       |SELECT slo, objective_bps, n_events, n_within, violations, allowed,
       |       CASE WHEN violations <= allowed THEN 'within_budget' ELSE 'exhausted' END AS status,
       |       CASE WHEN allowed > 0 THEN CAST(violations AS DOUBLE) / CAST(allowed AS DOUBLE) END AS burn_ratio
       |FROM b ORDER BY slo""".stripMargin

  /** Robust (median/MAD) volume-anomaly days — the breakdown-resistant
    * twin of [[burstDetect]]: a z-score's mean AND variance are both
    * dragged by the very bursts it hunts (one huge spike inflates σ
    * enough to hide the next one), where the median and the median
    * absolute deviation have a 50% breakdown point. A day is anomalous
    * when |n − median| > k·MAD (k = 3, the Hampel identifier).
    *
    * Determinism: daily counts are exact longs; the two medians
    * interpolate halves of integers (exactly representable), matching
    * DuckDB's quantile_cont. Uniform-traffic edge: MAD = 0 means most
    * days sit exactly on the median — mirroring [[burstDetect]]'s
    * variance>0 guard, such corpora flag nothing rather than everything.
    *
    * Scale shape: one count-per-day shuffle (map-side combined); both
    * percentiles and the flagging run on |days| rows — bounded by the
    * calendar, not the corpus. */
  def robustAnomaly(changelog: DataFrame, k: Double = 3.0): DataFrame = {
    val perDay = changelog
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    // median and MAD as STACKED windows over the ≤|days| rollup — the
    // two crossJoin(broadcast(agg)) steps planned the per-day rollup
    // three times
    val wAllD = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    perDay
      .withColumn("med", expr("percentile(n_events, 0.5)").over(wAllD))
      .withColumn("mad", expr("percentile(abs(n_events - med), 0.5)").over(wAllD))
      .where(col("mad") > 0 &&
        abs(col("n_events").cast("double") - col("med")) > lit(k) * col("mad"))
      .select(col("day"), col("n_events"), col("med"), col("mad"),
        (abs(col("n_events").cast("double") - col("med")) / col("mad")).as("deviation"))
      .orderBy("day")
  }

  def robustAnomalySql(changelogSql: String, k: Double = 3.0): String =
    s"""$changelogSql, per_day AS (
       |  SELECT date_trunc('day', ts) AS day, count(*) AS n_events
       |  FROM changelog GROUP BY day),
       |med AS (SELECT quantile_cont(n_events, 0.5) AS med FROM per_day),
       |wm AS (SELECT day, n_events, med FROM per_day, med),
       |mad AS (SELECT quantile_cont(abs(n_events - med), 0.5) AS mad FROM wm)
       |SELECT day, n_events, med, mad,
       |       abs(CAST(n_events AS DOUBLE) - med) / mad AS deviation
       |FROM wm, mad
       |WHERE mad > 0 AND abs(CAST(n_events AS DOUBLE) - med) > $k * mad
       |ORDER BY day""".stripMargin

  def burstDetectSql(changelogSql: String, z: Double = 2.0): String =
    s"""$changelogSql, per_min AS (
       |  SELECT date_trunc('minute', ts) AS minute, count(*) AS n_events
       |  FROM changelog GROUP BY minute),
       |stats AS (
       |  SELECT count(*) AS n_buckets,
       |         CAST(sum(n_events) AS BIGINT) AS s1,
       |         CAST(sum(n_events * n_events) AS BIGINT) AS s2
       |  FROM per_min),
       |scored AS (
       |  SELECT minute, n_events,
       |         CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS mean,
       |         CAST(s2 AS DOUBLE) / CAST(n_buckets AS DOUBLE)
       |           - (CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE))
       |             * (CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE)) AS variance
       |  FROM per_min, stats)
       |SELECT minute, n_events, mean,
       |       (CAST(n_events AS DOUBLE) - mean) / sqrt(variance) AS zscore
       |FROM scored
       |WHERE variance > 0
       |  AND (CAST(n_events AS DOUBLE) - mean) / sqrt(variance) >= $z
       |ORDER BY minute""".stripMargin

  /** Watermark sizing advice: per-key arrival lateness (how far behind
    * the key's running event-time high watermark each event lands, in
    * arrival = seq order), exact p50/p95/p99, and the advised watermark —
    * p99 rounded up to the minute. This turns [[disorderStats]]'s raw
    * disorder measurement into the number a Structured Streaming job
    * actually sets. One key-partitioned window + one scalar aggregation. */
  def watermarkAdvise(changelog: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk").orderBy("seq")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    changelog
      .select(col("pk"), col("seq"), unix_millis(col("ts")).as("ms"))
      .withColumn("late_ms",
        greatest(lit(0L), coalesce(max(col("ms")).over(w) - col("ms"), lit(0L))))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("late_ms") > 0, 1)).as("n_late"),
        expr("percentile(late_ms, 0.5)").as("p50_ms"),
        expr("percentile(late_ms, 0.95)").as("p95_ms"),
        expr("percentile(late_ms, 0.99)").as("p99_ms"),
        (ceil(expr("percentile(late_ms, 0.99)") / 60000.0) * 60000)
          .cast("long").as("advised_watermark_ms"))
  }

  def watermarkAdviseSql(changelogSql: String): String =
    s"""$changelogSql, lat AS (
       |  SELECT greatest(0, coalesce(
       |           max(epoch_ms(ts)) OVER (PARTITION BY pk ORDER BY seq
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - epoch_ms(ts), 0)) AS late_ms
       |  FROM changelog)
       |SELECT count(*) AS n_events,
       |       count(CASE WHEN late_ms > 0 THEN 1 END) AS n_late,
       |       quantile_cont(late_ms, 0.5) AS p50_ms,
       |       quantile_cont(late_ms, 0.95) AS p95_ms,
       |       quantile_cont(late_ms, 0.99) AS p99_ms,
       |       CAST(ceil(quantile_cont(late_ms, 0.99) / 60000.0) * 60000 AS BIGINT) AS advised_watermark_ms
       |FROM lat""".stripMargin

  /** Redundant-update detection (no-op filtering): reconstruct each
    * update's before-image via lag() over the per-key change sequence and
    * classify value-changed vs no-op updates. A JDBC sink pays a full
    * round trip for a no-op upsert, so the no-op rate tells a pipeline
    * what redundant-update suppression would save. Deltas stay in exact
    * decimal (the shared double→DECIMAL(18,2) rounding both engines
    * perform identically); one key-partitioned window + one aggregation. */
  def updateDiff(changelog: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk").orderBy("ts", "seq")
    changelog
      .select(col("pk"), col("op"), col("ts"), col("seq"),
        dec(col("value"), 18, 2).as("v"))
      .withColumn("pv", lag(col("v"), 1).over(w))
      .where(col("op") === "u" && col("pv").isNotNull)
      .groupBy((col("pk") % 10).as("pk_bucket"))
      .agg(
        count(lit(1)).as("n_updates"),
        count(when(col("v") === col("pv"), 1)).as("n_noop"),
        count(when(col("v") =!= col("pv"), 1)).as("n_changed"),
        sum(abs(col("v") - col("pv"))).cast(DecimalType(28, 2)).cast("double").as("sum_abs_delta"),
        max(abs(col("v") - col("pv"))).cast("double").as("max_abs_delta"))
      .orderBy("pk_bucket")
  }

  def updateDiffSql(changelogSql: String): String =
    s"""$changelogSql, seqd AS (
       |  SELECT pk, op, CAST(value AS DECIMAL(18,2)) AS v,
       |         lag(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY pk ORDER BY ts, seq) AS pv
       |  FROM changelog)
       |SELECT pk % 10 AS pk_bucket,
       |       count(*) AS n_updates,
       |       count(CASE WHEN v = pv THEN 1 END) AS n_noop,
       |       count(CASE WHEN v <> pv THEN 1 END) AS n_changed,
       |       CAST(CAST(sum(abs(v - pv)) AS DECIMAL(28,2)) AS DOUBLE) AS sum_abs_delta,
       |       CAST(max(abs(v - pv)) AS DOUBLE) AS max_abs_delta
       |FROM seqd WHERE op = 'u' AND pv IS NOT NULL
       |GROUP BY pk_bucket ORDER BY pk_bucket""".stripMargin

  /** Transaction grouping (Debezium transaction-metadata semantics): batch
    * the change sequence into transactions and report per-transaction
    * shape — event count, distinct keys touched, offset range, wall span,
    * delete mix. Transaction id is derived deterministically from the
    * sequence number (seq div 50 — the surrogate for Debezium's
    * transaction.id since the test stream carries none). One hash
    * aggregation; partial aggregation runs map-side at any scale. */
  def txnGroup(changelog: DataFrame, txnSize: Int = 50): DataFrame =
    changelog
      .groupBy(expr(s"seq div $txnSize").as("txn_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("pk")).as("n_keys"),
        min(col("seq")).as("first_seq"),
        max(col("seq")).as("last_seq"),
        (max(unix_millis(col("ts"))) - min(unix_millis(col("ts")))).as("span_ms"),
        count(when(col("op") === "d", 1)).as("n_deletes"))
      .orderBy("txn_id")

  def txnGroupSql(changelogSql: String, txnSize: Int = 50): String =
    s"""$changelogSql
       |SELECT seq // $txnSize AS txn_id,
       |       count(*) AS n_events,
       |       count(DISTINCT pk) AS n_keys,
       |       min(seq) AS first_seq, max(seq) AS last_seq,
       |       max(epoch_ms(ts)) - min(epoch_ms(ts)) AS span_ms,
       |       count(CASE WHEN op = 'd' THEN 1 END) AS n_deletes
       |FROM changelog GROUP BY txn_id ORDER BY txn_id""".stripMargin

  /** Offset-continuity audit per topic: message counts, offset range,
    * missing-offset count (range minus observed) and the largest single
    * gap — the "did we lose events?" check a consumer runs against its
    * committed offsets. One window (partitioned by topic, already the
    * shuffle key) + one aggregation. */
  def offsetGaps(wire: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("topic").orderBy("offset")
    wire
      .select(col("topic"), col("offset"))
      .withColumn("prev", lag(col("offset"), 1).over(w))
      .groupBy("topic")
      .agg(
        count(lit(1)).as("n_messages"),
        min(col("offset")).as("min_offset"),
        max(col("offset")).as("max_offset"),
        (max(col("offset")) - min(col("offset")) + 1 - count(lit(1))).as("n_missing"),
        coalesce(max(col("offset") - col("prev") - 1), lit(0L)).as("max_gap"),
        count(when(col("offset") - col("prev") > 1, 1)).as("n_gaps"))
      .orderBy("topic")
  }

  val offsetGapsSql: String =
    """WITH wire AS (
      |  SELECT 'graft.public.' || event_type AS topic, event_id AS "offset" FROM events),
      |seqd AS (
      |  SELECT topic, "offset",
      |         lag("offset") OVER (PARTITION BY topic ORDER BY "offset") AS prev
      |  FROM wire)
      |SELECT topic, count(*) AS n_messages,
      |       min("offset") AS min_offset, max("offset") AS max_offset,
      |       max("offset") - min("offset") + 1 - count(*) AS n_missing,
      |       coalesce(max("offset" - prev - 1), 0) AS max_gap,
      |       count(CASE WHEN "offset" - prev > 1 THEN 1 END) AS n_gaps
      |FROM seqd GROUP BY topic ORDER BY topic""".stripMargin

  /** Consumer-group offset lag — the reference's per-(group, topic,
    * partition) lag report (check_consumer_lag.py:24-90; the exact row
    * shape of its lag_report.json: group_id, topic, partition,
    * committed_offset, end_offset, lag). Offsets are per-partition
    * message counts; the committed position models a sink consumer
    * whose last commit trails the stream's own high-water mark by one
    * checkpoint horizon (an hour of stream time) — the OFFSET-domain
    * complement of the time-domain lag family ([[lagTrend]],
    * [[lagPercentiles]], cdc_lag_sla answer "how stale"; this answers
    * "how many messages behind", the number a Kafka admin API reports).
    *
    * Scale shape: one scan, a broadcast 1-row hwm join, ONE
    * (topic, partition) aggregation with a conditional sum;
    * |topics × partitions| output rows. */
  def consumerLag(spark: SparkSession, dir: String,
                  partitions: Int = 4, horizonMs: Long = 3600000L): DataFrame = {
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("ts"))
    val hwm = ev.agg(max(col("ts")).as("hwm"))
    ev.crossJoin(broadcast(hwm))
      .select(
        concat(lit("connect-sink-"), col("event_type")).as("group_id"),
        concat(lit("graft.public."), col("event_type")).as("topic"),
        (col("user_id") % partitions).cast(LongType).as("partition"),
        (unix_millis(col("hwm")) - unix_millis(col("ts")) >= horizonMs).as("committed"))
      .groupBy("group_id", "topic", "partition")
      .agg(
        count(lit(1)).as("end_offset"),
        sum(when(col("committed"), 1L).otherwise(0L)).as("committed_offset"))
      .select(col("group_id"), col("topic"), col("partition"),
        col("committed_offset"), col("end_offset"),
        (col("end_offset") - col("committed_offset")).as("lag"))
      .orderBy("topic", "partition")
  }

  /** Replication-slot retention — the source-side mirror of
    * [[consumerLag]]'s sink-side view, shaped like the reference's
    * pg_replication_slots probe (postgresql.py:583-605: slot_name,
    * slot_type, active, lag vs pg_current_wal_lsn): per logical slot
    * (one per routed table, as Debezium provisions them), the WAL the
    * source must RETAIN because the consumer hasn't confirmed it — the
    * number that fills a source disk when a pipeline stalls. A slot is
    * active when its table produced anything inside the horizon;
    * confirmed_through is the newest flushed event; retained bytes use
    * the payload-size proxy (props length + a fixed per-message envelope
    * overhead) so both engines count identical integers without
    * requiring byte-identical envelope JSON (the cdc_dlq_route
    * precedent).
    *
    * Scale shape: one scan, broadcast 1-row hwm, ONE per-table
    * aggregation with conditional sums; |tables| output rows. */
  def slotRetention(spark: SparkSession, dir: String,
                    horizonMs: Long = 3600000L, envelopeOverhead: Int = 64): DataFrame = {
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("props"))
    val hwm = ev.agg(max(col("ts")).as("hwm"))
    ev.crossJoin(broadcast(hwm))
      .select(
        concat(lit("graft_slot_"), col("event_type")).as("slot_name"),
        col("ts"),
        (length(col("props")).cast("long") + envelopeOverhead).as("msg_bytes"),
        (unix_millis(col("hwm")) - unix_millis(col("ts")) >= horizonMs).as("flushed"))
      .groupBy("slot_name")
      .agg(
        max(when(col("flushed"), col("ts"))).as("confirmed_through"),
        sum(when(!col("flushed"), 1L).otherwise(0L)).as("n_retained"),
        sum(when(!col("flushed"), col("msg_bytes")).otherwise(0L)).as("retained_bytes"),
        max(col("ts")).as("last_event"))
      .select(col("slot_name"), lit("logical").as("slot_type"),
        (col("n_retained") > 0L).as("active"),
        col("confirmed_through"), col("n_retained"), col("retained_bytes"))
      .orderBy("slot_name")
  }

  def slotRetentionSql(horizonMs: Long = 3600000L, envelopeOverhead: Int = 64): String =
    s"""WITH h AS (SELECT max(ts) AS hwm FROM events),
       |m AS (
       |  SELECT 'graft_slot_' || event_type AS slot_name, ts,
       |         CAST(length(props) AS BIGINT) + $envelopeOverhead AS msg_bytes,
       |         epoch_ms(hwm) - epoch_ms(ts) >= $horizonMs AS flushed
       |  FROM events CROSS JOIN h)
       |SELECT slot_name, 'logical' AS slot_type,
       |       CAST(sum(CASE WHEN NOT flushed THEN 1 ELSE 0 END) AS BIGINT) > 0 AS active,
       |       max(CASE WHEN flushed THEN ts END) AS confirmed_through,
       |       CAST(sum(CASE WHEN NOT flushed THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       |       CAST(sum(CASE WHEN NOT flushed THEN msg_bytes ELSE 0 END) AS BIGINT) AS retained_bytes
       |FROM m GROUP BY slot_name ORDER BY slot_name""".stripMargin

  /** LSN-latency trend — the reference's lsn-latency-trend endpoint
    * (api.py:8261-8560: per metric timestamp, source vs processed LSN
    * and their gap) re-expressed over the event stream: per 10-minute
    * bucket, the source's log position (running max offset), the
    * position a consumer one checkpoint horizon behind has processed
    * (the source position exactly 6 buckets earlier — the bucket-aligned
    * form of the hour horizon, so every number is integer-exact), the
    * LSN gap between them, and the trailing-hour arrival count. The
    * trended, offset-domain complement of [[lagTrend]] — this is the
    * chart the reference's monitoring dashboard draws. The per-bucket
    * aggregate is densified over a `sequence(min,max)` bucket spine
    * (empty buckets appear with 0 arrivals), so the lag-6 horizon is
    * six TIME buckets even through quiet periods, not six observed rows.
    *
    * Scale shape: one scan collapsed to |buckets| rows by ONE
    * aggregation; the spine join and the running max / lag /
    * trailing-sum windows run over that bounded pre-aggregated trend
    * only (the window-audit exception), output |buckets| rows. */
  def lsnLatencyTrend(spark: SparkSession, dir: String,
                      bucketMs: Long = 600000L, horizonBuckets: Int = 6): DataFrame = {
    val agg = graft.Tables.load(spark, dir, "events")
      .select(expr(s"unix_millis(ts) div $bucketMs").as("bucket_id"),
        col("event_id"))
      .groupBy("bucket_id")
      .agg(max(col("event_id")).as("bucket_max"), count(lit(1)).as("n_arrived"))
    lsnTrendFromBuckets(agg, bucketMs, horizonBuckets).orderBy("bucket")
  }

  /** The trend's spine and window tail over an arbitrary (bucket_id,
    * bucket_max, n_arrived) per-bucket aggregate — shared with the
    * streaming twin ([[graft.streaming.StreamLsnTrend]]) so the two can
    * never diverge on the trend math. */
  private[graft] def lsnTrendFromBuckets(
      agg: DataFrame, bucketMs: Long, horizonBuckets: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket_id")
    val cum = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // Dense bucket spine from the aggregate's own range: |buckets| rows,
    // derived and joined entirely on the pre-aggregated trend.
    val spine = agg.agg(min(col("bucket_id")).as("lo"), max(col("bucket_id")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("bucket_id"))
    spine.join(agg, Seq("bucket_id"), "left")
      .withColumn("n_arrived", coalesce(col("n_arrived"), lit(0L)))
      .withColumn("source_lsn", max(col("bucket_max")).over(cum))
      .withColumn("processed_lsn", lag(col("source_lsn"), horizonBuckets).over(w))
      .withColumn("cum_n", sum(col("n_arrived")).over(cum))
      .withColumn("n_pending",
        col("cum_n") - coalesce(lag(col("cum_n"), horizonBuckets).over(w), lit(0L)))
      .select(
        timestamp_millis(col("bucket_id") * bucketMs).as("bucket"),
        col("source_lsn"),
        coalesce(col("processed_lsn"), lit(0L)).as("processed_lsn"),
        (col("source_lsn") - coalesce(col("processed_lsn"), lit(0L))).as("lsn_gap"),
        col("n_arrived"), col("n_pending"))
  }

  def lsnLatencyTrendSql(bucketMs: Long = 600000L, horizonBuckets: Int = 6): String =
    s"""WITH b AS (
       |  SELECT epoch_ms(ts) // $bucketMs AS bucket_id,
       |         max(event_id) AS bucket_max, count(*) AS n_arrived
       |  FROM events GROUP BY bucket_id),
       |spine AS (
       |  SELECT unnest(generate_series(min_b, max_b)) AS bucket_id
       |  FROM (SELECT min(bucket_id) AS min_b, max(bucket_id) AS max_b FROM b)),
       |d AS (
       |  SELECT s.bucket_id, coalesce(b.n_arrived, 0) AS n_arrived, b.bucket_max
       |  FROM spine s LEFT JOIN b ON b.bucket_id = s.bucket_id),
       |t AS (
       |  SELECT bucket_id, n_arrived,
       |         max(bucket_max) OVER (ORDER BY bucket_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS source_lsn,
       |         CAST(sum(n_arrived) OVER (ORDER BY bucket_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
       |  FROM d),
       |l AS (
       |  SELECT bucket_id, n_arrived, source_lsn, cum_n,
       |         lag(source_lsn, $horizonBuckets) OVER (ORDER BY bucket_id) AS processed_lsn,
       |         lag(cum_n, $horizonBuckets) OVER (ORDER BY bucket_id) AS prev_cum
       |  FROM t)
       |SELECT make_timestamp(bucket_id * $bucketMs * 1000) AS bucket,
       |       source_lsn,
       |       coalesce(processed_lsn, 0) AS processed_lsn,
       |       source_lsn - coalesce(processed_lsn, 0) AS lsn_gap,
       |       n_arrived,
       |       cum_n - coalesce(prev_cum, 0) AS n_pending
       |FROM l ORDER BY bucket""".stripMargin

  /** Per-pipeline checkpoint listing — the reference's checkpoint browse
    * dashboard (api.py:13145-13411 get_pipeline_checkpoints): one row per
    * (pipeline, table) with the checkpoint position (here the offset-domain
    * LSN = the table's max sequence), the rows processed through it, and
    * the last event time. Pipelines are the user_id%3 routing cohorts; the
    * checkpoint id mirrors the reference's "{pipeline_id}_{table}" key.
    *
    * Scale shape: one scan, ONE hash aggregation on the composite
    * (pipeline, table) key; output is |pipelines×tables| rows. */
  def checkpointBrowse(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.load(spark, dir, "events")
      .select(
        concat(lit("pl_"), (col("user_id") % 3).cast("string")).as("pipeline_id"),
        col("event_type").as("table_name"), col("event_id"), col("ts"))
      .groupBy("pipeline_id", "table_name")
      .agg(
        max(col("event_id")).as("lsn"),
        count(lit(1)).as("rows_processed"),
        max(col("ts")).as("last_event_ts"))
      .select(
        concat(col("pipeline_id"), lit("_"), col("table_name")).as("checkpoint_id"),
        col("pipeline_id"), col("table_name"),
        lit("lsn").as("checkpoint_type"),
        col("lsn"), col("rows_processed"), col("last_event_ts"))
      .orderBy("pipeline_id", "table_name")

  val checkpointBrowseSql: String =
    """SELECT 'pl_' || CAST(user_id % 3 AS VARCHAR) || '_' || event_type AS checkpoint_id,
      |       'pl_' || CAST(user_id % 3 AS VARCHAR) AS pipeline_id,
      |       event_type AS table_name,
      |       'lsn' AS checkpoint_type,
      |       max(event_id) AS lsn,
      |       count(*) AS rows_processed,
      |       max(ts) AS last_event_ts
      |FROM events
      |GROUP BY pipeline_id, table_name
      |ORDER BY pipeline_id, table_name""".stripMargin

  /** Per-pipeline synced statistics — the reference's sync-stats refresh
    * (api.py:6853 sync_pipeline_stats): recount captured / applied /
    * failed / pending events straight from the store (the "stats may be
    * stale, recount everything" endpoint) plus the success rate and last
    * event time. Event status derives deterministically from the data:
    * `error` events are failures, every 20th sequence is still in flight
    * (pending), the rest applied. The success rate is pinned to a
    * 2-decimal FLOOR grid (exact integer division, then /100) — both
    * engines compute the identical double, where round() tie-breaking
    * would diverge.
    *
    * Scale shape: one scan, ONE per-pipeline hash aggregation with
    * conditional sums; output is |pipelines| rows. */
  def syncStats(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.load(spark, dir, "events")
      .select(
        concat(lit("pl_"), (col("user_id") % 3).cast("string")).as("pipeline_id"),
        when(col("event_type") === "error", "failed")
          .when(col("event_id") % 20 === 0, "pending")
          .otherwise("applied").as("status"),
        col("ts"))
      .groupBy("pipeline_id")
      .agg(
        count(lit(1)).as("events_captured"),
        sum(when(col("status") === "applied", 1L).otherwise(0L)).as("events_applied"),
        sum(when(col("status") === "failed", 1L).otherwise(0L)).as("events_failed"),
        sum(when(col("status") === "pending", 1L).otherwise(0L)).as("events_pending"),
        max(col("ts")).as("last_event_time"))
      .withColumn("success_rate",
        expr("(events_applied * 10000) div events_captured").cast("double") / 100.0)
      .select("pipeline_id", "events_captured", "events_applied", "events_failed",
        "events_pending", "success_rate", "last_event_time")
      .orderBy("pipeline_id")

  val syncStatsSql: String =
    """WITH e AS (
      |  SELECT 'pl_' || CAST(user_id % 3 AS VARCHAR) AS pipeline_id,
      |         CASE WHEN event_type = 'error' THEN 'failed'
      |              WHEN event_id % 20 = 0 THEN 'pending'
      |              ELSE 'applied' END AS status,
      |         ts
      |  FROM events),
      |g AS (
      |  SELECT pipeline_id,
      |         count(*) AS events_captured,
      |         CAST(sum(CASE WHEN status = 'applied' THEN 1 ELSE 0 END) AS BIGINT) AS events_applied,
      |         CAST(sum(CASE WHEN status = 'failed' THEN 1 ELSE 0 END) AS BIGINT) AS events_failed,
      |         CAST(sum(CASE WHEN status = 'pending' THEN 1 ELSE 0 END) AS BIGINT) AS events_pending,
      |         max(ts) AS last_event_time
      |  FROM e GROUP BY pipeline_id)
      |SELECT pipeline_id, events_captured, events_applied, events_failed,
      |       events_pending,
      |       CAST(events_applied * 10000 // events_captured AS DOUBLE) / 100.0 AS success_rate,
      |       last_event_time
      |FROM g ORDER BY pipeline_id""".stripMargin

  def consumerLagSql(partitions: Int = 4, horizonMs: Long = 3600000L): String =
    s"""WITH h AS (SELECT max(ts) AS hwm FROM events)
       |SELECT 'connect-sink-' || event_type AS group_id,
       |       'graft.public.' || event_type AS topic,
       |       CAST(user_id % $partitions AS BIGINT) AS "partition",
       |       CAST(sum(CASE WHEN epoch_ms(hwm) - epoch_ms(ts) >= $horizonMs THEN 1 ELSE 0 END) AS BIGINT) AS committed_offset,
       |       count(*) AS end_offset,
       |       count(*) - CAST(sum(CASE WHEN epoch_ms(hwm) - epoch_ms(ts) >= $horizonMs THEN 1 ELSE 0 END) AS BIGINT) AS lag
       |FROM events CROSS JOIN h
       |GROUP BY group_id, topic, "partition"
       |ORDER BY topic, "partition"""".stripMargin

  /** Point-in-time replay plan — the consumer-side twin of
    * [[graft.cdc.Materialize]]'s time travel (same hwm − 1 day target
    * convention): per topic, the offset to seek BACK to so state can be
    * rebuilt as of the target (the last offset at-or-before it), and the
    * replay bill — event count, payload byte volume (length(props) +
    * the 64-byte envelope proxy shared with cdc_slot_retention), and
    * replay share of the topic. The number a PITR restore or a
    * reprocessing backfill reads before seeking a consumer group.
    *
    * Scale shape: one scan, broadcast hwm, ONE conditional aggregation
    * per topic — |topics| output rows, no row shuffles beyond the
    * topic-key partial aggregation. */
  def replayPlan(spark: SparkSession, dir: String,
                 horizonMs: Long = 86400000L, envelopeOverhead: Int = 64): DataFrame = {
    val ev = graft.Tables.load(spark, dir, "events")
    val hwm = ev.agg(max(col("ts")).as("hwm"))
    val target = unix_millis(col("hwm")) - horizonMs
    ev.crossJoin(broadcast(hwm))
      .select(
        concat(lit("graft.public."), col("event_type")).as("topic"),
        col("event_id"), col("ts"),
        (unix_millis(col("ts")) <= target).as("before_target"),
        (length(col("props")).cast("long") + envelopeOverhead).as("msg_bytes"))
      .groupBy("topic")
      .agg(
        coalesce(max(when(col("before_target"), col("event_id"))), lit(0L)).as("resume_offset"),
        sum(when(!col("before_target"), 1L).otherwise(0L)).as("n_replay"),
        sum(when(!col("before_target"), col("msg_bytes")).otherwise(0L)).as("replay_bytes"),
        count(lit(1)).as("n_total"))
      .select(col("topic"), col("resume_offset"), col("n_replay"), col("replay_bytes"),
        (col("n_replay").cast("double") / col("n_total").cast("double")).as("replay_share"))
      .orderBy("topic")
  }

  def replayPlanSql(horizonMs: Long = 86400000L, envelopeOverhead: Int = 64): String =
    s"""WITH h AS (SELECT max(ts) AS hwm FROM events),
       |m AS (
       |  SELECT 'graft.public.' || event_type AS topic, event_id,
       |         CAST(length(props) AS BIGINT) + $envelopeOverhead AS msg_bytes,
       |         epoch_ms(ts) <= epoch_ms(hwm) - $horizonMs AS before_target
       |  FROM events CROSS JOIN h)
       |SELECT topic,
       |       coalesce(max(CASE WHEN before_target THEN event_id END), 0) AS resume_offset,
       |       CAST(sum(CASE WHEN NOT before_target THEN 1 ELSE 0 END) AS BIGINT) AS n_replay,
       |       CAST(sum(CASE WHEN NOT before_target THEN msg_bytes ELSE 0 END) AS BIGINT) AS replay_bytes,
       |       CAST(sum(CASE WHEN NOT before_target THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS replay_share
       |FROM m GROUP BY topic ORDER BY topic""".stripMargin

  /** Application-log browse — the reference's paginated log listing
    * (api.py:10153 get_application_logs): newest-first page with the
    * endpoint's exact guardrails — `limit` capped at 50, the default
    * window clamped to the trailing 7 days (here against the stream's
    * own high-water mark instead of utcnow, so the result is
    * reproducible), optional level filter and ILIKE search over the
    * message — and the `total` the endpoint attaches, which by its own
    * count query honors ONLY the 7-day horizon (not the level/search
    * filters; mirrored faithfully). Log rows derive deterministically
    * from the event stream: error events are ERROR, lifecycle events
    * (signup/purchase) INFO, interaction events (click/view) DEBUG;
    * logger is the component name, the props payload is the message.
    *
    * Scale shape: the page is orderBy+limit → TakeOrderedAndProject
    * (never a full sort); the horizon bound and total are ONE scalar
    * aggregate broadcast back. At 100 TB the filter reaches the scan
    * and the page costs one pass. */
  def logBrowse(
      spark: SparkSession, dir: String,
      level: String = "DEBUG", search: String = "7",
      limit: Int = 50, horizonMs: Long = 7L * 86400000L): DataFrame = {
    val cappedLimit = math.max(0, math.min(limit, 50)) // the endpoint's cap (api.py:10260)
    val logs = graft.Tables.load(spark, dir, "events")
      .select(
        col("event_id"), col("ts"),
        when(col("event_type") === "error", "ERROR")
          .when(col("event_type").isin("signup", "purchase"), "INFO")
          .otherwise("DEBUG").as("level"),
        concat(lit("graft."), col("event_type")).as("logger"),
        col("props").as("message"))
    val h = logs.agg(max(unix_millis(col("ts"))).as("hwm_ms"))
    val horizon = logs.crossJoin(broadcast(h))
      .where(unix_millis(col("ts")) >= col("hwm_ms") - horizonMs)
    val total = horizon.agg(count(lit(1)).as("total_7d"))
    // the endpoint ILIKEs (case-insensitive) the search across every text
    // field of the row — here message and logger, the two the log schema
    // carries; the needle is treated as a literal substring, not a pattern
    val needle = search.toLowerCase
    horizon
      .where(col("level") === level &&
        (lower(col("message")).contains(needle) || lower(col("logger")).contains(needle)))
      .select("event_id", "ts", "level", "logger", "message")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(cappedLimit)
      .crossJoin(broadcast(total))
      .orderBy(col("ts").desc, col("event_id").desc)
  }

  /** Escape a string for interpolation inside a single-quoted SQL literal. */
  private def sqlQuote(s: String): String = s.replace("'", "''")

  /** Escape a literal needle for use inside a LIKE pattern (backslash
    * escape char): `%`/`_`/`\` lose their meta meaning, quotes doubled. */
  private def likeEscape(s: String): String =
    sqlQuote(s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_"))

  def logBrowseSql(
      level: String = "DEBUG", search: String = "7",
      limit: Int = 50, horizonMs: Long = 7L * 86400000L): String =
    s"""WITH logs AS (
       |  SELECT event_id, ts,
       |         CASE WHEN event_type = 'error' THEN 'ERROR'
       |              WHEN event_type IN ('signup', 'purchase') THEN 'INFO'
       |              ELSE 'DEBUG' END AS level,
       |         'graft.' || event_type AS logger,
       |         props AS message
       |  FROM events),
       |h AS (SELECT max(epoch_ms(ts)) AS hwm_ms FROM logs),
       |horizon AS (
       |  SELECT l.* FROM logs l CROSS JOIN h
       |  WHERE epoch_ms(ts) >= hwm_ms - $horizonMs),
       |total AS (SELECT count(*) AS total_7d FROM horizon)
       |SELECT event_id, ts, level, logger, message, total_7d
       |FROM (
       |  SELECT * FROM horizon
       |  WHERE level = '${sqlQuote(level)}'
       |    AND (lower(message) LIKE '%${likeEscape(search.toLowerCase)}%' ESCAPE '\\'
       |         OR lower(logger) LIKE '%${likeEscape(search.toLowerCase)}%' ESCAPE '\\')
       |  ORDER BY ts DESC, event_id DESC LIMIT ${math.max(0, math.min(limit, 50))})
       |CROSS JOIN total
       |ORDER BY ts DESC, event_id DESC""".stripMargin

  /** Keyset ("seek") page of the application-log browse — the 100 TB
    * deep-page twin of [[logBrowse]], closing the seek ladder (events and
    * audit logs got theirs in r11): the client echoes the last row's
    * (ts, event_id) cursor, and the page is one bounded pruned read.
    *
    * The LEVEL facet is REWRITTEN onto the source column before the
    * scan: log level is derived (`error`→ERROR, `signup/purchase`→INFO,
    * else DEBUG), so filtering the derived column would evaluate the CASE
    * on every row post-scan. Inverting the derivation per level gives an
    * event_type predicate parquet can push (equality / IN / NOT-IN reach
    * PushedFilters; dictionary + stats prune whole row groups). No
    * trailing-horizon clamp: the cursor bounds the page — the horizon was
    * applied on page 1 of the walk, exactly as in [[eventBrowseSeek]].
    *
    * Scale shape: pushed cursor + facet → one TakeOrderedAndProject,
    * zero shuffles; page cost is O(limit + scanned-partition) at any
    * depth. PlanShapeSpec pins both predicates in PushedFilters. */
  def logBrowseSeek(
      spark: SparkSession, dir: String,
      level: String = "DEBUG",
      cursorTs: String = "2024-01-29 12:00:00",
      cursorId: Long = 1000000L, limit: Int = 50): DataFrame = {
    val effLimit = math.max(0, math.min(limit, 50))
    val cts = lit(cursorTs).cast("timestamp")
    // the level→event_type derivation, inverted into a pushable predicate
    val facet = level match {
      case "ERROR" => col("event_type") === "error"
      case "INFO"  => col("event_type").isin("signup", "purchase")
      case _       => !col("event_type").isin("error", "signup", "purchase")
    }
    graft.Tables.load(spark, dir, "events")
      .where(facet && (col("ts") < cts ||
        (col("ts") === cts && col("event_id") < lit(cursorId))))
      .select(
        col("event_id"), col("ts"),
        when(col("event_type") === "error", "ERROR")
          .when(col("event_type").isin("signup", "purchase"), "INFO")
          .otherwise("DEBUG").as("level"),
        concat(lit("graft."), col("event_type")).as("logger"),
        col("props").as("message"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(effLimit)
  }

  def logBrowseSeekSql(
      level: String = "DEBUG",
      cursorTs: String = "2024-01-29 12:00:00",
      cursorId: Long = 1000000L, limit: Int = 50): String = {
    val effLimit = math.max(0, math.min(limit, 50))
    val facet = level match {
      case "ERROR" => "event_type = 'error'"
      case "INFO"  => "event_type IN ('signup', 'purchase')"
      case _       => "event_type NOT IN ('error', 'signup', 'purchase')"
    }
    s"""SELECT event_id, ts,
       |       CASE WHEN event_type = 'error' THEN 'ERROR'
       |            WHEN event_type IN ('signup', 'purchase') THEN 'INFO'
       |            ELSE 'DEBUG' END AS level,
       |       'graft.' || event_type AS logger,
       |       props AS message
       |FROM events
       |WHERE $facet
       |  AND (ts < TIMESTAMP '$cursorTs'
       |       OR (ts = TIMESTAMP '$cursorTs' AND event_id < $cursorId))
       |ORDER BY ts DESC, event_id DESC
       |LIMIT $effLimit""".stripMargin
  }

  /** Replication-events browse — the dashboard's most-hit raw listing
    * (api.py:8715 get_replication_events): one page of CDC run events,
    * newest first, with the endpoint's exact semantics: only CDC-typed
    * runs; optional pipeline / table-name / date filters; when NO filter
    * is given the window clamps to the trailing 7 days (here against the
    * stream's high-water mark instead of utcnow, so the page is
    * reproducible); `limit` capped at 1000 (default 100) with OFFSET
    * `skip`; op normalization to insert/update/delete (the endpoint's
    * i/c→insert, u→update, d/remove→delete map); status normalized
    * through its status_map with the error-message override (an event
    * carrying an error is `failed` no matter what the run row claims);
    * and — mirrored faithfully — the table-name substring filter is
    * applied AFTER pagination, exactly as the reference filters inside
    * the Python result loop, so a table-filtered page can return fewer
    * than `limit` rows (documented endpoint quirk, api.py:9020).
    *
    * Run rows derive deterministically from the event stream: run id =
    * event id, started_at = ts, pipeline = `pl-<user_id mod 4>`, table =
    * `public.<event_type>`, op via the changelog convention
    * (signup→insert, error→delete, else→update), latency =
    * max(1, ⌊value·100⌋) ms, status failed for error events.
    *
    * Scale shape: sort+offset+limit collapses to one TakeOrdered pass —
    * but OFFSET pagination re-reads `skip+limit` rows per page, so deep
    * pages scan the prefix again and again. The 100 TB path is KEYSET
    * pagination: remember the last row's (started_at, run_id) cursor and
    * page with `WHERE (started_at, run_id) < (cursor_ts, cursor_id)` —
    * the predicate reaches the parquet scan (time-partitioned layout →
    * partition pruning) and every page costs one bounded read instead of
    * an ever-growing prefix. The OFFSET form is kept because it is the
    * endpoint's contract; both forms share the same ordering key. */
  def eventBrowse(
      spark: SparkSession, dir: String,
      pipelineId: Option[String] = None, tableName: Option[String] = None,
      todayOnly: Boolean = false, skip: Int = 100, limit: Int = 100,
      horizonMs: Long = 7L * 86400000L): DataFrame = {
    // api.py:8842: `min(limit, 1000) if limit else 100` — limit=0 is FALSY
    // in the reference and falls back to the default 100-row page, unlike
    // the application-logs endpoint's plain min(limit, 50). Negative
    // limits are out-of-contract (FastAPI would 422); floor at 0.
    val effLimit = if (limit == 0) 100 else math.max(0, math.min(limit, 1000))
    val runs = graft.Tables.load(spark, dir, "events")
      .select(
        col("event_id").as("run_id"),
        col("ts").as("started_at"),
        concat(lit("pl-"), (col("user_id") % 4).cast("string")).as("pipeline_id"),
        concat(lit("public."), col("event_type")).as("table_name"),
        when(col("event_type") === "signup", "insert")
          .when(col("event_type") === "error", "delete")
          .otherwise("update").as("event_type"),
        when(col("event_type") === "error", "failed").otherwise("success").as("status"),
        greatest(lit(1L), floor(col("value") * 100).cast("long")).as("latency_ms"))
    val h = runs.agg(max(unix_millis(col("started_at"))).as("hwm_ms"))
    val windowed =
      if (todayOnly)
        runs.crossJoin(broadcast(h))
          .where(unix_millis(date_trunc("DAY", col("started_at"))) >=
            unix_millis(date_trunc("DAY", timestamp_millis(col("hwm_ms")))))
      else if (pipelineId.isEmpty && tableName.isEmpty)
        // the endpoint's default-window clamp: no filters → trailing 7 days
        runs.crossJoin(broadcast(h))
          .where(unix_millis(col("started_at")) >= col("hwm_ms") - horizonMs)
      else runs
    val filtered = pipelineId.fold(windowed)(p => windowed.where(col("pipeline_id") === p))
    val page = filtered
      .orderBy(col("started_at").desc, col("run_id").desc)
      .offset(skip).limit(effLimit)
    // endpoint quirk mirrored: the table filter runs AFTER the page
    tableName.fold(page)(t =>
        page.where(lower(col("table_name")).contains(t.toLowerCase)))
      .select("run_id", "started_at", "pipeline_id", "table_name",
        "event_type", "status", "latency_ms")
      .orderBy(col("started_at").desc, col("run_id").desc)
  }

  def eventBrowseSql(
      pipelineId: Option[String] = None, tableName: Option[String] = None,
      todayOnly: Boolean = false, skip: Int = 100, limit: Int = 100,
      horizonMs: Long = 7L * 86400000L): String = {
    // api.py:8842: `min(limit, 1000) if limit else 100` — limit=0 is FALSY
    // in the reference and falls back to the default 100-row page, unlike
    // the application-logs endpoint's plain min(limit, 50). Negative
    // limits are out-of-contract (FastAPI would 422); floor at 0.
    val effLimit = if (limit == 0) 100 else math.max(0, math.min(limit, 1000))
    val pipePred = pipelineId.map(p => s"AND pipeline_id = '${sqlQuote(p)}'").getOrElse("")
    val window =
      if (todayOnly)
        "epoch_ms(date_trunc('day', started_at)) >= epoch_ms(date_trunc('day', hwm))"
      else if (pipelineId.isEmpty && tableName.isEmpty)
        s"epoch_ms(started_at) >= epoch_ms(hwm) - $horizonMs"
      else "TRUE"
    val postFilter = tableName
      .map(t => s"WHERE lower(table_name) LIKE '%${likeEscape(t.toLowerCase)}%' ESCAPE '\\'")
      .getOrElse("")
    s"""WITH runs AS (
       |  SELECT event_id AS run_id, ts AS started_at,
       |         'pl-' || CAST(user_id % 4 AS VARCHAR) AS pipeline_id,
       |         'public.' || event_type AS table_name,
       |         CASE event_type WHEN 'signup' THEN 'insert'
       |                         WHEN 'error' THEN 'delete'
       |                         ELSE 'update' END AS event_type,
       |         CASE WHEN event_type = 'error' THEN 'failed' ELSE 'success' END AS status,
       |         greatest(1, CAST(floor(value * 100) AS BIGINT)) AS latency_ms
       |  FROM events),
       |h AS (SELECT max(started_at) AS hwm FROM runs),
       |page AS (
       |  SELECT r.* FROM runs r CROSS JOIN h
       |  WHERE $window $pipePred
       |  ORDER BY started_at DESC, run_id DESC
       |  LIMIT $effLimit OFFSET $skip)
       |SELECT run_id, started_at, pipeline_id, table_name, event_type, status, latency_ms
       |FROM page $postFilter
       |ORDER BY started_at DESC, run_id DESC""".stripMargin
  }

  /** Keyset ("seek") page of the replication-events browse — the 100 TB
    * deep-page path [[eventBrowse]]'s docstring pins against the
    * reference's OFFSET pagination (api.py:8715): the client hands back
    * the last row's (started_at, run_id) cursor and the next page is
    * `WHERE (started_at, run_id) < cursor ORDER BY ... DESC LIMIT n`.
    * Because the cursor is a LITERAL (the client echoes it), the row-value
    * comparison lands in the parquet scan's PushedFilters — every page is
    * one bounded, pruned read (time-partitioned layout → partition
    * pruning), where OFFSET re-reads an ever-growing `skip+limit` prefix.
    * No trailing-window clamp here: the cursor itself bounds the page —
    * the client walked from the top, so the window was applied on page 1.
    *
    * Same run-row derivation and output columns as [[eventBrowse]]; the
    * two share the (started_at DESC, run_id DESC) ordering key, which is
    * what makes the cursor total (ts ties broken by id).
    *
    * Scale shape: pushed scan → one TakeOrderedAndProject. Nothing
    * shuffles; page cost is O(limit + scanned-partition) regardless of
    * page depth. PlanShapeSpec pins the cursor predicate in
    * PushedFilters. */
  def eventBrowseSeek(
      spark: SparkSession, dir: String,
      cursorTs: String = "2024-01-29 12:00:00",
      cursorId: Long = 1000000L, limit: Int = 100): DataFrame = {
    // api.py:8842: `min(limit, 1000) if limit else 100` — limit=0 is FALSY
    // in the reference and falls back to the default 100-row page, unlike
    // the application-logs endpoint's plain min(limit, 50). Negative
    // limits are out-of-contract (FastAPI would 422); floor at 0.
    val effLimit = if (limit == 0) 100 else math.max(0, math.min(limit, 1000))
    val cts = lit(cursorTs).cast("timestamp")
    graft.Tables.load(spark, dir, "events")
      .where(col("ts") < cts ||
        (col("ts") === cts && col("event_id") < lit(cursorId)))
      .select(
        col("event_id").as("run_id"),
        col("ts").as("started_at"),
        concat(lit("pl-"), (col("user_id") % 4).cast("string")).as("pipeline_id"),
        concat(lit("public."), col("event_type")).as("table_name"),
        when(col("event_type") === "signup", "insert")
          .when(col("event_type") === "error", "delete")
          .otherwise("update").as("event_type"),
        when(col("event_type") === "error", "failed").otherwise("success").as("status"),
        greatest(lit(1L), floor(col("value") * 100).cast("long")).as("latency_ms"))
      .orderBy(col("started_at").desc, col("run_id").desc)
      .limit(effLimit)
  }

  def eventBrowseSeekSql(
      cursorTs: String = "2024-01-29 12:00:00",
      cursorId: Long = 1000000L, limit: Int = 100): String = {
    // api.py:8842: `min(limit, 1000) if limit else 100` — limit=0 is FALSY
    // in the reference and falls back to the default 100-row page, unlike
    // the application-logs endpoint's plain min(limit, 50). Negative
    // limits are out-of-contract (FastAPI would 422); floor at 0.
    val effLimit = if (limit == 0) 100 else math.max(0, math.min(limit, 1000))
    s"""SELECT event_id AS run_id, ts AS started_at,
       |       'pl-' || CAST(user_id % 4 AS VARCHAR) AS pipeline_id,
       |       'public.' || event_type AS table_name,
       |       CASE event_type WHEN 'signup' THEN 'insert'
       |                       WHEN 'error' THEN 'delete'
       |                       ELSE 'update' END AS event_type,
       |       CASE WHEN event_type = 'error' THEN 'failed' ELSE 'success' END AS status,
       |       greatest(1, CAST(floor(value * 100) AS BIGINT)) AS latency_ms
       |FROM events
       |WHERE ts < TIMESTAMP '$cursorTs'
       |   OR (ts = TIMESTAMP '$cursorTs' AND event_id < $cursorId)
       |ORDER BY started_at DESC, run_id DESC
       |LIMIT $effLimit""".stripMargin
  }

  /** User-action audit-log listing — the reference's `/api/v1/audit-logs`
    * (api.py:13507 get_audit_logs): one page of user-action audit rows
    * with the endpoint's exact guardrails — `limit` clamped to [1, 100]
    * (FastAPI `Query(20, ge=1, le=100)`), OFFSET `skip`, optional exact
    * `action` / `resource_type` equality filters, newest-first by
    * created_at — plus the `total` the endpoint computes with
    * `query.count()` BEFORE pagination (after the filters), attached to
    * every page row. Distinct from [[Cdc.appendAudit]]: that is the CDC
    * change audit; this is the who-did-what user-action trail.
    *
    * Audit rows derive deterministically from the event stream: id =
    * event id, actor = user_id, created_at = ts, and the action /
    * resource_type pair from the event type (signup→create:user,
    * purchase→update:pipeline, click→execute:connector, view→read:table,
    * error→delete:system) — the shape of the AuditLogModel columns the
    * endpoint serializes (models_db.py:261).
    *
    * Scale shape: filters + sort + offset + limit collapse to one
    * TakeOrdered pass with the equality predicates pushed to the scan;
    * the pre-pagination total is ONE scalar aggregate broadcast back.
    * Keyset pagination on (created_at, id) is the deep-page path at
    * 100 TB, as with [[eventBrowse]]. */
  def auditBrowse(
      spark: SparkSession, dir: String,
      action: Option[String] = None, resourceType: Option[String] = Some("pipeline"),
      skip: Int = 20, limit: Int = 20): DataFrame = {
    // the endpoint's param is Query(20, ge=1, le=100): limit=0 is a 422
    // there, so the floor-0 empty page here is explicitly out-of-contract
    // (reachable only by direct library calls, never via the API surface);
    // same domain note applies to the seek variant and both SQL twins
    val effLimit = math.max(0, math.min(limit, 100))
    val logs = graft.Tables.load(spark, dir, "events")
      .select(
        col("event_id").as("id"),
        col("user_id"),
        when(col("event_type") === "signup", "create")
          .when(col("event_type") === "purchase", "update")
          .when(col("event_type") === "click", "execute")
          .when(col("event_type") === "view", "read")
          .otherwise("delete").as("action"),
        when(col("event_type") === "signup", "user")
          .when(col("event_type") === "purchase", "pipeline")
          .when(col("event_type") === "click", "connector")
          .when(col("event_type") === "view", "table")
          .otherwise("system").as("resource_type"),
        col("user_id").cast("string").as("resource_id"),
        col("ts").as("created_at"))
    val filtered = Seq(
      action.map(a => col("action") === a),
      resourceType.map(r => col("resource_type") === r)
    ).flatten.foldLeft(logs)(_ where _)
    val total = filtered.agg(count(lit(1)).as("total"))
    filtered
      .orderBy(col("created_at").desc, col("id").desc)
      .offset(skip).limit(effLimit)
      .crossJoin(broadcast(total))
      .select("id", "user_id", "action", "resource_type", "resource_id",
        "created_at", "total")
      .orderBy(col("created_at").desc, col("id").desc)
  }

  def auditBrowseSql(
      action: Option[String] = None, resourceType: Option[String] = Some("pipeline"),
      skip: Int = 20, limit: Int = 20): String = {
    val effLimit = math.max(0, math.min(limit, 100))
    val preds = Seq(
      action.map(a => s"action = '${sqlQuote(a)}'"),
      resourceType.map(r => s"resource_type = '${sqlQuote(r)}'")).flatten
    val where = if (preds.isEmpty) "TRUE" else preds.mkString(" AND ")
    s"""WITH logs AS (
       |  SELECT event_id AS id, user_id,
       |         CASE event_type WHEN 'signup' THEN 'create'
       |                         WHEN 'purchase' THEN 'update'
       |                         WHEN 'click' THEN 'execute'
       |                         WHEN 'view' THEN 'read'
       |                         ELSE 'delete' END AS action,
       |         CASE event_type WHEN 'signup' THEN 'user'
       |                         WHEN 'purchase' THEN 'pipeline'
       |                         WHEN 'click' THEN 'connector'
       |                         WHEN 'view' THEN 'table'
       |                         ELSE 'system' END AS resource_type,
       |         CAST(user_id AS VARCHAR) AS resource_id,
       |         ts AS created_at
       |  FROM events),
       |filtered AS (SELECT * FROM logs WHERE $where),
       |t AS (SELECT count(*) AS total FROM filtered)
       |SELECT id, user_id, action, resource_type, resource_id, created_at, total
       |FROM (
       |  SELECT * FROM filtered
       |  ORDER BY created_at DESC, id DESC
       |  LIMIT $effLimit OFFSET $skip)
       |CROSS JOIN t
       |ORDER BY created_at DESC, id DESC""".stripMargin
  }

  /** Keyset ("seek") page of the audit-log listing — the deep-page path
    * [[auditBrowse]]'s docstring pins, mirroring [[eventBrowseSeek]]: the
    * client echoes the last row's (created_at, id) cursor and the page is
    * the literal row-value predicate + one TakeOrderedAndProject; the
    * equality facet filters (action / resource_type) ride along in the
    * same pushed conjunction. No pre-pagination `total` here — that is
    * the OFFSET endpoint's contract; a seek client keeps the page-1
    * total.
    *
    * Scale shape: pushed scan (cursor + facet equality on scan columns)
    * → TakeOrderedAndProject, zero shuffles, page cost independent of
    * depth. */
  def auditBrowseSeek(
      spark: SparkSession, dir: String,
      resourceType: Option[String] = Some("pipeline"),
      cursorTs: String = "2024-01-20 00:00:00",
      cursorId: Long = 1000000L, limit: Int = 20): DataFrame = {
    val effLimit = math.max(0, math.min(limit, 100))
    val cts = lit(cursorTs).cast("timestamp")
    val base = graft.Tables.load(spark, dir, "events")
      .where(col("ts") < cts ||
        (col("ts") === cts && col("event_id") < lit(cursorId)))
    // resource_type = 'pipeline' ⇔ event_type = 'purchase' under the
    // derivation map: push the EQUIVALENT source predicate to the scan
    val srcFiltered = resourceType.fold(base) { r =>
      val src = Map("user" -> "signup", "pipeline" -> "purchase",
        "connector" -> "click", "table" -> "view").get(r)
      src.fold(base.where(!col("event_type").isin("signup", "purchase", "click", "view")))(
        e => base.where(col("event_type") === e))
    }
    srcFiltered
      .select(
        col("event_id").as("id"),
        col("user_id"),
        when(col("event_type") === "signup", "create")
          .when(col("event_type") === "purchase", "update")
          .when(col("event_type") === "click", "execute")
          .when(col("event_type") === "view", "read")
          .otherwise("delete").as("action"),
        when(col("event_type") === "signup", "user")
          .when(col("event_type") === "purchase", "pipeline")
          .when(col("event_type") === "click", "connector")
          .when(col("event_type") === "view", "table")
          .otherwise("system").as("resource_type"),
        col("user_id").cast("string").as("resource_id"),
        col("ts").as("created_at"))
      .orderBy(col("created_at").desc, col("id").desc)
      .limit(effLimit)
  }

  def auditBrowseSeekSql(
      resourceType: Option[String] = Some("pipeline"),
      cursorTs: String = "2024-01-20 00:00:00",
      cursorId: Long = 1000000L, limit: Int = 20): String = {
    val effLimit = math.max(0, math.min(limit, 100))
    val srcPred = resourceType.map {
      case "user" => "AND event_type = 'signup'"
      case "pipeline" => "AND event_type = 'purchase'"
      case "connector" => "AND event_type = 'click'"
      case "table" => "AND event_type = 'view'"
      case _ => "AND event_type NOT IN ('signup','purchase','click','view')"
    }.getOrElse("")
    s"""SELECT event_id AS id, user_id,
       |       CASE event_type WHEN 'signup' THEN 'create'
       |                       WHEN 'purchase' THEN 'update'
       |                       WHEN 'click' THEN 'execute'
       |                       WHEN 'view' THEN 'read'
       |                       ELSE 'delete' END AS action,
       |       CASE event_type WHEN 'signup' THEN 'user'
       |                       WHEN 'purchase' THEN 'pipeline'
       |                       WHEN 'click' THEN 'connector'
       |                       WHEN 'view' THEN 'table'
       |                       ELSE 'system' END AS resource_type,
       |       CAST(user_id AS VARCHAR) AS resource_id,
       |       ts AS created_at
       |FROM events
       |WHERE (ts < TIMESTAMP '$cursorTs'
       |       OR (ts = TIMESTAMP '$cursorTs' AND event_id < $cursorId))
       |  $srcPred
       |ORDER BY created_at DESC, id DESC
       |LIMIT $effLimit""".stripMargin
  }

  /** Audit-log filter facets — `/api/v1/audit-logs/filters`
    * (api.py:13425): the distinct `action` and `resource_type` values the
    * UI offers as filter options, each list sorted — here as one tidy
    * (facet, value, n_rows) row set (the count is the natural extension a
    * faceted UI shows next to each option; the reference returns the bare
    * sorted lists).
    *
    * Scale shape: two partial-aggregated distinct scans unioned — at
    * 100 TB each is a map-side-combined shuffle on a handful of keys;
    * the facet row set is bounded by the value domain, never the data. */
  def auditFacets(spark: SparkSession, dir: String): DataFrame = {
    val logs = graft.Tables.load(spark, dir, "events")
      .select(
        when(col("event_type") === "signup", "create")
          .when(col("event_type") === "purchase", "update")
          .when(col("event_type") === "click", "execute")
          .when(col("event_type") === "view", "read")
          .otherwise("delete").as("action"),
        when(col("event_type") === "signup", "user")
          .when(col("event_type") === "purchase", "pipeline")
          .when(col("event_type") === "click", "connector")
          .when(col("event_type") === "view", "table")
          .otherwise("system").as("resource_type"))
    val actions = logs.groupBy(col("action").as("value"))
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("action").as("facet"), col("value"), col("n_rows"))
    val resources = logs.groupBy(col("resource_type").as("value"))
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("resource_type").as("facet"), col("value"), col("n_rows"))
    actions.unionAll(resources).orderBy("facet", "value")
  }

  val auditFacetsSql: String =
    """WITH logs AS (
      |  SELECT CASE event_type WHEN 'signup' THEN 'create'
      |                         WHEN 'purchase' THEN 'update'
      |                         WHEN 'click' THEN 'execute'
      |                         WHEN 'view' THEN 'read'
      |                         ELSE 'delete' END AS action,
      |         CASE event_type WHEN 'signup' THEN 'user'
      |                         WHEN 'purchase' THEN 'pipeline'
      |                         WHEN 'click' THEN 'connector'
      |                         WHEN 'view' THEN 'table'
      |                         ELSE 'system' END AS resource_type
      |  FROM events)
      |SELECT 'action' AS facet, action AS value, count(*) AS n_rows
      |FROM logs GROUP BY action
      |UNION ALL
      |SELECT 'resource_type' AS facet, resource_type AS value, count(*) AS n_rows
      |FROM logs GROUP BY resource_type
      |ORDER BY facet, value""".stripMargin

  /** Application-log level facet — `/api/v1/logs/application-logs/levels`
    * (api.py:10505): the endpoint publishes the FIXED five-level contract
    * (DEBUG, INFO, WARNING, ERROR, CRITICAL) regardless of data; the
    * Spark twin keeps that contract row set (severity-ordered, as the
    * endpoint's array is) and LEFT-joins the count each level actually
    * has in the derived application-log stream ([[logBrowse]]'s
    * level mapping), so the facet also answers the question the UI asks
    * next ("is filtering by WARNING even useful?"). Levels the stream
    * never emits (WARNING, CRITICAL) appear with n_logs = 0.
    *
    * Scale shape: one map-side-combined count on a ≤5-key column,
    * broadcast-joined to a 5-row literal table. */
  def logLevels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val contract = Seq(
      (1L, "DEBUG"), (2L, "INFO"), (3L, "WARNING"), (4L, "ERROR"), (5L, "CRITICAL")
    ).toDF("severity", "level")
    val observed = graft.Tables.load(spark, dir, "events")
      .select(
        when(col("event_type") === "error", "ERROR")
          .when(col("event_type").isin("signup", "purchase"), "INFO")
          .otherwise("DEBUG").as("level"))
      .groupBy("level").agg(count(lit(1)).as("n"))
    contract.join(observed, Seq("level"), "left")
      .select(col("severity"), col("level"),
        coalesce(col("n"), lit(0L)).as("n_logs"))
      .orderBy("severity")
  }

  /** Per-partition watermark skew — the straggler detector for event-time
    * processing: a global watermark advances at the pace of the SLOWEST
    * partition, so one stalled partition silently freezes every windowed
    * aggregate downstream. Per hash partition (the key-mod layout the
    * sink twins use): its local high-water mark, the lag behind the
    * global hwm, its event count, and the straggler flag (lag beyond the
    * p99-ish 60 s budget). [[partitionSkew]] prices VOLUME imbalance;
    * this prices TIME imbalance — the one that actually stalls
    * watermarks.
    *
    * Scale shape: one ≤|partitions|-key aggregation (map-side combined),
    * a 1-row broadcast global hwm. No windows. */
  def partitionWatermarkSkew(spark: SparkSession, dir: String, partitions: Int = 32,
      budgetMs: Long = 60000L): DataFrame = {
    val per = graft.Tables.load(spark, dir, "events")
      .select(pmod(col("user_id"), lit(partitions.toLong)).as("partition"),
        unix_millis(col("ts")).as("ms"))
      .groupBy("partition")
      .agg(count(lit(1)).as("n_events"), max(col("ms")).as("local_hwm_ms"))
    val hwm = per.agg(max(col("local_hwm_ms")).as("global_hwm_ms"))
    per.crossJoin(broadcast(hwm))
      .select(col("partition"), col("n_events"),
        timestamp_millis(col("local_hwm_ms")).as("local_hwm"),
        (col("global_hwm_ms") - col("local_hwm_ms")).as("watermark_lag_ms"),
        (col("global_hwm_ms") - col("local_hwm_ms") > budgetMs).as("straggler"))
      .orderBy("partition")
  }

  def partitionWatermarkSkewSql(partitions: Int = 32, budgetMs: Long = 60000L): String =
    s"""WITH per AS (
       |  SELECT user_id % $partitions AS partition, count(*) AS n_events,
       |         max(epoch_ms(ts)) AS local_hwm_ms
       |  FROM events GROUP BY user_id % $partitions),
       |h AS (SELECT max(local_hwm_ms) AS global_hwm_ms FROM per)
       |SELECT CAST(partition AS BIGINT) AS partition, n_events,
       |       epoch_ms(local_hwm_ms) AS local_hwm,
       |       CAST(global_hwm_ms - local_hwm_ms AS BIGINT) AS watermark_lag_ms,
       |       global_hwm_ms - local_hwm_ms > $budgetMs AS straggler
       |FROM per, h ORDER BY partition""".stripMargin

  /** Per-minute volume percentiles — the burst-headroom sizing table:
    * exact p50/p90/p99/max of per-minute event counts plus the
    * peak-to-median ratio (the factor a capacity plan must hold above
    * steady state; [[burstDetect]] finds WHEN bursts happen, this
    * prices HOW MUCH headroom they need). Percentiles are EXACT
    * rank = ⌈p·n⌉ order statistics read off the count-of-counts
    * distribution — minute-count rows collapse to (volume → n_minutes)
    * pairs bounded by the DISTINCT volume values, so no global sort of
    * the minute table ever exists (the [[hotKeyShare]] trick on the
    * time axis).
    *
    * Scale shape: one ≤|minutes|-key aggregation (map-side combined),
    * one count-of-counts aggregation, a cumulative window over the
    * bounded count-of-counts rows. */
  def volumePercentiles(spark: SparkSession, dir: String): DataFrame = {
    val perMin = graft.Tables.load(spark, dir, "events")
      .groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("c"))
    val coc = perMin.groupBy("c").agg(count(lit(1)).as("n_minutes"))
    val wPrev = org.apache.spark.sql.expressions.Window.orderBy(col("c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val cum = coc
      .withColumn("cum_minutes", sum(col("n_minutes")).over(wPrev))
      .withColumn("n", sum(col("n_minutes")).over(wAll))
      .withColumn("max_c", max(col("c")).over(wAll))
    def pct(p: Double, name: String) =
      min(when(col("cum_minutes") >= ceil(col("n").cast("double") * p), col("c"))).as(name)
    cum.agg(
      max(col("n")).as("n_minutes"),
      pct(0.50, "p50_per_minute"),
      pct(0.90, "p90_per_minute"),
      pct(0.99, "p99_per_minute"),
      max(col("max_c")).as("max_per_minute"))
      .select(col("n_minutes"), col("p50_per_minute"), col("p90_per_minute"),
        col("p99_per_minute"), col("max_per_minute"),
        (col("max_per_minute").cast("double") / col("p50_per_minute").cast("double"))
          .as("peak_to_median"))
  }

  val volumePercentilesSql: String =
    """WITH per AS (
      |  SELECT date_trunc('minute', ts) AS minute, count(*) AS c
      |  FROM events GROUP BY date_trunc('minute', ts)),
      |coc AS (SELECT c, count(*) AS n_minutes FROM per GROUP BY c),
      |cum AS (
      |  SELECT c, n_minutes,
      |         sum(n_minutes) OVER (ORDER BY c
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_minutes,
      |         sum(n_minutes) OVER () AS n,
      |         max(c) OVER () AS max_c
      |  FROM coc)
      |SELECT CAST(max(n) AS BIGINT) AS n_minutes,
      |       min(CASE WHEN cum_minutes >= ceil(CAST(n AS DOUBLE) * 0.5) THEN c END) AS p50_per_minute,
      |       min(CASE WHEN cum_minutes >= ceil(CAST(n AS DOUBLE) * 0.9) THEN c END) AS p90_per_minute,
      |       min(CASE WHEN cum_minutes >= ceil(CAST(n AS DOUBLE) * 0.99) THEN c END) AS p99_per_minute,
      |       CAST(max(max_c) AS BIGINT) AS max_per_minute,
      |       CAST(max(max_c) AS DOUBLE)
      |         / CAST(min(CASE WHEN cum_minutes >= ceil(CAST(n AS DOUBLE) * 0.5) THEN c END) AS DOUBLE)
      |         AS peak_to_median
      |FROM cum""".stripMargin

  /** Inter-arrival jitter — the burstiness index per topic: the
    * coefficient of variation of inter-event gaps (CV = σ/μ; a Poisson
    * arrival process sits at CV ≈ 1, a steady heartbeat near 0, batchy
    * replication well above 1). [[burstDetect]] z-scores minute COUNTS
    * against the stream's own mean; this measures the gap process
    * itself — the number a micro-batch trigger and a consumer prefetch
    * are actually sized against.
    *
    * Exactness: gaps are integer milliseconds off the (ts, offset)
    * event order; Σg and Σg² accumulate as DECIMAL(38,0); mean, σ
    * (variance clamped at zero) and CV are fixed-order double math over
    * those exact sums.
    *
    * Scale shape: one lag window PARTITIONED on topic (never global),
    * one ≤|topics|-key rollup. */
  def arrivalJitter(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("topic").orderBy("ms", "offset")
    val gaps = graft.Tables.load(spark, dir, "events")
      .select(concat(lit("graft.public."), col("event_type")).as("topic"),
        unix_millis(col("ts")).as("ms"), col("event_id").as("offset"))
      .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
      .where(col("gap").isNotNull)
    val rolled = gaps.groupBy("topic")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap").cast(d38)).cast(d38).as("sg"),
        sum(col("gap").cast(d38) * col("gap").cast(d38)).cast(d38).as("sg2"),
        max(col("gap")).as("max_gap_ms"),
        sum(when(col("gap") === 0L, 1L).otherwise(0L)).as("n_simultaneous"))
    val nD = col("n_gaps").cast("double")
    val mean = col("sg").cast("double") / nD
    val varG = greatest(col("sg2").cast("double") / nD - mean * mean, lit(0.0))
    rolled.select(col("topic"), col("n_gaps"),
      mean.as("mean_gap_ms"),
      sqrt(varG).as("std_gap_ms"),
      when(mean > 0.0, sqrt(varG) / mean).as("cv"),
      col("max_gap_ms"), col("n_simultaneous"),
      (col("n_simultaneous").cast("double") / nD).as("simultaneous_share"))
      .orderBy("topic")
  }

  val arrivalJitterSql: String =
    """WITH e AS (
      |  SELECT 'graft.public.' || event_type AS topic, epoch_ms(ts) AS ms, event_id AS "offset"
      |  FROM events),
      |g AS (
      |  SELECT topic, ms - lag(ms, 1) OVER (PARTITION BY topic ORDER BY ms, "offset") AS gap
      |  FROM e),
      |r AS (
      |  SELECT topic, count(*) AS n_gaps,
      |         CAST(sum(CAST(gap AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sg,
      |         CAST(sum(CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sg2,
      |         max(gap) AS max_gap_ms,
      |         CAST(sum(CASE WHEN gap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_simultaneous
      |  FROM g WHERE gap IS NOT NULL GROUP BY topic)
      |SELECT topic, n_gaps,
      |       CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_ms,
      |       sqrt(greatest(CAST(sg2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
      |              - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |              * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0)) AS std_gap_ms,
      |       CASE WHEN CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0.0
      |            THEN sqrt(greatest(CAST(sg2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
      |                   - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |                   * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0))
      |                 / (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |       END AS cv,
      |       max_gap_ms, n_simultaneous,
      |       CAST(n_simultaneous AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS simultaneous_share
      |FROM r ORDER BY topic""".stripMargin

  /** Cold-key census — the state-eviction sizing table for the stateful
    * streaming twins: keys bucketed by inactivity age (now = the stream
    * high-water mark), with the key share a TTL at each horizon would
    * evict and the event share those keys carry (the replay cost if the
    * TTL is wrong). [[tableActivity]] answers table-level staleness;
    * this is the key-level answer a mapGroupsWithState TTL actually
    * needs. Fixed 5-horizon contract, zero-filled, so dashboards can
    * pin columns.
    *
    * Scale shape: one per-key aggregation (map-side combined), a 1-row
    * broadcast high-water mark, a ≤5-key rollup joined to the literal
    * spine, and a 1-row broadcast total. No windows. */
  def coldKeys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spine = Seq(
      (1L, "lt_1h"), (2L, "1h_to_6h"), (3L, "6h_to_24h"),
      (4L, "1d_to_7d"), (5L, "gte_7d")).toDF("bucket_seq", "age_bucket")
    val per = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
      .groupBy("user_id")
      .agg(max(col("ms")).as("last_ms"), count(lit(1)).as("n_events"))
    val hwm = per.agg(max(col("last_ms")).as("hwm"))
    val bucketed = per.crossJoin(broadcast(hwm))
      .select((col("hwm") - col("last_ms")).as("age_ms"), col("n_events"))
      .select(
        when(col("age_ms") < 3600000L, 1L)
          .when(col("age_ms") < 21600000L, 2L)
          .when(col("age_ms") < 86400000L, 3L)
          .when(col("age_ms") < 604800000L, 4L)
          .otherwise(5L).as("bucket_seq"),
        col("n_events"))
      .groupBy("bucket_seq")
      .agg(count(lit(1)).as("n_keys"), sum(col("n_events")).as("n_events"))
    val totals = per.agg(count(lit(1)).as("tot_keys"),
      sum(col("n_events")).as("tot_events"))
    spine.join(bucketed, Seq("bucket_seq"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket_seq"), col("age_bucket"),
        coalesce(col("n_keys"), lit(0L)).as("n_keys"),
        (coalesce(col("n_keys"), lit(0L)).cast("double")
          / col("tot_keys").cast("double")).as("key_share"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        (coalesce(col("n_events"), lit(0L)).cast("double")
          / col("tot_events").cast("double")).as("event_share"))
      .orderBy("bucket_seq")
  }

  val coldKeysSql: String =
    """WITH per AS (
      |  SELECT user_id, max(epoch_ms(ts)) AS last_ms, count(*) AS n_events
      |  FROM events GROUP BY user_id),
      |h AS (SELECT max(last_ms) AS hwm FROM per),
      |b AS (
      |  SELECT CASE WHEN hwm - last_ms < 3600000 THEN 1
      |              WHEN hwm - last_ms < 21600000 THEN 2
      |              WHEN hwm - last_ms < 86400000 THEN 3
      |              WHEN hwm - last_ms < 604800000 THEN 4
      |              ELSE 5 END AS bucket_seq,
      |         n_events
      |  FROM per, h),
      |g AS (SELECT bucket_seq, count(*) AS n_keys, sum(n_events) AS n_events
      |      FROM b GROUP BY bucket_seq),
      |tot AS (SELECT count(*) AS tot_keys, sum(n_events) AS tot_events FROM per),
      |spine AS (
      |  SELECT * FROM (VALUES (1, 'lt_1h'), (2, '1h_to_6h'), (3, '6h_to_24h'),
      |                        (4, '1d_to_7d'), (5, 'gte_7d')) AS s(bucket_seq, age_bucket))
      |SELECT CAST(s.bucket_seq AS BIGINT) AS bucket_seq, s.age_bucket,
      |       CAST(coalesce(g.n_keys, 0) AS BIGINT) AS n_keys,
      |       CAST(coalesce(g.n_keys, 0) AS DOUBLE) / CAST(tot_keys AS DOUBLE) AS key_share,
      |       CAST(coalesce(g.n_events, 0) AS BIGINT) AS n_events,
      |       CAST(coalesce(g.n_events, 0) AS DOUBLE) / CAST(tot_events AS DOUBLE) AS event_share
      |FROM spine s LEFT JOIN g ON s.bucket_seq = g.bucket_seq, tot
      |ORDER BY s.bucket_seq""".stripMargin

  /** Daily DML-mix trend — the op-mix drift monitor over the change
    * stream: per day, insert/update/delete counts and shares (the
    * changelog convention: signup→c, error→d, else→u), plus the
    * day-over-day delta of the update share. A mix that lurches toward
    * deletes flags a purge job or a misconfigured soft-delete; an
    * insert-heavy lurch flags a backfill running against the live slot.
    *
    * Scale shape: one ≤|days|-key map-side-combined aggregation, then a
    * lag window over the pre-aggregated daily rows (≤|days| rows, never
    * the stream). */
  def dmlMixTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.Tables.load(spark, dir, "events")
      .select(date_trunc("DAY", col("ts")).as("day"),
        when(col("event_type") === "signup", "c")
          .when(col("event_type") === "error", "d")
          .otherwise("u").as("op"))
      .groupBy("day")
      .agg(
        sum(when(col("op") === "c", 1L).otherwise(0L)).as("n_ins"),
        sum(when(col("op") === "u", 1L).otherwise(0L)).as("n_upd"),
        sum(when(col("op") === "d", 1L).otherwise(0L)).as("n_del"),
        count(lit(1)).as("n_total"))
      .withColumn("upd_share",
        col("n_upd").cast("double") / col("n_total").cast("double"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
    daily
      .withColumn("upd_share_delta",
        col("upd_share") - coalesce(lag(col("upd_share"), 1).over(w), col("upd_share")))
      .orderBy("day")
  }

  val dmlMixTrendSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day,
      |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_ins,
      |         CAST(sum(CASE WHEN event_type NOT IN ('signup', 'error') THEN 1 ELSE 0 END) AS BIGINT) AS n_upd,
      |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
      |         count(*) AS n_total
      |  FROM events GROUP BY 1),
      |shares AS (
      |  SELECT *, CAST(n_upd AS DOUBLE) / CAST(n_total AS DOUBLE) AS upd_share FROM daily)
      |SELECT day, n_ins, n_upd, n_del, n_total, upd_share,
      |       upd_share - coalesce(lag(upd_share) OVER (ORDER BY day), upd_share) AS upd_share_delta
      |FROM shares ORDER BY day""".stripMargin

  /** Per-topic message-size percentiles — the payload-profile gauge that
    * sizes Kafka batch/fetch settings and sink buffers: exact p50/p90/p99
    * of the wire message bytes (payload + envelope overhead) per topic,
    * via the same deterministic order-statistic pick as
    * [[lagPercentiles]] (rank = ⌈p·n⌉ — no interpolation, so both
    * engines agree bit-for-bit on integer byte counts).
    *
    * Scale shape: per-topic windows partition on the topic key; at
    * 100 TB swap the exact rank for approx_percentile per the q_mad
    * note — the output contract is identical. */
  def eventSizePercentiles(spark: SparkSession, dir: String, overhead: Int = 64): DataFrame = {
    val sized = graft.Tables.load(spark, dir, "events")
      .select(concat(lit("graft.public."), col("event_type")).as("topic"),
        (length(col("props")).cast("long") + overhead).as("msg_bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("topic").orderBy("msg_bytes")
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("topic")
    def pick(p: Double) =
      max(when(col("rn") === ceil(lit(p) * col("n")).cast("long"), col("msg_bytes")))
    sized
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wc))
      .groupBy("topic")
      .agg(
        count(lit(1)).as("n_messages"),
        min(col("msg_bytes")).as("min_bytes"),
        pick(0.5).as("p50_bytes"), pick(0.9).as("p90_bytes"), pick(0.99).as("p99_bytes"),
        max(col("msg_bytes")).as("max_bytes"))
      .orderBy("topic")
  }

  def eventSizePercentilesSql(overhead: Int = 64): String =
    s"""WITH sized AS (
       |  SELECT 'graft.public.' || event_type AS topic,
       |         CAST(length(props) AS BIGINT) + $overhead AS msg_bytes
       |  FROM events),
       |ranked AS (
       |  SELECT topic, msg_bytes,
       |         row_number() OVER (PARTITION BY topic ORDER BY msg_bytes) AS rn,
       |         count(*) OVER (PARTITION BY topic) AS n
       |  FROM sized)
       |SELECT topic, count(*) AS n_messages,
       |       min(msg_bytes) AS min_bytes,
       |       max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN msg_bytes END) AS p50_bytes,
       |       max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN msg_bytes END) AS p90_bytes,
       |       max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN msg_bytes END) AS p99_bytes,
       |       max(msg_bytes) AS max_bytes
       |FROM ranked GROUP BY topic ORDER BY topic""".stripMargin

  /** Per-table activity/freshness board — the "which tables went quiet"
    * view next to the lag family: per topic, event volume, first/last
    * change, the observed change rate over the table's own active span,
    * staleness against the stream high-water mark, and the idle flag
    * (> 1 h without a change while the stream moved on — a dead slot or
    * dropped table, where uniform staleness is just stream shutdown).
    *
    * Scale shape: one ≤|topics|-key map-side-combined aggregation; the
    * hwm attaches via a tiny window over the pre-aggregated topic rows. */
  def tableActivity(spark: SparkSession, dir: String, idleMs: Long = 3600000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    graft.Tables.load(spark, dir, "events")
      .select(concat(lit("graft.public."), col("event_type")).as("topic"),
        unix_millis(col("ts")).as("ms"))
      .groupBy("topic")
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("first_ms"), max(col("ms")).as("last_ms"))
      .withColumn("hwm_ms", max(col("last_ms")).over(w))
      .select(
        col("topic"), col("n_events"),
        timestamp_millis(col("first_ms")).as("first_ts"),
        timestamp_millis(col("last_ms")).as("last_ts"),
        when(col("last_ms") > col("first_ms"),
          col("n_events").cast("double") * 3600000.0
            / (col("last_ms") - col("first_ms")).cast("double"))
          .otherwise(lit(0.0)).as("events_per_hour"),
        (col("hwm_ms") - col("last_ms")).as("idle_ms"),
        (col("hwm_ms") - col("last_ms") > idleMs).as("idle"))
      .orderBy("topic")
  }

  def tableActivitySql(idleMs: Long = 3600000L): String =
    s"""WITH t AS (
       |  SELECT 'graft.public.' || event_type AS topic, epoch_ms(ts) AS ms FROM events),
       |a AS (
       |  SELECT topic, count(*) AS n_events, min(ms) AS first_ms, max(ms) AS last_ms
       |  FROM t GROUP BY topic),
       |h AS (SELECT *, max(last_ms) OVER () AS hwm_ms FROM a)
       |SELECT topic, n_events,
       |       epoch_ms(first_ms) AS first_ts, epoch_ms(last_ms) AS last_ts,
       |       CASE WHEN last_ms > first_ms
       |            THEN CAST(n_events AS DOUBLE) * 3600000.0 / CAST(last_ms - first_ms AS DOUBLE)
       |            ELSE 0.0 END AS events_per_hour,
       |       CAST(hwm_ms - last_ms AS BIGINT) AS idle_ms,
       |       hwm_ms - last_ms > $idleMs AS idle
       |FROM h ORDER BY topic""".stripMargin

  /** Salting advisor — the pre-materialize decision panel (the
    * [[graft.dedup.Dedup.blockingHealth]] pattern for the changelog
    * apply path): from the per-key change-count distribution, the exact
    * numbers that decide between `cdc_materialize_latest` and its salted
    * variant — key/event totals, mean and EXACT p99/max events-per-key
    * (read off the count-of-counts cumulative, never a global sort of
    * per-key rows), the max/mean skew ratio, and the recommended salt
    * factor ⌈max/target⌉ clamped to [1, 32] (integer ceiling — no float
    * boundary), where `target` is the per-task row budget a shuffle
    * partition should carry. recommended_salt = 1 means the plain
    * materializer is fine; > 1 is the salt count to pass.
    *
    * Scale shape: one map-side-combined per-key count, collapsed to
    * count-of-counts (bounded by distinct COUNT VALUES, not |keys|),
    * windows over that tiny table only, 1-row output. */
  def saltAdvisor(spark: SparkSession, dir: String,
                  targetPerTask: Long = 10000L): DataFrame =
    saltAdvisorFromPerKey(
      Cdc.changelog(spark, dir).groupBy("pk").agg(count(lit(1)).as("cnt")),
      targetPerTask)

  /** The advisor's decision tail over an arbitrary (pk, cnt) per-key
    * count table — shared with the streaming twin
    * ([[graft.streaming.StreamSaltAdvisor]]) so the two can never
    * diverge on the panel math. */
  private[graft] def saltAdvisorFromPerKey(
      perKey: DataFrame, targetPerTask: Long = 10000L): DataFrame = {
    val coc = perKey.groupBy("cnt").agg(count(lit(1)).as("n_keys"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("cnt")
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val ranked = coc
      .withColumn("cum_keys", sum(col("n_keys")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("total_keys", sum(col("n_keys")).over(tot))
      .withColumn("total_events", sum(col("cnt") * col("n_keys")).over(tot))
    val p99 = ranked
      .where(col("cum_keys") >=
        ceil(col("total_keys").cast("double") * 0.99).cast("long"))
      .agg(min(col("cnt")).as("p99_events_per_key"))
    ranked
      .agg(max(col("total_keys")).as("n_keys"),
        max(col("total_events")).as("n_events"),
        max(col("cnt")).as("max_events_per_key"))
      .crossJoin(broadcast(p99))
      .withColumn("mean_events_per_key",
        col("n_events").cast("double") / col("n_keys").cast("double"))
      .withColumn("skew_ratio",
        col("max_events_per_key").cast("double") / col("mean_events_per_key"))
      .withColumn("recommended_salt",
        least(greatest(
          expr(s"(max_events_per_key + ${targetPerTask - 1}L) DIV ${targetPerTask}L"),
          lit(1L)), lit(32L)))
      .select(col("n_keys"), col("n_events"), col("mean_events_per_key"),
        col("p99_events_per_key"), col("max_events_per_key"),
        col("skew_ratio"), col("recommended_salt"),
        (col("recommended_salt") > 1L).as("needs_salting"))
  }

  def saltAdvisorSql(targetPerTask: Long = 10000L): String =
    s"""${Cdc.changelogSql},
       |per_key AS (SELECT pk, count(*) AS cnt FROM changelog GROUP BY pk),
       |coc AS (SELECT cnt, count(*) AS n_keys FROM per_key GROUP BY cnt),
       |r AS (
       |  SELECT cnt, n_keys,
       |         sum(n_keys) OVER (ORDER BY cnt
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_keys,
       |         sum(n_keys) OVER () AS total_keys,
       |         sum(cnt * n_keys) OVER () AS total_events
       |  FROM coc),
       |p AS (
       |  SELECT min(cnt) AS p99_events_per_key FROM r
       |  WHERE cum_keys >= CAST(ceil(CAST(total_keys AS DOUBLE) * 0.99) AS BIGINT)),
       |s AS (
       |  SELECT CAST(max(total_keys) AS BIGINT) AS n_keys,
       |         CAST(max(total_events) AS BIGINT) AS n_events,
       |         CAST(max(cnt) AS BIGINT) AS max_events_per_key
       |  FROM r)
       |SELECT n_keys, n_events,
       |       CAST(n_events AS DOUBLE) / CAST(n_keys AS DOUBLE) AS mean_events_per_key,
       |       CAST(p99_events_per_key AS BIGINT) AS p99_events_per_key,
       |       max_events_per_key,
       |       CAST(max_events_per_key AS DOUBLE)
       |         / (CAST(n_events AS DOUBLE) / CAST(n_keys AS DOUBLE)) AS skew_ratio,
       |       least(greatest((max_events_per_key + ${targetPerTask - 1}) // $targetPerTask, 1), 32)
       |         AS recommended_salt,
       |       least(greatest((max_events_per_key + ${targetPerTask - 1}) // $targetPerTask, 1), 32) > 1
       |         AS needs_salting
       |FROM s, p""".stripMargin

  /** Hot-key concentration — how much of the change volume the top 1% of
    * keys carry. Computed SCALE-CORRECTLY through the count-of-counts
    * distribution: per-key counts collapse to (events_per_key →
    * n_keys_with_that_count) — a table bounded by the DISTINCT count
    * values, not by |keys| — and the top-1% share is read off its
    * cumulative tail with the boundary count level fractionally
    * attributed (exact integer arithmetic: ⌈0.01·n_keys⌉ keys). A naive
    * global row_number over per-key counts would single-task a
    * billion-key window at 100 TB; the count-of-counts window sorts a
    * few hundred rows. Complements [[partitionSkew]] (bucket-level) with
    * the key-level answer.
    *
    * Scale shape: one per-key aggregation (map-side combined), one
    * aggregation to count-of-counts, one tiny window. */
  def hotKeyShare(spark: SparkSession, dir: String): DataFrame = {
    val perKey = graft.Tables.load(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val coc = perKey.groupBy("cnt").agg(count(lit(1)).as("n_keys"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    coc
      .withColumn("keys_above", // keys at strictly hotter count levels
        coalesce(sum(col("n_keys")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("total_keys", sum(col("n_keys")).over(wAll))
      .withColumn("total_events", sum(col("cnt") * col("n_keys")).over(wAll))
      .withColumn("events_above",
        coalesce(sum(col("cnt") * col("n_keys")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("k_top", ceil(col("total_keys").cast("double") * 0.01).cast("long"))
      // the boundary level: include only the keys still needed to reach k_top
      .where(col("keys_above") < col("k_top"))
      .withColumn("take_here",
        least(col("n_keys"), col("k_top") - col("keys_above")))
      .groupBy(col("total_keys"), col("total_events"), col("k_top"))
      .agg(max(col("cnt")).as("hottest_count"),
        sum(col("take_here") * col("cnt")).as("top_events_raw"))
      .select(
        col("total_keys").as("n_keys"),
        col("total_events").as("n_events"),
        col("k_top").as("n_top_keys"),
        col("hottest_count").as("max_events_per_key"),
        col("top_events_raw").as("top_key_events"),
        (col("top_events_raw").cast("double") / col("total_events").cast("double"))
          .as("top_key_share"))
  }

  val hotKeyShareSql: String =
    """WITH per_key AS (
      |  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
      |coc AS (SELECT cnt, count(*) AS n_keys FROM per_key GROUP BY cnt),
      |cum AS (
      |  SELECT cnt, n_keys,
      |         coalesce(sum(n_keys) OVER (ORDER BY cnt DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS keys_above,
      |         sum(n_keys) OVER () AS total_keys,
      |         sum(cnt * n_keys) OVER () AS total_events
      |  FROM coc),
      |sel AS (
      |  SELECT *, CAST(ceil(CAST(total_keys AS DOUBLE) * 0.01) AS BIGINT) AS k_top,
      |         least(n_keys, CAST(ceil(CAST(total_keys AS DOUBLE) * 0.01) AS BIGINT) - keys_above) AS take_here
      |  FROM cum
      |  WHERE keys_above < CAST(ceil(CAST(total_keys AS DOUBLE) * 0.01) AS BIGINT))
      |SELECT CAST(max(total_keys) AS BIGINT) AS n_keys,
      |       CAST(max(total_events) AS BIGINT) AS n_events,
      |       CAST(max(k_top) AS BIGINT) AS n_top_keys,
      |       CAST(max(cnt) AS BIGINT) AS max_events_per_key,
      |       CAST(sum(take_here * cnt) AS BIGINT) AS top_key_events,
      |       CAST(sum(take_here * cnt) AS DOUBLE) / CAST(max(total_events) AS DOUBLE) AS top_key_share
      |FROM sel""".stripMargin

  val logLevelsSql: String =
    """WITH contract(severity, level) AS (
      |  VALUES (1, 'DEBUG'), (2, 'INFO'), (3, 'WARNING'), (4, 'ERROR'), (5, 'CRITICAL')),
      |observed AS (
      |  SELECT CASE WHEN event_type = 'error' THEN 'ERROR'
      |              WHEN event_type IN ('signup', 'purchase') THEN 'INFO'
      |              ELSE 'DEBUG' END AS level,
      |         count(*) AS n
      |  FROM events GROUP BY 1)
      |SELECT CAST(c.severity AS BIGINT) AS severity, c.level,
      |       coalesce(o.n, 0) AS n_logs
      |FROM contract c LEFT JOIN observed o ON c.level = o.level
      |ORDER BY severity""".stripMargin

  /** Wire-payload field discovery — per topic and envelope level (root /
    * after / before), every JSON key observed on the wire with its
    * presence rate: the semi-structured schema profile a CDC operator
    * reads when a producer starts emitting new fields (the payload-level
    * complement of cdc_schema_drift's table-DDL view). Because the wire
    * serializer omits null fields, presence is INFORMATIVE: deletes
    * carry `before` and no `after`, so the rates expose the op mix a
    * glance — a field present on 100% of one topic and 40% of another is
    * the drift this op exists to catch.
    *
    * Scale shape: key extraction is per-row JSON parsing (codegen'd
    * json_object_keys / get_json_object); one (topic, level, key)
    * aggregation bounded by the key domain, never the stream; per-topic
    * totals broadcast back. */
  def payloadProfile(spark: SparkSession, dir: String): DataFrame = {
    val wire = Cdc.toWire(spark, dir)
    // ONE pass over the wire serialization (r18, guide §2.3/§2.4): the
    // three per-level key explodes were three independent scan + spread +
    // to_json + json_object_keys branches under a union — the per-row
    // JSON work, this query's dominant cost, evaluated three times. One
    // explode of the concatenated (level, key) arrays evaluates it once.
    // Equivalence: union-of-explodes and explode-of-concat produce the
    // same (topic, level, key) multiset — a null key array contributes
    // zero rows in both forms (explode skips null/empty; coalesce keeps
    // concat null-safe). Measured interleaved at sf0.1: median
    // 1.46 → 1.24 s; at scale it is 3 serialization passes → 1.
    val empty = array().cast("array<struct<level:string,key:string>>")
    def lk(level: String, arr: Column): Column =
      coalesce(transform(arr, k => struct(lit(level).as("level"), k.as("key"))), empty)
    val keyed = wire.select(col("topic"), explode(concat(
        lk("root", expr("json_object_keys(value)")),
        lk("after", expr("json_object_keys(get_json_object(value, '$.after'))")),
        lk("before", expr("json_object_keys(get_json_object(value, '$.before'))"))))
        .as("lk"))
      .select(col("topic"), col("lk.level").as("level"), col("lk.key").as("key"))
    val totals = wire.groupBy("topic").agg(count(lit(1)).as("n_msgs"))
    keyed.groupBy("topic", "level", "key")
      .agg(count(lit(1)).as("n_present"))
      .join(broadcast(totals), "topic")
      .select(col("topic"), col("level"), col("key"), col("n_present"), col("n_msgs"),
        (col("n_present").cast("double") / col("n_msgs").cast("double")).as("presence"))
      .orderBy("topic", "level", "key")
  }

  /** The oracle recomputes the serializer's key semantics from the
    * events table (the repo's wire-oracle convention): to_json omits
    * null fields, so root carries exactly {source, op, ts_ms} plus
    * `before` for deletes / `after` otherwise, and the payload level
    * carries each record field iff it is non-null. */
  val payloadProfileSql: String =
    """WITH e AS (
      |  SELECT 'graft.public.' || event_type AS topic,
      |         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
      |         user_id, event_type, value
      |  FROM events),
      |rootk AS (
      |  SELECT topic, 'root' AS level,
      |         unnest(['source', 'op', 'ts_ms',
      |                 CASE WHEN op = 'd' THEN 'before' ELSE 'after' END]) AS key
      |  FROM e),
      |payk AS (
      |  SELECT topic, CASE WHEN op = 'd' THEN 'before' ELSE 'after' END AS level,
      |         unnest(CASE WHEN user_id IS NOT NULL THEN ['user_id'] ELSE []::VARCHAR[] END
      |             || CASE WHEN event_type IS NOT NULL THEN ['event_type'] ELSE []::VARCHAR[] END
      |             || CASE WHEN value IS NOT NULL THEN ['value'] ELSE []::VARCHAR[] END) AS key
      |  FROM e),
      |keyed AS (SELECT * FROM rootk UNION ALL SELECT * FROM payk),
      |tot AS (SELECT topic, count(*) AS n_msgs FROM e GROUP BY topic)
      |SELECT k.topic, k.level, k.key, count(*) AS n_present, t.n_msgs,
      |       CAST(count(*) AS DOUBLE) / CAST(t.n_msgs AS DOUBLE) AS presence
      |FROM keyed k JOIN tot t ON k.topic = t.topic
      |GROUP BY k.topic, k.level, k.key, t.n_msgs
      |ORDER BY k.topic, k.level, k.key""".stripMargin

  /** Column-level VALUE-distribution drift — per topic, the numeric
    * payload's mean/σ in the stream's early half vs its late half (split
    * at the exact millisecond midpoint of the observed span), with a
    * pooled-σ drift score: the data-quality monitor that catches a
    * producer silently changing units or clamping a column — invisible
    * to row-level `cdc_sample_compare` (values are "valid", just
    * differently distributed) and to schema/payload watches (the field
    * is present and typed). NULL drift when the pooled σ is zero (a
    * constant column's drift is undefined, not infinite — the
    * error-budget convention).
    *
    * Determinism: per-row values quantize to 2⁴⁰ integers before
    * summing (partition-order-free); means/variances are fixed-order
    * double expressions over those exact sums, the variance clamped at
    * zero before the sqrt. Scale shape: one ≤|topics×2|-key map-side-
    * combined aggregation, halves joined on the tiny topic key, span
    * bounds a 1-row broadcast. */
  def valueDrift(spark: SparkSession, dir: String): DataFrame = {
    val Q = 1099511627776.0
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_type").as("topic"), unix_millis(col("ts")).as("ms"), col("value"))
    val bounds = ev.agg(min(col("ms")).as("lo"), max(col("ms")).as("hi"))
    val stats = ev.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("ms") * 2 <= col("lo") + col("hi"), lit("early")).otherwise(lit("late")))
      .groupBy("topic", "half")
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("value") * Q).cast("long").cast(DecimalType(38, 0))).as("s1"),
        sum(floor(col("value") * col("value") * Q).cast("long").cast(DecimalType(38, 0))).as("s2"))
      .select(col("topic"), col("half"), col("n"),
        (col("s1").cast("double") / Q / col("n")).as("mean"),
        greatest(
          col("s2").cast("double") / Q / col("n")
            - (col("s1").cast("double") / Q / col("n"))
            * (col("s1").cast("double") / Q / col("n")),
          lit(0.0)).as("variance"))
    val e = stats.where(col("half") === "early")
      .select(col("topic"), col("n").as("n_early"), col("mean").as("mean_early"),
        col("variance").as("var_early"))
    val l = stats.where(col("half") === "late")
      .select(col("topic"), col("n").as("n_late"), col("mean").as("mean_late"),
        col("variance").as("var_late"))
    e.join(l, Seq("topic"), "full")
      .select(col("topic"),
        coalesce(col("n_early"), lit(0L)).as("n_early"),
        coalesce(col("n_late"), lit(0L)).as("n_late"),
        col("mean_early"), col("mean_late"),
        when(col("n_early").isNotNull && col("n_late").isNotNull,
          sqrt((col("var_early") * col("n_early") + col("var_late") * col("n_late"))
            / (col("n_early") + col("n_late")))).as("pooled_sigma"))
      .withColumn("drift_z",
        when(col("pooled_sigma") > 0.0,
          abs(col("mean_late") - col("mean_early")) / col("pooled_sigma")))
      .orderBy("topic")
  }

  val valueDriftSql: String =
    """WITH ev AS (
      |  SELECT event_type AS topic, epoch_ms(ts) AS ms, value FROM events),
      |b AS (SELECT min(ms) AS lo, max(ms) AS hi FROM ev),
      |stats AS (
      |  SELECT topic,
      |         CASE WHEN ms * 2 <= lo + hi THEN 'early' ELSE 'late' END AS half,
      |         count(*) AS n,
      |         sum(CAST(floor(value * 1099511627776.0) AS BIGINT)) AS s1,
      |         sum(CAST(floor(value * value * 1099511627776.0) AS BIGINT)) AS s2
      |  FROM ev CROSS JOIN b
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT topic, half, n,
      |         CAST(s1 AS DOUBLE) / 1099511627776.0 / n AS mean,
      |         greatest(
      |           CAST(s2 AS DOUBLE) / 1099511627776.0 / n
      |             - (CAST(s1 AS DOUBLE) / 1099511627776.0 / n)
      |             * (CAST(s1 AS DOUBLE) / 1099511627776.0 / n),
      |           0.0) AS variance
      |  FROM stats),
      |e AS (SELECT topic, n AS n_early, mean AS mean_early, variance AS var_early
      |      FROM m WHERE half = 'early'),
      |l AS (SELECT topic, n AS n_late, mean AS mean_late, variance AS var_late
      |      FROM m WHERE half = 'late'),
      |j AS (
      |  SELECT coalesce(e.topic, l.topic) AS topic,
      |         coalesce(e.n_early, 0) AS n_early, coalesce(l.n_late, 0) AS n_late,
      |         e.mean_early, l.mean_late,
      |         CASE WHEN e.n_early IS NOT NULL AND l.n_late IS NOT NULL
      |              THEN sqrt((e.var_early * e.n_early + l.var_late * l.n_late)
      |                        / (e.n_early + l.n_late)) END AS pooled_sigma
      |  FROM e FULL JOIN l ON e.topic = l.topic)
      |SELECT topic, n_early, n_late, mean_early, mean_late, pooled_sigma,
      |       CASE WHEN pooled_sigma > 0.0
      |            THEN abs(mean_late - mean_early) / pooled_sigma END AS drift_z
      |FROM j ORDER BY topic""".stripMargin
}
