package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 additions: the hash-aggregable argmax ([[graft.functions.MaxByHash]])
  * that replaces `max(struct(...))` in the latest-row materializers, and the
  * plan-shape contract that motivated it (ObjectHashAggregate, never a
  * grouped SortAggregate).
  */
class Round12Spec extends AnyFunSuite {
  import TestSpark.{spark, dir}
  import spark.implicits._

  private def changelog = Seq(
    // (pk, ts, seq, op, value)
    (1L, 10L, 1L, "c", "a"),
    (1L, 20L, 2L, "u", "b"),
    (1L, 20L, 3L, "u", "c"), // ts tie broken by seq
    (2L, 10L, 4L, "c", "x"),
    (2L, 30L, 5L, "d", "y"),
    (3L, 5L, 6L, "c", "only")
  ).toDF("pk", "ts", "seq", "op", "value")

  test("graft_max_by picks the row with the greatest ordering key (ties by seq)") {
    val df = changelog
    val out = df.groupBy("pk")
      .agg(GraftFunctions.maxByCol(df,
        struct(col("op"), col("value")), struct(col("ts"), col("seq"))).as("last"))
      .select(col("pk"), col("last.op").as("op"), col("last.value").as("value"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out == Map(1L -> ("u", "c"), 2L -> ("d", "y"), 3L -> ("c", "only")))
  }

  test("graft_min_by is the reverse ordering") {
    val df = changelog
    val out = df.groupBy("pk")
      .agg(GraftFunctions.minByCol(df, col("value"), struct(col("ts"), col("seq"))).as("first"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "x", 3L -> "only"))
  }

  test("graft_max_by skips null ordering keys; all-null group yields null") {
    val df = Seq[(Long, java.lang.Long, String)](
      (1L, null, "skipme"), (1L, 5L, "keep"), (2L, null, "gone"))
      .toDF("pk", "ts", "value")
    val out = df.groupBy("pk")
      .agg(GraftFunctions.maxByCol(df, col("value"), col("ts")).as("v"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(1L -> Some("keep"), 2L -> None))
  }

  test("graft_max_by partials merge across partitions (serialize round trip)") {
    // 4 input partitions force partial buffers through serialize/merge;
    // the result must equal the single-pass answer.
    val df = changelog.repartition(4)
    val out = df.groupBy("pk")
      .agg(GraftFunctions.maxByCol(df, col("value"), struct(col("ts"), col("seq"))).as("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "c", 2L -> "y", 3L -> "only"))
  }

  test("graft_max_by agrees with max(struct(ord, value)) on the changelog tables") {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id").as("pk"), col("ts"), col("event_id").as("seq"),
        col("event_type").as("value"))
    val viaStruct = ev.groupBy("pk")
      .agg(max(struct(col("ts"), col("seq"), col("value"))).as("m"))
      .select(col("pk"), col("m.value").as("v"))
    val viaMaxBy = ev.groupBy("pk")
      .agg(GraftFunctions.maxByCol(ev, col("value"), struct(col("ts"), col("seq"))).as("v"))
    assert(viaStruct.exceptAll(viaMaxBy).isEmpty && viaMaxBy.exceptAll(viaStruct).isEmpty)
  }

  test("latest-row materializers plan ObjectHashAggregate, never grouped SortAggregate") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def aggs(p: org.apache.spark.sql.execution.SparkPlan): (Int, Int, Int) = {
      val self = p match {
        case _: ObjectHashAggregateExec => (1, 0, 0)
        case s: SortAggregateExec if s.groupingExpressions.nonEmpty => (0, 1, 0)
        case _: InMemoryTableScanExec => (0, 0, 1)
        case _ => (0, 0, 0)
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case other => other.children
      }
      kids.map(aggs).foldLeft(self) { case ((a, b, c), (d, e, f)) => (a + d, b + e, c + f) }
    }
    for (name <- Seq("cdc_materialize_latest", "cdc_materialize_composite",
        "cdc_materialize_salted", "cdc_conflict_resolve", "q_first_last", "q_mode")) {
      val (oha, sa, mem) = aggs(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
      assert(sa == 0, s"$name plans a grouped SortAggregate")
      // in the full suite an earlier spec may have cached this exact
      // subtree — CacheManager then serves an InMemoryTableScan and the
      // aggregate node legitimately disappears from the plan
      assert(oha > 0 || mem > 0,
        s"$name should plan ObjectHashAggregate for the argmax (or read a cached subtree)")
    }
  }

  test("audio re-upload clip ids never collide with real doc ids") {
    val rows = graft.multimodal.Binary.audioFingerprintDedup(spark, dir)
      .select("id_a", "id_b").collect()
    val maxDoc = Tables.load(spark, dir, "documents")
      .agg(max(col("doc_id"))).collect()(0).getLong(0)
    val ids = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val reuploads = ids.filter(_ > maxDoc)
    assert(reuploads.nonEmpty, "corpus should contain re-uploads above max(doc_id)")
    assert(reuploads.forall(id => (id - maxDoc - 1) % 9 == 0 && (id - maxDoc - 1) <= maxDoc),
      "re-upload ids are exactly doc_id + max(doc_id)+1 for doc_id % 9 == 0")
  }

  test("browse limits clamp at 0 (empty page, reference semantics) instead of throwing") {
    import graft.cdc.Monitoring
    // limit <= 0 used to reach DataFrame.limit(negative) and throw. The
    // application-logs endpoint's plain min(limit, 50) makes limit=0 an
    // EMPTY page (api.py:10260) — but the replication-events family
    // (api.py:8842) guards with `min(limit, 1000) if limit else 100`,
    // where 0 is FALSY and falls back to the default 100-row page
    // (r13 advisory; Round14Spec pins the positive case). Negative limits
    // are out-of-contract on both and floor at 0.
    assert(Monitoring.eventBrowseSeek(spark, dir, limit = 0).count() ==
      Monitoring.eventBrowseSeek(spark, dir, limit = 100).count())
    assert(Monitoring.eventBrowse(spark, dir, limit = -5).count() == 0L)
    assert(Monitoring.logBrowse(spark, dir, limit = 0).count() == 0L)
  }

  test("containment blocking is data-chosen: exact prefix on the native corpora") {
    // the oracle (brute-force containment join) is valid only on the
    // lossless path — this pin guarantees the driver-gated corpora
    // always price within budget and stay exact
    assert(graft.dedup.Dedup.containmentBlockingScheme(spark, dir) == "prefix_filter")
  }

  test("containment blocking escalates off the k5 prefix filter on a closed-vocab corpus") {
    // 40 docs × 25 word-shuffled replicas over a 30-word vocabulary:
    // every k=5 shingle's df scales with the replica count, so the k=5
    // prefix workload crosses any reasonable per-doc budget, while the
    // chosen path's candidates stay bounded.
    val vocab = (0 until 30).map(i => s"w${i}x${i % 7}abc")
    val base = (0 until 40).map { d =>
      (d.toLong, (0 until 40).map(j => vocab((d * 13 + j * 7) % 30)).mkString(" "))
    }
    val corpus = base.toDF("doc_id", "text")
      .crossJoin(spark.range(25).select(col("id").as("rep")))
      .select((col("doc_id") * 1000 + col("rep")).as("doc_id"),
        concat_ws(" ", transform(
          array_sort(transform(split(col("text"), " "),
            w => struct(md5(concat(w, col("rep").cast("string"))).as("k"), w.as("w")))),
          s => s.getField("w"))).as("t"))
      .cache()
    val n = corpus.count()
    val k5Hits = graft.dedup.Dedup.prefixWorkloadHitsOf(corpus, 5)
    assert(k5Hits / n > 2048, s"corpus must flood the k5 budget (got ${k5Hits / n}/doc)")
    val scheme = graft.dedup.Dedup.containmentSchemeOf(corpus)
    assert(scheme != "prefix_filter", s"must escalate off the flooding k5 path (chose $scheme)")
    if (scheme == "prefix_k10") {
      val cands = graft.dedup.Dedup.prefixCandidateIdsOf(corpus, 10).count()
      assert(cands < k5Hits / 4,
        s"escalated path must be far below the k5 flood ($cands vs $k5Hits)")
    }
    corpus.unpersist()
  }

  test("default cluster path converges on a 5-hop chain (fixpoint, not 3 rounds)") {
    // chain 10-11-12-13-14-15: diameter 5 — the r11 3-round default
    // under-merged this shape silently; the fixpoint default must put
    // all six nodes under label 10
    val edges0 = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L))
      .toDF("id_a", "id_b")
    val edges = edges0.unionAll(edges0.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val ids = (10L to 15L).toDF("doc_id")
    val labels = graft.dedup.Dedup.propagateLabels(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (10L to 15L).map(_ -> 10L).toMap)
    // and a diameter > maxRounds graph fails LOUDLY instead of under-merging
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainEdges = chain.unionAll(chain.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val chainIds = (0L to 30L).toDF("doc_id")
    intercept[IllegalArgumentException] {
      graft.dedup.Dedup.propagateLabels(chainIds, chainEdges, maxRounds = 3)
    }
    // fixpoint on random graphs agrees with the union-find-verified
    // large-star twin through the REGISTERED operators
    val a = SparkEntry.queries("dedup_cluster")(spark, dir)
    val b = SparkEntry.queries("dedup_cluster_lss")(spark, dir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "dedup_cluster (fixpoint propagation) must equal dedup_cluster_lss (large-star)")
  }

  test("advised materializer: salt 1 on the uniform corpus, salted on hot keys") {
    import graft.cdc.{Cdc, Materialize}
    // uniform corpus: ~10 events/key, far under targetPerTask → the
    // advisor picks salt 1 and the plan IS the plain materializer's
    val cl = Cdc.changelog(spark, dir)
    val advised = Materialize.latestSnapshotAdvised(cl)
    val plain = Materialize.latestSnapshot(cl)
    def shape(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#_")
    assert(shape(advised) == shape(plain),
      "uniform corpus must take the unsalted topology")
    // hot-key changelog: one key absorbs 25k changes → salt fires, and
    // the salted result still equals the plain materializer exactly
    val hot = spark.range(25000).select(
      lit("u").as("op"), lit(1L).as("pk"),
      timestamp_millis(lit(1700000000000L) + col("id")).as("ts"),
      col("id").as("seq"), (col("id") % 97).cast("double").as("value"))
    val hotAdvised = Materialize.latestSnapshotAdvised(hot, targetPerTask = 1000L)
    val hotPlain = Materialize.latestSnapshot(hot)
    def shape2(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#_")
    assert(shape2(hotAdvised) != shape2(hotPlain),
      "hot-key changelog must take the salted topology")
    assert(hotAdvised.exceptAll(hotPlain).isEmpty && hotPlain.exceptAll(hotAdvised).isEmpty,
      "the advised topology must not change the materialized state")
    // Zipf-skewed changelog: the hot key holds ~10% of 20k events (ts
    // ties, deletes), past the 1000/task target → salted, same rows
    val zipf = TestSpark.zipfChangelog(20000L, 1000L, seed = 7L)
    val zipfAdvised = Materialize.latestSnapshotAdvised(zipf, targetPerTask = 1000L)
    val zipfPlain = Materialize.latestSnapshot(zipf)
    assert(shape2(zipfAdvised) != shape2(zipfPlain),
      "Zipf-skewed changelog must take the salted topology")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(rows(zipfAdvised) == rows(zipfPlain),
      "the advised topology must not change the materialized state under skew")
  }

  test("paragraph dedup: injected exact copies are fully duplicated") {
    // the %7 exact-copy injection (doc_id + 1M, identical text) repeats
    // every paragraph of its base doc, so the copy must appear with
    // dup_share == 1.0; bases that appear before their copy never do
    val rows = graft.dedup.Dedup.paragraphDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dup_paragraphs"), r.getAs[Long]("n_paragraphs"),
          r.getAs[Double]("dup_share"))).toMap
    val copies = Tables.load(spark, dir, "documents")
      .where(col("doc_id") % 7 === 0).select("doc_id")
      .collect().map(_.getLong(0) + 1000000L)
    assert(copies.nonEmpty)
    copies.foreach { id =>
      val (dup, n, share) = rows.getOrElse(id,
        fail(s"exact copy $id missing from the paragraph-dedup report"))
      assert(dup == n && share == 1.0, s"copy $id must be fully duplicated")
    }
  }

  test("dedup corpus injection offsets cannot collide with real doc ids") {
    // the +1M/+2M injection constants (and the `% 1M` original-id
    // recovery several operators and oracles share) are sound only
    // while max(doc_id) < 1M — pin it on every test scale
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val m = Tables.load(spark, s"/root/testdata/$sf", "documents")
        .agg(max(col("doc_id"))).collect()(0).getLong(0)
      assert(m < 1000000L, s"$sf: max doc_id $m breaks the injection id space")
    }
  }

  test("graft_sorted_common64 rejects null elements instead of undercounting") {
    val df = Seq((Array[java.lang.Long](1L, null, 3L), Array[java.lang.Long](1L, 2L, 3L)))
      .toDF("a", "b")
    GraftFunctions.register(spark)
    val ex = intercept[Exception] {
      df.select(call_function("graft_sorted_common64", col("a"), col("b"))).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: rootMessages(e.getCause))
    assert(rootMessages(ex).exists(m => m != null && m.contains("null array element")))
  }
}
