package graft

import graft.cdc.Monitoring
import graft.similarity.Ann
import graft.text.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics checks for the round-8 operator batch. */
class Round8Spec extends AnyFunSuite {
  import TestSpark.{spark, dir}

  test("consumer lag: offsets partition the stream and lag is exactly the sub-horizon tail") {
    val rows = Monitoring.consumerLag(spark, dir).collect()
    val ev = Tables.load(spark, dir, "events")
    assert(rows.map(_.getAs[Long]("end_offset")).sum === ev.count())
    rows.foreach { r =>
      val committed = r.getAs[Long]("committed_offset")
      val end = r.getAs[Long]("end_offset")
      val lag = r.getAs[Long]("lag")
      assert(lag === end - committed)
      assert(lag >= 0 && committed >= 0)
      assert(r.getAs[String]("group_id") ===
        "connect-sink-" + r.getAs[String]("topic").stripPrefix("graft.public."))
    }
    // recompute one partition's lag from the raw events: the messages
    // newer than the hour horizon against the stream's own high-water mark
    val hwm = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
    val first = rows.head
    val et = first.getAs[String]("topic").stripPrefix("graft.public.")
    val p = first.getAs[Long]("partition")
    val expectLag = ev
      .where(col("event_type") === et && (col("user_id") % 4).cast("long") === p)
      .where(lit(hwm) - unix_millis(col("ts")) < 3600000L)
      .count()
    assert(first.getAs[Long]("lag") === expectLag)
  }

  test("pii redact: zero-hit documents pass through byte-identical") {
    val red = TextFunctions.piiRedact(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
    assert(red.size === docs.length)
    docs.foreach { d =>
      val r = red(d.getAs[Long]("doc_id"))
      val text = d.getAs[String]("text")
      assert(r.getAs[Long]("orig_chars") === text.length.toLong)
      if (r.getAs[Long]("n_email_hits") == 0 && r.getAs[Long]("n_digit_hits") == 0) {
        assert(r.getAs[Long]("redacted_chars") === text.length.toLong)
        assert(r.getAs[String]("redacted_head") === text.take(80))
      }
    }
  }

  test("pii redact: emails go before digit runs and placeholders land exactly") {
    import spark.implicits._
    val rows = Seq(
      (1L, "mail bob.smith+x@corp-mail.example then call 5551234 now"),
      (2L, "card 1234567890123456 pin 99 ok"),
      (3L, "clean text with short 123 numbers only"),
      (4L, "a@b.co and 0000")
    ).toDF("doc_id", "text")
    val out = TextFunctions.piiRedactOf(rows).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // email replaced FIRST: its digits never count as a digit run
    assert(out(1L).getAs[Long]("n_email_hits") === 1L)
    assert(out(1L).getAs[Long]("n_digit_hits") === 1L)
    assert(out(1L).getAs[String]("redacted_head") ===
      "mail <EMAIL> then call <NUM> now".take(80))
    assert(out(2L).getAs[Long]("n_digit_hits") === 1L)
    assert(out(2L).getAs[String]("redacted_head") === "card <NUM> pin 99 ok")
    // sub-threshold digits survive untouched
    assert(out(3L).getAs[Long]("n_digit_hits") === 0L)
    assert(out(3L).getAs[Long]("redacted_chars") === out(3L).getAs[Long]("orig_chars"))
    assert(out(4L).getAs[String]("redacted_head") === "<EMAIL> and <NUM>")
  }

  test("ivf occupancy: shares sum to one, load factors average to one, populations match the build") {
    val occ = Ann.ivfOccupancy(spark, dir).collect()
    val total = Tables.load(spark, dir, "embeddings").count()
    assert(occ.map(_.getAs[Long]("n_vectors")).sum === total)
    assert(math.abs(occ.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    assert(math.abs(occ.map(_.getAs[Double]("load_factor")).sum - occ.length.toDouble) < 1e-9)
    val build = Ann.ivfBuild(spark, dir).collect()
      .map(r => r.getAs[Long]("label") -> r.getAs[Long]("n_vectors")).toMap
    occ.foreach(r => assert(build(r.getAs[Long]("label")) === r.getAs[Long]("n_vectors")))
  }

  test("lsn latency trend: positions are monotone, the gap telescopes to the horizon window") {
    val rows = Monitoring.lsnLatencyTrend(spark, dir).collect()
    assert(rows.length > 6)
    val src = rows.map(_.getAs[Long]("source_lsn"))
    assert(src.zip(src.tail).forall { case (a, b) => a <= b })
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("lsn_gap") ===
        r.getAs[Long]("source_lsn") - r.getAs[Long]("processed_lsn"))
      assert(r.getAs[Long]("n_pending") >= r.getAs[Long]("n_arrived"))
      // processed is exactly the source position six buckets back
      if (i >= 6) assert(r.getAs[Long]("processed_lsn") === src(i - 6))
      else assert(r.getAs[Long]("processed_lsn") === 0L)
    }
    // trailing-hour pending is the sum of the last 6 buckets' arrivals
    val arr = rows.map(_.getAs[Long]("n_arrived"))
    rows.zipWithIndex.foreach { case (r, i) =>
      val lo = math.max(0, i - 5)
      assert(r.getAs[Long]("n_pending") === arr.slice(lo, i + 1).sum)
    }
  }

  test("load order: a valid topological order with the TPC-H dependency depths") {
    val rows = graft.cdc.Discovery.loadOrder(spark, dir).collect()
      .map(r => r.getAs[String]("table_name") -> r).toMap
    assert(rows.size === Tables.all.size)
    val level = rows.view.mapValues(_.getAs[Long]("load_level")).toMap
    // every dependency loads strictly before its dependent
    rows.values.foreach { r =>
      val deps = r.getAs[String]("depends_on")
      if (deps.nonEmpty) deps.split(",").foreach { d =>
        assert(level(d) < level(r.getAs[String]("table_name")))
      }
    }
    // the TPC-H chain: region -> nation -> customer/supplier -> orders -> lineitem
    assert(level("region") === 0L && level("part") === 0L && level("events") === 0L)
    assert(level("nation") === 1L)
    assert(level("customer") === 2L && level("supplier") === 2L)
    assert(level("orders") === 3L && level("lineitem") === 4L)
    assert(rows("lineitem").getAs[String]("depends_on") === "orders,part,supplier")
  }

  test("size estimate: counts match the tables and the fixed-width table is exact") {
    val est = graft.cdc.Discovery.sizeEstimate(spark, dir).collect()
      .map(r => r.getAs[String]("table_name") -> r).toMap
    assert(est.size === Tables.all.size)
    Tables.all.foreach { t =>
      assert(est(t).getAs[Long]("n_rows") === Tables.load(spark, dir, t).count())
      assert(est(t).getAs[Long]("n_chunks") >= 1L)
    }
    // embeddings is entirely fixed-width under the model: 8 + 4*64 + 4
    val e = est("embeddings")
    assert(e.getAs[Long]("est_bytes") === e.getAs[Long]("n_rows") * (8L + 4L * 64 + 4L))
    // chunk plan covers the bytes at 16 MB per chunk
    est.values.foreach { r =>
      val chunks = r.getAs[Long]("n_chunks")
      val bytes = r.getAs[Long]("est_bytes")
      assert(chunks * 16L * 1024 * 1024 >= bytes)
      assert((chunks - 1) * 16L * 1024 * 1024 < bytes || chunks == 1L)
    }
  }

  test("offset-lag duality: sink backlog equals source retention under the shared horizon") {
    // consumer lag (sink view) and slot retention (source view) model the
    // same horizon-behind consumer — per topic, the messages the sink has
    // not committed ARE the messages the source must retain
    val lagByTable = Monitoring.consumerLag(spark, dir).collect()
      .groupBy(_.getAs[String]("topic").stripPrefix("graft.public."))
      .view.mapValues(_.map(_.getAs[Long]("lag")).sum).toMap
    val retained = Monitoring.slotRetention(spark, dir).collect()
      .map(r => r.getAs[String]("slot_name").stripPrefix("graft_slot_") ->
        r.getAs[Long]("n_retained")).toMap
    assert(lagByTable.keySet === retained.keySet)
    lagByTable.foreach { case (t, lag) => assert(lag === retained(t), s"table $t") }
  }

  test("slot retention: retained + flushed partition each slot's stream, bytes bound below") {
    val slots = Monitoring.slotRetention(spark, dir).collect()
    val ev = Tables.load(spark, dir, "events")
    val perType = ev.groupBy("event_type").count().collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
    val hwm = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
    slots.foreach { r =>
      val t = r.getAs[String]("slot_name").stripPrefix("graft_slot_")
      val retained = r.getAs[Long]("n_retained")
      val flushed = ev.where(col("event_type") === t &&
        lit(hwm) - unix_millis(col("ts")) >= 3600000L).count()
      assert(retained + flushed === perType(t))
      assert(r.getAs[Boolean]("active") === (retained > 0))
      // every retained message carries at least the envelope overhead
      assert(r.getAs[Long]("retained_bytes") >= retained * 64L)
      if (flushed > 0) assert(r.getTimestamp(3) != null)
    }
  }

  test("lang coverage: curve is monotone, ends at full coverage, shares partition the tokens") {
    val rows = TextFunctions.langCoverage(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to rows.length).toSeq)
    val cums = rows.map(_.getAs[Double]("cum_coverage"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b + 1e-12 })
    assert(math.abs(cums.last - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getAs[Double]("token_share")).sum - 1.0) < 1e-9)
    // ranked by volume: token counts never increase down the curve
    val toks = rows.map(_.getAs[Long]("n_tokens"))
    assert(toks.zip(toks.tail).forall { case (a, b) => a >= b })
  }

  test("sq8 build: quantizer params reproduce the search path's inline stats exactly") {
    val build = Ann.sq8Build(spark, dir).collect()
    val emb = Tables.load(spark, dir, "embeddings")
    val dims = emb.select(size(col("embedding"))).distinct().collect()(0).getInt(0)
    assert(build.length === dims)
    build.foreach { r =>
      val (lo, hi) = (r.getAs[Double]("lo"), r.getAs[Double]("hi"))
      assert(lo <= hi)
      assert(r.getAs[Double]("scale") === (hi - lo) / 255.0)
      assert(r.getAs[Boolean]("degenerate") === (lo == hi))
    }
    // exact parity with an in-memory min/max of dimension 0 — the codes
    // are only portable if build and search see these exact doubles
    val xs = emb.select(element_at(col("embedding"), 1).cast("double")).collect()
      .map(_.getDouble(0))
    assert(build.head.getAs[Double]("lo") === xs.min)
    assert(build.head.getAs[Double]("hi") === xs.max)
  }

  test("centroid separation: symmetric distances, min below mean, full pair coverage") {
    val rows = Ann.centroidSeparation(spark, dir).collect()
    val k = rows.length
    rows.foreach { r =>
      assert(r.getAs[Long]("n_others") === (k - 1).toLong)
      assert(r.getAs[Double]("min_dist") > 0.0)
      assert(r.getAs[Double]("min_dist") <= r.getAs[Double]("mean_dist") + 1e-12)
      assert(r.getAs[Long]("nearest_label") !== r.getAs[Long]("label"))
    }
    // nearest relation is built from a symmetric distance: if b is a's
    // nearest at distance d, then b's own min_dist can't exceed d
    val minD = rows.map(r => r.getAs[Long]("label") -> r.getAs[Double]("min_dist")).toMap
    rows.foreach { r =>
      assert(minD(r.getAs[Long]("nearest_label")) <= r.getAs[Double]("min_dist") + 1e-12)
    }
  }

  private def wireBatch(rows: Seq[(String, Long)]) = {
    import spark.implicits._
    rows.toDF("table_name", "uid")
      .select(
        concat(lit("graft.public."), col("table_name")).as("topic"),
        col("table_name"),
        struct(col("uid").as("user_id")).as("after"),
        lit(null).cast("struct<user_id:bigint>").as("before"))
  }

  test("streaming consumer lag: committed trails by one batch, lag is exactly the batch's arrivals") {
    import graft.streaming.ConsumerLag
    val base = java.nio.file.Files.createTempDirectory("conslag").toString
    val c = ConsumerLag.Config(s"$base/wire", s"$base/state", s"$base/ckpt")
    // batch 0: 3 orders msgs in partition 1 (uid%4), 1 in partition 2
    ConsumerLag.monitorBatch(spark, c,
      wireBatch(Seq(("orders", 1L), ("orders", 5L), ("orders", 9L), ("orders", 2L))), 0L)
    val b0 = ConsumerLag.lag(spark, c).where(col("batch_id") === 0L).collect()
      .map(r => r.getAs[Long]("partition") -> r).toMap
    assert(b0(1L).getAs[Long]("committed_offset") === 0L)
    assert(b0(1L).getAs[Long]("end_offset") === 3L)
    assert(b0(1L).getAs[Long]("lag") === 3L)
    assert(b0(2L).getAs[Long]("end_offset") === 1L)
    assert(b0.values.forall(_.getAs[String]("group_id") === "connect-sink-orders"))
    // batch 1: 2 more in partition 1, none in partition 2 — the quiet
    // partition still reports, with zero lag
    ConsumerLag.monitorBatch(spark, c,
      wireBatch(Seq(("orders", 13L), ("orders", 17L))), 1L)
    val b1 = ConsumerLag.lag(spark, c).where(col("batch_id") === 1L).collect()
      .map(r => r.getAs[Long]("partition") -> r).toMap
    assert(b1(1L).getAs[Long]("committed_offset") === 3L)
    assert(b1(1L).getAs[Long]("end_offset") === 5L)
    assert(b1(1L).getAs[Long]("lag") === 2L)
    assert(b1(2L).getAs[Long]("committed_offset") === 1L)
    assert(b1(2L).getAs[Long]("lag") === 0L)
    // replaying batch 1 is idempotent: same rows, nothing double-counted
    val before = ConsumerLag.lag(spark, c).collect().map(_.toString).sorted
    ConsumerLag.monitorBatch(spark, c,
      wireBatch(Seq(("orders", 13L), ("orders", 17L))), 1L)
    val after = ConsumerLag.lag(spark, c).collect().map(_.toString).sorted
    assert(after === before)
  }

  test("streaming consumer lag: start over the wire reports what batch 0 over the same rows does") {
    import graft.streaming.ConsumerLag
    val base = java.nio.file.Files.createTempDirectory("conslag-start").toString
    val c = ConsumerLag.Config(s"$base/wire", s"$base/state", s"$base/ckpt")
    graft.sources.WireSource.publish(spark, dir, c.wirePath)
    TestSpark.drain(ConsumerLag.start(spark, c))
    val direct = c.copy(statePath = s"$base/direct")
    ConsumerLag.monitorBatch(spark, direct,
      graft.sources.WireSource.readBatch(spark, c.wirePath), 0L)
    def rows(cfg: ConsumerLag.Config) = ConsumerLag.lag(spark, cfg).collect().map(_.toString).toSeq
    assert(rows(direct).nonEmpty && rows(c) === rows(direct))
  }

  test("audio decode: the WAV container round trip reproduces the closed-form waveform") {
    val rows = graft.multimodal.Binary.audioDecode(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val nDocs = Tables.load(spark, dir, "documents").count()
    assert(rows.size === nDocs)
    rows.values.foreach { r =>
      assert(r.getAs[Int]("sample_rate") === 8000)
      assert(r.getAs[Int]("channels") === 1)
      assert(r.getAs[Long]("min_pcm") >= -32768L && r.getAs[Long]("max_pcm") <= 32767L)
    }
    // recompute three documents' aggregates straight from the sample
    // formula — decoded bytes must reproduce them exactly
    rows.keys.toSeq.sorted.take(3).foreach { id =>
      val n = (id % 480 + 160).toInt
      val samples = (0 until n).map(i => (id * 31 + i * 17) % 65536 - 32768)
      val r = rows(id)
      assert(r.getAs[Long]("n_samples") === n.toLong)
      assert(r.getAs[Long]("sum_pcm") === samples.sum)
      assert(r.getAs[Long]("min_pcm") === samples.min)
      assert(r.getAs[Long]("max_pcm") === samples.max)
    }
  }

  test("audio stats: energy and zero crossings from decoded bytes match the waveform formula") {
    val stats = graft.multimodal.Binary.audioStats(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(stats.size === Tables.load(spark, dir, "documents").count())
    stats.keys.toSeq.sorted.take(3).foreach { id =>
      val n = (id % 480 + 160).toInt
      val samples = (0 until n).map(i => (id * 31 + i * 17) % 65536 - 32768)
      val r = stats(id)
      assert(r.getAs[Long]("sum_sq") === samples.map(s => s * s).sum)
      val crossings = samples.sliding(2).count { case Seq(a, b) => (a >= 0) != (b >= 0) }
      assert(r.getAs[Long]("n_zero_cross") === crossings.toLong)
      assert(math.abs(r.getAs[Double]("rms") -
        math.sqrt(samples.map(s => s * s).sum.toDouble / n)) < 1e-12)
    }
  }

  test("object-store sink: connector layout, flush.size rotation, lossless roundtrip") {
    import graft.sinks.ObjectStoreSink
    val base = java.nio.file.Files.createTempDirectory("s3sink").toString
    val wire = graft.cdc.Cdc.toWire(spark, dir)
    val n = wire.count()
    ObjectStoreSink.write(wire, base, partitions = 4, flushSize = 10)
    // layout: topics/<topic>/partition=<p> directories exist
    val topicsDir = new java.io.File(s"$base/topics")
    val topicDirs = topicsDir.listFiles().filter(_.isDirectory)
    assert(topicDirs.nonEmpty && topicDirs.forall(_.getName.startsWith("topic=")))
    topicDirs.foreach { td =>
      assert(td.listFiles().filter(_.isDirectory).forall(_.getName.startsWith("partition=")))
    }
    // roundtrip: nothing lost, values intact
    val back = ObjectStoreSink.read(spark, base)
    assert(back.count() === n)
    assert(back.select("offset", "value").except(wire.select("offset", "value")).count() === 0L)
    assert(wire.select("offset", "value").except(back.select("offset", "value")).count() === 0L)
    // rotation: no object holds more than flush.size records
    val manifest = ObjectStoreSink.manifest(spark, base).collect()
    assert(manifest.nonEmpty)
    manifest.foreach(r => assert(r.getAs[Long]("n_records") <= 10L))
    assert(manifest.map(_.getAs[Long]("n_records")).sum === n)
    // every (topic, partition) cell is a real directory in the layout
    manifest.foreach { r =>
      val p = r.getAs[Number]("partition").longValue
      val d = new java.io.File(
        s"$base/topics/topic=${r.getAs[String]("topic")}/partition=$p")
      assert(d.isDirectory)
    }
  }

  test("streaming object-store landing: same layout, exactly-once manifest, nothing lost") {
    import graft.sinks.ObjectStoreSink
    val base = java.nio.file.Files.createTempDirectory("s3stream").toString
    graft.sources.WireSource.publish(spark, dir, s"$base/wire")
    val wire = graft.cdc.Cdc.toWire(spark, dir)
    val q = ObjectStoreSink.startStream(spark, s"$base/wire", base, s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    // the streaming sink reads back ONLY through its committed manifest
    val back = spark.read.json(s"$base/topics")
    assert(back.count() === wire.count())
    assert(back.select("offset", "value").except(wire.select("offset", "value")).count() === 0L)
    val manifest = ObjectStoreSink.manifest(spark, base).collect()
    manifest.foreach(r => assert(r.getAs[Long]("n_records") <= 10L))
    assert(manifest.map(_.getAs[Long]("n_records")).sum === wire.count())
  }

  test("dim quantiles: ordered bounds per dimension and an exact median spot-check") {
    val q = Ann.dimQuantiles(spark, dir).collect()
    val emb = Tables.load(spark, dir, "embeddings")
    val nVec = emb.count()
    val dims = emb.select(size(col("embedding"))).distinct().collect().map(_.getInt(0))
    assert(dims.length === 1 && q.length === dims.head)
    q.foreach { r =>
      assert(r.getAs[Long]("n") === nVec)
      val (p01, p50, p99) = (r.getAs[Double]("p01"), r.getAs[Double]("p50"), r.getAs[Double]("p99"))
      assert(p01 <= p50 && p50 <= p99)
      assert(r.getAs[Double]("clip_range") === p99 - p01)
    }
    // exact interpolated median of dimension 0, recomputed in memory
    val xs = emb.select(element_at(col("embedding"), 1).cast("double")).collect()
      .map(_.getDouble(0)).sorted
    val idx = (xs.length - 1) * 0.5
    val (lo, hi) = (xs(idx.toInt), xs(math.ceil(idx).toInt))
    val expected = lo + (idx - idx.toInt) * (hi - lo)
    assert(math.abs(q.head.getAs[Double]("p50") - expected) < 1e-12)
  }
}
