package graft.gbench

import graft.gbench.Stats._

/** Checks for the benchmark's own helpers. Run with
  * `python3 graftbench/run.py --check`; exits non-zero on any failure. */
object StatsChecks {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    // percentile rule
    check("nearest-rank percentile") {
      val xs = (1 to 100).map(_.toDouble)
      percentile(xs, 90) == 90.0 && percentile(xs, 100) == 100.0 && percentile(xs.reverse, 1) == 1.0
    }
    check("median is the lower middle for an even count") { median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0 }
    check("tail percentile: p80 for 50 samples, p90 for 100, p99 for 1000") {
      tailPercentile(50).contains(80) && tailPercentile(100).contains(90) && tailPercentile(1000).contains(99)
    }
    check("tail percentile: none below 20 samples, p50 at 20") {
      tailPercentile(19).isEmpty && tailPercentile(20).contains(50)
    }
    check("tail percentile: at least 10 samples beyond, and the next percentile up leaves fewer") {
      (20 to 600).forall { n =>
        val p = tailPercentile(n).get
        def beyond(q: Int) = n - math.ceil(q / 100.0 * n).toInt
        beyond(p) >= 10 && (p == 99 || beyond(p + 1) < 10)
      }
    }

    // failed_share accounting
    check("tally counts every attempt once and every failure once") {
      val t = Seq(true, true, false, true).foldLeft(Tally())(_.record(_))
      t.attempted == 4 && t.failed == 1 && t.failedShare == 0.25
    }
    check("a run with no attempts reports everything failed") { Tally().failedShare == 1.0 }
    check("all failures give share 1") { Seq(false, false).foldLeft(Tally())(_.record(_)).failedShare == 1.0 }

    // fingerprint stability
    val rows = Seq("[1,a,2.5]", "[2,b,null]", "[3,c,0.1]")
    check("fingerprint ignores row order") {
      rows.permutations.map(fingerprint).toSet.size == 1
    }
    check("fingerprint is count plus MD5 of the sorted rows") {
      fingerprint(Seq("b", "a")) == s"2:${md5Hex("ab")}"
    }
    check("fingerprint changes with any row or with a duplicated row") {
      val f = fingerprint(rows)
      f != fingerprint(rows.updated(1, "[2,b,0.0]")) && f != fingerprint(rows :+ rows.head)
    }
    check("fingerprint of no rows is stable") { fingerprint(Nil) == s"0:${md5Hex("")}" }

    // span self-time arithmetic
    val spans = Seq(
      Span(1, "run", 0, 100, 0),
      Span(2, "Pipeline.apply", 10, 30, 1),
      Span(3, "sinks.read_live", 20, 50, 1), // overlaps its sibling: counted once
      Span(4, "sinks.upsert", 60, 70, 1),
      Span(5, "sinks.snapshot", 62, 66, 4))
    val self = selfTimes(spans)
    check("self time subtracts the union of the children") { self(1) == 100 - 40 - 10 }
    check("a leaf's self time is its duration") { self(2) == 20 && self(3) == 30 && self(5) == 4 }
    check("only direct children are subtracted") { self(4) == 10 - 4 }
    check("a child reaching outside its parent is clipped") {
      selfTimes(Seq(Span(1, "a.x", 10, 20, 0), Span(2, "b.y", 15, 40, 1)))(1) == 5
    }
    check("without overlap, self times by layer add up to the root's duration") {
      val byLayer = selfTimeByLayer(spans.filterNot(_.id == 3))
      byLayer == Map("run" -> 70, "Pipeline" -> 20, "sinks" -> 10) && byLayer.values.sum == 100
    }

    // the per-layer list a traced run prints is the one BENCHMARK.json declares
    check("Main.layerUnits matches BENCHMARK.json's per_layer names and units") {
      val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("BENCHMARK.json")), "UTF-8")
      val perLayer = json.substring(json.indexOf("\"per_layer\""))
      val declared = "\"name\": \"([^\"]+)\", \"unit\": \"([^\"]+)\"".r
        .findAllMatchIn(perLayer).map(m => m.group(1) -> m.group(2)).toSeq
      declared == Main.layerUnits
    }

    println(if (failures == 0) "all checks passed" else s"$failures checks failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
