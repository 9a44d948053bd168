package graft.gbench

/** Pure helpers behind the reported numbers; covered by StatsChecks. */
object Stats {

  /** Nearest-rank percentile of `xs` (p in 1..100). */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 1 && p <= 100, s"percentile($p) of ${xs.length} samples")
    val s = xs.sorted
    s(math.ceil(p / 100.0 * s.length).toInt - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile that leaves at least `beyond` samples
    * above its nearest-rank position: 80 for 50 samples, 90 for 100. None
    * when even the median would leave fewer (under 2 × `beyond` samples). */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)

  /** Failed operations as a share of attempted ones. Every attempt counts
    * once: an operation that throws and one whose output mismatches its
    * reference are both failures. */
  final case class Tally(attempted: Int = 0, failed: Int = 0) {
    def record(ok: Boolean): Tally = Tally(attempted + 1, failed + (if (ok) 0 else 1))
    def failedShare: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted
  }

  /** Order-independent result fingerprint, as graft.InvarianceSweep
    * computes it: row count plus MD5 over the sorted row strings. */
  def fingerprint(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    s"${rows.length}:${md.digest().map("%02x".format(_)).mkString}"
  }

  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int) {
    def layer: String = name.takeWhile(_ != '.')
    def duration: Long = end - start
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.duration - covered)
    }.toMap
  }

  /** Self time summed per layer (the span name's prefix before the dot). */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}
