package graft

import graft.dedup.Dedup
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicLong

/** The bounded (session, dir) memo behind every shared build: eviction
  * per session, the admit race, and engine-wide eviction. */
class SharedBuildsSpec extends AnyFunSuite {
  import TestSpark.{dir, spark}

  // distinct odd ranges: the cache manager matches frames by plan, so a
  // frame must not share its plan with any other frame cached in the JVM
  private def frame(n: Long): DataFrame = spark.range(n * 1000 + 7).toDF("id")

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("a new dir evicts and unpersists the session's old dir, not another session's") {
    val memo = new SharedBuilds.Owner().frames()
    val other = spark.newSession()
    var builds = 0
    def admit(s: org.apache.spark.sql.SparkSession, d: String, n: Long): DataFrame =
      memo(s, d) { builds += 1; frame(n) }
    val old = admit(spark, "d1", 11)
    val otherOld = admit(other, "d1", 12)
    assert(cached(old) && cached(otherOld))
    assert(admit(spark, "d1", 99) eq old, "a hit must return the memoized frame")
    assert(builds === 2)
    val next = admit(spark, "d2", 13)
    assert(cached(next))
    assert(!cached(old), "the session's old-dir frame must be unpersisted")
    assert(cached(otherOld), "another session's entry must stay")
    assert(admit(other, "d1", 99) eq otherOld)
    assert(builds === 3)
    memo.clear(spark)
    memo.clear(other)
    assert(!cached(next) && !cached(otherOld))
  }

  test("two racing admits return one frame and unpersist the loser") {
    val memo = new SharedBuilds.Owner().frames()
    var winner: DataFrame = null
    val loser = frame(21)
    // the outer build admits the same key before it returns, so its own
    // putIfAbsent finds the entry taken — exactly a lost race
    val got = memo(spark, "race") {
      winner = memo(spark, "race")(frame(22))
      loser
    }
    assert(got eq winner)
    assert(cached(winner))
    assert(!cached(loser), "the losing build must be unpersisted")
    memo.clear(spark)
    assert(!cached(winner))
  }

  test("SharedBuilds.clear leaves none of the memoized shared builds cached") {
    val frames = SharedBuilds.all.map { case (n, fn) =>
      val df = fn(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      n -> df
    }
    val memoized = frames.filter { case (_, df) => cached(df) }.map(_._1)
    assert(Seq("norm_corpus", "minhash_signatures", "verified_pairs",
      "decoded_images", "decoded_audio", "mad_exact").forall(memoized.contains),
      s"memoized builds: $memoized")
    SharedBuilds.clear(spark)
    val still = frames.filter { case (_, df) => cached(df) }.map(_._1)
    assert(still.isEmpty, s"still cached after clear: $still")
  }

  test("Dedup.clearMemos evicts the containment scheme decision") {
    def jobs(body: => Unit): Long = {
      val n = new AtomicLong
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try { body; ListenerBusDrain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    val scheme = Dedup.containmentBlockingScheme(spark, dir)
    assert(jobs(Dedup.containmentBlockingScheme(spark, dir)) === 0L,
      "a memoized decision must not run a job")
    Dedup.clearMemos(spark)
    var again = ""
    assert(jobs { again = Dedup.containmentBlockingScheme(spark, dir) } >= 1L,
      "after clearMemos the scheme must be priced again")
    assert(again === scheme)
  }
}
