package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** Session-scoped reuse of shared intermediate builds (the normalized
  * corpus, minhash signatures, decode-once tables, …): one bounded memo
  * per build, keyed by (session, dir).
  *
  * Policy, the same for every build:
  *  - admitting a new dir for a session evicts that session's other dirs,
  *    so a long-lived session sweeping many data dirs (bench across scale
  *    factors) holds at most one dir's worth of executor storage per
  *    build, not all of them forever;
  *  - frames are `.cache()`d on admit and `unpersist()`ed on evict;
  *  - two racing admits keep the first entry and evict the loser.
  *
  * The memo assumes the files under `dir` are immutable for the session's
  * lifetime (true for the test corpora); a mutable source would need
  * invalidation.
  *
  * Each module declares its memos through one [[Owner]], so the module's
  * `clearMemos` evicts everything it declared with no hand-kept list.
  * [[all]] is the engine-wide list of attributed builds that Bench and
  * Profile force under `shared:<name>` lines before timing the registry;
  * [[clear]] is the eviction InvarianceSweep runs between layouts.
  */
object SharedBuilds {

  /** One bounded (session, dir) memo. `admit` runs on a fresh build
    * before it is offered to the map; `evict` runs on every value that
    * leaves it (dir eviction, clear, or a lost admit race). */
  final class Memo[V] private[SharedBuilds] (admit: V => V, evict: V => Unit) {
    private val entries = TrieMap[(SparkSession, String), V]()

    def apply(spark: SparkSession, dir: String)(build: => V): V =
      entries.getOrElse((spark, dir), {
        entries.keys.filter(k => (k._1 eq spark) && k._2 != dir)
          .foreach(k => entries.remove(k).foreach(evict))
        val v = admit(build)
        entries.putIfAbsent((spark, dir), v) match {
          case Some(existing) => evict(v); existing
          case None => v
        }
      })

    /** Evict every entry of `spark`; other sessions' entries stay. */
    def clear(spark: SparkSession): Unit =
      entries.keys.filter(_._1 eq spark)
        .foreach(k => entries.remove(k).foreach(evict))
  }

  /** A module's memos: declare each through [[frames]] or [[values]],
    * then [[clear]] evicts all of them for a session. */
  final class Owner {
    private val memos = new java.util.concurrent.CopyOnWriteArrayList[Memo[_]]()

    private def declare[V](m: Memo[V]): Memo[V] = { memos.add(m); m }

    /** A memo of cached frames. */
    def frames(): Memo[DataFrame] = declare(new Memo[DataFrame](_.cache(), _.unpersist()))

    /** A memo of plain driver-side values (nothing to cache or release). */
    def values[V](): Memo[V] = declare(new Memo[V](identity, _ => ()))

    def clear(spark: SparkSession): Unit = memos.forEach(_.clear(spark))
  }

  /** Every attributed shared build, in dependency order: the dedup corpus
    * chain, the multimodal decode tables, then the sketch gates' exact
    * side. Each entry's time is its marginal cost over the entries before
    * it. */
  def all: Seq[(String, (SparkSession, String) => DataFrame)] =
    graft.dedup.Dedup.sharedBuilds ++
      graft.multimodal.Decoded.sharedBuilds ++
      graft.analytics.SketchGates.sharedBuilds

  /** Drop (and unpersist) every memoized build for `spark` — for harnesses
    * that re-run the registry under a changed execution layout on ONE
    * session. Without it, memoized builds materialize once under the first
    * layout and are merely re-read afterwards. */
  def clear(spark: SparkSession): Unit = {
    graft.dedup.Dedup.clearMemos(spark)
    graft.multimodal.Decoded.clearMemos(spark)
    graft.analytics.SketchGates.clearMemos(spark)
  }
}
