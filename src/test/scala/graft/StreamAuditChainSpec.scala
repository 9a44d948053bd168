package graft

import graft.cdc.{Cdc, Monitoring}
import graft.streaming.StreamAuditChain
import graft.streaming.StreamAuditChain.Config
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** StreamAuditChain — streamed ≡ batch parity for the tamper-evident
  * hash chain on an in-order replay, replay idempotency, and the
  * tamper-detection property the chain exists for.
  */
class StreamAuditChainSpec extends AnyFunSuite {
  import TestSpark.{spark, dir}

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("audit-chain").toString

  private def cfg() = Config(wirePath = "unused", statePath = tmp(), checkpointPath = "unused")

  // chunk by the CHAIN order (t, seq) so batches respect each key's link
  // order — the in-order contract a seq-ordered CDC wire delivers
  private def chunks(n: Int) = {
    val cl = Cdc.changelog(spark, dir)
      .withColumn("t", unix_millis(col("ts")))
    val w = org.apache.spark.sql.expressions.Window.orderBy("t", "seq")
    val ranked = cl.withColumn("rn", row_number().over(w))
    val total = ranked.count()
    (0 until n).map { i =>
      ranked.where(col("rn") > i * total / n && col("rn") <= (i + 1) * total / n)
        .drop("t", "rn")
    }
  }

  private def streamed(c: Config, lastBatch: Long) =
    StreamAuditChain.chains(spark, c, lastBatch).collect().map(_.toString)

  private def batchOp() =
    Monitoring.auditChain(Cdc.changelog(spark, dir))
      .orderBy("user_id").collect().map(_.toString)

  test("3-chunk in-order replay reproduces the batch chain heads bit-for-bit") {
    val c = cfg()
    chunks(3).zipWithIndex.foreach { case (b, i) =>
      StreamAuditChain.monitorBatch(spark, c, b, i.toLong)
    }
    val s = streamed(c, 2L)
    val b = batchOp()
    assert(b.nonEmpty && s.toSeq == b.toSeq,
      "incremental fold over stored heads must equal the full re-fold")
  }

  test("at-least-once replay of a batch rebuilds the same snapshot (no double-fold)") {
    val c = cfg()
    val bs = chunks(2)
    StreamAuditChain.monitorBatch(spark, c, bs(0), 0L)
    StreamAuditChain.monitorBatch(spark, c, bs(1), 1L)
    val before = streamed(c, 1L)
    StreamAuditChain.monitorBatch(spark, c, bs(1), 1L) // failure-recovery redelivery
    assert(streamed(c, 1L).toSeq == before.toSeq,
      "snapshot N derives from snapshot N-1, so replaying N converges")
    assert(streamed(c, 1L).toSeq == batchOp().toSeq)
  }

  test("tampering with one already-folded link flips that key's head and only that key's") {
    val c1 = cfg(); val c2 = cfg()
    val bs = chunks(2)
    // pick a real key from batch 0 and corrupt ONE of its links
    val victim = bs(0).select("pk").limit(1).collect()(0).getLong(0)
    val tampered = bs(0).withColumn("value",
      when(col("pk") === victim && col("seq") === bs(0)
        .where(col("pk") === victim).agg(min("seq")).collect()(0).getLong(0),
        col("value") + 1.0).otherwise(col("value")))
    StreamAuditChain.monitorBatch(spark, c1, bs(0), 0L)
    StreamAuditChain.monitorBatch(spark, c1, bs(1), 1L)
    StreamAuditChain.monitorBatch(spark, c2, tampered, 0L)
    StreamAuditChain.monitorBatch(spark, c2, bs(1), 1L)
    val clean = StreamAuditChain.chains(spark, c1, 1L).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val dirty = StreamAuditChain.chains(spark, c2, 1L).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(clean.keySet == dirty.keySet)
    assert(clean(victim) != dirty(victim),
      "an edited link must flip the key's final head even after later batches fold on top")
    assert((clean - victim) == (dirty - victim),
      "every untouched key's head is unaffected — replicas diff by |keys| hashes")
  }

  test("start over the wire folds the envelopes' changelog to the batch chain heads") {
    val base = tmp()
    val c = Config(s"$base/wire", s"$base/state", s"$base/ckpt")
    graft.sources.WireSource.publish(spark, dir, c.wirePath)
    // the fixture's wire files all fit one trigger: batch 0, in order
    TestSpark.drain(StreamAuditChain.start(spark, c))
    assert(streamed(c, 0L).toSeq == batchOp().toSeq)
  }
}
