package graft

import graft.dedup.Dedup
import graft.text.TextFunctions.normText
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Growth checks for the data-chosen dedup blocking switches, on
  * in-process ×f replicas of the test corpus. Every word of a replica
  * carries the replica id, so replicas share no token and true near-dup
  * mass grows linearly with f: candidate volume then measures the
  * blocking. Per-doc candidates may grow at most √f from ×1 to ×f — the
  * geometric midpoint between linear (1) and quadratic (f) growth.
  */
class ScaleSwitchSpec extends AnyFunSuite {
  import TestSpark.{spark, dir}

  private def replicas(f: Int): DataFrame =
    Tables.load(spark, dir, "documents")
      .crossJoin(spark.range(f).select(col("id").as("rep")))
      .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1r"), col("rep"))).as("text"))

  private def assertSubQuadratic(f: Int, perDoc: Seq[Double]): Unit =
    assert(perDoc(1) <= math.sqrt(f) * perDoc(0),
      s"per-doc candidates grew ${perDoc(0)} -> ${perDoc(1)} at corpus x$f")

  test("simhash banding: under 20 candidates per doc, sub-quadratic growth x1 -> x4") {
    // through the registered path (the replicas become a corpus dir, and
    // the dedup corpus plants its fixed share of copies in each replica).
    // sf0.001: 0.91 -> 1.28 per doc; with 8-bit band keys ×1 reads 118
    val perDoc = Seq(1, 4).map { f =>
      val d = java.nio.file.Files.createTempDirectory("scale-switch").toString
      replicas(f).write.parquet(s"$d/documents.parquet")
      val fps = Dedup.simhashFingerprints(spark, d)
      val (n, c) = (fps.count(), Dedup.simhashCandidates(fps).count())
      assert(c <= 20L * n, s"x$f: $c candidates over $n docs")
      c.toDouble / n
    }
    assertSubQuadratic(4, perDoc)
  }

  test("containment: an exact prefix scheme within its 2048/doc budget, x1 -> x10") {
    // sf0.001: prefix_filter at both factors, 137.5 -> 138.0 per doc
    val perDoc = Seq(1, 10).map { f =>
      val corpus = replicas(f).select(col("doc_id"), normText(col("text")).as("t")).cache()
      val n = corpus.count()
      val scheme = Dedup.containmentSchemeOf(corpus)
      assert(scheme.startsWith("prefix"), s"x$f chose $scheme")
      val c = Dedup.prefixCandidateIdsOf(corpus, if (scheme == "prefix_filter") 5 else 10).count()
      corpus.unpersist()
      assert(c <= 2048L * n, s"x$f: $c candidates over $n docs")
      c.toDouble / n
    }
    assertSubQuadratic(10, perDoc)
  }
}
