package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 pins: `pqRerankFused`, Ann's unregistered counter-example,
  * must be output-identical to the registered form (both end in the same
  * exact-L2 top-k — only the plan shape differs), so the A/B adjudicates
  * COST, never correctness. */
class Round17Spec extends AnyFunSuite {
  import TestSpark.{spark, dir}

  test("pqRerankFused is row-identical to the registered pqRerank") {
    val a = graft.similarity.Ann.pqRerank(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("l2sq")))
    val b = graft.similarity.Ann.pqRerankFused(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("l2sq")))
    assert(a.toSeq === b.toSeq,
      "the fused-carry variant must produce the identical exact rerank")
  }

  test("the registered pqRerank never carries raw vectors through the ADC exchanges") {
    // the A/B's scale argument, pinned: the registered plan's shuffles
    // exchange codes only — raw vectors are fetched solely for the
    // bounded shortlist. Formatted mode prints each Exchange node's
    // Input attribute list; `embedding` appearing there means the
    // 256-byte payload rode the shuffle.
    val inputRe = "\\(\\d+\\) Exchange\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]".r
    // The carried vector crosses the exchange either under its column
    // name or as an aggregation buffer attribute whose Input-list name is
    // the bare `first#NN` — the embedding linkage is only visible on the
    // upstream HashAggregate's Functions line (`partial_first(embedding#…`).
    // Anchored to THOSE buffer ids, not any first#NN (ADVICE r17): a
    // legitimate future first() over a scalar column must not trip the pin.
    def exchangeInputsAndVectorBufs(
        df: org.apache.spark.sql.DataFrame): (List[String], Set[String]) = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val inputs = inputRe.findAllMatchIn(txt).map(_.group(1)).toList
      val bufRe = ("Functions \\[\\d+\\]: \\[[^\\n]*first\\(embedding#[^\\n]*\\n" +
        "Aggregate Attributes \\[\\d+\\]: \\[([^\\]]*)\\]").r
      val bufs = bufRe.findAllMatchIn(txt)
        .flatMap(m => "[A-Za-z_]+#\\d+".r.findAllIn(m.group(1))).toSet
      (inputs, bufs)
    }
    def carriesVector(in: String, vectorBufs: Set[String]): Boolean =
      in.contains("embedding") || vectorBufs.exists(b =>
        (java.util.regex.Pattern.quote(b) + "(?![0-9])").r.findFirstIn(in).isDefined)
    val (fused, fusedBufs) =
      exchangeInputsAndVectorBufs(graft.similarity.Ann.pqRerankFused(spark, dir))
    assert(fusedBufs.nonEmpty,
      "detector sanity: the fused plan must show a first(embedding) buffer")
    assert(fused.exists(carriesVector(_, fusedBufs)),
      "detector sanity: the fused-carry variant by construction ships " +
        "embeddings through an exchange")
    val (registered, regBufs) =
      exchangeInputsAndVectorBufs(graft.similarity.Ann.pqRerank(spark, dir))
    assert(registered.nonEmpty, "expected the ADC aggregation exchanges")
    registered.foreach { in =>
      assert(!carriesVector(in, regBufs),
        s"raw vectors must not ride an ADC exchange: $in")
    }
  }
}
