package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Each query's generated code is compiled once per JVM: the session's
  * generated-code cache holds the benchmark mix, and no stage in it
  * generates code that differs on every construction. */
class CodegenReuseSpec extends AnyFunSuite {
  import TestSpark.{spark, dir}

  test("the session sizes Spark's generated-code cache as documented") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "8192")
  }

  test("a warm round of the benchmark query mix compiles no class") {
    // graftbench's query_mix: the ops and corpus queries it shuffles
    val mix = Seq(
      "cdc_event_counts", "cdc_status_board", "cdc_materialize_latest", "cdc_parse_envelope",
      "ann_ivf_topk", "dedup_blocking_health", "text_doc_freq", "mm_video_decode",
      "q_mad_approx_gate")
    def pass(): Map[String, Long] = mix.map { q =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      q -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }.toMap
    pass() // cold
    // Adaptive execution numbers a query's codegen stages in the order it
    // creates them at run time, and the number is part of the generated
    // code, so a query whose independent stages finish in varying order
    // meets an unseen numbering now and then (dedup_blocking_health
    // compiled 6, 2, 2 and 2 classes in warm passes 2, 5, 6 and 7 of one
    // run, 0 in the others). The variants run out; a thrashing cache or
    // code that changes per construction compiles in every pass.
    val compiling = Iterator.fill(8)(pass().filter(_._2 != 0L)).takeWhile(_.nonEmpty).toVector
    assert(compiling.length < 8, s"classes compiled per query, per warm pass: $compiling")
  }
}
