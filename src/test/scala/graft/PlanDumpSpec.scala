package graft

import org.scalatest.funsuite.AnyFunSuite

/** PlanDump writes diffable dumps: a query re-planned over rebuilt shared
  * builds (fresh expression, RDD and exchange ids) dumps the same text.
  * Both plans start from cleared builds, since a join's strategy follows
  * the sizes of whatever builds are already cached. */
class PlanDumpSpec extends AnyFunSuite {
  import TestSpark.{spark, dir}

  test("two dumps of dedup_cluster are identical across a SharedBuilds.clear") {
    def dump(): String = { SharedBuilds.clear(spark); PlanDump.planText(spark, dir, "dedup_cluster") }
    assert(dump() == dump())
  }
}
