package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one meter behind `DevTools work`: the totals are those of the
  * measured work's own stages.
  * Review rule for Work.scala (not asserted here): no Thread.sleep — the
  * bus is drained with waitUntilEmpty, never slept on or polled. */
class WorkSpec extends AnyFunSuite {
  import TestSpark._

  test("Work.measure: a zero-shuffle query reports 0 shuffle bytes and " +
    "records, a groupBy query more than 0") {
    val (_, none) = Work.measure(spark)(
      spark.range(10000).selectExpr("id * 2 AS v")
        .write.mode("overwrite").format("noop").save())
    assert(none.shuffleBytes === 0L && none.shuffleRecords === 0L, none)
    assert(none.runs.isEmpty)
    val (_, grouped) = Work.measure(spark)(
      spark.range(10000).selectExpr("id % 7 AS k", "id AS v")
        .groupBy("k").sum("v").write.mode("overwrite").format("noop").save())
    assert(grouped.shuffleBytes > 0L && grouped.shuffleRecords > 0L, grouped)
  }
}
