package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** `Materialize.planOnly` is the plan tests' one seam: every cut made in
  * it is the identity, on this thread only, and only until it exits. */
class MaterializeSpec extends AnyFunSuite {
  import TestSpark._

  private def cuts(df: DataFrame): Int =
    df.queryExecution.logical.collect { case r: LogicalRDD => r }.size

  private def small: DataFrame = spark.range(10).toDF("id")

  test("inside planOnly the span mask plan has no checkpoint, outside ≥ 2") {
    val corpus = Dedup.corpus(spark, sf)
    assert(cuts(Materialize.planOnly(Dedup.spanMaskOf(corpus))) === 0)
    assert(cuts(Dedup.spanMaskOf(corpus)) >= 2)
  }

  test("planOnly is off again after a body that throws") {
    val e = intercept[IllegalStateException](
      Materialize.planOnly(throw new IllegalStateException("boom")))
    assert(e.getMessage === "boom")
    assert(cuts(Materialize.lazily(small)) === 1)
  }

  test("planOnly is not seen by another thread") {
    var seen = -1
    Materialize.planOnly {
      assert(cuts(Materialize.lazily(small)) === 0)
      val t = new Thread(() => seen = cuts(Materialize.lazily(small)))
      t.start()
      t.join()
    }
    assert(seen === 1)
  }
}
