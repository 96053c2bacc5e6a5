package graft

import graft.plans.EnrichPipeline
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EnrichPipelineSpec extends AnyFunSuite {
  import TestSpark._

  /** Scans of the orders table: parquet relations rooted at
    * `orders.parquet`. */
  private def ordersScans(p: LogicalPlan): Seq[LogicalRelation] =
    p.collectWithSubqueries {
      case l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _)
          if r.location.rootPaths.exists(_.getName == "orders.parquet") => l
    }
  private def rdds(p: LogicalPlan): Seq[LogicalRDD] =
    p.collectWithSubqueries { case r: LogicalRDD => r }

  test("e2e chain: regression over the enrichment recovers the planted betas") {
    import graft.ml.{E2eChain, OlsPipeline}
    val beta = E2eChain.fitBeta(spark, sf)
    // label = 3·ratio − 200·price₁₀₀ₖ + 50·isOther + U(−5,5): the fit over
    // the ENRICHED features must recover the construction. Tolerances are
    // per-coefficient standard errors at the sf0.001 spec data: ratio has
    // a ~0.1 spread (25 nation values near 0.5) → se(b1) ≈ 3; price and
    // the indicator are well identified.
    assert(math.abs(beta(1) - 3.0) < 9.0, s"b1=${beta(1)}")
    assert(math.abs(beta(2) + 200.0) < 5.0, s"b2=${beta(2)}")
    assert(math.abs(beta(3) - 50.0) < 5.0, s"b3=${beta(3)}")
    // the x3 indicator must VARY in training (the singular-gram regression
    // guard: the rare tail is on %50, the forecast mask on %10=3)
    val (train, _) = OlsPipeline.keySplit(
      E2eChain.dataset(spark, sf).filter(col("label").isNotNull),
      "o_orderkey", 123)
    val x3s = train.agg(sum(col("x3")), count(lit(1))).collect()(0)
    assert(x3s.getDouble(0) > 0 && x3s.getDouble(0) < x3s.getLong(1))
    val out = SparkEntry.queries("q_e2e")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => !r.getAs[Double]("calibrated_forecast").isNaN))
  }

  test("e2e enrich chain is one fused lineage; query reads ONE checkpoint") {
    // the ENRICH chain itself must stay one fused plan reaching the
    // orders parquet scan directly — no per-stage barriers inside it
    val pd = graft.ml.E2eChain.dataset(spark, sf).queryExecution.optimizedPlan
    assert(ordersScans(pd).nonEmpty, pd.toString.take(2000))
    assert(rdds(pd).isEmpty, "per-stage barrier inside enrich")
    // the QUERY materializes that chain exactly once (the r20 lazy
    // localCheckpoint replacing cache — it truncates the enrich lineage
    // for the gram/forecast/calibration consumers), so the returned
    // frame's plan reads the single checkpointed frame, not a re-derived
    // enrich tree
    val p = SparkEntry.queries("q_e2e")(spark, sf).queryExecution.optimizedPlan
    assert(rdds(p).nonEmpty, p.toString.take(2000))
    assert(ordersScans(p).isEmpty, "q_e2e re-derived the enrich chain " +
      "instead of reading its one checkpoint: " + p.toString.take(2000))
  }

  test("chain fuses to one plan with pushed filters (no per-stage barriers)") {
    val full = EnrichPipeline.pipe(
      Tables.orders(spark, sf), EnrichPipeline.stages(spark, sf))
    val plan = full.queryExecution.executedPlan.toString
    // the date filter written in stage 5 must reach the orders scan
    assert(plan.contains("PushedFilters") &&
      plan.contains("o_orderdate"), plan.take(800))
  }

  test("stages are individually applicable and order-sensitive where documented") {
    val base = Tables.orders(spark, sf)
    val ss = EnrichPipeline.stages(spark, sf)
    val afterGeo = ss.head.apply(base)
    assert(afterGeo.columns.contains("region_id"))
    // every order maps to a region (grid covers the synthetic point space)
    assert(afterGeo.filter(col("region_id").isNull).count() === 0)
  }

  test("end-to-end profile is non-empty and rare status coalesced") {
    val out = SparkEntry.queries("q_enrich_pipeline")(spark, sf).collect()
    assert(out.nonEmpty)
    val statuses = out.map(_.getString(1)).toSet
    // the derived '*_rare' variants (~0.7% share) must fold into Other
    assert(!statuses.exists(_.endsWith("_rare")), s"statuses=$statuses")
    assert(statuses.contains("Other"))
    assert(statuses.intersect(Set("O", "F", "P")).nonEmpty)
  }
}
