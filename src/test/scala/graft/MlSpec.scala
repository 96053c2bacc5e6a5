package graft

import graft.ml.{OlsPipeline, ZScaler}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MlSpec extends AnyFunSuite {
  import TestSpark._

  test("feature matrix: slots read back from the vector are unit one-hots") {
    val rows = SparkEntry.queries("q_feature_matrix")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val oh = (0 to 3).map(i => r.getDouble(r.fieldIndex(s"oh_$i")))
      assert(oh.sum === 1.0)               // exactly one category fires
      assert(oh(3) === 0.0)                // __unknown never on seen data
      // the hot slot is the indexed category
      assert(oh(r.getLong(r.fieldIndex("flag_idx")).toInt) === 1.0)
    }
  }

  test("M1 z-scaler round-trips: inverse(transform(x)) == x") {
    val df = Tables.customer(spark, sf).select("c_custkey", "c_acctbal")
    val m = ZScaler.fit(df, Seq("c_acctbal"))
    val round =
      m.inverse(m.transform(df), "c_acctbal", "c_acctbal")
        .withColumnRenamed("c_acctbal", "back")
        .join(df, "c_custkey")
        .withColumn("diff", abs(col("back") - col("c_acctbal")))
        .agg(max("diff")).collect()(0).getDouble(0)
    assert(round < 1e-9)
  }

  test("M3 seeded split: fractions ~75/25 and deterministic") {
    val ds = OlsPipeline.dataset(spark, sf).filter(col("label").isNotNull)
    val Array(a1, b1) = ds.randomSplit(Array(0.75, 0.25), seed = 123)
    val Array(a2, _) = ds.randomSplit(Array(0.75, 0.25), seed = 123)
    val (na, nb) = (a1.count(), b1.count())
    val frac = na.toDouble / (na + nb)
    assert(frac > 0.70 && frac < 0.80)
    assert(a2.count() === na) // same seed → same membership
  }

  test("keySplit membership is identical across partition layouts") {
    val ds = OlsPipeline.dataset(spark, sf).filter(col("label").isNotNull)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("l_orderkey", "l_partkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (t1, e1) = OlsPipeline.keySplit(ds, "l_orderkey", seed = 123)
    val (t2, e2) = OlsPipeline.keySplit(ds.repartition(13), "l_orderkey", 123)
    assert(ids(t1) === ids(t2)) // randomSplit would fail this
    assert(ids(e1) === ids(e2))
    val frac = t1.count().toDouble / (t1.count() + e1.count())
    assert(frac > 0.70 && frac < 0.80)
  }

  test("LCG noise and keySplit survive huge keys (no Long overflow at scale)") {
    // Keys past ~3.5e9 would overflow an unreduced key*constant multiply
    // (ANSI ArithmeticException — Spark 4 default); the reduced-mod form
    // must stay exact up to Long.MaxValue. Also pin the congruence: a key
    // and key + lcm(m_noise, m_split) agree on noise AND bucket.
    import spark.implicits._
    val m = 1000003L * 2147483648L // lcm of the two moduli (m_noise prime)
    val keys = Seq(1L, 3470000000L, 8500000000L, Long.MaxValue - 1,
      7L, 7L + m).toDF("l_orderkey")
    val got = keys
      .select(col("l_orderkey"),
        OlsPipeline.noiseCol(col("l_orderkey")).as("noise"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.values.foreach(n => assert(n >= -5.0 && n < 5.0, s"noise=$n"))
    assert(got(7L) === got(7L + m)) // congruence, not truncation
    val (tr, te) = OlsPipeline.keySplit(keys, "l_orderkey", seed = 123)
    assert(tr.count() + te.count() === 6) // no ANSI throw on any key
  }

  test("M4/M6/M13 OLS recovers the planted signal (R² threshold, SURVEY §5.4)") {
    val f = OlsPipeline.fit(spark, sf)
    val (rmse, r2, adjR2) = OlsPipeline.metrics(f, f.test, 3)
    // label = 3q - 200d + 50t + LCG noise uniform on [-5,5): noise var
    // = 100/12 ≈ 8.3, label var ≈ 1900 → R² ≈ 0.996; threshold leaves
    // slack for the small SF
    assert(r2 > 0.95, s"r2=$r2")
    assert(adjR2 > 0.95)
    assert(rmse < 6.0, s"rmse=$rmse") // ≳ noise sd (≈2.9), bounded above
  }

  test("fitCached keeps one fit: a session fitted before another " +
      "becomes collectable") {
    // the main session owns the cached projection, so the cache entry
    // itself pins none of the probe sessions below
    OlsPipeline.fitCached(spark, sf)
    def fitInNewSession(): java.lang.ref.WeakReference[SparkSession] = {
      val a = spark.newSession()
      OlsPipeline.fitCached(a, sf)
      new java.lang.ref.WeakReference(a)
    }
    val ref = fitInNewSession()
    val b = spark.newSession()
    val fb = OlsPipeline.fitCached(b, sf)
    // q_ols_forecast and q_ols_metrics still share one fit in a session
    assert(OlsPipeline.fitCached(b, sf) eq fb)
    // Spark itself pins a session for up to a minute: every shuffle
    // submission starts a `shuffle-exchange` pool thread, which inherits
    // the then-active session in its inheritable thread-locals and
    // keeps it until the pool's 60 s idle keep-alive ends the thread
    // (seen in a heap dump of this probe). The poll outlasts that.
    val deadline = System.nanoTime() + 90L * 1000000000L
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(500)
    }
    assert(ref.get == null,
      "the session fitted first is still reachable after a fit in another")
  }

  test("M7 calibration on county aggregates is ~identity (slope≈1, icpt≈0)") {
    val f = OlsPipeline.fit(spark, sf)
    val county = OlsPipeline.countyForecast(f.test, 2)
    val (a, b) = OlsPipeline.calibrate(county)
    assert(math.abs(b - 1.0) < 0.15, s"slope=$b")
    assert(math.abs(a) < 2.0, s"intercept=$a")
  }

  test("M11/M12 RandomForest importances: planted features dominate") {
    val collected = SparkEntry.queries("q_rf_importance")(spark, sf).collect()
    val imp = collected.map(r => r.getString(0) -> r.getDouble(1)).toMap
    // l_quantity carries ~98% of label variance → must rank far above the
    // unrelated one-hot flag slots
    assert(imp("l_quantity") > 0.5, s"importances=$imp")
    assert(imp.values.sum > 0.99 && imp.values.sum < 1.01)
    // the self-gating band the driver hashes must agree
    assert(collected.forall(_.getAs[Boolean]("check")), "rf check column")
  }

  test("M10/M11/M13 GBT metrics beat the trivial predictor") {
    val collected = SparkEntry.queries("q_gbt_metrics")(spark, sf).collect()
    val rows = collected
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rows("test")._2 > 0.8, s"test r2=${rows("test")._2}")
    assert(rows("train")._2 > 0.8)
    // the self-gating band the driver hashes must agree
    assert(collected.forall(_.getAs[Boolean]("check")), "gbt check column")
  }

  test("calibration curve: balanced deciles, monotone means, exact total") {
    val rows = SparkEntry.queries("q_calibration")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq === (1L to 10L))
    // NTILE balance: sizes differ by at most one
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1)
    // deciles are ordered by prediction, so mean_pred is nondecreasing
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._3, s"mean_pred must be monotone: $a -> $b")
    }
    // totals conserve the test split
    val f = graft.ml.OlsPipeline.fit(spark, sf)
    assert(sizes.sum === f.test.count())
    // gap is exactly the difference of the reported means at 4dp rounding
    rows.foreach { case (_, _, mp, ma, gap) =>
      assert(math.abs(gap - (mp - ma)) < 2e-4)
    }
  }

  test("grouped OLS: per-segment fits recovered, moments recounted") {
    val rows = SparkEntry.queries("q_group_ols")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq === rows.map(_._1).toSeq.sorted)
    assert(rows.nonEmpty && rows.map(_._2).sum ===
      Tables.lineitem(spark, sf).count())
    rows.foreach { case (flag, n, slope, icpt, r2) =>
      assert(n > 0)
      // the constructed label has true x1-coefficient 3; the other two
      // regressors are ~independent of x1, so each segment's simple
      // slope recovers it within the omitted-variable noise
      assert(slope > 2.0 && slope < 4.0, s"$flag slope $slope")
      assert(r2 > 0.0 && r2 < 1.0, s"$flag r2 $r2")
      assert(icpt.abs < 60.0, s"$flag intercept $icpt")
    }
    // independent moment recount for one segment in memory
    val flag0 = rows.head._1
    val pts = graft.ml.OlsPipeline.dataset(spark, sf)
      .filter(col("l_returnflag") === flag0)
      .select("l_quantity", "label_true").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    def em(vs: Array[Double]) = // esum: floor-micros exact sum
      vs.map(v => math.floor(v * 1e6).toLong).sum.toDouble / 1e6
    val n = pts.length.toDouble
    val (sx, sy) = (em(pts.map(_._1)), em(pts.map(_._2)))
    val (sxx, sxy) = (em(pts.map(p => p._1 * p._1)),
      em(pts.map(p => p._1 * p._2)))
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(rows.head._3 - slope) < 1e-5, "slope recount")
    assert(math.abs(rows.head._4 - (sy - slope * sx) / n) < 1e-5,
      "intercept recount")
  }
}
