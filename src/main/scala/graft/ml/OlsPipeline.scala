package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** The reference's OLS path (03_LinearRegression.R), Spark-first:
  * null-split → seeded 75/25 split → normal-equation OLS → score →
  * group-aggregate (count+mean, HAVING>n) → calibration meta-regression →
  * metrics. (SURVEY.md §3.2; operators M3, M4, M6, M7, M13, A3–A5, P14.)
  *
  * The testdata columns are mutually independent (no learnable signal), so
  * the label is constructed as a known linear function of the features plus
  * deterministic pseudo-noise — the reference-shaped fixture the tests can
  * hold to metric thresholds: recovered coefficients ≈ (3, −200, 50) and
  * R² ≈ 1 − var(noise)/var(label).
  *
  * BIT-DETERMINISM (what makes q_ols_forecast / q_ols_metrics carry full
  * DuckDB hash oracles, unlike an MLlib solver):
  *  - the pseudo-noise is an LCG over the row key (exact integer arithmetic
  *    + one exact double division — no transcendentals, which differ across
  *    libm implementations);
  *  - the 75/25 split takes the high bits of a multiplicative hash of the
  *    key (exact integers; xxhash64 would not be replayable in SQL);
  *  - every distributed sum floor-quantizes the deterministic per-row
  *    double to integer micros and sums BIGINTs — exact, order-independent
  *    at ANY parallelism (a double sum would vary with partition layout),
  *    with no cast-rounding mode to keep in parity across engines
  *    (see `esum` for the overflow envelope);
  *  - the 4×4 normal-equation solve uses Cramer's rule with BOTH the
  *    driver fold and the generated oracle SQL iterating the same
  *    permutation sequence, so their floating-point evaluation order is
  *    identical (see `perms4` / `det4` / `det4Sql`).
  * The fit is one gram-matrix aggregation pass over the training data
  * (the same plan the reference's gpuLm normal-equation path implements on
  * CUDA, 03:78) — k=4, so the driver-side solve is O(1). MLlib estimator
  * training itself is exercised by TreePipeline and ModelIO.
  */
object OlsPipeline {

  val featureCols: Seq[String] = Seq("l_quantity", "l_discount", "l_tax")

  /** Exact order-independent sum, rescaled to a double: per-row values
    * are floor-quantized to integer micros (floor is EXACT on doubles —
    * unlike a decimal cast there is no rounding mode to keep in parity
    * across engines) and summed as BIGINT — codegen'd long adds, exact
    * and identical at any parallelism — then rescaled once. Overflow
    * (Σ|x| ≳ 9.2e12, far past the tested scale factors) throws
    * ArithmeticException under ANSI mode (Spark 4's default, which this
    * session keeps) — loud, never silently corrupting. */
  private[ml] def esum(c: Column): Column =
    sum(floor(c * 1000000.0).cast(LongType)).cast(DoubleType) / 1000000.0

  /** LCG pseudo-noise, uniform on [-5, 5): exact integer arithmetic +
    * one exact division, bit-identical in DuckDB (sin() is not). The key
    * is reduced mod m BEFORE the multiply — (k·c) mod m ≡
    * ((k mod m)·c) mod m — so the widest intermediate is (m−1)·c ≈
    * 2.7e15 ≪ Long.Max for ANY key value; an unreduced k·c would
    * overflow (ANSI throw / DuckDB error) past k ≈ 3.5e9. */
  private[graft] def noiseCol(key: Column): Column =
    pmod(pmod(key, lit(1000003L)) * 2654435761L + 7L,
      lit(1000003L)).cast(DoubleType) / 1000003.0 * 10.0 - 5.0

  /** Fact table with constructed label; `l_orderkey % 10 == 0` rows form the
    * forecast universe (label NULL — the counties with unpublished results,
    * 03_LinearRegression.R:37-38). `county` is a derived bounded key. */
  def dataset(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select((Seq("l_orderkey", "l_partkey", "l_returnflag") ++ featureCols)
        .map(col): _*)
      .withColumn("county", (col("l_partkey") % 500).cast(LongType))
      .withColumn("noise", noiseCol(col("l_orderkey")))
      .withColumn("label_true",
        col("l_quantity") * 3 - col("l_discount") * 200 +
          col("l_tax") * 50 + col("noise"))
      .withColumn("label",
        when(col("l_orderkey") % 10 === 0, lit(null).cast(DoubleType))
          .otherwise(col("label_true")))
      .drop("noise")

  /** Deterministic seeded 75/25 split on a key column: the top two bits of
    * a multiplicative hash pick the bucket (0–2 train, 3 test). Membership
    * depends only on the key value — stable across partitioning,
    * parallelism and scale factor (unlike randomSplit's per-partition
    * draws) — and, being exact integer arithmetic, replayable in the
    * DuckDB oracles. The key is reduced mod 2³¹ before the multiply so
    * the widest intermediate (≈2.4e18) fits a Long for any key value —
    * see the noise column in `dataset` for the congruence argument. */
  def keySplit(df: DataFrame, keyCol: String, seed: Int): (DataFrame, DataFrame) = {
    val bucket = shiftright(
      pmod(pmod(col(keyCol), lit(2147483648L)) * 1103515245L + seed,
        lit(2147483648L)), 29)
    (df.filter(bucket < 3), df.filter(bucket === 3))
  }

  // -- Cramer solve with driver/SQL evaluation-order parity ---------------

  /** Permutations of 0..n−1 in lexicographic order with parity signs.
    * The driver fold (`detN`) and the generated SQL (`detNSql`) BOTH
    * iterate this exact sequence, so driver-side and DuckDB determinants
    * perform identical floating-point operations in identical order —
    * edits to either side can't drift because there is one sequence. */
  def permsWithSigns(n: Int): Seq[(IndexedSeq[Int], Int)] =
    (0 until n).permutations.toSeq.map { p =>
      val inv = (for (i <- p.indices; j <- i + 1 until p.length
                      if p(i) > p(j)) yield 1).sum
      (p, if (inv % 2 == 0) 1 else -1)
    }

  /** n×n determinant: first permutation's product, then ± the rest in
    * `perms` order, products associated left-to-right (reduceLeft). */
  def detN(perms: Seq[(IndexedSeq[Int], Int)])(m: (Int, Int) => Double): Double = {
    def prod(p: IndexedSeq[Int]) =
      p.indices.map(i => m(i, p(i))).reduceLeft(_ * _)
    perms.tail.foldLeft(prod(perms.head._1)) { case (acc, (p, s)) =>
      if (s > 0) acc + prod(p) else acc - prod(p)
    }
  }

  /** The same determinant as SQL text over cell references (SQL `*` is
    * left-associative — the same association order as `detN`'s fold). */
  def detNSql(perms: Seq[(IndexedSeq[Int], Int)])(cell: (Int, Int) => String): String = {
    def prod(p: IndexedSeq[Int]) =
      p.indices.map(i => cell(i, p(i))).mkString(" * ")
    prod(perms.head._1) + perms.tail.map { case (p, s) =>
      (if (s > 0) " + " else " - ") + prod(p)
    }.mkString
  }

  val perms4: Seq[(IndexedSeq[Int], Int)] = permsWithSigns(4)
  val perms3: Seq[(IndexedSeq[Int], Int)] = permsWithSigns(3)
  def det4(m: (Int, Int) => Double): Double = detN(perms4)(m)
  def det4Sql(cell: (Int, Int) => String): String = detNSql(perms4)(cell)
  def det3(m: (Int, Int) => Double): Double = detN(perms3)(m)
  def det3Sql(cell: (Int, Int) => String): String = detNSql(perms3)(cell)

  /** Cramer solve of a 4×4 system over abstract cells (rhs = column the
    * driver and SQL both substitute per unknown). */
  def solveCramer4(a: (Int, Int) => Double, rhs: Int => Double): Array[Double] = {
    val d = det4(a)
    // singular design ⇒ fail LOUDLY at the solve (the esum discipline):
    // a silent 0-determinant division would propagate NaN/Infinity into
    // every prediction and surface only as an opaque oracle mismatch
    require(d != 0.0 && !d.isNaN && !d.isInfinite,
      s"solveCramer4: singular/degenerate normal equations (det = $d) — " +
        "the training design has linearly dependent features")
    Array.tabulate(4) { k =>
      det4((i, j) => if (j == k) rhs(i) else a(i, j)) / d
    }
  }

  final case class Fitted(
      beta: Array[Double], // (intercept, b_quantity, b_discount, b_tax)
      train: DataFrame,
      test: DataFrame,
      forecast: DataFrame)

  /** Gram cells: x0=1 (intercept), x1..x3 = features, index 4 = label.
    * s(0,0)=n; one aggregation pass of floor-quantized BIGINT-micros sums
    * (`esum` — exact long adds at any parallelism, ≤1µ-per-row floor
    * truncation replayed identically by the oracle SQL). `feats` defaults
    * to the lineitem features; E2eChain passes its enriched-order ones. */
  private[ml] def gram(train: DataFrame,
                       feats: Seq[String] = featureCols): (Int, Int) => Double = {
    val xs: Seq[Column] = lit(1.0) +: feats.map(col) :+ col("label")
    val aggs =
      (for (i <- 0 to 4; j <- i to 4 if !(i == 0 && j == 0))
        yield esum(if (i == 0) xs(j) else xs(i) * xs(j)).as(s"s_${i}_$j")) :+
        count(lit(1)).cast(DoubleType).as("s_0_0")
    val row = train.agg(aggs.head, aggs.tail: _*).collect()(0)
    (i, j) => {
      val (a, b) = (math.min(i, j), math.max(i, j))
      row.getDouble(row.fieldIndex(s"s_${a}_$b"))
    }
  }

  /** M4: β via Cramer over the gram cells (label column index 4 is the
    * right-hand side). */
  private[ml] def solveBeta(s: (Int, Int) => Double): Array[Double] =
    solveCramer4((i, j) => s(i, j), i => s(i, 4))

  /** Score: β-affine of the raw features, same association order as the
    * oracle SQL text (foldLeft == SQL's left-associative `+` chain). */
  private[ml] def predCol(beta: Array[Double],
                          feats: Seq[String] = featureCols): Column =
    feats.zipWithIndex.foldLeft(lit(beta(0))) { case (acc, (f, i)) =>
      acc + col(f) * beta(i + 1)
    }

  /** M3+M4+M6: split observed/forecast, seeded 75/25, exact normal-equation
    * fit, score every universe. The projected dataset is cached once:
    * everything downstream (gram pass, per-universe metrics, county
    * aggregation, calibration) is a repeated pass over it. */
  def fit(spark: SparkSession, dir: String): Fitted = {
    val ds = dataset(spark, dir)
      .select((Seq("county", "label", "label_true", "l_orderkey") ++
        featureCols).map(col): _*)
      .cache()
    val observed = ds.filter(col("label").isNotNull)
    val forecast = ds.filter(col("label").isNull)
    val (train, test) = keySplit(observed, "l_orderkey", seed = 123)
    val beta = solveBeta(gram(train))
    def score(df: DataFrame) = df.withColumn("prediction", predCol(beta))
    Fitted(beta, score(train), score(test), score(forecast))
  }

  /** M6+A3-A5: aggregate a scored universe per county (count + exact-sum
    * means, HAVING > minCount). */
  def countyForecast(universe: DataFrame, minCount: Long): DataFrame =
    universe.groupBy("county")
      .agg(count(lit(1)).as("cnt"),
        (esum(col("prediction")) / count(lit(1)))
          .as("forecast"),
        (esum(col("label_true")) / count(lit(1)))
          .as("actual"))
      .where(col("cnt") > minCount)

  /** Decile calibration-reliability curve on the TEST split: rows binned
    * into prediction deciles (ANSI NTILE semantics over the total order
    * (prediction, l_orderkey, x1, x2, x3) — the full tiebreak makes tied
    * rows interchangeable, so the binning is engine-independent), then
    * per-decile mean predicted vs mean actual and their gap — the
    * reliability diagram every model-monitoring stack draws, and the
    * row-level complement of the county-level [[calibrate]] regression.
    *
    * Exactness: means come from floor-quantized BIGINT-micros sums
    * ([[esum]]); NTILE is replayed by the same distributed prefix-sum
    * the ntile operator pins (range sort executed ONCE, per-partition
    * sizes collected — #partitions values — then a linear pass with exact
    * global offsets; never a single-task window).
    *
    * Scale shape: one global range sort of the test split + one bounded
    * (tiles-row) aggregate; the fit is the [[fit]] pass. */
  def calibrationCurve(spark: SparkSession, dir: String,
                       tiles: Int = 10): DataFrame = {
    val f = fitCached(spark, dir) // deterministic fit — share the gram pass
    val sorted = f.test
      .select(col("prediction"), col("label"), col("l_orderkey"),
        col("l_quantity"), col("l_discount"), col("l_tax"))
      .orderBy("prediction", "l_orderkey",
        "l_quantity", "l_discount", "l_tax")
    val rdd = sorted.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val offsets = graft.operators.GlobalRank.offsets(rdd)
    val n = offsets.last
    val spark2 = spark
    import spark2.implicits._
    val agg = rdd
      .mapPartitionsWithIndex { (pi, it) =>
        var idx = offsets(pi)
        it.map { row =>
          val tile = graft.operators.GlobalRank.tile(idx, n, tiles)
          idx += 1
          (tile, row.getDouble(0), row.getDouble(1))
        }
      }
      .toDF("decile", "p", "y")
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        round(esum(col("p")) / count(lit(1)), 4).as("mean_pred"),
        round(esum(col("y")) / count(lit(1)), 4).as("mean_actual"),
        round(esum(col("p")) / count(lit(1)) -
          esum(col("y")) / count(lit(1)), 4).as("gap"))
      .orderBy("decile")
    val rows = agg.collect()
    rdd.unpersist(blocking = false)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
  }

  /** M7: calibration meta-regression lm(actual ~ forecast) on the county
    * aggregates — 2×2 normal equations from floor-quantized BIGINT-micros
    * moment sums (`esum`), formulas mirrored verbatim in the oracle SQL.
    * Returns (intercept, slope). */
  def calibrate(county: DataFrame): (Double, Double) = {
    val r = county.agg(
      count(lit(1)).cast(DoubleType).as("n"),
      esum(col("forecast")).as("sf"),
      esum(col("actual")).as("sa"),
      esum(col("forecast") * col("forecast")).as("sff"),
      esum(col("forecast") * col("actual")).as("sfa"))
      .collect()(0)
    val (n, sf, sa, sff, sfa) = (r.getDouble(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))
    val den = n * sff - sf * sf
    // degenerate calibration input (constant forecasts) fails loudly —
    // the solveCramer4 discipline; ANSI double division would throw on
    // exact 0 anyway, this names the cause
    require(den != 0.0 && !den.isNaN, s"calibrate: zero-variance " +
      s"forecasts (denominator $den) — meta-regression undefined")
    val slope = (n * sfa - sf * sa) / den
    val icpt = (sa - slope * sf) / n
    (icpt, slope)
  }

  /** M13: RMSE / R² / adjusted R² of a scored universe (dev/test metric —
    * the oracle-checked form is `metricsLong`). */
  def metrics(f: Fitted, universe: DataFrame, k: Int): (Double, Double, Double) = {
    val row = universe
      .select(col("label_true").as("a"), col("prediction").as("p"))
      .agg(
        sqrt(avg(pow(col("p") - col("a"), 2))).as("rmse"),
        pow(corr(col("a"), col("p")), 2).as("r2"),
        count(lit(1)).as("n")).collect()(0)
    val (rmse, r2, n) = (row.getDouble(0), row.getDouble(1), row.getLong(2))
    val adjR2 = 1 - (1 - r2) * (n - 1).toDouble / (n - k - 1).toDouble
    (rmse, r2, adjR2)
  }

  /** Fit-once cache: q_ols_forecast and q_ols_metrics share the same seeded
    * fit; re-deriving it per query would double the gram pass in every
    * bench round for no semantic difference (fit is deterministic).
    * ONE slot keyed on (session, dir): a fit for another session or
    * directory replaces it, so the cache never keeps an earlier session
    * (and its fitted frames) reachable. */
  private var fitSlot: Option[((SparkSession, String), Fitted)] = None
  def fitCached(spark: SparkSession, dir: String): Fitted = synchronized {
    fitSlot match {
      case Some(((s, d), f)) if (s eq spark) && d == dir => f
      case _ =>
        val f = fit(spark, dir)
        fitSlot = Some(((spark, dir), f))
        f
    }
  }

  /** Registered query: the full OLS dataflow — calibrated county forecasts
    * for the unpublished universe (03_LinearRegression.R:236-241). Fully
    * deterministic ⇒ full DuckDB hash oracle. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    val f = fitCached(spark, dir)
    val county = countyForecast(f.forecast, 5)
    val (a, b) = calibrate(countyForecast(f.test, 5))
    county.select(
      col("county"), col("cnt"),
      round(col("forecast") * b + a, 4).as("calibrated_forecast"))
      .orderBy("county")
  }

  /** M13+M14: metric table in long form (reference `gather`, 04_1:319).
    * RMSE and R² for BOTH splits from ONE grouped exact-moment aggregation
    * job (split-tagged union → groupBy), not a job per split; formulas
    * mirrored verbatim in the oracle SQL. */
  def metricsLong(spark: SparkSession, dir: String): DataFrame = {
    val f = fitCached(spark, dir)
    val rows = f.train.withColumn("split", lit("train"))
      .unionByName(f.test.withColumn("split", lit("test")))
      .select(col("split"), col("label_true").as("a"),
        col("prediction").as("p"))
      .groupBy("split")
      .agg(
        count(lit(1)).cast(DoubleType).as("n"),
        esum(col("a")).as("sa"),
        esum(col("p")).as("sp"),
        esum(col("a") * col("a")).as("saa"),
        esum(col("p") * col("p")).as("spp"),
        esum(col("a") * col("p")).as("sap"),
        esum((col("p") - col("a")) * (col("p") - col("a"))).as("se2"))
      .collect()
    def r4(v: Double) = // HALF_UP on positives == DuckDB ROUND
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = rows.toSeq.flatMap { r =>
      val (n, sa, sp, saa, spp, sap, se2) = (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7))
      val rmse = math.sqrt(se2 / n)
      val corr = (n * sap - sa * sp) /
        math.sqrt((n * saa - sa * sa) * (n * spp - sp * sp))
      Seq((r.getString(0), "r2", r4(corr * corr)),
        (r.getString(0), "rmse", r4(rmse)))
    }
    val spark2 = spark
    import spark2.implicits._
    out.toDF("split", "metric", "value").orderBy("split", "metric")
  }

  /** Grouped simple OLS — one regression PER SEGMENT (returnflag), the
    * "fit a trend per slice" operator every segment-analysis asks for
    * and MLlib has no grouped form of. Closed-form simple regression of
    * the constructed label on l_quantity from five exact [[esum]]
    * moments per group: slope = (n·Sxy − Sx·Sy)/(n·Sxx − Sx²),
    * intercept = (Sy − slope·Sx)/n, R² = slope²·(n·Sxx − Sx²)/(n·Syy −
    * Sy²). The moments are floor-micros exact and order-independent at
    * any parallelism, so the double formulas — written in the SAME
    * association shape in the oracle — are bit-identical across
    * engines; the whole fit is ONE map-side-combinable aggregate pass,
    * and the solve runs per bounded group row (no driver collect, no
    * per-group iteration). */
  def groupedOls(spark: SparkSession, dir: String): DataFrame = {
    val d = dataset(spark, dir)
    def nd = col("n").cast(org.apache.spark.sql.types.DoubleType)
    val m = d.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        esum(col("l_quantity")).as("sx"),
        esum(col("label_true")).as("sy"),
        esum(col("l_quantity") * col("l_quantity")).as("sxx"),
        esum(col("l_quantity") * col("label_true")).as("sxy"),
        esum(col("label_true") * col("label_true")).as("syy"))
    val slope = (nd * col("sxy") - col("sx") * col("sy")) /
      (nd * col("sxx") - col("sx") * col("sx"))
    m.select(col("l_returnflag"), col("n"),
        round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / nd, 6).as("intercept"),
        round(slope * slope * (nd * col("sxx") - col("sx") * col("sx")) /
          (nd * col("syy") - col("sy") * col("sy")), 6).as("r2"))
      .orderBy("l_returnflag")
  }

  /** DuckDB replay of [[groupedOls]] — the shared ds CTE's label, the
    * same floor-micros moments and formula association shapes. */
  /** The synthetic label y = 3·x1 − 200·x2 + 50·x3 + LCG-U(−5, 5) as
    * DuckDB SQL — the ONE copy both the q_ols-family dataset CTE
    * (SparkEntry.lineitemDsCte) and [[groupedOlsOracleSql]] interpolate;
    * mirrors [[noiseCol]]/[[dataset]], so an edit to the label formula
    * cannot desynchronize one oracle copy. Margin chars are stripped by
    * the ENCLOSING string's stripMargin. */
  val labelSql: String =
    """l_quantity * 3 - l_discount * 200 + l_tax * 50 +
      |      (CAST(((l_orderkey % 1000003) * 2654435761 + 7) % 1000003
      |            AS DOUBLE)
      |       / 1000003.0 * 10.0 - 5.0)"""

  val groupedOlsOracleSql: String =
    s"""WITH ds AS (
      |  SELECT l_returnflag, l_quantity AS x1,
      |    $labelSql AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(FLOOR((x1) * 1000000.0) AS BIGINT)) AS DOUBLE)
      |      / 1000000.0 AS sx,
      |    CAST(SUM(CAST(FLOOR((y) * 1000000.0) AS BIGINT)) AS DOUBLE)
      |      / 1000000.0 AS sy,
      |    CAST(SUM(CAST(FLOOR((x1 * x1) * 1000000.0) AS BIGINT)) AS DOUBLE)
      |      / 1000000.0 AS sxx,
      |    CAST(SUM(CAST(FLOOR((x1 * y) * 1000000.0) AS BIGINT)) AS DOUBLE)
      |      / 1000000.0 AS sxy,
      |    CAST(SUM(CAST(FLOOR((y * y) * 1000000.0) AS BIGINT)) AS DOUBLE)
      |      / 1000000.0 AS syy
      |  FROM ds GROUP BY 1),
      |s AS (
      |  SELECT l_returnflag, n, sx, sy, sxx, syy,
      |    (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |      (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope
      |  FROM m)
      |SELECT l_returnflag, n,
      |  ROUND(slope, 6) AS slope,
      |  ROUND((sy - slope * sx) / CAST(n AS DOUBLE), 6) AS intercept,
      |  ROUND(slope * slope * (CAST(n AS DOUBLE) * sxx - sx * sx) /
      |    (CAST(n AS DOUBLE) * syy - sy * sy), 6) AS r2
      |FROM s ORDER BY l_returnflag""".stripMargin
}
