package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Materialize, Tables}

/** The flagship end-to-end chain: the reference's FULL 01→03 path —
  * ingest→enrich→clean (01_DataMerge.R:42, 02_DataCleaning.R) straight
  * into regression fit→score→county forecast→calibration
  * (03_LinearRegression.R:236-241) — as ONE lazy lineage.
  *
  * The reference materializes an ffdf to disk between every stage; here
  * the enriched-orders frame (plans.EnrichPipeline, its per-order
  * PRE-aggregation output) flows directly into the OLS machinery
  * (OlsPipeline's gram pass / Cramer solve / county aggregation /
  * calibration) with no disk checkpoint anywhere — the only
  * materialization is the one in-memory cache of the final projected
  * 6-column frame, which every downstream pass (gram, score, calibrate)
  * shares. Catalyst plans pushdown/pruning ACROSS the stage boundary:
  * the orders scan under this query reads only the columns the regression
  * actually needs.
  *
  * Features come from the ENRICHMENT products (that is the point of the
  * chain): x1 = the nation priority ratio, x2 = cleaned price in k$ (via
  * exact cents), x3 = the rare-category indicator (status_cat = "Other").
  * The label is the same constructed-linear-plus-LCG-noise fixture as
  * OlsPipeline (bit-deterministic ⇒ q_e2e carries a FULL DuckDB hash
  * oracle replaying enrich + fit + forecast + calibration end to end).
  */
object E2eChain {

  val feats: Seq[String] = Seq("x1", "x2", "x3")

  /** Enriched per-order dataset with constructed label; `o_orderkey % 10
    * == 3` rows form the forecast universe (label NULL). NOT residue 0:
    * the rare-category tail lives on `o_orderkey % 50 == 0`, a SUBSET of
    * residue 0 — masking residue 0 would put every rare row in the
    * forecast universe, zero the x3 column in training and make the gram
    * matrix singular. `county` is the geo-enrichment region. */
  def dataset(spark: SparkSession, dir: String): DataFrame =
    graft.plans.EnrichPipeline.pipe(
        Tables.orders(spark, dir),
        graft.plans.EnrichPipeline.stages(spark, dir))
      .select(
        col("o_orderkey"),
        col("region_id").cast(LongType).as("county"),
        col("ratio").as("x1"),
        // decimal(18,2) → exact cents → $100k units as double (one exact
        // division; keeps |y| ≲ 10³ so the esum micros envelope holds at
        // any SF — see OlsPipeline.esum's overflow note)
        ((col("o_totalprice") * 100).cast(LongType).cast(DoubleType)
          / 10000000.0).as("x2"),
        when(col("status_cat") === "Other", 1.0).otherwise(0.0).as("x3"))
      .withColumn("noise", OlsPipeline.noiseCol(col("o_orderkey")))
      .withColumn("label_true",
        col("x1") * 3 - col("x2") * 200 + col("x3") * 50 + col("noise"))
      .withColumn("label",
        when(col("o_orderkey") % 10 === 3, lit(null).cast(DoubleType))
          .otherwise(col("label_true")))
      .drop("noise")

  /** The fitted coefficients over the enriched training split — public so
    * specs can hold the chain to the planted construction. */
  def fitBeta(spark: SparkSession, dir: String): Array[Double] = {
    val observed = dataset(spark, dir).filter(col("label").isNotNull)
    val (train, _) = OlsPipeline.keySplit(observed, "o_orderkey", 123)
    OlsPipeline.solveBeta(OlsPipeline.gram(train, feats))
  }

  /** q_e2e: enrich → seeded split → exact OLS fit → score → county
    * forecast → calibration, one lineage, one oracle. Identical dataflow
    * shape to OlsPipeline.query — only the dataset (enriched orders, not
    * raw lineitem) and the feature set differ. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    // lazy localCheckpoint, not cache (r20): both persist the enriched
    // frame once for the gram/forecast/calibration consumers, but the
    // checkpoint ALSO truncates the enrich lineage, so every downstream
    // plan (and the returned frame's final evaluation) is planned against
    // a materialized scan instead of re-carrying and re-optimizing the
    // full EnrichPipeline tree per consumer — measured 1.89 → 1.61 s
    // isolated warm at sf0.1 (DevProbe 5-run medians). Not unpersisted
    // here: the returned frame is still lazy and must read the same
    // materialized RDD (Bench's inter-run hygiene unpersists it; a
    // session relying on it long-term would unpersist after collecting).
    val ds = Materialize.lazily(dataset(spark, dir))
    val observed = ds.filter(col("label").isNotNull)
    val forecastU = ds.filter(col("label").isNull)
    val (train, test) = OlsPipeline.keySplit(observed, "o_orderkey", 123)
    val beta = OlsPipeline.solveBeta(OlsPipeline.gram(train, feats))
    def score(df: DataFrame) =
      df.withColumn("prediction", OlsPipeline.predCol(beta, feats))
    val county = OlsPipeline.countyForecast(score(forecastU), 5)
    val (a, b) = OlsPipeline.calibrate(
      OlsPipeline.countyForecast(score(test), 5))
    county.select(
        col("county"), col("cnt"),
        round(col("forecast") * b + a, 4).as("calibrated_forecast"))
      .orderBy("county")
  }
}
