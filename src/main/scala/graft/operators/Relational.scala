package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Materialize, Tables}

/** Core relational operator surface (SURVEY.md §2.2–§2.4, §2.6–§2.8).
  *
  * Each query re-expresses one operator family of the reference R pipeline
  * over the driver testdata tables. The reference's fact table (3M car
  * listings) maps to `orders`/`lineitem`; its county/state dimensions map to
  * `customer`/`nation`/`region`; its party pivot category maps to
  * `o_orderpriority`/`event_type`.
  *
  * Scale notes (100 TB discipline):
  *  - dimension joins are broadcast (`broadcast(nation)`) — no shuffle of the
  *    fact side;
  *  - aggregations are partial (map-side combine) by construction —
  *    `groupBy.agg` lowers to HashAggregate(partial) → shuffle → final;
  *  - money sums are done in DECIMAL(18,2): exact, order-independent, so
  *    results are identical regardless of partitioning/parallelism (a double
  *    sum would drift with partition count);
  *  - every query ends in a small (grouped) result; no unbounded collect.
  *
  * Verification-interface note: internal money math is DECIMAL, but
  * hash-checked OUTPUT columns are emitted as BIGINT minor units (cents).
  * Two rounds of driver data show its hash is sensitive to the physical
  * decimal representation (Spark parquet FLBA/INT64 vs DuckDB int128) on
  * multi-row outputs even when every cell value matches; int64 is the one
  * representation that is bit-identical across engines. Averages are
  * likewise derived from exact decimal sums (one double division, then
  * round) instead of AVG over doubles, whose partition summation order can
  * flip a rounding boundary.
  */
object Relational {

  private val dec = DecimalType(18, 2)

  /** Money column as exact decimal — order-independent sums at any DOP. */
  private def money(c: Column): Column = c.cast(dec)

  /** Exact decimal sum emitted as BIGINT minor units (scale-2 → cents). */
  private def sumCents(c: Column): Column =
    (sum(money(c)) * 100).cast(LongType)

  // ---------------------------------------------------------------------
  // Flagship: pivot → ratio (A2 + P1 + P4 + J1; reference 01_DataMerge.R:69-89)
  // Party votes per county → pivot → DemRepRatio, re-expressed as order value
  // per nation by priority → pivot → urgent/(urgent+high) ratio.
  // ---------------------------------------------------------------------
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def pivotRatio(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    // customer is fact-proportional (grows with SF): shuffled join, AQE picks
    // the algorithm; only bounded dims (nation: 25 rows) are broadcast.
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .pivot("o_orderpriority", priorities)
      .agg(sum(money(col("o_totalprice"))))
      .select(
        col("n_name"),
        (coalesce(col("`1-URGENT`"), lit(0).cast(dec)) * 100).cast(LongType)
          .as("urgent_cents"),
        (coalesce(col("`2-HIGH`"), lit(0).cast(dec)) * 100).cast(LongType)
          .as("high_cents"),
        (coalesce(col("`5-LOW`"), lit(0).cast(dec)) * 100).cast(LongType)
          .as("low_cents"))
      .withColumn("ratio",
        // guard the zero denominator: ANSI mode (Spark 4 default) throws
        // DIVIDE_BY_ZERO where the oracle's CASE WHEN yields NULL
        when(col("urgent_cents") + col("high_cents") === 0,
          lit(null).cast(DoubleType))
          .otherwise(round(col("urgent_cents").cast(DoubleType) /
            (col("urgent_cents") + col("high_cents")).cast(DoubleType), 6)))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------------
  // A1: group-by sum over the fact table (reference 01_DataMerge.R:69-72),
  // shaped like TPC-H Q1. Partial aggregation + decimal sums.
  // ---------------------------------------------------------------------
  def aggSum(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumCents(col("l_quantity")).as("sum_qty_x100"),
        sumCents(col("l_extendedprice")).as("sum_price_cents"),
        // decimal × decimal: exact arithmetic, so the sum is identical in any
        // engine / partition order; the scale-4 product sum is emitted in
        // 1/10000 units — integral, so the BIGINT cast is exact
        (sum(money(col("l_extendedprice")) *
             (lit(1) - money(col("l_discount")))) * 10000)
          .cast(LongType).as("sum_disc_price_x10k"),
        // mean from the exact decimal sum: ONE double division then round —
        // AVG over doubles would depend on partition summation order
        round(sum(money(col("l_discount"))).cast(DoubleType) /
              count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  // ---------------------------------------------------------------------
  // A3+A4+A5: grouped count + mean with HAVING gate (reference
  // 03_LinearRegression.R:133-145 — county aggregation, ≥100 listings).
  // Single pass: count and avg in one agg, then post-filter.
  // ---------------------------------------------------------------------
  /** Two-level dimension hierarchy rollup (orders → customer → nation →
    * region): the star-join shape where the bounded dims (25-row nation,
    * 5-row region) broadcast in a chain and the fact side never shuffles
    * for them — only the fact⨝customer join shuffles (both fact-
    * proportional, AQE picks the algorithm). */
  def regionRollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val o = Tables.orders(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("cnt"),
        countDistinct(col("n_name")).as("nations"),
        sumCents(col("o_totalprice"))
          .as("sum_price_cents"))
      .orderBy("r_name")
  }

  /** Hierarchical ROLLUP over region → nation with `grouping()` flags:
    * one pass emits leaf rows, per-region subtotals and the grand total —
    * versus three scans + union. Spark plans rollup as a single Expand +
    * aggregate (rows duplicated per grouping set BEFORE the shuffle, so
    * partial aggregation still applies); the grouping-id flags
    * disambiguate real NULL keys from subtotal rows. */
  def regionNationRollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val o = Tables.orders(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        // grouping() is only resolvable inside the rollup's own agg list
        grouping(col("r_name")).cast(LongType).as("g_region"),
        grouping(col("n_name")).cast(LongType).as("g_nation"),
        count(lit(1)).as("cnt"),
        sumCents(col("o_totalprice"))
          .as("sum_price_cents"))
      .select(col("r_name"), col("n_name"), col("g_region"),
        col("g_nation"), col("cnt"), col("sum_price_cents"))
      .orderBy("g_region", "g_nation", "r_name", "n_name")
  }

  /** Running (cumulative) totals: monthly order value per priority with a
    * cumulative sum over months. Aggregate FIRST (months × priorities
    * rows), window over the small aggregate — never a running sum over
    * raw fact rows, which would range-sort the whole table for a
    * presentation concern. Decimal cents keep the running sum exact and
    * order-independent within each frame. */
  def cumulativeSum(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(
        col("o_orderpriority").as("priority"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
          .as("month"))
      .agg(sumCents(col("o_totalprice"))
        .as("month_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("priority").orderBy("month")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    monthly
      .withColumn("cum_cents", sum(col("month_cents")).over(w))
      .orderBy("priority", "month")
  }

  /** Adjacent-row delta analytics (LAG): per-customer gap in days between
    * consecutive orders, profiled per order priority. The reference's
    * closest shape is its date arithmetic (02_DataCleaning.R:139), but
    * LAG/LEAD is standard engine surface the catalog should pin
    * explicitly, not only inside the sessionizer.
    *
    * Scale shape: the window partitions by o_custkey — millions of small
    * independent partitions, so the sort is a per-key in-memory sort after
    * one hash exchange, never a single-task window. Days are exact
    * integers (epoch-day via datediff), so gap sums replay bit-for-bit in
    * the oracle. */
  def orderGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("day", "o_orderkey")
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderpriority").as("priority"),
        datediff(col("o_orderdate").cast(DateType),
          lit("1970-01-01").cast(DateType)).cast(LongType).as("day"))
      .withColumn("gap", col("day") - lag(col("day"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("priority")
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sum_gap_days"),
        min(col("gap")).as("min_gap_days"), max(col("gap")).as("max_gap_days"))
      .orderBy("priority")
  }

  /** Time-series resampling to a regular daily grid with forward fill —
    * the gap-repair primitive every downstream window/forecast step
    * assumes (the reference implicitly assumes gapless county series when
    * it joins predictions back by date, 03_LinearRegression.R:137-162).
    *
    * Per event type: aggregate to (key, epoch-day) counts, explode the
    * key's own [min, max] day range into a spine, left-join the
    * observations onto it, and carry the last observation forward
    * (`last(ignoreNulls)` over a per-key ordered window); emit a gap flag
    * so filled rows stay auditable.
    *
    * Scale shape: the heavy input collapses in the FIRST aggregate
    * (map-side combinable, one row per key-day); everything after —
    * spine explode, (key, day) join, per-key window — operates on
    * key-count × span-days rows, and each window partition holds only
    * one key's days (bounded by the calendar, not the event volume), so
    * there is no single-task window at any corpus size. Epoch-days are
    * exact integers; counts are exact; the fill replays bit-for-bit. */
  def resampleFfill(spark: SparkSession, dir: String): DataFrame = {
    // the synthetic events table is gapless per type at every SF, so a
    // planted outage (every day ≡ 1 mod 3 dropped) keeps the fill branch
    // data-exercised — and oracle-gated — rather than vacuous
    val daily = Tables.events(spark, dir)
      .select(col("event_type").as("k"),
        datediff(col("ts").cast(DateType),
          lit("1970-01-01").cast(DateType)).cast(LongType).as("d"))
      .filter(col("d") % 3 =!= 1)
      .groupBy("k", "d").agg(count(lit(1)).as("cnt"))
    val spine = daily.groupBy("k").agg(min("d").as("mn"), max("d").as("mx"))
      .select(col("k"), explode(sequence(col("mn"), col("mx"))).as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("d")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    spine.join(daily, Seq("k", "d"), "left")
      .select(col("k"), col("d"),
        last(col("cnt"), ignoreNulls = true).over(w).as("cnt_ffill"),
        col("cnt").isNull.cast(LongType).as("is_gap"))
      .orderBy("k", "d")
  }

  /** Trailing 7-day moving average over a RANGE frame — the calendar-aware
    * smoothing primitive (vs [[cumulativeSum]]'s ROWS frame): the frame is
    * `RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` over the integer epoch-day
    * key, so a day with no orders SHRINKS the trailing window instead of
    * silently reaching further back — the semantics ROWS frames get wrong
    * on gappy series. (The reference smooths county series by date the same
    * way it joins them, 03_LinearRegression.R:137-162.)
    *
    * Scale shape: aggregate FIRST — the raw orders collapse to one row per
    * (priority, day) in a map-side-combinable hash aggregate — then the
    * window runs over priorities × calendar-days rows, each partition
    * bounded by the calendar, never by order volume. Sums are exact BIGINT
    * cents; the average is ONE IEEE division at the end, replayed
    * identically in the oracle. */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"),
        datediff(col("o_orderdate").cast(DateType),
          lit("1970-01-01").cast(DateType)).cast(LongType).as("day"),
        money(col("o_totalprice")).as("price"))
      .groupBy("priority", "day")
      .agg((sum(col("price")) * 100).cast(LongType).as("day_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("priority").orderBy("day").rangeBetween(-6, 0)
    daily
      .withColumn("w_cents", sum(col("day_cents")).over(w))
      .withColumn("w_days", count(lit(1)).over(w))
      .withColumn("avg7_cents",
        round(col("w_cents").cast(DoubleType) / col("w_days"), 4))
      .orderBy("priority", "day")
  }

  /** Winsorization: clip a money measure at its exact [p05, p95] — the
    * robust-stats companion to [[zscore]] (the reference clips price
    * outliers by hand thresholds, 02_DataCleaning.R:84-99; percentile
    * clipping is the data-driven form).
    *
    * Exactness: prices become BIGINT cents before anything else; the R-7
    * interpolated percentiles (the semantics q_percentile pins against
    * quantile_cont) are rounded to integer cents with the shared HALF_UP
    * rule, so the clip bounds, the clip comparisons and the clipped sum
    * all replay in exact integer space — no double summation anywhere.
    *
    * Scale shape: one exact-percentile aggregate over the cents column
    * (at 100 TB the [[percentilesApprox]] sketch substitutes, same
    * interface), broadcast back as a 1-row bound pair, then a single
    * narrow projection + map-side-combinable profile aggregate. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.orders(spark, dir)
      .select((money(col("o_totalprice")) * 100).cast(LongType).as("c"))
    // r20: one percentile_exact ARRAY call replaces two separate built-in
    // percentile aggregates — the built-in buffers (and boxes into its
    // counts map) the column once PER aggregate expression, so both
    // bounds paid a full buffer and sort each; the array form buffers and
    // sorts once (the q_percentile discipline). Bit-identity of the
    // CAST-to-double route: cents are exact decimal(18,2)·100 longs, far
    // below 2^53, so the cast is value-exact, the sort order is the same
    // numeric order, and the built-in's own interpolation already runs in
    // double (PercentileBase.getPercentile converts its keys before the
    // (higher-pos)·lo + (pos-lower)·hi step percentile_exact replicates
    // literally). Measured 1.02 → 0.32 s isolated warm at sf0.1 (DevProbe
    // 5-run medians); oracle hash-matched at all three SFs (r19 had
    // skipped this reroute over exactly that cast question — settled by
    // measurement + the oracle gate, the r19 verdict's item 7).
    val bounds = cents.agg(
      expr("percentile_exact(CAST(c AS DOUBLE), array(0.05D, 0.95D))")
        .as("bs"))
      .select(round(col("bs").getItem(0)).cast(LongType).as("b_lo"),
        round(col("bs").getItem(1)).cast(LongType).as("b_hi"))
    cents.crossJoin(broadcast(bounds))
      .select(col("c"), col("b_lo"), col("b_hi"),
        least(greatest(col("c"), col("b_lo")), col("b_hi")).as("w"))
      .groupBy("b_lo", "b_hi")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c") < col("b_lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("c") > col("b_hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(col("w")).as("sum_winsorized_cents"))
  }

  /** DuckDB replay of [[winsorize]] — quantile_cont ≡ R-7 percentile. */
  val winsorizeOracleSql: String =
    """WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS c
      |  FROM orders),
      |b AS (
      |  SELECT CAST(ROUND(quantile_cont(c, 0.05)) AS BIGINT) AS b_lo,
      |    CAST(ROUND(quantile_cont(c, 0.95)) AS BIGINT) AS b_hi
      |  FROM c)
      |SELECT b.b_lo, b.b_hi, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN c.c < b.b_lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clip_lo,
      |  CAST(SUM(CASE WHEN c.c > b.b_hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clip_hi,
      |  CAST(SUM(least(greatest(c.c, b.b_lo), b.b_hi)) AS BIGINT)
      |    AS sum_winsorized_cents
      |FROM c CROSS JOIN b
      |GROUP BY 1, 2""".stripMargin

  /** The four lineitem measures the correlation matrix profiles. */
  private[graft] val CorrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Pairwise Pearson correlation matrix over the lineitem measures — the
    * multi-column generalization of [[metrics]]' R², and the standard
    * first look at a numeric dataset (the reference computes pairwise
    * model diagnostics the same way, 03_LinearRegression.R:111-136).
    *
    * Exactness discipline (same as metrics/OLS): ONE pass accumulates all
    * 15 cross-moments as exact DECIMAL sums — order-independent, so the
    * result is bit-identical at any parallelism — and only the final
    * 6-value correlation formula drops to double, written as the
    * identical IEEE expression in the oracle SQL. At 100 TB this is one
    * map-side-combinable aggregate over a narrow 4-column projection:
    * scan-bound, no shuffle beyond the 15-value partial merge. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cs = CorrCols
    val li = Tables.lineitem(spark, dir)
      .select(cs.map(c => col(c).cast(DecimalType(18, 2)).as(c)): _*)
    val aggs =
      cs.map(c => sum(col(c)).as(s"s_$c")) ++
        (for { i <- cs.indices; j <- i until cs.size }
          yield sum(col(cs(i)) * col(cs(j))).as(s"s_${i}_${j}")) :+
        count(lit(1)).cast(DoubleType).as("n")
    val m = li.agg(aggs.head, aggs.tail: _*)
    def d(c: String) = col(c).cast(DoubleType)
    val pairs = for { i <- cs.indices; j <- i + 1 until cs.size } yield
      struct(lit(cs(i)).as("x"), lit(cs(j)).as("y"),
        round((col("n") * d(s"s_${i}_${j}") - d(s"s_${cs(i)}") * d(s"s_${cs(j)}")) /
          nullif(sqrt(
            (col("n") * d(s"s_${i}_${i}") - d(s"s_${cs(i)}") * d(s"s_${cs(i)}")) *
            (col("n") * d(s"s_${j}_${j}") - d(s"s_${cs(j)}") * d(s"s_${cs(j)}"))),
            lit(0.0)), 6)
          .as("corr"))
    m.select(inline(array(pairs: _*))).orderBy("x", "y")
  }

  /** DuckDB replay of [[corrMatrix]]: generated from the same CorrCols
    * list with the same moment names and the same double-op order, so the
    * formula can never drift between plan and oracle. */
  def corrMatrixOracleSql: String = {
    val cs = CorrCols
    val moments =
      cs.map(c => s"SUM($c) AS s_$c") ++
        (for { i <- cs.indices; j <- i until cs.size }
          yield s"SUM(${cs(i)} * ${cs(j)}) AS s_${i}_${j}")
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val rows = for { i <- cs.indices; j <- i + 1 until cs.size } yield
      s"""SELECT '${cs(i)}' AS x, '${cs(j)}' AS y,
         |  ROUND((n * ${d(s"s_${i}_${j}")} - ${d(s"s_${cs(i)}")} * ${d(s"s_${cs(j)}")})
         |    / SQRT((n * ${d(s"s_${i}_${i}")} - ${d(s"s_${cs(i)}")} * ${d(s"s_${cs(i)}")})
         |      * (n * ${d(s"s_${j}_${j}")} - ${d(s"s_${cs(j)}")} * ${d(s"s_${cs(j)}")})), 6)
         |    AS corr FROM s""".stripMargin
    s"""WITH r AS (SELECT
       |    ${cs.map(c => s"CAST($c AS DECIMAL(18,2)) AS $c").mkString(",\n    ")}
       |  FROM lineitem),
       |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    ${moments.mkString(",\n    ")}
       |  FROM r)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY x, y""".stripMargin
  }

  /** CUBE over (mktsegment, orderpriority): all four grouping sets —
    * leaves, both one-dimension margins, grand total — in the same single
    * Expand+aggregate pass as the rollup (rollup emits the prefix sets
    * only; cube emits the power set, the standard OLAP margin table). */
  def segmentPriorityCube(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      // grouping() resolves against the RAW cube columns, not aliases
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(
        grouping(col("c_mktsegment")).cast(LongType).as("g_segment"),
        grouping(col("o_orderpriority")).cast(LongType).as("g_priority"),
        count(lit(1)).as("cnt"),
        sumCents(col("o_totalprice"))
          .as("sum_price_cents"))
      .select(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"), col("g_segment"),
        col("g_priority"), col("cnt"), col("sum_price_cents"))
      .orderBy("g_segment", "g_priority", "segment", "priority")
  }

  /** Explicit GROUPING SETS — the asymmetric set list neither ROLLUP nor
    * CUBE can express: the per-priority profile, the per-status profile
    * and the grand total, computed in ONE scan + one Expand+aggregate
    * pass (the classic "several GROUP BYs over the same fact without
    * re-reading it"). GROUPING() flags disambiguate the set each output
    * row belongs to, exactly as in [[segmentPriorityCube]]. */
  def groupingSetsProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        grouping(col("o_orderpriority")).cast(LongType).as("g_priority"),
        grouping(col("o_orderstatus")).cast(LongType).as("g_status"),
        count(lit(1)).as("cnt"),
        sumCents(col("o_totalprice"))
          .as("sum_price_cents"))
      .select(col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"), col("g_priority"),
        col("g_status"), col("cnt"), col("sum_price_cents"))
      .orderBy("g_priority", "g_status", "priority", "status")

  /** DuckDB replay of [[groupingSetsProfile]] — same set list. */
  val groupingSetsOracleSql: String =
    """SELECT o_orderpriority AS priority, o_orderstatus AS status,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |    AS sum_price_cents
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      |ORDER BY 3, 4, 1, 2""".stripMargin

  def groupMeanHaving(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val o = Tables.orders(spark, dir)
    // shuffled join on o_custkey (customer grows with SF; broadcast would OOM
    // at the 100 TB design point) — AQE selects SMJ/shuffled-hash at runtime
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("cnt"),
        // exact decimal sum → one double division → round (deterministic at
        // any partition layout, unlike ROUND(AVG(double), 4))
        round(sum(money(col("o_totalprice"))).cast(DoubleType) /
              count(lit(1)), 4).as("avg_price"))
      .where(col("cnt") > 10)
      .orderBy("n_name", "c_mktsegment")
  }

  /** A8: min/max range profile (reference 02_DataCleaning.R:142). */
  def minMax(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"),
      min(money(col("l_extendedprice"))).as("min_price"),
      max(money(col("l_extendedprice"))).as("max_price"))

  /** A9: distinct (reference 03_LinearRegression.R:152). */
  def distinctPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  // ---------------------------------------------------------------------
  // A7 + F12 groundwork: category frequency table (reference
  // 02_DataCleaning.R:243). Single agg + scalar subquery-free share via a
  // window over the (tiny) grouped result — the window runs on the grouped
  // rows, not the fact table, so it's cheap at any scale.
  // ---------------------------------------------------------------------
  def freqTable(spark: SparkSession, dir: String): DataFrame = {
    // 1-row total agg broadcast back over the grouped result (same idiom as
    // zscore) — avoids the empty-frame WindowExec single-partition path
    val grouped = Tables.events(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val total = grouped.agg(sum(col("cnt")).as("total"))
    grouped.crossJoin(broadcast(total))
      .select(
        col("event_type"), col("cnt"),
        round(col("cnt").cast(DoubleType) / col("total").cast(DoubleType), 6)
          .as("share"))
      .orderBy("event_type")
  }

  /** A11: histogram binning (reference 02_DataCleaning.R:202-227). */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(floor(col("value") / 50).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")

  // ---------------------------------------------------------------------
  // A12: z-score scaling (reference 03_LinearRegression.R:29-34). Global
  // (μ,σ) via a single-row aggregate broadcast back over the rows — at scale
  // this is one reduce + a map, no per-row shuffle. μ and σ derive from
  // EXACT decimal sums of x and x² (avg/stddev_samp over doubles merge
  // partials in nondeterministic partition order — a z within an ulp of a
  // 6dp rounding boundary would then flip between runs/engines); the
  // double arithmetic below mirrors the oracle SQL term for term.
  // ---------------------------------------------------------------------
  def zscore(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val d = col("c_acctbal").cast(DecimalType(18, 2))
    val stats = c.agg(
      sum(d).as("sx"),
      sum(d * d).as("sxx"),
      count(lit(1)).cast(DoubleType).as("n"))
    val sx = col("sx").cast(DoubleType)
    val sxx = col("sxx").cast(DoubleType)
    // no Spark-side sort: the driver (and check_oracle.py) sort rows before
    // hashing, so a global range-shuffle of the widest output buys nothing
    // NULLIF guards: ANSI mode (Spark 4 default) throws DIVIDE_BY_ZERO
    // even for doubles (probed), so a 1-row or zero-variance input must
    // yield NULL z (the oracle's NULLIF twin), not abort the query
    c.crossJoin(broadcast(stats))
      .select(
        col("c_custkey"),
        round((col("c_acctbal") - sx / col("n")) /
          nullif(sqrt((sxx - sx * sx / col("n")) /
            nullif(col("n") - 1, lit(0.0))), lit(0.0)), 6).as("z"))
  }

  /** A10/M13: global metric aggregates — RMSE, R² (reference
    * 05_OutcomeAndVisualization.R:49-59) — from ONE pass of exact decimal
    * moment sums (p−a = −price·disc is exact at scale 4, its square exact
    * at scale 8), so the result is identical at any parallelism; the
    * closed-form corr² and the final double arithmetic mirror the oracle
    * SQL term for term. */
  def metrics(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val a = col("l_extendedprice").cast(DecimalType(18, 2))
    val e = (a * col("l_discount").cast(DecimalType(18, 2)))
      .cast(DecimalType(18, 4)) // a − p, exact (scale-2 × scale-2)
    val p = (a - e).cast(DecimalType(18, 4))
    val s = li
      .select(a.as("a"), e.as("e"), p.as("p"))
      .agg(
        count(lit(1)).cast(DoubleType).as("n"),
        count(lit(1)).as("cnt"),
        sum(col("a")).as("sa"),
        sum(col("p")).as("sp"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("p") * col("p")).as("spp"),
        sum(col("a") * col("p")).as("sap"),
        sum(col("e") * col("e")).as("se2"))
    def dbl(c: String) = col(c).cast(DoubleType)
    val num = col("n") * dbl("sap") - dbl("sa") * dbl("sp")
    s.select(
      round(sqrt(dbl("se2") / col("n")), 4).as("rmse"),
      round(num * num /
        nullif((col("n") * dbl("saa") - dbl("sa") * dbl("sa")) *
          (col("n") * dbl("spp") - dbl("sp") * dbl("sp")), lit(0.0)), 6)
        .as("r2"),
      col("cnt").as("n"))
  }

  /** JSON column extraction over `events.props` (multimodal/typed-metadata
    * column; brief "JSON columns"). `from_json` with a declared schema —
    * typed access, no string re-parsing downstream. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("props_t",
        from_json(col("props"), StructType(Seq(StructField("k", LongType)))))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("props_t.k")).as("sum_k"),
        min(col("props_t.k")).as("min_k"),
        max(col("props_t.k")).as("max_k"))
      .orderBy("event_type")

  /** Grouped quantiles. The oracle-gated form uses EXACT `percentile`
    * (R-7 linear interpolation, same definition as DuckDB's
    * `quantile_cont`), which buffers each group's values — fine for
    * bounded group counts, but the 100 TB path is `approx_percentile`
    * (KLL-style mergeable sketch, one pass, bounded memory per group):
    * sketches can't hash-match across engines, so the approx variant is
    * verified in-engine instead (RelationalSpec pins its rank-error bound
    * against this exact result). */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        // one array-percentile call per column: the exact aggregate
        // buffers the column's values once per agg expression, so asking
        // for 0.5 and 0.95 separately would buffer (and sort) twice
        expr("percentile_exact(CAST(l_extendedprice AS DOUBLE), array(0.5D, 0.95D))")
          .as("ep"),
        round(expr("percentile_exact(CAST(l_discount AS DOUBLE), 0.5D)"), 4)
          .as("disc_p50"))
      .select(col("l_returnflag"),
        round(col("ep").getItem(0), 4).as("p50"),
        round(col("ep").getItem(1), 4).as("p95"),
        col("disc_p50"))
      .orderBy("l_returnflag")

  /** PERCENTILE_DISC — the ANSI inverse-distribution complement of
    * [[percentiles]]' PERCENTILE_CONT: the smallest ACTUAL value whose
    * cumulative distribution reaches p (no interpolation, so the result
    * is an element of the data — the semantics auditors want for "the
    * real p95 order"). Selection, not arithmetic: the returned double is
    * byte-identical across engines with no rounding needed, and the
    * oracle states the ANSI definition itself (min value with
    * cume_dist ≥ p) rather than trusting another engine's convention.
    *
    * Same scale story as [[percentiles]]: exact per-group sorting at
    * bounded group counts; approx_percentile is the 100 TB substitute.
    *
    * Implementation note: this is deliberately NOT the built-in
    * `percentile_disc` aggregate — Spark buffers the group's values once
    * PER aggregate expression, so asking for p50 and p95 sorts the data
    * twice (measured 2.4–3.1 s at sf0.1). Through r18 this was the
    * cume_dist window form (ONE per-group sort, both cut-points in one
    * pass, ~2× cheaper); the r19 optimization round replaced that with
    * the engine's `percentile_disc_exact` aggregate — one flat-buffer
    * pass with mergeable partials, BOTH cut-points from one sorted
    * array, and no per-group global window funneling each group through
    * a single sort task (guide §2.4). Results are bit-identical to the
    * window form (the rank pick replicates cume_dist's own k/n double
    * division; equivalence argued at PercentileDiscExact and pinned in
    * PercentileExactSpec); measured 1.45 s → 0.5 s isolated warm at
    * sf0.1. */
  def percentileDisc(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"))
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_disc_exact(CAST(l_extendedprice AS DOUBLE), " +
          "array(0.5D, 0.95D))").as("pd"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        col("pd").getItem(0).as("p50_disc"),
        col("pd").getItem(1).as("p95_disc"),
        col("n"))
      .orderBy("l_returnflag")

  /** Equi-depth histogram over the price column: k buckets holding ~n/k
    * rows each, bounded by the exact R-7 decile cut-points — the
    * statistics object query optimizers actually keep (equal-WIDTH bins,
    * [[histogram]], waste resolution on skewed data; equal-DEPTH bins put
    * it where the rows are). One exact percentile pass yields all k−1
    * boundaries in a single buffer (the array form, not k−1 separate
    * aggregates); they broadcast as a 1-row literal and bucket assignment
    * is a narrow HOF counting boundaries strictly below x — identical
    * double comparisons on both engines, no arithmetic to drift.
    *
    * Scale: the percentile pass has [[percentiles]]' caveat
    * (approx_percentile substitutes at 100 TB — equi-depth is exactly
    * what its sketch is FOR); everything else is one map-side-combinable
    * aggregate. */
  def equiDepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ps = (1 until 10).map(i => s"0.${i}D").mkString(", ")
    val bounds = Tables.lineitem(spark, dir)
      .agg(expr(s"percentile_exact(CAST(l_extendedprice AS DOUBLE), array($ps))")
        .as("bs"))
    Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").as("x"))
      .crossJoin(broadcast(bounds))
      .select(col("x"),
        (expr("size(filter(bs, b -> x > b))") + 1).cast(LongType)
          .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min(col("x")), 2).as("lo"), round(max(col("x")), 2).as("hi"))
      .orderBy("bucket")
  }

  /** DuckDB replay of [[equiDepthHistogram]] — same cut-points, same
    * strict comparison. */
  val equiDepthOracleSql: String = {
    val ps = (1 until 10).map(i => s"0.$i").mkString(", ")
    s"""WITH b AS (
       |  -- CAST AS DOUBLE: quantile_cont on DECIMAL truncates interpolated
       |  -- cut-points to the input scale (the madOutliers/quantileNorm
       |  -- rule) — double interpolation is what the Spark side computes
       |  SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), [$ps]) AS bs
       |  FROM lineitem),
       |a AS (
       |  SELECT l_extendedprice AS x,
       |    CAST(1 + len(list_filter(b.bs, e -> l_extendedprice > e))
       |      AS BIGINT) AS bucket
       |  FROM lineitem, b)
       |SELECT bucket, COUNT(*) AS n,
       |  ROUND(MIN(x), 2) AS lo, ROUND(MAX(x), 2) AS hi
       |FROM a GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** Lorenz curve + exact Gini coefficient of customer spend — the
    * concentration gauge (how much of total revenue the top deciles
    * carry) every marketplace/fairness analysis asks for. Customers rank
    * ascending by exact DECIMAL-cents spend under a total order
    * (spend, custkey); Gini comes from the rank formula
    * G = (2·Σ rank·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ), every sum an exact
    * integer (rank·cents products in DECIMAL(38,0)); the curve is the
    * per-decile spend share plus the cumulative Lorenz share.
    *
    * Scale shape: the global rank uses the ntileDecile machinery — ONE
    * distributed range sort with per-partition offsets from a single
    * size pass (never a 1-task global window); the decile tile rule is
    * the SQL-standard closed form applied per row; everything after
    * runs on the 10-row table.
    *
    * Exactness: sums are exact integers; the only doubles are final
    * divisions of exact values (< 2⁵³ at verify SFs), association
    * shapes mirrored in the oracle. */
  def giniLorenz(spark: SparkSession, dir: String): DataFrame = {
    val tiles = 10
    val pts = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("c"))
      .orderBy("c", "o_custkey")
    // global windows over a BOUNDED table only: the per-decile aggregate
    // they run over is one row per decile
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // 10 rows — collected, so the cached sort is released now
    GlobalRank.tiled(pts, tiles)(_.groupBy("decile")
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c").cast(DecimalType(38, 0))).as("s0"),
        sum(col("rank").cast(DecimalType(19, 0)) *
          col("c").cast(DecimalType(19, 0))).as("s1"))
      .withColumn("ts0", sum(col("s0")).over(w).cast(DoubleType))
      .withColumn("ts1", sum(col("s1")).over(w).cast(DoubleType))
      .withColumn("tn", sum(col("n_cust")).over(w).cast(DoubleType))
      .withColumn("cum0", sum(col("s0")).over(wCum).cast(DoubleType))
      .select(col("decile"), col("n_cust"),
        round(col("s0").cast(DoubleType) / col("ts0"), 6).as("spend_share"),
        round(col("cum0") / col("ts0"), 6).as("lorenz_cum_share"),
        round((lit(2.0) * col("ts1") - (col("tn") + 1.0) * col("ts0")) /
          (col("tn") * col("ts0")), 6).as("gini"))
      .orderBy("decile"))
  }

  /** DuckDB replay of [[giniLorenz]] — same total order, tile rule,
    * integer sums and association shapes. */
  val giniLorenzOracleSql: String =
    """WITH pts AS (
      |  SELECT o_custkey AS k,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
      |      AS c
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT k, c,
      |    CAST(ROW_NUMBER() OVER (ORDER BY c, k) AS BIGINT) AS rank,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n
      |  FROM pts),
      |d AS (
      |  SELECT c, rank, n,
      |    CASE WHEN rank - 1 < (n % 10) * (n // 10 + 1)
      |         THEN (rank - 1) // (n // 10 + 1) + 1
      |         ELSE (n % 10) +
      |           (rank - 1 - (n % 10) * (n // 10 + 1))
      |             // GREATEST(n // 10, 1) + 1
      |    END AS decile
      |  FROM r),
      |g AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
      |    SUM(CAST(c AS HUGEINT)) AS s0,
      |    SUM(CAST(rank AS HUGEINT) * CAST(c AS HUGEINT)) AS s1
      |  FROM d GROUP BY 1),
      |t AS (
      |  SELECT decile, n_cust, s0, s1,
      |    CAST(SUM(s0) OVER () AS DOUBLE) AS ts0,
      |    CAST(SUM(s1) OVER () AS DOUBLE) AS ts1,
      |    CAST(SUM(n_cust) OVER () AS DOUBLE) AS tn,
      |    CAST(SUM(s0) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |      AS cum0
      |  FROM g)
      |SELECT decile, n_cust,
      |  ROUND(CAST(s0 AS DOUBLE) / ts0, 6) AS spend_share,
      |  ROUND(cum0 / ts0, 6) AS lorenz_cum_share,
      |  ROUND((2.0 * ts1 - (tn + 1.0) * ts0) / (tn * ts0), 6) AS gini
      |FROM t ORDER BY decile""".stripMargin

  /** Quantile normalization across segments — the feature-prep classic
    * (microarray/batch-effect correction): each group's decile of the
    * price distribution is mapped onto the POOLED cross-group reference
    * for that decile, removing per-segment distribution shift while
    * preserving rank order. Emitted as the bounded per-(group, decile)
    * adjustment table a pipeline applies — group mean, pooled reference
    * mean and the additive adjustment.
    *
    * Scale shape — NO per-group global window (the textbook per-group
    * rank sort funnels each group through one task): per-group decile
    * CUT-POINTS come from one array-percentile buffer per group (a
    * groups-sized broadcast dim, the equiDepthHistogram trick), bucket
    * assignment is a narrow HOF comparison, and the reference means run
    * over the groups×10-row table.
    *
    * Exactness: prices are exact DECIMAL cents; per-cell sums are exact
    * BIGINTs; each mean is one IEEE division; cut-point comparisons are
    * identical doubles on both engines. */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val ps = (1 until 10).map(i => s"0.${i}D").mkString(", ")
    // r20: base feeds both the cut-point aggregate and the decile
    // assignment join, re-running the scan + decimal-cents projection
    // twice; a lazy localCheckpoint materializes the narrow (g, c) frame
    // once. Measured 1.91 → 1.59 s isolated warm at sf0.1 (DevProbe
    // 5-run medians). The same probe on q_equidepth/q_winsorize (single
    // numeric column, no group string, no decimal cast in the rescan)
    // was within noise — recorded as measured NOs; only this call site
    // pays enough per-scan projection to win.
    val base = Materialize.lazily(Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("c")))
    val cuts = base.groupBy("g")
      .agg(expr(s"percentile_exact(CAST(c AS DOUBLE), array($ps))").as("bs"))
    val cells = base.join(broadcast(cuts), "g")
      .select(col("g"), col("c"),
        (expr("size(filter(bs, b -> CAST(c AS DOUBLE) > b))") + 1)
          .cast(LongType).as("decile"))
      .groupBy("g", "decile")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("decile")
    cells
      .withColumn("tn", sum(col("n")).over(w))
      .withColumn("ts", sum(col("sc")).over(w))
      .select(col("g"), col("decile"), col("n"),
        round(col("sc").cast(DoubleType) / col("n").cast(DoubleType) / 100.0,
          4).as("group_mean"),
        round(col("ts").cast(DoubleType) / col("tn").cast(DoubleType) / 100.0,
          4).as("ref_mean"),
        round(col("ts").cast(DoubleType) / col("tn").cast(DoubleType) / 100.0
          - col("sc").cast(DoubleType) / col("n").cast(DoubleType) / 100.0,
          4).as("adjustment"))
      .orderBy("g", "decile")
  }

  /** DuckDB replay of [[quantileNorm]] — same cut-points, buckets and
    * pooled reference. */
  val quantileNormOracleSql: String = {
    val ps = (1 until 10).map(i => s"0.$i").mkString(", ")
    s"""WITH base AS (
       |  SELECT l_returnflag AS g,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS c
       |  FROM lineitem),
       |cuts AS (
       |  SELECT g, quantile_cont(CAST(c AS DOUBLE), [$ps]) AS bs
       |  FROM base GROUP BY 1),
       |cells AS (
       |  SELECT base.g,
       |    CAST(1 + len(list_filter(cuts.bs, b -> CAST(c AS DOUBLE) > b))
       |      AS BIGINT) AS decile,
       |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS sc
       |  FROM base JOIN cuts ON base.g = cuts.g
       |  GROUP BY 1, 2),
       |t AS (
       |  SELECT g, decile, n, sc,
       |    SUM(n) OVER (PARTITION BY decile) AS tn,
       |    SUM(sc) OVER (PARTITION BY decile) AS ts
       |  FROM cells)
       |SELECT g, decile, n,
       |  ROUND(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4)
       |    AS group_mean,
       |  ROUND(CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE) / 100.0, 4)
       |    AS ref_mean,
       |  ROUND(CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE) / 100.0
       |    - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4)
       |    AS adjustment
       |FROM t ORDER BY g, decile""".stripMargin
  }

  /** Robust outlier statistics per group: median, MAD (median absolute
    * deviation) and the count beyond the standard 3σ-equivalent robust
    * fence |x − med| > 3 · 1.4826 · MAD — the outlier gauge that, unlike
    * [[zScore]], a few extreme rows cannot drag (mean/σ break down at 50%
    * contamination; med/MAD hold to 50%). Two passes by necessity (MAD
    * needs the median first): group medians (R-7, same definition as
    * DuckDB quantile_cont) broadcast back as a ≤|groups|-row dimension,
    * then the deviation median + the fence count. The 1.4826 consistency
    * constant is the same double literal on both engines, and the fence
    * compare is one deterministic expression — no aggregation of doubles
    * anywhere except the exact percentile selections.
    *
    * Scale: same exact-percentile caveat as [[percentiles]] — the 100 TB
    * path swaps approx_percentile into both passes, same interface. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("x"))
    val med = base.groupBy("l_returnflag")
      .agg(expr("percentile_exact(CAST(x AS DOUBLE), 0.5D)").as("med"))
    // localCheckpoint: dev feeds the stats pass AND the fence count —
    // without it the lineitem scan + median join re-execute on both plan
    // branches (3 fact scans instead of 2; the exchanges differ, so
    // ReuseExchange cannot dedupe them)
    val dev = Materialize.eagerly(base.join(broadcast(med), "l_returnflag")
      .select(col("l_returnflag"), col("med"),
        abs(col("x") - col("med")).as("dev")))
    val stats = dev.groupBy("l_returnflag")
      .agg(first(col("med")).as("med"),
        expr("percentile_exact(CAST(dev AS DOUBLE), 0.5D)").as("mad"),
        count(lit(1)).as("n"))
    dev.drop("med")
      .join(broadcast(stats), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(round(first(col("med")), 4).as("median"),
        round(first(col("mad")), 4).as("mad"),
        first(col("n")).as("n"),
        sum(when(col("dev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("l_returnflag")
  }

  /** DuckDB replay of [[madOutliers]] — same R-7 medians and fence. */
  val madOutliersOracleSql: String =
    """WITH med AS (
      |  -- CAST AS DOUBLE: on DECIMAL input quantile_cont truncates the
      |  -- interpolated value to the input scale, diverging from Spark's
      |  -- percentile(CAST(x AS DOUBLE)) (the quantileNorm oracle's rule)
      |  SELECT l_returnflag,
      |    quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS med
      |  FROM lineitem GROUP BY 1),
      |d AS (
      |  SELECT l.l_returnflag, m.med,
      |    abs(l.l_extendedprice - m.med) AS dev, l.l_extendedprice AS x
      |  FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag),
      |s AS (
      |  SELECT l_returnflag, ANY_VALUE(med) AS med,
      |    quantile_cont(CAST(dev AS DOUBLE), 0.5) AS mad, COUNT(*) AS n
      |  FROM d GROUP BY 1)
      |SELECT s.l_returnflag, ROUND(s.med, 4) AS median,
      |  ROUND(s.mad, 4) AS mad, s.n,
      |  CAST(SUM(CASE WHEN abs(d.x - d.med) > 3.0 * 1.4826 * s.mad
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN s ON d.l_returnflag = s.l_returnflag
      |GROUP BY s.l_returnflag, s.med, s.mad, s.n
      |ORDER BY s.l_returnflag""".stripMargin

  /** DuckDB replay of [[percentileDisc]] — the ANSI definition stated
    * explicitly via cume_dist, engine-convention-independent. */
  val percentileDiscOracleSql: String =
    """WITH s AS (
      |  SELECT l_returnflag, l_extendedprice AS v,
      |    cume_dist() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice) AS cd
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  MIN(CASE WHEN cd >= 0.5 THEN v END) AS p50_disc,
      |  MIN(CASE WHEN cd >= 0.95 THEN v END) AS p95_disc,
      |  COUNT(*) AS n
      |FROM s GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** HLL++ distinct-count sketch next to the exact answer. At 100 TB the
    * sketch (fixed ~kB of state per group, mergeable, one pass) replaces
    * the exact distinct's full shuffle of every key. Deterministic given
    * the data, but not replayable in another engine (sketch internals
    * differ), so — like the tree-ensemble queries — this is a rows-only
    * driver row; the error bound is pinned in-engine (RelationalSpec)
    * against the exact column computed in the same scan. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"))
      // self-gating error bound (sketches aren't cross-engine replayable,
      // so this is the query's own oracle): at rsd=0.02 a 10%-of-exact
      // deviation is ≥5σ — a broken sketch fails the hashed check column
      // while legitimate HLL++ estimates always pass
      .withColumn("check",
        abs(col("approx_users") - col("exact_users")) <=
          greatest(col("exact_users") * 0.1, lit(5.0)))
      .orderBy("event_type")

  /** The scale-path variant of [[percentiles]]: the same per-group p50/p95
    * via `approx_percentile` — Spark's mergeable one-pass GK-style sketch,
    * the quantile structure the 100 TB path substitutes for the exact R-7
    * buffer (equiDepthHistogram and percentiles both name it as their
    * scale escape hatch; this query exercises it beside the exact answer).
    *
    * Like the HLL sketch ([[approxDistinct]]), internals aren't
    * cross-engine replayable, so this is a rows-only driver row
    * self-gated by `check` columns computed in the SAME scan: at
    * `accuracy` = 10⁴ the sketch guarantees rank error ≤ n/accuracy, so
    * each approx quantile must land inside the exact ±2 % rank band —
    * 200× the guarantee, yet tight enough that a broken sketch (or a
    * broken exact percentile) fails the hashed check while a correct one
    * never does. */
  def percentilesApprox(spark: SparkSession, dir: String,
                        accuracy: Int = 10000): DataFrame = {
    def ap(p: String) =
      expr(s"approx_percentile(CAST(l_extendedprice AS DOUBLE), $p, $accuracy)")
    // all four exact band edges from ONE percentile buffer (the
    // equiDepthHistogram trick), not four separate aggregates
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        ap("0.5").as("a50"), ap("0.95").as("a95"),
        expr("percentile_exact(CAST(l_extendedprice AS DOUBLE), " +
          "array(0.48D, 0.52D, 0.93D, 0.97D))").as("bands"))
      .select(col("l_returnflag"),
        round(col("a50"), 2).as("p50_approx"),
        round(col("a95"), 2).as("p95_approx"),
        (col("a50") >= element_at(col("bands"), 1) &&
          col("a50") <= element_at(col("bands"), 2)).as("check_p50"),
        (col("a95") >= element_at(col("bands"), 3) &&
          col("a95") <= element_at(col("bands"), 4)).as("check_p95"))
      .orderBy("l_returnflag")
  }

  /** M14-shaped reshape: wide metric columns → long (metric, value) rows via
    * `stack` (reference `gather` on the training log, 04_1:319). Pure
    * dataflow — oracle-checked; the model-metric variant lives in
    * ml.OlsPipeline.metricsLong. */
  def meltWideToLong(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(money(col("l_quantity"))).cast(DoubleType) /
              count(lit(1)), 4).as("avg_qty"),
        round(sum(money(col("l_extendedprice"))).cast(DoubleType) /
              count(lit(1)), 4).as("avg_price"))
      .selectExpr("l_returnflag",
        "stack(2, 'avg_qty', avg_qty, 'avg_price', avg_price) AS (metric, value)")
      .orderBy("l_returnflag", "metric")

  // ---------------------------------------------------------------------
  // A6/P6: per-column NA-fraction profile (reference 02_DataCleaning.R:38-47).
  // Data-driven: column list comes from the schema, one single-pass agg.
  // ---------------------------------------------------------------------
  def naProfile(df: DataFrame): DataFrame = {
    val aggs = df.columns.map(c =>
      round(avg(col(c).isNull.cast(DoubleType)), 6).as(s"na_frac_$c")).toSeq
    df.agg(aggs.head, aggs.tail: _*)
  }

  def naProfileEvents(spark: SparkSession, dir: String): DataFrame =
    naProfile(Tables.events(spark, dir))

  /** Columns whose NA fraction exceeds `threshold` (the reference drops
    * these, keeping `keep`; 02_DataCleaning.R:41-47). Driver-side decision on
    * a 1-row aggregate — the data pass is the single agg above. */
  def columnsToPrune(df: DataFrame, threshold: Double, keep: Set[String]): Seq[String] = {
    val row = naProfile(df).collect()(0)
    df.columns.zipWithIndex.collect {
      case (c, i) if !keep.contains(c) && row.getDouble(i) > threshold => c
    }.toSeq
  }
}
