package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Materialize, Tables}

/** Dataset-versioning primitives: applying a CDC change-set to a corpus
  * snapshot (the MERGE/upsert half of the story whose read-side diff lives
  * in [[Graph.snapshotDiff]]).
  *
  * A 100 TB training corpus is not rebuilt per release — it is patched:
  * a change-set of upserts (re-crawled / re-cleaned documents) and
  * deletes (takedowns, opt-outs, decontamination hits) is merged into the
  * previous snapshot. The scale shape is ONE id-equi full-outer join
  * between snapshot and change-set plus a bounded profile aggregate; with
  * both sides bucketed by doc_id (the layout [[graft.sources.Bucketing]]
  * writes), the join is shuffle-free and the cost is one pass over the
  * changed partitions. Only the narrow change columns travel — the merge
  * never shuffles unchanged document text.
  *
  * (Reference analogue: none — the reference rebuilds `./ffdfClean` from
  * scratch each run, 02_DataCleaning.R:269; incremental maintenance is
  * brief-side completeness for a production corpus.)
  */
object Versioning {

  /** Deterministic planted change-set over `documents`, exercising every
    * MERGE branch: doc_id%10==0 → delete; else doc_id%7==0 → update
    * (text gains " v2"); doc_id%9==0 → insert as doc_id+1,000,000 (a copy
    * landing in fresh id space). Unique doc_id per change row by
    * construction (the update branch excludes the delete ids; insert ids
    * are disjoint from base ids). */
  private def changeSet(base: DataFrame): DataFrame = {
    val del = base.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit("D").as("op"),
        lit(null).cast(StringType).as("c_text"))
    val upd = base.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 0)
      .select(col("doc_id"), lit("U").as("op"),
        concat(col("text"), lit(" v2")).as("c_text"))
    val ins = base.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), lit("U").as("op"),
        col("text").as("c_text"))
    del.unionByName(upd).unionByName(ins)
  }

  /** MERGE the change-set into the snapshot (delete wins; update replaces
    * text; insert appends) and emit the 16-row per-bucket profile a
    * version manifest records: count, total text length, id range. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val merged = base.join(changeSet(base), Seq("doc_id"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(col("doc_id"), coalesce(col("c_text"), col("text")).as("text"))
    merged
      .groupBy((col("doc_id") % 16).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("sum_len"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("bucket")
  }

  /** SCD Type-2 dimension build: turn each user's event-type change LOG
    * into validity intervals `[valid_from, valid_to)` — the standard
    * warehouse history shape ([[mergeUpsert]] maintains the CURRENT
    * snapshot; this keeps every version queryable as-of any time).
    *
    * Two per-user window steps over ONE (user_id, ts, event_id) sort:
    * (1) collapse runs of the same attribute value (a row survives iff its
    * value differs from its predecessor's — re-stating an unchanged value
    * must not open a new version); (2) close each surviving version with
    * the next version's start (`lead`), NULL ⇒ still current.
    *
    * Scale shape: both windows partition by user_id — millions of small
    * independent partitions after one hash exchange, and Catalyst runs
    * them over a single sort since partitioning AND ordering agree. The
    * output is one row per VERSION (bounded by change count, not event
    * count). Timestamps stay exact micros; the flag is an exact BIGINT. */
  def scd2(spark: SparkSession, dir: String): DataFrame =
    scd2From(Tables.events(spark, dir))

  /** Core of [[scd2]] over any (user_id, ts, event_id, event_type) log. */
  def scd2From(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("status"))
      // first-row test by ROW NUMBER, not prev_status nullability, and a
      // NULL-SAFE value compare: on a log with NULL statuses the
      // prev.isNull test conflates "first row" with "previous value was
      // NULL", opening duplicate versions for an unchanged NULL run —
      // the documented contract is value-change, not null-change
      .withColumn("rn", row_number().over(byTime))
      .withColumn("prev_status", lag(col("status"), 1).over(byTime))
      .filter(col("rn") === 1 || !(col("prev_status") <=> col("status")))
      .withColumn("valid_to", lead(col("ts"), 1).over(byTime))
      // TOTAL output order: alternating statuses at one (user, ts) can
      // leave two versions sharing (user_id, valid_from[, status]) —
      // valid_to (explicit NULLS LAST, DuckDB's default) breaks the tie
      .select(col("user_id"), col("status"), col("ts").as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.cast(LongType).as("is_current"))
      .orderBy(col("user_id"), col("valid_from"),
        col("status").asc_nulls_last, col("valid_to").asc_nulls_last)
  }

  /** Incremental aggregate maintenance (the materialized-view refresh
    * pattern): a monthly revenue rollup is NOT recomputed from the full
    * history when a new batch lands — the old materialized partial states
    * and the delta batch's partial states are algebraically MERGED
    * (sums add, counts add). Correct because the aggregate is commutative
    * and associative over exact decimal cents.
    *
    * The demonstration splits orders at [[IncrAggCutoverDay]] into
    * "materialized history" vs "new batch", aggregates each INDEPENDENTLY,
    * and merges by re-aggregating the unioned partial states. The oracle
    * is the from-scratch full aggregate — the hash match proves
    * merge(old, delta) ≡ recompute, which is the contract that lets a
    * 100 TB pipeline pay only for the delta. Scale shape: the history
    * branch stands in for a stored agg table (group-count-sized); only
    * the delta side scans new data; the merge shuffles group rows, not
    * facts.
    *
    * Mid-month cutover (orders span 1995-01 .. 2001-08), so the cutover
    * month has partial states in BOTH branches — the merge path is
    * data-exercised, not vacuous. */
  private[graft] val IncrAggCutoverDay = "2001-06-15"

  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    def monthly(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderpriority").as("priority"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
          .as("month"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("cents"), count(lit(1)).as("n"))
    val o = Tables.orders(spark, dir)
    val history = monthly(o.filter(
      col("o_orderdate") < lit(IncrAggCutoverDay).cast(TimestampType)))
    val delta = monthly(o.filter(
      col("o_orderdate") >= lit(IncrAggCutoverDay).cast(TimestampType)))
    history.unionByName(delta)
      .groupBy("priority", "month")
      .agg(sum(col("cents")).as("cents"), sum(col("n")).as("n"))
      .orderBy("priority", "month")
  }

  /** Oracle for [[incrementalAgg]]: the FROM-SCRATCH aggregate — the
    * equivalence that makes incremental refresh sound. */
  val incrementalAggOracleSql: String =
    """SELECT o_orderpriority AS priority,
      |  strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |    AS cents,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1, 2 ORDER BY priority, month""".stripMargin

  /** Cascading referential delete (GDPR/takedown propagation): a planted
    * tombstone set on the customer dimension (c_custkey ≡ 0 mod 13) must
    * take down the customers, their orders, and those orders' lineitems —
    * the per-table audit a deletion pipeline files. The complement of
    * [[mergeUpsert]]'s single-table delete branch: here the delete
    * PROPAGATES along foreign keys.
    *
    * Scale shape: the tombstone predicate prunes at the customer scan;
    * each cascade hop is a key-only left-semi join (only join keys
    * shuffle, AQE broadcasts the shrinking tombstone side), and each
    * per-table profile is one map-side-combinable count. No payload
    * column ever moves. */
  def cascadeDelete(spark: SparkSession, dir: String): DataFrame = {
    // key-only tombstone frames are localCheckpoint'd: custDel feeds the
    // orders hop AND its own profile row, ordDel the lineitem hop AND its
    // profile — uncheckpointed, the customer scan ran 4x and orders 3x in
    // one job (the exchanges differ per consumer, ReuseExchange can't
    // dedupe); now each table scans at most twice (cascade + total count)
    val custDel = Materialize.eagerly(Tables.customer(spark, dir)
      .filter(col("c_custkey") % 13 === 0).select(col("c_custkey")))
    val ordDel = Materialize.eagerly(Tables.orders(spark, dir)
      .join(custDel, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey")))
    val liDel = Tables.lineitem(spark, dir)
      .join(ordDel.select(col("o_orderkey").as("k")),
        col("l_orderkey") === col("k"), "left_semi")
    def profile(table: String, total: DataFrame, deleted: DataFrame) =
      total.agg(count(lit(1)).as("total"))
        .crossJoin(deleted.agg(count(lit(1)).as("deleted")))
        .select(lit(table).as("table_name"), col("total"), col("deleted"),
          (col("total") - col("deleted")).as("kept"))
    profile("customer", Tables.customer(spark, dir), custDel)
      .unionByName(profile("orders", Tables.orders(spark, dir), ordDel))
      .unionByName(profile("lineitem", Tables.lineitem(spark, dir), liDel))
      .orderBy("table_name")
  }

  /** DuckDB replay of [[cascadeDelete]] — same planted tombstones, the
    * cascade as EXISTS chains. */
  val cascadeDeleteOracleSql: String =
    """WITH cd AS (SELECT c_custkey FROM customer WHERE c_custkey % 13 = 0),
      |od AS (SELECT o_orderkey FROM orders o
      |       WHERE EXISTS (SELECT 1 FROM cd WHERE cd.c_custkey = o.o_custkey)),
      |ld AS (SELECT l_orderkey FROM lineitem l
      |       WHERE EXISTS (SELECT 1 FROM od WHERE od.o_orderkey = l.l_orderkey))
      |SELECT 'customer' AS table_name,
      |  (SELECT COUNT(*) FROM customer) AS total,
      |  (SELECT COUNT(*) FROM cd) AS deleted,
      |  (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM cd) AS kept
      |UNION ALL SELECT 'orders', (SELECT COUNT(*) FROM orders),
      |  (SELECT COUNT(*) FROM od),
      |  (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM od)
      |UNION ALL SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
      |  (SELECT COUNT(*) FROM ld),
      |  (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM ld)
      |ORDER BY table_name""".stripMargin

  /** DuckDB replay of [[scd2]] — same collapse-then-close window chain. */
  val scd2OracleSql: String =
    """WITH log AS (
      |  SELECT user_id, ts, event_id, event_type AS status,
      |    row_number() OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    lag(event_type) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev_status
      |  FROM events),
      |v AS (
      |  SELECT user_id, status, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS valid_to
      |  FROM log
      |  WHERE rn = 1 OR prev_status IS DISTINCT FROM status)
      |SELECT user_id, status, valid_from, valid_to,
      |  CAST(valid_to IS NULL AS BIGINT) AS is_current
      |FROM v ORDER BY user_id, valid_from, status, valid_to""".stripMargin
}
