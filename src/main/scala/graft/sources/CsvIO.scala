package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** CSV / parquet source-sink surface (SURVEY.md §2.1: S1–S4).
  *
  * The reference's data layer is chunked CSV ingestion with a declared
  * type map (read.csv.ffdf, 01_DataMerge.R:42-47) plus ffdf binary
  * checkpoints between stages (save.ffdf/load.ffdf, 01:50,143) and CSV
  * result sinks (fwrite, 03:162). Spark-first: explicit StructType CSV
  * scans with DROPMALFORMED (the reference's malformed-tail cap),
  * `nullValue=""` (P3 at the scan), partitioned parquet checkpoints, and
  * CSV sinks that stay partitioned unless the result is a small final
  * aggregate (`singleFile=true` ⇒ coalesce(1), the only sanctioned use).
  */
object CsvIO {

  /** Filesystem-safe key for a dataset dir (shared by every tmp-path
    * builder so the sanitization can't drift between them). */
  private[graft] def pathKey(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Scratch path for a query's sink round-trip, keyed by the dataset dir
    * (two scale factors must not share a path) and the process (two JVMs —
    * e.g. bench and verify — must not overwrite each other between write
    * and read-back). Pid-keyed paths would otherwise accumulate one copy
    * per JVM in tmp forever, so each is removed on JVM exit. */
  private[graft] def scratch(tag: String, dir: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      s"${pathKey(dir)}_pid${ProcessHandle.current().pid()}"
    cleanupOnExit(p)
    p
  }

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def cleanupOnExit(path: String): Unit =
    if (registered.add(path)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(path))
      }))
    }

  /** S1/S2: schema-declared CSV scan. Chunking is inherent — Spark splits
    * the file into partition-sized ranges; no row-cap needed. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .option("nullValue", "")
      .schema(schema)
      .csv(path)

  /** S4: CSV sink. Partitioned by default; single-file only for small
    * final result tables (the reference's fwrite outputs are ≤5k rows). */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("overwrite").option("header", "true").csv(path)

  /** S3: parquet stage checkpoint (save.ffdf/load.ffdf analogue). */
  def checkpoint(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def loadCheckpoint(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)

  /** S3 at scale: hive-layout checkpoint partitioned by low-cardinality
    * key(s). A downstream filter on the partition column prunes whole
    * directories at planning time (PartitionFilters, zero I/O for pruned
    * partitions) — the difference between scanning 100 TB and scanning one
    * partition of it. */
  def checkpointPartitioned(df: DataFrame, path: String,
                            cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Oracle-checked S3 lifecycle: events → hive-partitioned parquet
    * checkpoint → re-scan with a partition-column filter (prunes whole
    * directories at planning time, asserted in PlanSpec) → profile. The
    * oracle runs the same profile on the ORIGINAL table with the same
    * predicate, so the checkpoint write+pruned read must be lossless. */
  def checkpointPrune(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("ckpt_events", dir)
    checkpointPartitioned(Tables.events(spark, dir), path, Seq("event_type"))
    Tables.parquet(spark, path)
      .filter(col("event_type") === "click")
      .agg(
        count(lit(1)).as("cnt"),
        (sum(col("value").cast(DecimalType(18, 2))) * 100).cast(LongType)
          .as("sum_value_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  /** S3 at scale, part two: BUCKETED checkpoint (bucketBy + sortBy on the
    * join key, saveAsTable — bucketing lives in the catalog, not the
    * directory layout). Two tables bucketed on their join keys with the
    * same bucket count join WITHOUT a shuffle on either side: each bucket
    * pair is already co-located, so the sort-merge join reads bucket files
    * directly — the standard way to amortize ONE shuffle-by-write across
    * every downstream join of a 100 TB fact table. */
  def checkpointBucketed(df: DataFrame, table: String, bucketCol: String,
                         buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** Oracle-checked bucketed-join lifecycle: orders + customer → bucketed
    * checkpoints on the join key → co-located sort-merge join (the MERGE
    * hint pins SMJ — a broadcast would be fine for 15k customers but would
    * skip the co-location being demonstrated; asserted shuffle-free on the
    * join keys in PlanSpec) → segment profile. The oracle runs the same
    * join+profile on the ORIGINAL tables, so the bucketed write+read must
    * be lossless. Table names carry dataset + pid so concurrent JVMs
    * (bench and verify) can't overwrite each other's buckets. */
  def bucketedJoin(spark: SparkSession, dir: String,
                   buckets: Int = 8): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9_]", "_") +
      s"_pid${ProcessHandle.current().pid()}"
    val ot = s"graft_bkt_orders_$key"
    val ct = s"graft_bkt_customer_$key"
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    Seq(ot, ct).foreach(t => cleanupOnExit(s"$wh/${t.toLowerCase}"))
    checkpointBucketed(Tables.orders(spark, dir)
      .select("o_custkey", "o_totalprice"), ot, "o_custkey", buckets)
    checkpointBucketed(Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment"), ct, "c_custkey", buckets)
    val o = spark.table(ot)
    val c = spark.table(ct)
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("cnt"),
        (sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("sum_price_cents"))
      .orderBy("c_mktsegment")
  }

  /** Oracle-checked round-trip: customer → CSV (typed re-scan) → aggregate.
    * Values survive the text round-trip exactly (Java double formatting is
    * round-trip exact; money compared as DECIMAL), so the oracle is the
    * same aggregate over the ORIGINAL parquet. */
  def csvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.customer(spark, dir)
    val path = scratch("csv_roundtrip", dir)
    writeCsv(src, path)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    readCsv(spark, path, schema)
      .agg(
        count(lit(1)).as("rows"),
        countDistinct(col("c_custkey")).as("keys"),
        sum(col("c_acctbal").cast(DecimalType(18, 2)))
          .cast(DecimalType(28, 2)).as("sum_bal"),
        min(col("c_name")).as("min_name"),
        max(col("c_mktsegment")).as("max_segment"))
  }

  /** S3/S4 alternate columnar format: ORC sink + source (Spark-native,
    * predicate-pushdown- and column-pruning-capable like parquet — the
    * interchange format half the Hive-era lakes still speak). The
    * write→read→profile must reproduce the source table's profile
    * exactly; the oracle computes the same profile from the original
    * parquet, so the ORC round-trip is proven lossless for longs,
    * decimals-in-double, and strings. */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val src = graft.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    val path = scratch("orc_roundtrip", dir)
    src.write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .agg(
        count(lit(1)).as("rows"),
        countDistinct(col("l_orderkey")).as("keys"),
        (sum(col("l_quantity").cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("sum_qty_cents"),
        (sum(col("l_extendedprice").cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("sum_price_cents"),
        min(col("l_returnflag")).as("min_flag"),
        max(col("l_returnflag")).as("max_flag"))
  }
}
