package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graft.Footer

/** Table access for the driver-generated testdata (TESTDATA.md).
  *
  * Mirrors the reference's data layer — out-of-core, column-chunked tables
  * (`read.csv.ffdf`, reference 01_DataMerge.R:42-47; `save.ffdf`/`load.ffdf`
  * checkpoints, 01_DataMerge.R:50,143) — as partitioned Parquet scans.
  * Column pruning and predicate pushdown reach the scan via Catalyst, which
  * is what makes the same code hold at 100 TB: only referenced columns and
  * row groups are read. Each scan's schema comes from its parquet footer,
  * read on the driver, so planning a load starts no Spark job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Lazy parquet scan; Catalyst prunes columns/pushes filters into it. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** A parquet scan of `path` without its schema-inference job: the
    * schema comes from the one footer Spark's non-merging inference reads
    * (`_common_metadata`, else `_metadata`, else the first data file by
    * sorted path), read on the driver and converted by Spark's own code
    * under the session's confs. A directory with subdirectories (a
    * hive-partitioned layout needs partition discovery) and a path with
    * no footer plan as plain `spark.read.parquet`, which keeps Spark's
    * partition columns and its own error. Nothing is cached: every call
    * reads the footer again. `path` is a path, never a glob pattern. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val footer: Option[FileStatus] =
      if (!fs.exists(p)) None
      else {
        val st = fs.getFileStatus(p)
        if (st.isFile) Some(st).filterNot(f => Footer.hidden(f.getPath.getName))
        else {
          val kids = fs.listStatus(p)
          if (kids.exists(_.isDirectory)) None
          else {
            val leaves = kids.filterNot(k => Footer.hidden(k.getPath.getName))
              .sortBy(_.getPath.toString)
            val summaries = Seq("_common_metadata", "_metadata")
            summaries.view.flatMap(n => leaves.find(_.getPath.getName == n))
              .headOption.orElse(leaves.find(l =>
                !summaries.contains(l.getPath.getName)))
          }
        }
      }
    footer.flatMap(Footer.schema(spark, _)) match {
      case Some(schema) => spark.read.schema(schema).parquet(literal(path))
      case None => spark.read.parquet(literal(path))
    }
  }

  /** `path` with its Hadoop glob metacharacters escaped: Spark's file
    * readers glob every path they are given, so a directory named
    * `g[1]` would otherwise match `g1` or nothing. */
  private[graft] def literal(path: String): String =
    path.replaceAll("""([\\{}\[\]*?])""", """\\$1""")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Normalize `events.ts` to a session-zone timestamp. The inputs write
    * timestamp[us] with isAdjustedToUTC=false, which Spark reads as
    * TIMESTAMP_NTZ; the session timezone is pinned to UTC, so the NTZ→TZ
    * cast is value-preserving. A TIMESTAMP(NANOS) column fails in Spark's
    * own reader: the session's `nanosAsLong` conf is never set here. */
  def withEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    withEventTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The one session recipe of tests and tools (Bench, Verify, DevTools):
    * a tool that needs more sets it on the built session. Shuffle
    * partitions = `cores` (default 4 for tests; Bench passes 32 to match
    * local[32]); UTC session zone, which every oracle check assumes; AQE
    * coalesces/re-plans at runtime — the knob that scales this config to
    * a real cluster is ONLY the partition count. Bucketed checkpoints
    * (saveAsTable) land in tmp, not ./spark-warehouse.
    */
  def localSession(appName: String, cores: Int = 4): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
