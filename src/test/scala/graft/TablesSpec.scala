package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet` plans a parquet scan with no Spark job: the schema it
  * reads from the footer on the driver must be exactly the one Spark's
  * inference job derives, and the layouts it cannot resolve alone must
  * still read as `spark.read.parquet` reads them. */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withNanosAsLong[T](on: Boolean)(f: => T): T = {
    val before = spark.conf.getOption(nanosAsLong)
    spark.conf.set(nanosAsLong, on.toString)
    try f
    finally before.fold(spark.conf.unset(nanosAsLong))(
      spark.conf.set(nanosAsLong, _))
  }

  test("footer schema ≡ inferred schema: 10 tables, 2 scales, file and " +
    "directory form, nanosAsLong on and off") {
    val root = java.nio.file.Files.createTempDirectory("graft_tables")
    val testdata = new java.io.File(sf).getParent
    val paths = for {
      scale <- Seq("sf0.001", "sf0.01")
      name <- Tables.names
    } yield {
      val file = s"$testdata/$scale/$name.parquet"
      // a Spark-written directory of several part files: the footer read
      // is the first data file by sorted path
      val dir = s"$root/$scale/$name"
      spark.read.parquet(file).repartition(3)
        .write.mode("overwrite").parquet(dir)
      Seq(file, dir)
    }
    val pairs = for {
      on <- Seq(true, false)
      path <- paths.flatten
    } yield withNanosAsLong(on) {
      (s"$path nanosAsLong=$on", Tables.parquet(spark, path).schema,
        spark.read.parquet(path).schema)
    }
    assert(pairs.length === 80)
    val diff = pairs.filter { case (_, got, want) => got != want }
    assert(diff.isEmpty, diff.map { case (k, got, want) =>
      s"$k: $got vs $want" }.mkString("\n"))
  }

  test("events loads leave the session's nanosAsLong conf as they found it") {
    withNanosAsLong(on = false) {
      Tables.events(spark, sf).schema
      assert(spark.conf.get(nanosAsLong) === "false", "after Tables.events")
      assert(SparkEntry.queries("q_stream_tumbling")(spark, sf).count() > 0)
      assert(spark.conf.get(nanosAsLong) === "false",
        "after q_stream_tumbling")
    }
  }

  test("no job: planning a table load starts no Spark job") {
    val (_, inferred) = Work.measure(spark)(
      spark.read.parquet(s"$sf/orders.parquet").schema)
    assert(inferred.jobs === 1L, "the meter must see the inference job")
    val (schema, work) = Work.measure(spark)(Tables.orders(spark, sf).schema)
    assert(schema.fieldNames.contains("o_orderkey"))
    assert(work.jobs === 0L, work)
  }

  test("a hive-partitioned directory still reads its partition column") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tables_part").toString + "/t"
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .write.partitionBy("k").parquet(dir)
    val df = Tables.parquet(spark, dir)
    assert(df.schema === spark.read.parquet(dir).schema)
    assert(df.columns.toSeq === Seq("id", "k"))
    assert(df.filter($"k" === "a").select("id").as[Long].collect().sorted
      .toSeq === Seq(1L, 3L))
  }

  test("a path with no footer keeps Spark's own error") {
    val missing = s"${System.getProperty("java.io.tmpdir")}/graft_no_table"
    val empty = java.nio.file.Files.createTempDirectory("graft_empty").toString
    for (p <- Seq(missing, empty)) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Tables.parquet(spark, p))
      assert(got.getClass === want.getClass && got.getMessage ===
        want.getMessage, p)
    }
  }
}
