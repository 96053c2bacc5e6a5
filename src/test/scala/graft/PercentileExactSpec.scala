package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** percentile_exact must be RESULT-IDENTICAL (bitwise) to Spark's built-in
  * `percentile` — it exists purely as a faster buffer layout (r19
  * optimization round), so any divergence is a correctness bug, not a
  * tolerance question. Every oracle-gated exact-quantile query routes
  * through it, and the gates below pin the equivalence on the REAL corpus
  * column plus the adversarial edge shapes (ties, ±0.0, single element,
  * integer positions, all-null groups). */
class PercentileExactSpec extends AnyFunSuite {
  import TestSpark._

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("grouped array+scalar ≡ built-in percentile bitwise on lineitem") {
    val rows = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(CAST(l_extendedprice AS DOUBLE), " +
          "array(0.1D,0.25D,0.5D,0.75D,0.9D,0.95D))").as("ref"),
        expr("percentile_exact(CAST(l_extendedprice AS DOUBLE), " +
          "array(0.1D,0.25D,0.5D,0.75D,0.9D,0.95D))").as("mine"),
        expr("percentile(CAST(l_discount AS DOUBLE), 0.5D)").as("ref_s"),
        expr("percentile_exact(CAST(l_discount AS DOUBLE), 0.5D)").as("mine_s"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ref = r.getSeq[Double](1)
      val mine = r.getSeq[Double](2)
      assert(ref.map(bits) == mine.map(bits),
        s"array mismatch for ${r.get(0)}: $ref vs $mine")
      assert(bits(r.getDouble(3)) == bits(r.getDouble(4)),
        s"scalar mismatch for ${r.get(0)}")
    }
  }

  test("global decile array ≡ built-in bitwise (the q_equidepth shape)") {
    val ps = (1 until 10).map(i => s"0.${i}D").mkString(", ")
    val r = Tables.lineitem(spark, sf)
      .agg(
        expr(s"percentile(CAST(l_extendedprice AS DOUBLE), array($ps))")
          .as("ref"),
        expr(s"percentile_exact(CAST(l_extendedprice AS DOUBLE), array($ps))")
          .as("mine"))
      .collect()(0)
    assert(r.getSeq[Double](0).map(bits) == r.getSeq[Double](1).map(bits))
  }

  test("edge shapes: ties, ±0.0, singletons, integer positions, null groups") {
    val spark2 = spark
    import spark2.implicits._
    val data = Seq[(String, java.lang.Double)](
      ("ties", 5.0), ("ties", 5.0), ("ties", 5.0), ("ties", 7.0),
      ("zero", -0.0), ("zero", 0.0), ("zero", -0.0), ("zero", 1.0),
      ("one", 42.0),
      ("two", 1.0), ("two", 2.0),
      ("intpos", 1.0), ("intpos", 2.0), ("intpos", 3.0), ("intpos", 4.0),
      ("intpos", 5.0),
      ("nulls", null), ("nulls", null),
      ("mixed", null), ("mixed", 3.0), ("mixed", 1.0))
      .toDF("g", "v")
    val rows = data.groupBy("g")
      .agg(
        expr("percentile(CAST(v AS DOUBLE), " +
          "array(0.0D,0.1D,0.25D,0.5D,0.75D,0.9D,1.0D))").as("ref"),
        expr("percentile_exact(CAST(v AS DOUBLE), " +
          "array(0.0D,0.1D,0.25D,0.5D,0.75D,0.9D,1.0D))").as("mine"))
      .collect()
    rows.foreach { r =>
      (r.isNullAt(1), r.isNullAt(2)) match {
        case (true, true) => () // all-null group: both NULL
        case (false, false) if r.getString(0) == "zero" =>
          // ±0-mixed scope (ADVICE r19): the built-in's counts map keeps
          // the FIRST-SEEN zero representation, so its bit pattern here
          // is encounter-order/partitioning dependent — compare the zero
          // group NUMERICALLY, and pin OUR deterministic -0.0 below
          val (a, b) = (r.getSeq[Double](1), r.getSeq[Double](2))
          assert(a.length == b.length &&
            a.zip(b).forall { case (x, y) => x == y },
            s"numeric mismatch for zero group: $a vs $b")
          // mixed-zero ties resolve to the run's smallest representation
          assert(bits(b.head) == bits(-0.0),
            s"p=0 over a -0.0-bearing group must be -0.0, got ${b.head}")
        case (false, false) =>
          assert(r.getSeq[Double](1).map(bits) == r.getSeq[Double](2).map(bits),
            s"mismatch for group ${r.getString(0)}: " +
              s"${r.getSeq[Double](1)} vs ${r.getSeq[Double](2)}")
        case other => fail(s"null-ness mismatch for ${r.getString(0)}: $other")
      }
    }
  }

  test("counts-compaction path ≡ plain path bitwise (forced threshold)") {
    // the r20 scale-robustness fallback (ADVICE r19 medium): when a
    // buffer's flat tail reaches CompactThreshold it folds into a
    // (value, count) RLE; this drives that path with a tiny threshold
    // over the real corpus column AND the edge shapes and pins bitwise
    // identity against the plain flat path (the oracle-gated default)
    val spark2 = spark
    import spark2.implicits._
    val before = graft.functions.PercentileExact.CompactThreshold
    try {
      graft.functions.PercentileExact.CompactThreshold = 64
      val ps = "array(0.0D,0.1D,0.25D,0.5D,0.75D,0.9D,0.95D,1.0D)"
      // low-cardinality (compaction productive) and near-distinct
      // (adaptive noCompact kicks in) columns, grouped and global
      val li = Tables.lineitem(spark, sf)
      val got = li.groupBy("l_returnflag")
        .agg(
          expr(s"percentile_exact(CAST(l_discount AS DOUBLE), $ps)").as("lo"),
          expr(s"percentile_exact(CAST(l_extendedprice AS DOUBLE), $ps)")
            .as("hi"),
          expr("percentile_disc_exact(CAST(l_extendedprice AS DOUBLE), " +
            s"$ps)").as("dc"))
        .orderBy("l_returnflag").collect()
      graft.functions.PercentileExact.CompactThreshold = before
      val ref = li.groupBy("l_returnflag")
        .agg(
          expr(s"percentile_exact(CAST(l_discount AS DOUBLE), $ps)").as("lo"),
          expr(s"percentile_exact(CAST(l_extendedprice AS DOUBLE), $ps)")
            .as("hi"),
          expr("percentile_disc_exact(CAST(l_extendedprice AS DOUBLE), " +
            s"$ps)").as("dc"))
        .orderBy("l_returnflag").collect()
      assert(got.length == ref.length && got.nonEmpty)
      got.zip(ref).foreach { case (g, e) =>
        for (c <- 1 to 3)
          assert(g.getSeq[Double](c).map(bits) == e.getSeq[Double](c).map(bits),
            s"compacted path diverged: group ${g.getString(0)} col $c")
      }
      // edge shapes through the compacted path: ±0 runs crossing
      // compaction boundaries, ties, a singleton
      graft.functions.PercentileExact.CompactThreshold = 4
      val edge = (Seq.fill(40)(-0.0) ++ Seq.fill(40)(0.0) ++
        Seq.fill(13)(5.0) ++ Seq(7.0, 42.0)).toDF("v")
        .agg(
          expr("percentile_exact(CAST(v AS DOUBLE), " +
            "array(0.0D,0.2D,0.4D,0.41D,0.5D,0.86D,1.0D))").as("pe"),
          expr("percentile_disc_exact(CAST(v AS DOUBLE), " +
            "array(0.0D,0.2D,0.4D,0.41D,0.5D,0.86D,1.0D))").as("pd"))
        .collect()(0)
      graft.functions.PercentileExact.CompactThreshold = before
      val edgeRef = (Seq.fill(40)(-0.0) ++ Seq.fill(40)(0.0) ++
        Seq.fill(13)(5.0) ++ Seq(7.0, 42.0)).toDF("v")
        .agg(
          expr("percentile_exact(CAST(v AS DOUBLE), " +
            "array(0.0D,0.2D,0.4D,0.41D,0.5D,0.86D,1.0D))").as("pe"),
          expr("percentile_disc_exact(CAST(v AS DOUBLE), " +
            "array(0.0D,0.2D,0.4D,0.41D,0.5D,0.86D,1.0D))").as("pd"))
        .collect()(0)
      for (c <- 0 to 1)
        assert(edge.getSeq[Double](c).map(bits) ==
          edgeRef.getSeq[Double](c).map(bits),
          s"edge col $c: ${edge.getSeq[Double](c)} vs " +
            s"${edgeRef.getSeq[Double](c)}")
    } finally {
      graft.functions.PercentileExact.CompactThreshold = before
    }
  }

  test("percentile_disc_exact ≡ the cume_dist window form bitwise") {
    // the r18 q_percentile_disc shape, stated literally — the aggregate
    // must reproduce it bit-for-bit on the real corpus column
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    val ps = Seq(0.0, 0.1, 0.25, 1.0 / 3.0, 0.5, 0.7, 0.95, 0.99, 1.0)
    val ref = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"))
      .withColumn("cd", cume_dist().over(w))
      .groupBy(col("l_returnflag"))
      .agg(min(when(col("cd") >= ps.head, col("l_extendedprice")))
          .as("r0"),
        ps.tail.map(p =>
          min(when(col("cd") >= p, col("l_extendedprice"))).as(s"r$p")): _*)
      .collect().map(r => r.getString(0) ->
        ps.indices.map(i => bits(r.getDouble(i + 1)))).toMap
    val mineRows = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile_disc_exact(CAST(l_extendedprice AS DOUBLE), " +
        s"array(${ps.map(p => s"${p}D").mkString(",")}))").as("pd"))
      .collect()
    assert(mineRows.nonEmpty)
    mineRows.foreach { r =>
      assert(r.getSeq[Double](1).map(bits) == ref(r.getString(0)),
        s"disc mismatch for ${r.getString(0)}")
    }
  }

  test("percentile_disc_exact edges: ties, ±0.0, singletons, tiny groups") {
    val spark2 = spark
    import spark2.implicits._
    val data = Seq[(String, java.lang.Double)](
      ("ties", 5.0), ("ties", 5.0), ("ties", 5.0), ("ties", 7.0),
      ("zero", -0.0), ("zero", 0.0), ("zero", 1.0),
      ("one", 42.0), ("two", 1.0), ("two", 2.0))
      .toDF("g", "v")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy("v")
    val ps = Seq(0.0, 0.2, 0.5, 2.0 / 3.0, 0.95, 1.0)
    val ref = data
      .withColumn("cd", cume_dist().over(w))
      .groupBy("g")
      .agg(min(when(col("cd") >= ps.head, col("v"))).as("r0"),
        ps.tail.map(p => min(when(col("cd") >= p, col("v"))).as(s"r$p")): _*)
      .collect().map(r => r.getString(0) ->
        ps.indices.map(i => bits(r.getDouble(i + 1)))).toMap
    data.groupBy("g")
      .agg(expr("percentile_disc_exact(CAST(v AS DOUBLE), " +
        s"array(${ps.map(p => s"${p}D").mkString(",")}))").as("pd"))
      .collect().foreach { r =>
        assert(r.getSeq[Double](1).map(bits) == ref(r.getString(0)),
          s"disc mismatch for ${r.getString(0)}")
      }
  }

  test("built-in parity: empty percentage array → NULL; out-of-range " +
      "percentage rejected at analysis") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    for (fn <- Seq("percentile_exact", "percentile_disc_exact")) {
      // array_remove yields a foldable empty ARRAY<DOUBLE>: the built-in
      // percentile returns NULL for it (generateOutput of an empty seq),
      // so must we
      val r = df.agg(
        expr(s"$fn(CAST(v AS DOUBLE), array_remove(array(0.5D), 0.5D))"))
        .collect()(0)
      assert(r.isNullAt(0), s"$fn: empty percentage array must be NULL")
      // out-of-range percentages must fail at ANALYSIS (the built-in's
      // behavior) — not after a full scan on an executor
      val e = intercept[Exception] {
        df.agg(expr(s"$fn(CAST(v AS DOUBLE), 1.5D)")).collect()
      }
      assert(e.getMessage.contains("[0, 1]"), s"$fn: ${e.getMessage}")
      // a foldable NULL percentage must also fail CLEANLY at analysis
      // (ADVICE r19: it previously escaped the type checks and threw a
      // raw IllegalArgumentException from parsePercentages)
      val en = intercept[Exception] {
        df.agg(expr(s"$fn(CAST(v AS DOUBLE), CAST(NULL AS DOUBLE))"))
          .collect()
      }
      assert(en.getMessage.contains("must not be null"),
        s"$fn: ${en.getMessage}")
    }
  }

  test("disc ±0.0 run: deterministic -0.0 at any partitioning") {
    // the window form's MIN over a ±0 peer run keeps the first-seen zero
    // representation (encounter-order-dependent); the aggregate is pinned
    // DETERMINISTIC instead: the run's smallest representation (-0.0),
    // independent of partitioning — the stronger contract (scaladoc)
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(0.0, -0.0, 0.0, -0.0, 1.0).toDF("v")
    for (parts <- Seq(1, 3, 5)) {
      val r = df.repartition(parts)
        .agg(expr("percentile_disc_exact(CAST(v AS DOUBLE), " +
          "array(0.1D,0.5D,1.0D))"))
        .collect()(0).getSeq[Double](0).map(bits)
      assert(r == Seq(bits(-0.0), bits(-0.0), bits(1.0)),
        s"parts=$parts: $r")
    }
  }

  test("repartitioning invariance (merge path exercised)") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 10001).map(i => ((i * 2654435761L) % 997).toDouble)
      .toDF("v")
    def run(parts: Int): Seq[Long] =
      df.repartition(parts)
        .agg(expr("percentile_exact(CAST(v AS DOUBLE), " +
          "array(0.01D,0.33D,0.5D,0.66D,0.99D))"))
        .collect()(0).getSeq[Double](0).map(bits)
    val ref = df.agg(expr("percentile(CAST(v AS DOUBLE), " +
      "array(0.01D,0.33D,0.5D,0.66D,0.99D))"))
      .collect()(0).getSeq[Double](0).map(bits)
    assert(run(1) == ref && run(7) == ref && run(32) == ref)
  }

  test("a partial buffer keeps its noCompact flag through serialize") {
    // a buffer that gave up compaction must not reset after a shuffle
    // and pay another unproductive sort and merge on the merge side
    import graft.functions.PercentileExact
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = PercentileExact(Literal(1.0), Literal(0.5))
    for (flag <- Seq(true, false)) {
      val b = new PercentileExact.Buf(Array(3.0, -0.0, 2.0, 0.0), 3)
      b.rleV = Array(1.0, 5.0); b.rleC = Array(2L, 7L); b.rleM = 2
      b.noCompact = flag
      val back = agg.deserialize(agg.serialize(b))
      assert(back.noCompact === flag)
      assert(back.n === 3 && back.arr.take(3).map(bits).toSeq ===
        Seq(3.0, -0.0, 2.0).map(bits))
      assert(back.rleM === 2 && back.rleV.toSeq === Seq(1.0, 5.0) &&
        back.rleC.toSeq === Seq(2L, 7L))
    }
  }
}
