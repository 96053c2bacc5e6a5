package graft

import graft.operators.Similarity
import graft.operators.Similarity.Rotation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization (late-r16 capability): the memory-compression
  * half of a FAISS-style ANN deployment, complementing the IVF pruning
  * half already on the books. Spec-gated, wire-free (window exhausted —
  * the suffixMask/Bpe precedent): the whole chain is bit-deterministic
  * (LCG training sample, literal codebooks, first-minimum argmins,
  * fixed-order ADC sums), so the encode replica here matches EXACTLY,
  * not approximately, and the recall numbers are reproducible constants
  * of the corpus, recorded like q_ann_recall's.
  */
class PqSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val base = Tables.embeddings(spark, sf)
  private lazy val dim = Similarity.dimOf(base)
  private lazy val books = Similarity.pqCodebooks(
    Similarity.ivfTrainingSample(base,
      Similarity.pqSampleK(1 << Similarity.PqBits)),
    dim)

  // ascending-index accumulation, floats widened one at a time — the
  // same IEEE order as the native vec_dot kernel
  private def dotDF(c: Array[Double], x: Seq[Float], off: Int): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * x(off + i).toDouble; i += 1 }
    s
  }
  private def dotDD(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  /** Driver-side encode replica: per subspace, first-minimum argmin of
    * c·c − 2·x_m·c over the codebook; recon norm from the chosen
    * entries' squared norms summed in subspace order. */
  private def encodeReplica(x: Seq[Float]): (Seq[Int], Double) = {
    val sub = books.length
    val subDim = dim / sub
    val codes = (0 until sub).map { m =>
      val d = books(m).map(c => dotDD(c) - 2.0 * dotDF(c, x, m * subDim))
      d.indexOf(d.min) + 1
    }
    val normsq = (0 until sub)
      .map(m => books(m)(codes(m) - 1).map(v => v * v).sum)
      .reduce(_ + _)
    (codes, math.sqrt(normsq))
  }

  test("fused joint trainer ≡ per-slice kmeansCentroids reference, " +
      "bitwise") {
    // the fused form exists purely to collapse sub·(1+iters) scheduler
    // round-trips into 1+iters; it must not move one bit — same init
    // draw, same argmin, same canonical vec_id-order fold per cell
    val sliced = Similarity.pqCodebooksSliced(
      Similarity.ivfTrainingSample(base,
        Similarity.pqSampleK(1 << Similarity.PqBits)),
      dim)
    assert(books.length === sliced.length)
    for (m <- books.indices; c <- books(m).indices)
      assert(books(m)(c).toSeq === sliced(m)(c).toSeq,
        s"book $m entry $c diverged")
  }

  test("codebooks: one per subspace, 2^bits entries of subdim length") {
    assert(books.length === Similarity.PqSub)
    assert(books.forall(_.length === (1 << Similarity.PqBits)))
    assert(books.forall(_.forall(_.length === dim / Similarity.PqSub)))
    assert(books.forall(_.forall(_.forall(v => !v.isNaN && !v.isInfinite))))
  }

  test("pqEncode matches the driver-side argmin replica exactly") {
    val got = Similarity.PqCodec(books).encode(base).collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Int](1), r.getDouble(2)))).toMap
    val raw = base.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    assert(raw.nonEmpty)
    raw.foreach { case (id, x) =>
      val (codes, norm) = encodeReplica(x)
      assert(got(id)._1 === codes, s"codes diverge at vec_id $id")
      // same literals summed in the same order -> bitwise equal
      assert(got(id)._2 === norm, s"recon_norm diverges at vec_id $id")
    }
  }

  test("centroid plant: a vector ON the codebook grid reconstructs " +
      "itself — codes hit the planted entries, recon_norm is the " +
      "true norm") {
    import spark.implicits._
    val sub = books.length
    val chosen = (0 until sub).map(m => m % books(m).length)
    val plant = (0 until sub).flatMap(m =>
      books(m)(chosen(m)).map(_.toFloat))
    val df = Seq((1L, plant)).toDF("vec_id", "embedding")
    val r = Similarity.PqCodec(books).encode(df).collect()(0)
    // float-rounding the plant can move an argmin only if two entries
    // are near-identical; replica decides the expected codes from the
    // same floats, so the assertion is exact either way
    val (codes, norm) = encodeReplica(plant)
    assert(r.getSeq[Int](1) === codes)
    assert(r.getDouble(2) === norm)
    // coordinate-disjoint subspaces: recon normsq == plant normsq up to
    // the FLOAT cast of the planted column (the codebook is double; the
    // embedding column is float, so each coordinate moves by ≤2⁻²⁴
    // relative) — anything past that scale would be a real defect
    val truNormSq = plant.map(v => v.toDouble * v.toDouble).sum
    assert(math.abs(norm * norm - truNormSq) < 1e-6 * (1.0 + truNormSq))
  }

  test("recall ladder at sf0.001: ADC alone, +rerank 4k, +rerank 10k " +
      "(defaults) — measured bands, monotone") {
    val bf = Similarity.bruteForceTopK(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(rr: Int): Double = {
      val got = Similarity.flatTopKOf(base, rerank = rr)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    // recorded exact values (bit-deterministic chain): 0.450 / 0.805 /
    // 0.960 at sf0.001; 0.460 / 0.800 / 0.975 at sf0.01 (PqDev sweep).
    // Bands leave margin for testdata regeneration, not for the engine.
    val adc = recall(0)
    val r40 = recall(4 * Similarity.K)
    val r100 = recall(10 * Similarity.K)
    assert(adc >= 0.35, s"ADC recall $adc below band")
    assert(r40 >= 0.70, s"rerank-40 recall $r40 below band")
    assert(r100 >= 0.90, s"default (rerank-100) recall $r100 below band")
    assert(adc <= r40 && r40 <= r100,
      s"rerank must not lose recall: $adc / $r40 / $r100")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    .toSeq

  // Lifecycle laws both codecs obey: one body per law, registered once
  // per codec under that family's test name, so a law cannot drift
  // between PQ and SQ8.

  test("IVFADC: all lists + corpus-wide rerank ≡ brute force row-for-row")(
    allListsLaw(Similarity.Pq()))
  test("IVF-SQ8 composition: all lists + corpus-wide rerank ≡ brute " +
      "force row-for-row; the derived laws return k rows per query")(
    allListsLaw(Similarity.Sq8))

  private def allListsLaw(c: Similarity.Codec): Unit = {
    // the structural invariant every codec inherits from ivfTopK:
    // assignment, residual coding, ADC ranking and rerank may lose a
    // candidate ONLY through probe pruning / rerank truncation — with
    // both disabled the result must be bit-identical to brute force
    // (ranks, cosines, tiebreaks)
    val n = base.count()
    assert(rows(Similarity.ivfAdcTopK(spark, sf, c, rerank = n.toInt,
        probesOverride = Some(Similarity.listsForCount(n)))) ===
      rows(Similarity.bruteForceTopK(spark, sf)))
    // at the derived laws the search stays well-formed: k rows per
    // query, ranks dense from 1
    val got = Similarity.ivfAdcTopK(spark, sf, c).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val perQ = got.groupBy(_._1).values
    assert(perQ.forall(_.map(_._2).sorted ==
      (1L to Similarity.K).toVector))
    assert(perQ.size === Similarity.QueryK)
  }

  test("IVFADC at the derived laws: compression costs ≈ nothing beyond " +
      "probe pruning") {
    // same quantizer sample as ivfTopK (max(sampleKFor, pqSampleK) ==
    // sampleKFor here), so candidate lists coincide and the IVFADC
    // recall is bounded ABOVE by pure IVF's; the measured gap at
    // rerank = 10·K is zero at sf0.001/sf0.01 and 0.01 at sf0.1
    // (PqDev: 0.750/0.750, 0.755/0.755, 0.805/0.815)
    val bf = Similarity.bruteForceTopK(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    val rIvf = recall(Similarity.ivfTopK(spark, sf))
    val rAdc = recall(Similarity.ivfAdcTopK(spark, sf))
    assert(rAdc <= rIvf + 1e-9,
      s"IVFADC $rAdc cannot exceed its own candidate superset's $rIvf")
    assert(rAdc >= rIvf - 0.05,
      s"compression loss ${rIvf - rAdc} above the 0.05 band")
  }

  test("packed-code storage: 2 codes per byte, exact round-trip " +
      "through a real parquet write") {
    val coded = Similarity.PqCodec(books).encode(base)
    val packed = coded.select(col("vec_id"),
      Similarity.pqPackCodes(col("codes")).as("packed"))
    // width: sub/2 tinyints per vector — the 64x storage arithmetic
    val widths = packed.select(size(col("packed"))).distinct().collect()
      .map(_.getInt(0)).toSeq
    assert(widths === Seq(Similarity.PqSub / 2))
    // round-trip through parquet (the type the sink actually stores)
    val dir = java.nio.file.Files.createTempDirectory("pqpack").toString
    packed.write.mode("overwrite").parquet(dir)
    try {
      val back = spark.read.parquet(dir)
        .select(col("vec_id"),
          Similarity.pqUnpackCodes(col("packed")).as("codes"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val orig = coded.collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(back === orig)
      // exercise every nibble pair, not just the corpus's: all 256
      // (hi, lo) code combinations survive the bias + split
      import spark.implicits._
      val all = (for (a <- 1 to 16; b <- 1 to 16) yield (a, b)).toDF("a", "b")
        .select(array((1 to Similarity.PqSub).map(m =>
          if (m % 2 == 1) col("a") else col("b")): _*)
          .as("codes"))
      val rt = all.select(col("codes"),
          Similarity.pqUnpackCodes(
            Similarity.pqPackCodes(col("codes"))).as("back"))
        .collect()
      rt.foreach(r => assert(r.getSeq[Int](0) === r.getSeq[Int](1)))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("IVFADC plan: the probed search is a broadcast equi-join on " +
      "list_id, never a cartesian") {
    import org.apache.spark.sql.execution.FormattedMode
    val p = Similarity.ivfAdcTopK(spark, sf)
      .queryExecution.explainString(FormattedMode)
    val cnt = (op: String) =>
      p.linesIterator.count(_.matches(s"""\\(\\d+\\) $op.*"""))
    assert(cnt("CartesianProduct") === 0, p.take(1500))
    // the probe side is bounded (QueryK·probes rows) and broadcast; the
    // corpus side joins it by list_id hash — a shuffle here would ship
    // the coded corpus against a 80-row dim, backwards at 100 TB
    assert(cnt("BroadcastHashJoin") >= 1, p.take(1500))
    assert(cnt("BroadcastNestedLoopJoin") === 0, p.take(1500))
  }

  // -- persisted index (build once / search many) ------------------------

  private def withIndexDir[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("pqindex").toString
    try f(dir) finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  /** The trained artifacts of a codec, as comparable values. */
  private def artifacts(c: Similarity.VectorCodec): Any = c match {
    case Similarity.PqCodec(books) => books.map(_.map(_.toSeq).toSeq).toSeq
    case Similarity.Sq8Codec(lo, step) => (lo.toSeq, step.toSeq)
  }

  /** A coded frame's content keyed by vec_id (codes as a plain Seq —
    * PQ ints, SQ8 bytes). */
  private def content(coded: org.apache.spark.sql.DataFrame) =
    coded.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Any](2).toVector,
        r.getDouble(3)))
      .sortBy(_._1).toSeq

  test("persisted index loads back bitwise: centroids, codebooks, and " +
      "the coded frame survive the parquet round-trip")(
    roundTripLaw(Similarity.Pq()))
  test("persisted SQ8 index loads back bitwise: centroids, the " +
      "per-dimension grid, and the coded frame survive the parquet " +
      "round-trip")(
    roundTripLaw(Similarity.Sq8))

  private def roundTripLaw(c: Similarity.Codec): Unit = {
    withIndexDir { dir =>
      val built = Similarity.indexBuild(spark, sf, dir, c)
      val loaded = Similarity.indexLoad(spark, dir)
      assert(loaded.dim === built.dim)
      assert(loaded.numLists === built.numLists)
      // bounded artifacts: parquet doubles are lossless, so BITWISE
      for (l <- built.centroids.indices)
        assert(loaded.centroids(l).toSeq === built.centroids(l).toSeq,
          s"centroid $l diverged")
      assert(artifacts(loaded.codec) === artifacts(built.codec))
      // coded frame: stored codes invert exactly, recon_norm is a stored
      // double — content equality keyed by vec_id
      assert(content(loaded.coded) === content(built.coded))
    }
  }

  test("search-from-disk ≡ in-memory ivfPqTopK row-for-row at the " +
      "derived laws (and at a non-default probe count)")(
    diskEqualsMemoryLaw(Similarity.Pq()))
  test("SQ8 search-from-disk ≡ in-memory ivfSq8TopK row-for-row at " +
      "the derived laws (and at a non-default probe count) — the " +
      "family retrained per call before r19")(
    diskEqualsMemoryLaw(Similarity.Sq8))

  private def diskEqualsMemoryLaw(c: Similarity.Codec): Unit = {
    withIndexDir { dir =>
      Similarity.indexBuild(spark, sf, dir, c)
      val loaded = Similarity.indexLoad(spark, dir)
      assert(rows(Similarity.ivfSearch(base, loaded)) ===
        rows(Similarity.ivfAdcTopK(spark, sf, c)))
      // a second search over the SAME stored index (search-many): no
      // retraining happened, so a different probe knob must still agree
      // with the in-memory path at that knob
      assert(rows(Similarity.ivfSearch(base, loaded,
          probesOverride = Some(2))) ===
        rows(Similarity.ivfAdcTopK(spark, sf, c, probesOverride = Some(2))))
    }
  }

  test("persisted index: all lists + corpus-wide rerank ≡ brute force " +
      "row-for-row (the structural invariant re-run from disk)")(
    persistedAllListsLaw(Similarity.Pq()))
  test("persisted SQ8 index: all lists + corpus-wide rerank ≡ brute " +
      "force row-for-row, and the exact-knob recall audit reads 1.0 " +
      "per query from the stored artifacts")(
    persistedAllListsLaw(Similarity.Sq8))

  private def persistedAllListsLaw(c: Similarity.Codec): Unit = {
    withIndexDir { dir =>
      val built = Similarity.indexBuild(spark, sf, dir, c)
      val n = base.count().toInt
      val all = Some(built.numLists)
      assert(rows(Similarity.ivfSearch(base, Similarity.indexLoad(spark, dir),
          rerank = n, probesOverride = all)) ===
        rows(Similarity.bruteForceTopK(spark, sf)))
      // the drift watchdog from disk at the exactness knobs: the
      // per-query recall of a search that equals brute force is 1.0
      // EXACTLY — the planted-identity gate of the audit surface
      val qs = base.join(broadcast(Similarity.annQueryIds(base)),
        "vec_id")
      val audit = Similarity.indexRecallAudit(spark, base, dir, qs,
          rerank = n, probesOverride = all)
        .collect()
      assert(audit.length === Similarity.QueryK)
      assert(audit.forall(_.getAs[Double]("recall") === 1.0),
        "exact-knob audit must read 1.0 recall per query")
      // the audit log records the same reading, one dense row per call
      val logged = (1 to 2).map(_ =>
        Similarity.indexAuditLog(spark, base, dir, qs, rerank = n,
          probesOverride = all).collect()(0))
      assert(logged.map(_.getAs[Long]("audit_seq")) === Seq(1L, 2L))
      assert(logged.forall(r => r.getAs[Double]("mean_recall") === 1.0 &&
        r.getAs[Long]("n_queries") === Similarity.QueryK.toLong))
    }
  }

  test("persisted search plan: the codes scan carries a list_id " +
      "PartitionFilter (file-level probe pruning) and stays " +
      "cartesian-free")(
    partitionFilterLaw(Similarity.Pq()))
  test("persisted SQ8 search plan: the codes scan carries a list_id " +
      "PartitionFilter (file-level probe pruning) and stays " +
      "cartesian-free")(
    partitionFilterLaw(Similarity.Sq8))

  private def partitionFilterLaw(c: Similarity.Codec): Unit = {
    import org.apache.spark.sql.execution.FormattedMode
    withIndexDir { dir =>
      Similarity.indexBuild(spark, sf, dir, c)
      val p = Similarity.ivfSearch(base, Similarity.indexLoad(spark, dir))
        .queryExecution.explainString(FormattedMode)
      val cnt = (op: String) =>
        p.linesIterator.count(_.matches(s"""\\(\\d+\\) $op.*"""))
      assert(cnt("CartesianProduct") === 0, p.take(1500))
      assert(cnt("BroadcastHashJoin") >= 1, p.take(1500))
      // the probed-list IN set must reach the index scan as a PARTITION
      // filter — the probe prune happening at the FILE level, not as a
      // scan-and-drop predicate
      val partFilter = p.linesIterator.find(l =>
        l.contains("PartitionFilters:") && l.contains("list_id#"))
      assert(partFilter.nonEmpty,
        "codes scan has no list_id PartitionFilter:\n" + p.take(2000))
      assert(partFilter.get.contains("INSET") ||
        partFilter.get.contains(" IN ("),
        s"PartitionFilters line carries no IN-set: ${partFilter.get}")
    }
  }

  test("determinism: identical manifest on re-run and under " +
      "repartitioning of the corpus") {
    val a = Similarity.flatTopKOf(base, rerank = 0).collect().toSeq
    val b = Similarity.flatTopKOf(base, rerank = 0).collect().toSeq
    assert(a === b)
    // the encode side is partitioning-independent (literal codebooks,
    // per-row argmin): same codes at any layout
    val c1 = Similarity.PqCodec(books).encode(base.repartition(7))
      .orderBy("vec_id").collect().map(_.getSeq[Int](1).toVector).toSeq
    val c2 = Similarity.PqCodec(books).encode(base.repartition(1))
      .orderBy("vec_id").collect().map(_.getSeq[Int](1).toVector).toSeq
    assert(c1 === c2)
  }

  // -- OPQ rotation (r17: the measured ADC-dilution buy-back) ------------

  test("opqRotation is orthogonal, deterministic, and " +
      "partitioning-independent") {
    val samp = Similarity.ivfTrainingSample(base,
      Similarity.pqSampleK(1 << Similarity.PqBits))
    val r1 = Similarity.opqRotation(samp, dim)
    // orthogonality: R·Rᵀ = I (Jacobi eigenvectors of a symmetric
    // matrix; 1e-9 leaves room only for fp accumulation, not for a
    // defective sweep)
    for (i <- r1.indices; j <- r1.indices) {
      val d = (0 until dim).map(k => r1(i)(k) * r1(j)(k)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-9, s"R·Rᵀ[$i][$j] = $d")
    }
    // bit-determinism: re-run and a repartitioned sample draw agree
    val r2 = Similarity.opqRotation(samp, dim)
    val r3 = Similarity.opqRotation(
      Similarity.ivfTrainingSample(base.repartition(7),
        Similarity.pqSampleK(1 << Similarity.PqBits)), dim)
    for (i <- r1.indices) {
      assert(r1(i).toSeq === r2(i).toSeq, s"re-run diverged at row $i")
      assert(r1(i).toSeq === r3(i).toSeq,
        s"repartitioned sample diverged at row $i")
    }
  }

  /** The anisotropy plant: 4 dominant directions (×100) all landing in
    * the FIRST coordinate block, the rest crushed (×0.01) — cosine is
    * then decided almost entirely inside one 16-code subspace, the
    * failure mode coordinate-block PQ cannot survive and eigenvalue
    * allocation exists to fix. */
  private lazy val anisoCorpus = base.withColumn("embedding",
    expr("""transform(embedding, (v, i) ->
           |  CAST(v AS DOUBLE) *
           |  (CASE WHEN i < 4 THEN 100.0D ELSE 0.01D END))"""
      .stripMargin))

  test("OPQ allocation deals the plant's dominant dims into distinct " +
      "subspaces") {
    val samp = Similarity.ivfTrainingSample(anisoCorpus,
      Similarity.pqSampleK(1 << Similarity.PqBits))
    val r = Similarity.opqRotation(samp, dim)
    val subDim = dim / Similarity.PqSub
    // the 4 dominant variances are near-DEGENERATE (all ×100 draws of
    // the same gaussian), so the top eigenvectors are an arbitrary
    // orthogonal mix WITHIN span{e_0..e_3} — the invariant is not
    // axis-ness but that exactly 4 rotation rows carry ~all their mass
    // on dims < 4, and allocation deals those rows to 4 DIFFERENT
    // subspaces
    val mass4 = r.indices.map(i =>
      i -> (0 until 4).map(d => r(i)(d) * r(i)(d)).sum)
    val dominant = mass4.filter(_._2 > 0.5)
    assert(dominant.length === 4,
      s"expected exactly 4 dominant rows, got ${dominant.length}")
    dominant.foreach { case (i, m) =>
      assert(m > 0.999, s"dominant row $i leaks mass: $m")
    }
    val hosts = dominant.map(_._1 / subDim)
    assert(hosts.distinct.length === 4,
      s"dominant dims share a subspace: $hosts")
  }

  test("OPQ recall: large ADC lift on the anisotropic plant, flat on " +
      "the isotropic corpus (measured bands)") {
    def recallOf(got: org.apache.spark.sql.DataFrame,
                 truth: org.apache.spark.sql.DataFrame): Double = {
      val t = truth.select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val g = got.select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      g.intersect(t).size.toDouble / t.size
    }
    // the plant: pure-ADC ranking, no rerank — the sharpest contrast
    val bfPlant = Similarity.bruteForceTopKOf(anisoCorpus)
    val pqPlant = recallOf(
      Similarity.flatTopKOf(anisoCorpus, rerank = 0), bfPlant)
    val opqPlant = recallOf(
      Similarity.flatTopKOf(anisoCorpus, rerank = 0,
        rotate = Rotation.Parametric), bfPlant)
    assert(opqPlant >= pqPlant + 0.15,
      s"expected a large OPQ lift on the plant: pq=$pqPlant opq=$opqPlant")
    // the honest control: the isotropic corpus has nothing to
    // rebalance, so OPQ must neither help nor hurt materially
    val bf = Similarity.bruteForceTopK(spark, sf)
    val pqIso = recallOf(Similarity.flatTopKOf(base, rerank = 0), bf)
    val opqIso = recallOf(Similarity.flatTopKOf(base, rerank = 0,
        rotate = Rotation.Parametric), bf)
    assert(math.abs(opqIso - pqIso) <= 0.15,
      s"isotropic control moved: pq=$pqIso opq=$opqIso")
    assert(opqIso >= 0.30, s"isotropic OPQ ADC recall $opqIso below band")
  }

  // -- OPQ composed into the persisted index (FAISS OPQ+IVF+PQ shape) ----

  test("rotated persisted index: rotation loads back bitwise and " +
      "search-from-disk ≡ the rotated in-memory path row-for-row") {
    withIndexDir { dir =>
      val built = Similarity.indexBuild(spark, sf, dir,
          rotate = Rotation.Parametric)
      assert(built.rotation.nonEmpty, "a parametric build has no rotation")
      val loaded = Similarity.indexLoad(spark, dir)
      assert(loaded.rotation.nonEmpty, "rotation flag lost in meta")
      val (r1, r2) = (built.rotation.get, loaded.rotation.get)
      for (i <- r1.indices)
        assert(r1(i).toSeq === r2(i).toSeq, s"rotation row $i diverged")
      assert(rows(Similarity.ivfSearch(base,
          Similarity.indexLoad(spark, dir))) ===
        rows(Similarity.ivfSearch(base,
          Similarity.ivfBuild(spark, sf, rotate = Rotation.Parametric))))
    }
  }

  test("NP-rotated persisted index (r19 ship decision): the " +
      "non-parametric rotation persists bitwise, and search-from-disk ≡ " +
      "the NP-rotated in-memory path row-for-row") {
    withIndexDir { dir =>
      val built = Similarity.indexBuild(spark, sf, dir,
        rotate = Rotation.NonParametric)
      assert(built.rotation.nonEmpty, "an NP build has no rotation")
      val loaded = Similarity.indexLoad(spark, dir)
      assert(loaded.rotation.nonEmpty, "rotation flag lost in meta")
      val (r1, r2) = (built.rotation.get, loaded.rotation.get)
      for (i <- r1.indices)
        assert(r1(i).toSeq === r2(i).toSeq, s"rotation row $i diverged")
      // the NP rotation genuinely differs from the parametric one —
      // otherwise this test would be the rotated test in disguise
      val para = Similarity.ivfBuild(spark, sf, rotate = Rotation.Parametric)
        .rotation.get
      assert(r1.indices.exists(i => r1(i).toSeq != para(i).toSeq),
        "NP rotation identical to the parametric rotation")
      assert(rows(Similarity.ivfSearch(base,
          Similarity.indexLoad(spark, dir))) ===
        rows(Similarity.ivfSearch(base,
          Similarity.ivfBuild(spark, sf, rotate = Rotation.NonParametric))))
    }
  }

  test("rotated index structural invariant: all lists + corpus-wide " +
      "rerank ≡ brute force IN THE ROTATED SPACE row-for-row") {
    // the whole index lives in rotated coordinates, so the exact
    // reference is brute force over the SAME rotated corpus — that
    // comparison is bitwise (identical plans on identical columns),
    // where a raw-space comparison would only agree up to fp rounding
    // of the orthogonal transform
    withIndexDir { dir =>
      val built = Similarity.indexBuild(spark, sf, dir,
          rotate = Rotation.Parametric)
      val n = Tables.embeddings(spark, sf).count()
      val got = Similarity.ivfSearch(base, Similarity.indexLoad(spark, dir),
          rerank = n.toInt, probesOverride = Some(built.numLists))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val bf = Similarity.bruteForceTopKOf(
          Similarity.opqRotate(Tables.embeddings(spark, sf),
            built.rotation.get))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq === bf.toSeq)
    }
  }

  // -- incremental append (frozen artifacts, the serving add path) -------

  test("pqIndexAppend: subset build + appended complement searches " +
      "row-for-row like an index whose coded frame held the union " +
      "from the start")(
    appendLaw(Similarity.Pq()))
  test("sq8IndexAppend: subset build + appended complement searches " +
      "row-for-row like an index whose coded frame held the union " +
      "from the start")(
    appendLaw(Similarity.Sq8))

  private def appendLaw(c: Similarity.Codec): Unit = {
    withIndexDir { idxDir =>
      withIndexDir { tmpSf =>
        val full = Tables.embeddings(spark, sf)
        // stage a SUBSET corpus as its own table dir and build on it —
        // artifacts (lists, centroids, codec) train on the subset and
        // stay frozen through the append
        full.filter(col("vec_id") % 3 =!= 0)
          .write.mode("overwrite").parquet(s"$tmpSf/embeddings.parquet")
        val built = Similarity.indexBuild(spark, tmpSf, idxDir, c)
        Similarity.indexAppend(spark,
          full.filter(col("vec_id") % 3 === 0)
            .select("vec_id", "embedding"), idxDir)
        // reference: the SAME frozen artifacts over an in-memory coded
        // frame that held the union from the start — an independent
        // derivation of what build∪append must equal
        val ref = Similarity.ivfSearch(base, built.copy(
          coded = Similarity.ivfEncode(
            Similarity.withNorm(full, built.dim),
            built.centroids, built.codec)))
        assert(rows(Similarity.ivfSearch(base,
            Similarity.indexLoad(spark, idxDir))) === rows(ref))
      }
    }
  }

  test("pqIndexAppend on a ROTATED index: the delta rotates through " +
      "the stored rotation before encoding") {
    withIndexDir { idxDir =>
      withIndexDir { tmpSf =>
        val full = Tables.embeddings(spark, sf)
        full.filter(col("vec_id") % 3 =!= 0)
          .write.mode("overwrite").parquet(s"$tmpSf/embeddings.parquet")
        val built = Similarity.indexBuild(spark, tmpSf, idxDir,
          rotate = Rotation.Parametric)
        Similarity.indexAppend(spark,
          full.filter(col("vec_id") % 3 === 0)
            .select("vec_id", "embedding"), idxDir)
        val rotatedFull = Similarity.opqRotate(full, built.rotation.get)
        val ref = Similarity.ivfSearch(base, built.copy(
          coded = Similarity.ivfEncode(
            Similarity.withNorm(rotatedFull, built.dim),
            built.centroids, built.codec)))
        assert(rows(Similarity.ivfSearch(base,
            Similarity.indexLoad(spark, idxDir))) ===
          rows(ref))
      }
    }
  }

  // -- filtered (predicate-constrained) vector search ---------------------

  test("filtered search: all lists + corpus-wide rerank ≡ filtered " +
      "brute force row-for-row; derived laws never leak a disallowed " +
      "neighbor") {
    val allowed = base.select("vec_id").filter(col("vec_id") % 2 === 0)
    val built = Similarity.ivfBuild(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    // exactness: with pruning and truncation disabled, the filtered
    // composed path must reproduce the filtered ground truth exactly —
    // PRE-filter semantics (top-k OF the allowed set), same query draw
    assert(rows(Similarity.ivfSearch(base, built, rerank = n.toInt,
        probesOverride = Some(built.numLists), allowed = Some(allowed))) ===
      rows(Similarity.bruteForceTopKWhere(base, allowed)))
    // at the derived laws the result may lose recall to probe pruning
    // but may NEVER surface a disallowed candidate
    val ids = Similarity.ivfSearch(base, built, allowed = Some(allowed))
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(ids.nonEmpty)
    assert(ids.forall(_ % 2 == 0), s"disallowed neighbor leaked")
  }

  test("filtered search from a persisted index ≡ the in-memory " +
      "filtered path row-for-row") {
    withIndexDir { dir =>
      Similarity.indexBuild(spark, sf, dir)
      val allowed = base.select("vec_id").filter(col("vec_id") % 2 === 0)
      assert(rows(Similarity.ivfSearch(base, Similarity.indexLoad(spark, dir),
          allowed = Some(allowed))) ===
        rows(Similarity.ivfSearch(base, Similarity.ivfBuild(spark, sf),
          allowed = Some(allowed))))
    }
  }

  // -- compaction (the append-heavy maintenance pass) ----------------------

  test("pqIndexCompact: appends multiply files, compaction bin-packs " +
      "them back — content and search bit-identical across the swap")(
    compactLaw(Similarity.Pq()))
  test("sq8IndexCompact: appends multiply files, compaction bin-packs " +
      "them back — content and search bit-identical across the swap; " +
      "the family-agnostic physical audits serve this index unchanged")(
    compactLaw(Similarity.Sq8))

  private def compactLaw(c: Similarity.Codec): Unit = {
    withIndexDir { idxDir =>
      withIndexDir { tmpSf =>
        val full = Tables.embeddings(spark, sf)
        full.filter(col("vec_id") % 3 =!= 0)
          .write.mode("overwrite").parquet(s"$tmpSf/embeddings.parquet")
        Similarity.indexBuild(spark, tmpSf, idxDir, c)
        // two separate appends → new files inside the list directories
        Similarity.indexAppend(spark,
          full.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
            .select("vec_id", "embedding"), idxDir)
        Similarity.indexAppend(spark,
          full.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0)
            .select("vec_id", "embedding"), idxDir)
        def loaded() = Similarity.indexLoad(spark, idxDir)
        val rowsBefore = content(loaded().coded)
        val searchBefore = rows(Similarity.ivfSearch(base, loaded()))
        // the physical audits (codec-agnostic slim read) see the
        // appended files and a duplicate-free id set
        val statsBefore = Similarity.indexStats(spark, idxDir).collect()
        assert(statsBefore.map(_.getAs[Long]("n_rows")).sum ===
          rowsBefore.length)
        assert(statsBefore.exists(_.getAs[Long]("n_files") >= 2),
          "two appends must leave a multi-file list somewhere")
        assert(Similarity.indexDupIds(spark, idxDir).collect().isEmpty)
        val (nb, na) = Similarity.indexCompact(spark, idxDir)
        assert(na < nb, s"compaction did not reduce files: $nb -> $na")
        assert(content(loaded().coded) === rowsBefore,
          "compaction changed the coded row multiset")
        assert(rows(Similarity.ivfSearch(base, loaded())) === searchBefore,
          "compaction changed a search result")
        val statsAfter = Similarity.indexStats(spark, idxDir).collect()
        assert(statsAfter.forall(_.getAs[Long]("n_files") === 1L),
          "compaction must bin-pack to one file per list")
      }
    }
  }

  // -- external query batches (the serving query shape) --------------------

  test("external query batch: planted off-corpus queries — all lists + " +
      "corpus rerank ≡ brute force with the same batch row-for-row; " +
      "internal-draw batch reproduces the internal path") {
    // plant: 5 corpus vectors perturbed in dim 0, ids moved to a
    // disjoint keyspace — genuinely external vectors near known rows
    val extQ = base.filter(col("vec_id") <= 5)
      .select((col("vec_id") + 1000000).as("vec_id"),
        expr("""transform(embedding, (v, i) -> CAST(v AS DOUBLE) +
               |  CASE WHEN i = 0 THEN 0.03D ELSE 0.0D END)"""
          .stripMargin).as("embedding"))
    val built = Similarity.ivfBuild(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    assert(rows(Similarity.ivfSearch(base, built, rerank = n.toInt,
        probesOverride = Some(built.numLists), queryVecs = Some(extQ))) ===
      rows(Similarity.bruteForceTopKFor(base, extQ)))
    // the internal audit draw is just one external batch: handing the
    // SAME vectors through the external seam must reproduce the
    // internal path exactly (ids coincide, so self-exclusion agrees)
    val drawn = base.join(
      org.apache.spark.sql.functions.broadcast(
        Similarity.annQueryIds(base)), "vec_id")
      .select("vec_id", "embedding")
    assert(rows(Similarity.ivfSearch(base, built,
        queryVecs = Some(drawn))) ===
      rows(Similarity.ivfSearch(base, built)))
  }

  test("external query batch from a ROTATED persisted index: raw-space " +
      "batch rotates through the stored rotation — disk ≡ in-memory " +
      "row-for-row") {
    withIndexDir { dir =>
      Similarity.indexBuild(spark, sf, dir,
          rotate = Rotation.Parametric)
      val extQ = base.filter(col("vec_id") <= 5)
        .select((col("vec_id") + 1000000).as("vec_id"),
          expr("""transform(embedding, (v, i) -> CAST(v AS DOUBLE) +
                 |  CASE WHEN i = 0 THEN 0.03D ELSE 0.0D END)"""
            .stripMargin).as("embedding"))
      assert(rows(Similarity.ivfSearch(base, Similarity.indexLoad(spark, dir),
          queryVecs = Some(extQ))) ===
        rows(Similarity.ivfSearch(base,
          Similarity.ivfBuild(spark, sf, rotate = Rotation.Parametric),
          queryVecs = Some(extQ))))
    }
  }

  test("filtered + external — the canonical RAG call (query vector + " +
      "metadata predicate): ≡ filtered external brute force " +
      "row-for-row; leak-free from a persisted index at the laws") {
    val extQ = base.filter(col("vec_id") <= 5)
      .select((col("vec_id") + 1000000).as("vec_id"),
        expr("""transform(embedding, (v, i) -> CAST(v AS DOUBLE) +
               |  CASE WHEN i = 0 THEN 0.03D ELSE 0.0D END)"""
          .stripMargin).as("embedding"))
    val allowed = base.select("vec_id").filter(col("vec_id") % 2 === 0)
    val built = Similarity.ivfBuild(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    assert(rows(Similarity.ivfSearch(base, built, rerank = n.toInt,
        probesOverride = Some(built.numLists), allowed = Some(allowed),
        queryVecs = Some(extQ))) ===
      rows(Similarity.bruteForceTopKFor(base, extQ, Some(allowed))))
    withIndexDir { dir =>
      Similarity.indexBuild(spark, sf, dir)
      val ids = Similarity.ivfSearch(base, Similarity.indexLoad(spark, dir),
          allowed = Some(allowed), queryVecs = Some(extQ))
        .select("neighbor_id").collect().map(_.getLong(0))
      assert(ids.nonEmpty)
      assert(ids.forall(_ % 2 == 0), "disallowed neighbor leaked")
    }
  }

  test("pqIndexCompact is retry-safe: rolls back a crash between the " +
      "two renames and sweeps the leftovers of a crash before the " +
      "old-dir delete") {
    withIndexDir { idxDir =>
      Similarity.indexBuild(spark, sf, idxDir)
      def search() =
        rows(Similarity.ivfSearch(base, Similarity.indexLoad(spark, idxDir)))
      val before = search()
      val codes = new java.io.File(idxDir, "codes")
      val old = new java.io.File(idxDir, "codes_old")
      val tmp = new java.io.File(idxDir, "codes_compacting")
      // crash shape 1: died BETWEEN the renames — codes staged out to
      // codes_old, nothing swapped in; the index is unreadable until
      // recovery rolls it back
      assert(codes.renameTo(old), "test setup: stage-out rename failed")
      val (b1, a1) = Similarity.indexCompact(spark, idxDir)
      assert(b1 >= a1)
      assert(search() === before, "recovery+compact changed a search result")
      assert(!old.exists && !tmp.exists, "recovery left staging dirs")
      // crash shape 2: died after the swap-in, before the delete — a
      // stale codes_old (and a dead codes_compacting) lie around; the
      // next compaction must sweep both and still succeed
      assert(old.mkdir() && tmp.mkdir(), "test setup: stale dirs")
      java.nio.file.Files.write(
        new java.io.File(old, "junk.parquet").toPath, Array[Byte](1))
      val (b2, a2) = Similarity.indexCompact(spark, idxDir)
      assert(b2 === a2, s"already-compacted index grew files: $b2 -> $a2")
      assert(search() === before)
      assert(!old.exists && !tmp.exists, "sweep left staging dirs")
    }
  }

  // -- maintenance audits: the drift watchdog + index invariants -----------

  test("drift watchdog: the persisted-index recall audit DETECTS a " +
      "planted drifted append and stays flat on an undrifted one — " +
      "the retrain-decision gauge") {
    withIndexDir { idxDir =>
      withIndexDir { tmpSf =>
        val full = Tables.embeddings(spark, sf)
        // build corpus A (two thirds); the artifacts freeze on A's grid
        val a = full.filter(col("vec_id") % 3 =!= 0)
        a.write.mode("overwrite").parquet(s"$tmpSf/embeddings.parquet")
        Similarity.indexBuild(spark, tmpSf, idxDir)
        // two appends into ONE index, disjoint id spaces: the held-out
        // complement as-is (the undrifted control — same distribution
        // the grid was trained on), and the same rows MEAN-SHIFTED by a
        // common offset (the embedding-drift shape q_embed_drift alarms
        // on: a new model version / new domain moves the whole batch).
        // On a shifted batch every pairwise cosine sits near 1 and the
        // true neighbor gaps shrink to ~1e-3 — resolvable by exact
        // scoring, but far below the frozen grid's quantization noise,
        // which is precisely the failure mode frozen artifacts have on
        // drifted data.
        val comp = full.filter(col("vec_id") % 3 === 0)
          .select("vec_id", "embedding")
        val drifted = comp.select((col("vec_id") + 1000000).as("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE) + 3.0D)")
            .as("embedding"))
        Similarity.indexAppend(spark, comp, idxDir)
        Similarity.indexAppend(spark, drifted, idxDir)
        // the CURRENT corpus: build ∪ both appends — the union the
        // caller owns (the index stores no raw vectors)
        val base = a.select("vec_id", "embedding")
          .unionByName(comp).unionByName(drifted)
        // audit on "today's traffic": a bounded query batch drawn from
        // each appended window (same draw size, same knobs — only the
        // batch's distribution differs)
        // production-shaped knobs for the gauge: every list probed
        // (so probe luck — at this corpus size the drifted cluster
        // collapses into few lists a drifted query trivially probes —
        // cannot mask anything) and rerank = K, the regime where the
        // FROZEN codebooks' ADC ranking is decisive, exactly the thing
        // drift degrades. At 100 TB rerank ≪ list size makes this the
        // default regime; the small-SF default (rerank 10·K over tiny
        // lists) would let exact rerank swallow the whole pool.
        val numLists = Similarity.indexLoad(spark, idxDir).numLists
        def meanRecall(qs: org.apache.spark.sql.DataFrame): Double =
          Similarity.indexRecallAudit(spark, base, idxDir, qs,
              rerank = Similarity.K, probesOverride = Some(numLists))
            .agg(avg(col("recall"))).collect()(0).getDouble(0)
        val qBuild = a.select("vec_id", "embedding")
          .filter(col("vec_id") % 30 === 1)
        val qControl = comp.filter(col("vec_id") % 30 === 0)
        val qDrift = drifted.filter((col("vec_id") - 1000000) % 30 === 0)
        assert(qControl.count() === qDrift.count())
        // three readings at IDENTICAL knobs; only the query batch's
        // distribution differs — build-distribution traffic is the
        // reference the other two are judged against
        val rBuild = meanRecall(qBuild)
        val rControl = meanRecall(qControl)
        val rDrift = meanRecall(qDrift)
        info(f"recall: build=$rBuild%.3f control=$rControl%.3f " +
          f"drift=$rDrift%.3f")
        // the gauge must MOVE on drift and not on the control: the
        // margins are generous — the planted contrast is structural
        // (frozen isotropic codebooks vs 100×-rescaled dims), not a
        // lucky constant of the corpus
        assert(math.abs(rControl - rBuild) <= 0.15,
          s"undrifted append should audit FLAT vs build-distribution " +
            s"traffic: build=$rBuild control=$rControl")
        assert(rDrift <= rBuild - 0.25,
          s"planted drift not detected: build=$rBuild drift=$rDrift")
      }
    }
  }

  test("index invariants: per-list stats track appends and compaction, " +
      "and the duplicate-id audit flags a double append — empty on a " +
      "healthy index") {
    withIndexDir { idxDir =>
      withIndexDir { tmpSf =>
        val full = Tables.embeddings(spark, sf)
        val a = full.filter(col("vec_id") % 3 =!= 0)
        a.write.mode("overwrite").parquet(s"$tmpSf/embeddings.parquet")
        Similarity.indexBuild(spark, tmpSf, idxDir)
        def stats() = Similarity.indexStats(spark, idxDir).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        val s0 = stats()
        assert(s0.map(_._2).sum === a.count(),
          "per-list rows must sum to the coded corpus")
        assert(Similarity.indexDupIds(spark, idxDir).count() === 0L,
          "healthy index reported duplicate ids")
        // one clean append: rows grow by the batch, still no dups
        val batch = full.filter(col("vec_id") % 3 === 0)
          .select("vec_id", "embedding")
        Similarity.indexAppend(spark, batch, idxDir)
        val s1 = stats()
        assert(s1.map(_._2).sum === s0.map(_._2).sum + batch.count())
        assert(s1.map(_._3).sum > s0.map(_._3).sum,
          "append did not add files")
        assert(Similarity.indexDupIds(spark, idxDir).count() === 0L)
        // the contract violation: the SAME batch appended again — the
        // audit must name every offending id with its row count
        Similarity.indexAppend(spark, batch, idxDir)
        val dups = Similarity.indexDupIds(spark, idxDir).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(dups.map(_._1) ===
          batch.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq)
        assert(dups.forall(_._2 === 2L))
        // compaction preserves content (dups included — it is not a
        // repair pass) and bin-packs to one file per list
        Similarity.indexCompact(spark, idxDir)
        assert(Similarity.indexDupIds(spark, idxDir).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq === dups,
          "compaction changed the duplicate set")
        assert(stats().forall(_._3 === 1L),
          "compaction left a multi-file list")
      }
    }
  }

  test("non-parametric OPQ: the alternating Procrustes refinement is " +
      "orthogonal, deterministic, descends its own objective, and " +
      "does not regress the parametric rotation's plant recall") {
    val plant = base.withColumn("embedding",
      expr("""transform(embedding, (v, i) ->
             |  CAST(v AS DOUBLE) *
             |  (CASE WHEN i < 4 THEN 100.0D ELSE 0.01D END))"""
        .stripMargin))
    val samp = Similarity.ivfTrainingSample(plant,
      Similarity.pqSampleK(1 << Similarity.PqBits))
    val (r1, trace) = Similarity.opqRotationNPTrace(samp, dim)
    // orthogonal: R·Rᵀ = I — the property every cosine-preservation
    // claim downstream rests on (the 1e4-scale plant is exactly the
    // conditioning regime where a naive polar form loses it)
    for (i <- r1.indices; j <- r1.indices) {
      val d = r1.indices.map(k => r1(i)(k) * r1(j)(k)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-8,
        s"R·Rᵀ deviates at ($i,$j): $d")
    }
    // deterministic: a re-run is bit-identical (LCG sample, cyclic
    // Jacobi, fixed Gram–Schmidt order — no library SVD ambiguity)
    val (r2, trace2) = Similarity.opqRotationNPTrace(samp, dim)
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
    assert(trace === trace2)
    // alternating descent: the sample quantization MSE does not
    // increase END-TO-END. (No per-step assertion: the inner Lloyd
    // runs a fixed 3 iterations, not to convergence, so a single
    // alternation step may wobble upward — observed at sf0.01 —
    // while the net trajectory still descends.)
    assert(trace.size === 3)
    assert(trace.last <= trace.head, s"no net descent: $trace")
    // recall non-regression vs the parametric init on the anisotropic
    // plant (pure ADC — the sharpest contrast): whether it BEATS the
    // parametric rotation is a measured SCALE.md verdict, not a spec
    // claim; that it must not fall off the init's recall is
    def adcTop(rot: Array[Array[Double]]) =
      Similarity.flatTopKOf(Similarity.opqRotate(plant, rot), rerank = 0)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.bruteForceTopKOf(plant)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rParam = adcTop(Similarity.opqRotation(samp, dim))
      .intersect(truth).size.toDouble / truth.size
    val rNp = adcTop(r1).intersect(truth).size.toDouble / truth.size
    assert(rNp >= rParam - 0.05,
      s"NP refinement regressed plant ADC recall: param=$rParam np=$rNp")
  }

  test("SQ8 scalar quantization: distributed encode matches the driver " +
      "replica byte-for-byte; on-grid vectors reconstruct exactly " +
      "(pure ADC == exact cosine); full rerank ≡ brute force " +
      "row-for-row; the coded frame carries tinyints") {
    val samp = Similarity.ivfTrainingSample(
      Similarity.withNorm(base, dim),
      Similarity.pqSampleK(1 << Similarity.PqBits))
    val Similarity.Sq8Codec(lo, step) = Similarity.Sq8.train(samp, dim)
    assert(lo.length === dim && step.forall(_ > 0.0))
    // encode replica: nearest level, clamped, biased −128
    val coded = Similarity.Sq8Codec(lo, step).encode(base)
    assert(coded.schema("codes").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = false) ||
      coded.schema("codes").dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType])
    val sample = base.filter(col("vec_id") <= 20)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val gotCodes = coded.filter(col("vec_id") <= 20)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Byte](1).toVector).toMap
    sample.foreach { case (id, x) =>
      val want = x.indices.map { d =>
        val t = StrictMath.floor((x(d) - lo(d)) / step(d) + 0.5)
        (math.min(255L, math.max(0L, t.toLong)) - 128L).toByte
      }.toVector
      assert(gotCodes(id) === want, s"encode replica diverged at $id")
    }
    // on-grid plant: rows whose every value IS a reconstruction level —
    // encode/decode must round-trip them exactly, recon_norm must equal
    // the true norm, so the pure-ADC cosine IS the exact cosine
    import spark.implicits._
    val gridRows = (1 to 5).map { v =>
      (v.toLong + 5000L,
        (0 until dim).map(d => lo(d) + ((v * 37 + d * 11) % 256) * step(d)))
    }
    val grid = gridRows.toDF("vec_id", "embedding")
    val gridCoded = Similarity.Sq8Codec(lo, step).encode(grid)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Byte](1).toVector, r.getDouble(2))).toSeq
    gridRows.zip(gridCoded.sortBy(_._1)).foreach {
      case ((id, x), (gid, codes, rn)) =>
        assert(id === gid)
        val decoded = codes.zipWithIndex.map { case (c, d) =>
          lo(d) + (c.toDouble + 128.0) * step(d)
        }
        // exact round-trip within 1 ulp of the fp division
        decoded.zip(x).foreach { case (a, b) =>
          assert(math.abs(a - b) <= math.ulp(b) * 4.0,
            s"grid value did not round-trip: $a vs $b")
        }
        val trueNorm = StrictMath.sqrt(
          decoded.foldLeft(0.0)((a, v) => a + v * v))
        assert(rn === trueNorm, "recon_norm diverged from fold replica")
    }
    // structural invariant: SQ8 at full rerank ≡ exact brute force
    val n = base.count().toInt
    assert(rows(Similarity.flatTopKOf(base, Similarity.Sq8, rerank = n)) ===
      rows(Similarity.bruteForceTopKOf(base)))
  }

  test("argument/diagnostic hygiene: odd subspaces fail BEFORE the " +
      "build, a non-index path fails the load with a graft message, " +
      "and deferred-vacuum compaction leaves codes_old for the sweep") {
    // fail-fast precedes the expensive train+encode: point the build at
    // a nonexistent corpus dir — reaching the scan would throw a path
    // error, the require must fire first
    val eOdd = intercept[IllegalArgumentException] {
      Similarity.indexBuild(spark, "/nonexistent", "/nonexistent-idx",
        Similarity.Pq(subspaces = 3))
    }
    assert(eOdd.getMessage.contains("graft") &&
      eOdd.getMessage.contains("even"))
    withIndexDir { dir =>
      // a directory with an EMPTY meta frame is "not an index": the
      // loader must say so with a graft-prefixed message naming the
      // path, not die inside collect()(0)
      spark.range(0).selectExpr("CAST(id AS INT) AS dim",
          "CAST(id AS INT) AS sub", "CAST(id AS INT) AS num_lists",
          "id > 0 AS rotated")
        .write.mode("overwrite").parquet(s"$dir/meta")
      val eLoad = intercept[IllegalArgumentException] {
        Similarity.indexLoad(spark, dir)
      }
      assert(eLoad.getMessage.contains("graft") &&
        eLoad.getMessage.contains(dir))
    }
    withIndexDir { dir =>
      Similarity.indexBuild(spark, sf, dir)
      def search() =
        rows(Similarity.ivfSearch(base, Similarity.indexLoad(spark, dir)))
      val before = search()
      val old = new java.io.File(dir, "codes_old")
      // deferred-vacuum mode: the old files survive the swap (for
      // readers whose file listings resolved pre-swap), and the next
      // compaction's recovery preamble vacuums them
      Similarity.indexCompact(spark, dir, vacuumOld = false)
      assert(old.exists, "vacuumOld=false deleted codes_old")
      assert(search() === before, "deferred-vacuum compact changed a search")
      Similarity.indexCompact(spark, dir)
      assert(!old.exists, "the next compaction did not vacuum codes_old")
      assert(search() === before)
    }
  }

  test("a loaded index carries its own family's codec — PQ codebooks " +
      "or the SQ8 grid, chosen by the meta family tag") {
    for (c <- Seq(Similarity.Pq(), Similarity.Sq8)) withIndexDir { dir =>
      val built = Similarity.indexBuild(spark, sf, dir, c)
      val loaded = Similarity.indexLoad(spark, dir)
      assert(loaded.codec.getClass === built.codec.getClass, s"$c")
      assert(loaded.codec.family === built.codec.family)
      assert(spark.read.parquet(s"$dir/meta").collect()(0)
        .getAs[String]("family") === built.codec.family)
      // and the loaded codes decode through that codec: the coded frame
      // is content-equal to the build's
      assert(content(loaded.coded) === content(built.coded), s"$c")
    }
  }

  test("a meta without the family tag (written before the tag " +
      "existed) loads as IVF-PQ and searches like the tagged index") {
    withIndexDir { dir =>
      Similarity.indexBuild(spark, sf, dir)
      val tagged = rows(Similarity.ivfSearch(base,
        Similarity.indexLoad(spark, dir)))
      // rewrite meta/ in the pre-tag shape: (dim, sub, num_lists, rotated)
      val meta = spark.read.parquet(s"$dir/meta").drop("family")
        .collect()
      spark.createDataFrame(java.util.Arrays.asList(meta: _*),
          meta(0).schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      assert(!spark.read.parquet(s"$dir/meta").columns.contains("family"))
      val loaded = Similarity.indexLoad(spark, dir)
      assert(loaded.codec.isInstanceOf[Similarity.PqCodec])
      assert(rows(Similarity.ivfSearch(base, loaded)) === tagged)
    }
  }

  // -- retrain & compaction decision records (r19) -----------------------

  test("retrain decision: a planted drift SEQUENCE (baseline, " +
      "undrifted window, drifted window) flips the rebuild advice " +
      "EXACTLY once; the log persists with the artifact; advice " +
      "without a baseline fails loud") {
    withIndexDir { idxDir =>
      withIndexDir { tmpSf =>
        val full = Tables.embeddings(spark, sf)
        // the r18 mean-shift plant: artifacts freeze on A's grid, the
        // drifted append collapses cosine gaps below quantization noise
        val a = full.filter(col("vec_id") % 3 =!= 0)
        a.write.mode("overwrite").parquet(s"$tmpSf/embeddings.parquet")
        Similarity.indexBuild(spark, tmpSf, idxDir)
        // advice before any audit is a guess — must fail loud
        val eNoLog = intercept[IllegalArgumentException] {
          Similarity.indexRebuildAdvice(spark, idxDir)
        }
        assert(eNoLog.getMessage.contains("graft") &&
          eNoLog.getMessage.contains("baseline"))
        val comp = full.filter(col("vec_id") % 3 === 0)
          .select("vec_id", "embedding")
        val drifted = comp.select((col("vec_id") + 1000000).as("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE) + 3.0D)")
            .as("embedding"))
        val numLists = Similarity.indexLoad(spark, idxDir).numLists
        // the log contract: same ADC-decisive knobs at every reading
        // (all lists probed, rerank = K)
        def logWindow(base: org.apache.spark.sql.DataFrame,
                      qs: org.apache.spark.sql.DataFrame) =
          Similarity.indexAuditLog(spark, base, idxDir, qs,
            rerank = Similarity.K, probesOverride = Some(numLists))
        def advice() = Similarity.indexRebuildAdvice(spark, idxDir)
          .collect()(0)
        // window 0: build-time baseline on build-distribution traffic
        logWindow(a.select("vec_id", "embedding"),
          a.select("vec_id", "embedding").filter(col("vec_id") % 30 === 1))
        val ad0 = advice()
        assert(ad0.getAs[Long]("n_audits") === 1L)
        assert(ad0.getAs[Double]("recall_drop") === 0.0)
        assert(!ad0.getAs[Boolean]("rebuild"),
          "a fresh baseline must not advise a rebuild")
        // trend on a single reading: no step to slope over — zero
        // trend, no projected crossing
        assert(ad0.getAs[Long]("trend_window") === 0L)
        assert(ad0.getAs[Double]("trend_drop_per_window") === 0.0)
        assert(ad0.isNullAt(ad0.fieldIndex("projected_windows_to_rebuild")))
        // window 1: undrifted append + its traffic — advice stays down
        Similarity.indexAppend(spark, comp, idxDir)
        val base1 = a.select("vec_id", "embedding").unionByName(comp)
        logWindow(base1, comp.filter(col("vec_id") % 30 === 0))
        val ad1 = advice()
        assert(ad1.getAs[Long]("n_audits") === 2L)
        assert(!ad1.getAs[Boolean]("rebuild"),
          s"undrifted window flipped the advice: " +
            s"drop=${ad1.getAs[Double]("recall_drop")}")
        // flat window: the trend is audit noise — either no projected
        // crossing (flat/improving) or a strictly-future one, never 0
        val p1 = ad1.fieldIndex("projected_windows_to_rebuild")
        assert(ad1.isNullAt(p1) || ad1.getLong(p1) > 0L,
          "an undrifted window must not project an immediate rebuild")
        // window 2: drifted append + its traffic — advice flips ON
        Similarity.indexAppend(spark, drifted, idxDir)
        val base2 = base1.unionByName(drifted)
        logWindow(base2,
          drifted.filter((col("vec_id") - 1000000) % 30 === 0))
        val ad2 = advice()
        assert(ad2.getAs[Long]("n_audits") === 3L)
        assert(ad2.getAs[Boolean]("rebuild"),
          s"planted drift did not flip the advice: " +
            s"baseline=${ad2.getAs[Double]("baseline_recall")} " +
            s"latest=${ad2.getAs[Double]("latest_recall")}")
        // alarmed state: the projection is NOW, the slope is the last
        // w = min(3, 2) steps and replayable from the log itself
        assert(ad2.getAs[Long](
          "projected_windows_to_rebuild") === 0L)
        assert(ad2.getAs[Long]("trend_window") === 2L)
        assert(ad2.getAs[Double]("trend_drop_per_window") > 0.0,
          "the drifted window must read a declining trend")
        // exactly once across the sequence
        assert(Seq(ad0, ad1, ad2).map(_.getAs[Boolean]("rebuild")) ===
          Seq(false, false, true))
        // the log is a persisted artifact: three rows, dense seq, and
        // the advice is a pure function of it (re-read, re-derived)
        val log = spark.read.parquet(s"$idxDir/audit_log")
          .orderBy("audit_seq").collect()
        assert(log.map(_.getAs[Long]("audit_seq")).toSeq ===
          Seq(1L, 2L, 3L))
        assert(log.forall(_.getAs[Long]("n_queries") >= 1L))
        val again = advice()
        assert(again.getAs[Double]("recall_drop") ===
          ad2.getAs[Double]("recall_drop"))
        // the tolerance knob is honored: a tolerance past the planted
        // drop keeps the advice down on the SAME log
        val tolerant = Similarity.indexRebuildAdvice(spark, idxDir,
          dropTolerance = 1.0).collect()(0)
        assert(!tolerant.getAs[Boolean]("rebuild"))
        // projection replayability: below-threshold with a declining
        // last-step trend, the published columns alone reproduce the
        // projected crossing (smallest k with drop + k·trend > tol)
        val t1 = Similarity.indexRebuildAdvice(spark, idxDir,
          dropTolerance = 1.0, trendWindow = 1).collect()(0)
        val tr = t1.getAs[Double]("trend_drop_per_window")
        assert(tr > 0.0, "the drifted last step must slope downward")
        assert(t1.getAs[Long]("projected_windows_to_rebuild") ===
          math.floor((1.0 - t1.getAs[Double]("recall_drop")) / tr)
            .toLong + 1L)
      }
    }
  }

  test("compaction decision: advice tracks the per-list file count " +
      "across append windows and resets after a compaction — the " +
      "observability-to-action composition over pqIndexStats") {
    withIndexDir { idxDir =>
      withIndexDir { tmpSf =>
        val full = Tables.embeddings(spark, sf)
        full.filter(col("vec_id") % 3 =!= 0)
          .write.mode("overwrite").parquet(s"$tmpSf/embeddings.parquet")
        Similarity.indexBuild(spark, tmpSf, idxDir, Similarity.Sq8)
        def adv(th: Int = 4) =
          Similarity.indexCompactionAdvice(spark, idxDir,
            maxFilesPerList = th).collect()(0)
        val a0 = adv()
        assert(a0.getAs[Long]("max_files_per_list") === 1L)
        assert(!a0.getAs[Boolean]("compact"),
          "a fresh build must not advise compaction")
        // four append windows, disjoint id spaces, SAME embeddings —
        // every window lands a new file in the same lists, so some
        // list crosses the 4-file threshold at window four
        val comp = full.filter(col("vec_id") % 3 === 0)
          .select("vec_id", "embedding")
        (1 to 4).foreach { w =>
          Similarity.indexAppend(spark,
            comp.select((col("vec_id") + w * 1000000).as("vec_id"),
              col("embedding")), idxDir)
        }
        val a4 = adv()
        assert(a4.getAs[Long]("max_files_per_list") === 5L,
          s"expected 5 files in the appended lists, " +
            s"got ${a4.getAs[Long]("max_files_per_list")}")
        assert(a4.getAs[Boolean]("compact"),
          "five files per list must advise compaction at threshold 4")
        // the threshold knob is honored on the same physical state
        assert(!adv(th = 5).getAs[Boolean]("compact"))
        // after the advised compaction the gauge resets
        Similarity.indexCompact(spark, idxDir)
        val aC = adv()
        assert(aC.getAs[Long]("max_files_per_list") === 1L)
        assert(!aC.getAs[Boolean]("compact"))
        // row-count conservation across the whole window sequence
        assert(aC.getAs[Long]("n_rows") ===
          a4.getAs[Long]("n_rows"))
      }
    }
  }
}
