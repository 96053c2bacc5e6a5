package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (builder-brief first-class component).
  *
  * Two paths, as the brief prescribes:
  *  - brute-force cosine top-k (the correctness baseline): broadcast the
  *    bounded query set, one scan over the corpus, distributed two-stage
  *    top-k (per-(query, partition-salt) heads first, then the global k on
  *    the reduced set) so no single reducer sees n rows per query;
  *  - SRP-LSH (the scale path): signed-random-projection bit signatures,
  *    banded into buckets; candidates only WITHIN buckets, exact cosine on
  *    candidates. Hyperplanes are seeded literals (deterministic plans).
  *
  * Dot products use the native codegen'd `vec_dot` — no UDF.
  *
  * Every structural parameter is derived, not pinned to a corpus size:
  * the embedding dimensionality comes from the data (`dimOf`, with an
  * in-plan ragged-row guard), and the banding comes from the corpus COUNT
  * via `bitsForCount`/`annBandsFor`/`ndBandsFor` (see the candidate-volume
  * algebra below and docs/SCALE.md §ANN) — the r7 review flagged the fixed
  * 4×4-bit scheme as the one quadratic-at-scale path in the engine.
  */
object Similarity {

  val K = 10

  /** Fixed size of the ANN query set: the `QueryK` corpus vectors with the
    * LOWEST LCG query hash — the `SampleK` idiom applied to the query side.
    * The r9 draw (`vec_id % 50 == 0`) grew PROPORTIONALLY with the corpus
    * and was then broadcast with embeddings attached — at 100 TB that is
    * ~10⁹ query vectors on every executor and Θ(n²/50) brute-force work.
    * A lowest-K hash draw is deterministic, partitioning-independent and
    * CONSTANT at any corpus size (spec-asserted across SFs), so the
    * broadcast side never grows: a production top-k serving path would
    * instead batch externally-supplied queries in chunks of this shape. */
  val QueryK = 20

  /** The shared LCG order key — key reduced mod 2³¹ first so there is no
    * Long overflow at any vec_id (congruence:
    * (k·c) mod m ≡ ((k mod m)·c) mod m). Distinct additive constants give
    * independent orderings: 7 draws the ANN query set, 99 the IVF
    * training sample. */
  private def lcgHash(addend: Long): Column =
    pmod(pmod(col("vec_id"), lit(2147483648L)) * 2654435761L + addend,
      lit(2147483648L))

  private def queryHash: Column = lcgHash(7L)

  /** The bounded ANN query set: lowest-`QueryK` query hashes, ties broken
    * by vec_id — a TakeOrdered job over a vec_id-only projection, never a
    * shuffle. Public so the constant-size-across-SFs property is
    * spec-assertable. */
  def annQueryIds(e: DataFrame): DataFrame =
    e.select(col("vec_id")).withColumn("h", queryHash)
      .orderBy("h", "vec_id").limit(QueryK)
      .select("vec_id")

  // -- corpus-derived SRP parameterization (docs/SCALE.md §ANN) ----------
  // SRP sign bits agree on an unrelated (cos≈0) pair with probability 1/2,
  // so a band of `bits` sign tests spreads n vectors over 2^bits buckets
  // with mean occupancy n/2^bits. Pinning occupancy at TargetBucket gives
  //     bits  = ceil-ish log2(n / TargetBucket)            (clamped)
  // and holding expected recall at the design cosine c requires
  //     bands = ln(1/miss) / p^bits,   p = 1 − acos(c)/π
  // i.e. bands ≈ (n/TargetBucket)^ρ with ρ = log2(1/p):
  //   ρ ≈ 0.224 at c = 0.9 (near-dup — cheap all the way to web scale),
  //   ρ ≈ 0.664 at c = 0.4 (far-neighbor ANN — why MaxBitsAnn clamps the
  //     growth and the far regime belongs to IVF, whose list count is the
  //     data-adaptive analogue).
  // At bits = 4 both tables reproduce the r7 constants (4 bands of 4), so
  // small corpora (n ≤ 16·TargetBucket) are bit-identical to r7.
  val TargetBucket = 64
  val MinBits = 4
  val MaxBitsAnn = 8 // ANN design point: cos 0.4, expected recall 1/2
  val MaxBitsNd = 12 // near-dup design point: cos 0.9, expected recall 0.9

  /** Bucket-membership cap applied BEFORE pair expansion in the near-dup
    * self-join — the same discipline as `Dedup.candidatePairs`: a
    * degenerate bucket (e.g. a constant/boilerplate embedding repeated at
    * web scale) costs one dropped bucket row, never a quadratic pair
    * blow-up. Mean occupancy is held near TargetBucket by construction, so
    * a 16×-mean bucket is pathological, not data. */
  val MaxBucket = 1024

  /** Bits per band from the corpus count: bit-length of n/TargetBucket,
    * clamped. Exact integer arithmetic — DuckDB replays it as
    * `length(bin(greatest(1, n // TargetBucket)))` (see q_ann_lsh). */
  def bitsForCount(n: Long, maxBits: Int): Int = {
    val x = math.max(1L, n / TargetBucket)
    val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(x)
    math.min(maxBits, math.max(MinBits, bitlen))
  }

  private def bandsFor(designCos: Double, lnInvMiss: Double,
                       bits: Int): Int = {
    val p = 1.0 - StrictMath.acos(designCos) / StrictMath.PI
    math.max(1,
      StrictMath.round(lnInvMiss / StrictMath.pow(p, bits.toDouble)).toInt)
  }

  /** Bands for the ANN top-k path: round(ln 2 / p^bits) at design cosine
    * 0.4 — the L that holds expected recall at 1/2 (the r7 operating
    * point; bits=4 → 4 bands, the r7 constants). StrictMath, so the value
    * is identical on any JVM — it is interpolated into the oracle SQL. */
  def annBandsFor(bits: Int): Int = bandsFor(0.4, StrictMath.log(2.0), bits)

  /** Bands for the near-dup path: round(ln 10 / p^bits) at design cosine
    * 0.9 (the dedup threshold) — expected recall 0.9 AT the threshold;
    * pairs near cos 1 (what dedup must catch) are found w.p. ≈ 1.
    * bits=4 → 4 bands, the r7 constants. */
  def ndBandsFor(bits: Int): Int = bandsFor(0.9, StrictMath.log(10.0), bits)

  /** Native codegen'd dot product (graft.functions.DotProduct via the
    * GraftExtensions-registered `vec_dot`) — a tight primitive loop inside
    * whole-stage codegen instead of the interpreted HOF path. */
  private def dot(a: String, b: String): Column =
    call_function("vec_dot", col(a), col(b))

  /** Embedding dimensionality probed from the data (one-row job) — the
    * schema's ArrayType carries no length, so the first row is the source
    * of truth and `withNorm` enforces it on every row in-plan. */
  def dimOf(e: DataFrame): Int =
    e.select(size(col("embedding")).as("d")).head.getInt(0)

  /** Embeddings with precomputed L2 norm (one narrow pass). The embedding
    * is re-emitted through a dim guard: a ragged row (size ≠ dim) raises
    * a descriptive error instead of silently hashing wrong — the guard
    * rides the norm projection, so it cannot be pruned away. */
  def withNorm(df: DataFrame, dim: Int): DataFrame =
    df.withColumn("embedding",
        when(size(col("embedding")) === dim, col("embedding"))
          .otherwise(raise_error(concat(
            lit(s"graft: ragged embedding (expected dim $dim) at vec_id "),
            col("vec_id").cast(StringType)))))
      .withColumn("norm", sqrt(dot("embedding", "embedding")))

  /** The bounded query frame with norms — built by joining the QueryK id
    * set to the BASE table BEFORE the norm projection: a join placed above
    * `withNorm` would evaluate the norm (and the ragged guard) for every
    * corpus row on this branch too, then throw all but QueryK away — a
    * full duplicate corpus pass that exists only to be filtered. */
  private def queries(base: DataFrame, dim: Int): DataFrame =
    prepQueries(base.join(broadcast(annQueryIds(base)), "vec_id"), dim)

  /** Prepare a query batch — any (vec_id, embedding) frame — into the
    * (q_id, q_emb, q_norm) shape every search core consumes. This is
    * the EXTERNAL-queries seam ([[bruteForceTopKFor]],
    * [[ivfSearch]]): production searches arrive as query
    * vectors, not corpus ids; the internal audit draw ([[queries]]) is
    * just this applied to the QueryK lowest-hash corpus rows. The
    * q_id keyspace is shared with vec_id, and every search excludes
    * `vec_id = q_id` pairs — "a query never retrieves the vector with
    * its own id": a no-op for callers with a disjoint id range, the
    * self-match exclusion for the internal draw. */
  private def prepQueries(queryVecs: DataFrame, dim: Int): DataFrame =
    withNorm(queryVecs, dim)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))

  /** Scored (query, candidate) pairs → cosine. */
  private def score(pairs: DataFrame): DataFrame =
    pairs.withColumn("cos",
      round(dot("q_emb", "embedding") / (col("q_norm") * col("norm")), 6))

  /** Brute-force exact top-k per query (baseline). */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame =
    bruteForceTopKOf(Tables.embeddings(spark, dir))

  /** [[bruteForceTopK]] over any (vec_id, embedding) frame — the `*Of`
    * planting seam (the Dedup-family idiom): ground truth for corpora a
    * spec constructs (the OPQ anisotropy plant) without a parquet
    * table. */
  def bruteForceTopKOf(base: DataFrame): DataFrame =
    bruteForceCore(base, None, None)

  /** FILTERED exact top-k — the ground truth for predicate-constrained
    * vector search ([[ivfSearch]]): rank only candidates whose
    * vec_id appears in `allowed`, with the query draw UNCHANGED (the
    * predicate constrains what may be retrieved, never who asks). The
    * filter is applied BEFORE ranking (pre-filter semantics — true
    * top-k OF THE FILTERED SET), not by discarding rows from an
    * unfiltered top-k, which under-fills k whenever a disallowed
    * neighbor would have ranked. */
  def bruteForceTopKWhere(base: DataFrame, allowed: DataFrame): DataFrame =
    bruteForceCore(base, Some(allowed), None)

  /** Exact top-k for an EXTERNAL query batch (see [[prepQueries]]) —
    * the serving-shape ground truth [[ivfSearch]] is spec'd
    * against. */
  def bruteForceTopKFor(base: DataFrame, queryVecs: DataFrame,
                        allowed: Option[DataFrame] = None): DataFrame =
    bruteForceCore(base, allowed, Some(queryVecs))

  private def bruteForceCore(base: DataFrame,
                             allowed: Option[DataFrame],
                             queryVecs: Option[DataFrame]): DataFrame = {
    val dim = dimOf(base)
    val e0 = withNorm(base, dim)
    // left-semi on the id frame: strategy left to the planner — a
    // selective predicate's id set broadcasts, a broad one shuffles on
    // the same key the scan is already keyed by
    val e = allowed.fold(e0)(a =>
      e0.join(a.select("vec_id"), Seq("vec_id"), "left_semi"))
    val qs = queryVecs.map(prepQueries(_, dim)).getOrElse(queries(base, dim))
    val scored = score(e.crossJoin(broadcast(qs)))
      .filter(col("vec_id") =!= col("q_id"))
    // two-stage top-k: partial heads per (query, partition) first, so the
    // final per-query sort sees ≤ k·P rows, not n — the skew-proof idiom
    val partial = scored
      .withColumn("part", spark_partition_id())
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id", "part").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rn") <= K)
      .drop("rn", "part")
    partial
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("q_id", "rank")
  }

  // -- SRP-LSH -----------------------------------------------------------

  /** Deterministic hyperplane component — LCG-derived uniform in
    * [−0.5, 0.5): exact integer arithmetic and one exact double division,
    * so DuckDB regenerates bit-identical planes and the whole SRP path
    * (sign tests, band keys, candidates) is SQL-replayable — which is what
    * lets q_ann_lsh carry a full hash oracle. The seed stride is the
    * embedding dimensionality, so plane streams never overlap at any dim.
    * Uniform-cube directions are not perfectly spherical, but the SRP
    * recall at these cosines is equivalent (recall-tested). At dim 64 the
    * values are bit-identical to the r7 constants. */
  private[operators] def planeComponent(j: Int, d: Int, dim: Int): Double =
    (((j.toLong * dim + d) * 2654435761L + 12345L) % 2147483648L).toDouble /
      2147483648.0 - 0.5

  private def planesCol(dim: Int, numPlanes: Int): Column =
    array((0 until numPlanes).map { j =>
      array((0 until dim).map(d => lit(planeComponent(j, d, dim))): _*)
    }: _*)

  /** Bit signature + band bucket keys per vector, at the given corpus-
    * derived (bits, bands) parameterization. */
  def signatures(e: DataFrame, dim: Int, bits: Int, bands: Int): DataFrame =
    e.withColumn("planes", planesCol(dim, bits * bands))
      .withColumn("sig", expr(
        """transform(planes, p ->
          |  CASE WHEN vec_dot(p, embedding) >= 0
          |  THEN 1L ELSE 0L END)""".stripMargin))
      .withColumn("buckets", expr(
        s"""transform(sequence(0, $bands - 1), b ->
           |  struct(b AS band,
           |         aggregate(slice(sig, b * $bits + 1, $bits),
           |                   0L, (acc, v) -> acc * 2 + v) AS key))"""
          .stripMargin))
      .drop("planes", "sig")

  /** Near-dup corpus: embeddings (widened to double) ∪ planted near copies
    * (vec_id%5==0, +1M ids, first element nudged by +0.05 → cos ≈ 0.9999).
    * The raw corpus is random gaussians with no true near-dups (pair cosines
    * top out ≈ 0.51), so the planted copies are what a dedup threshold of
    * 0.9 must find — and the construction is exactly reproducible in SQL,
    * so the exhaustive quadratic ground truth is the DuckDB oracle. */
  def nearDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
    val planted = e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        concat(
          array(element_at(col("embedding"), 1) + lit(0.05)),
          expr("slice(embedding, 2, size(embedding) - 1)")).as("embedding"))
    e.unionByName(planted)
  }

  /** Embedding-cosine near-duplicate detection (brief dedup variant):
    * ALL-vector SRP bucketing at the count-derived (bits, ndBands)
    * parameterization, pairs expanded INSIDE each bucket's collected
    * member array with the `MaxBucket` membership cap applied BEFORE
    * expansion (the `Dedup.candidatePairs` discipline — one groupBy
    * shuffle, Σ min(bucket, cap)² candidate volume, never n²), then exact
    * cosine ≥ threshold on candidates only. At cos ≈ 0.9999 the per-pair
    * SRP miss probability is ≈ (bits·ε)^bands with ε ≈ 0.01 per plane, so
    * the banded output equals the exhaustive ground truth
    * (oracle-verified). */
  def cosineNearDup(spark: SparkSession, dir: String,
                    threshold: Double = 0.9): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    val dim = dimOf(corpus)
    // size the banding from the BASE count (metadata-only parquet count),
    // scaled by the planted fraction — counting the union corpus itself
    // would evaluate the whole construction once just to pick a bucket
    // width; any deterministic monotone proxy of the corpus size works
    // here because bits only selects the bucket granularity (the oracle
    // is the exhaustive ground truth, not a banding replay)
    val n = Tables.embeddings(spark, dir).count()
    val bits = bitsForCount(n + n / 5, MaxBitsNd)
    // localCheckpoint, not cache: the signature frame feeds the bucket
    // pass and both scoring sides; checkpoint blocks are GC-scoped,
    // a cache would pin in the CacheManager for the JVM's lifetime
    // (durable `checkpoint` on a real cluster). LAZY since r20: the
    // eager barrier serialized signature materialization ahead of the
    // single consuming action (q_embed_survivors read 3.6 -> 2.95 s
    // isolated warm medians with it lazy; q_embed_neardup a wash). The
    // ANN-index paths KEEP their eager checkpoints: q_ann_recall
    // measured ~0.3 s WORSE lazy (its consumers fan out from the frame
    // concurrently, and unmaterialized lazy blocks race), so this is a
    // per-call-site decision, not a blanket one.
    val e = signatures(withNorm(corpus, dim), dim, bits, ndBandsFor(bits))
      .localCheckpoint(eager = false)
    val pairs = bucketPairs(e)
    val sa = e.select(col("vec_id").as("a"), col("embedding").as("q_emb"),
      col("norm").as("q_norm"))
    val sb = e.select(col("vec_id").as("b"), col("embedding"), col("norm"))
    score(pairs.join(sa, "a").join(sb, "b"))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
      .orderBy("a", "b")
  }

  /** Capped within-bucket pair expansion over a signature frame — the
    * `Dedup.candidatePairs` discipline verbatim: one groupBy shuffle,
    * membership bounded by `maxBucket` BEFORE expansion (a hot bucket is
    * dropped whole, never expanded), pairs built inside each bucket's
    * sorted member array, then distinct across bands. Candidate volume is
    * Σ min(bucket, cap)² — never n². */
  private[graft] def bucketPairs(e: DataFrame,
                                 maxBucket: Int = MaxBucket): DataFrame =
    e.select(col("vec_id"), explode(col("buckets")).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  /** Survivor selection for the EMBEDDING dedup modality — the same
    * pipeline step q_dedup_survivors verifies for the text/MinHash path:
    * near-dup pairs → connected components (pointer-jumping, O(log d)
    * rounds — `Dedup.connectedComponents`) → keep-first (min vec_id) per
    * duplicate group. One row per group: survivor, size, largest member.
    * The oracle recomputes the transitive closure of the exhaustive
    * ground-truth pair set with a recursive CTE, so equal results prove
    * the banded candidates + the distributed fixpoint found the true
    * components. */
  def embedSurvivors(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(cosineNearDup(spark, dir))
      .groupBy(col("label").as("survivor_id"))
      .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
      .orderBy("survivor_id")

  // -- IVF -------------------------------------------------------------

  /** IVF list count from the corpus count — the √n law docs/SCALE.md §ANN
    * states (≈√n lists keeps list length ≈ √n, so probe cost per query is
    * NumProbes·√n): the floor power of two of √n, i.e. 2^(bitlen(n) div 2),
    * exact integer arithmetic DuckDB replays as
    * `1 << (length(bin(n)) // 2)`. Clamped below at 16 (= the r9 pinned
    * constant — n ≤ 1023 keeps the measured-SF operating point, the
    * `bitsForCount` discipline). n = 2000 (sf0.1) derives 32 lists, where
    * the r9 audit measured the pinned 16 at mean recall 0.475. */
  val MinListsBits = 4
  def listsForCount(n: Long): Int = {
    val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))
    1 << math.max(MinListsBits, bitlen / 2)
  }

  /** Probes per query: √lists rounded UP to a power of two
    * (2^ceil(log₂(lists)/2), min 4). At the measured SFs this equals the
    * constant-quarter fraction (4 of 16, 8 of 32 — the values
    * q_ann_recall prices at 0.755/0.815 mean recall), but the LAW is the
    * one that scales: probed fraction probes/lists = 1/√lists → 0, so
    * per-query candidate volume is probes · n/lists ≈ n/√lists = n^(3/4)
    * under the √n list law — not the Θ(n/4) a fixed fraction would keep
    * paying (a quarter of a 100 TB corpus per query is no index at all).
    * Exact integer arithmetic, replayed in the oracle as
    * `GREATEST(4, 1 << (length(bin(lists)) // 2))`. */
  def probesForLists(lists: Int): Int = {
    val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(lists.toLong)
    math.max(4, 1 << (bitlen / 2))
  }

  /** Quantizer training-sample size: 16 rows per list (= the r9
    * SampleK = 256 at 16 lists), floored at `MinSampleK`. Grows as
    * O(√n) with the list count — the sample is a TakeOrdered job, never
    * a shuffle of the corpus. Honest regime bound: the bit-replayable
    * Lloyd loop below collects lists·dim doubles per round, so it is the
    * right tool up to ~10⁴–10⁵ lists (≲100 MB driver-side at dim 64);
    * a 10⁶-list deployment (10¹²-vector corpus) swaps in
    * [[kmeansCentroidsDistributed]] + [[ivfTopKDistributed]] — MLlib
    * KMeans over the same sample, centroid set broadcast as a dimension
    * table instead of plan literals (implemented below, spec-gated on
    * the quantizer-independent all-lists ≡ brute-force invariant) — the
    * exact-replay quantizer exists to BE oracle-checkable at
    * verification scale, and the parameter LAWS (this file) are what
    * carry to 100 TB, not the driver fold. */
  val MinSampleK = 256
  def sampleKFor(lists: Int): Int = math.max(MinSampleK, 16 * lists)

  /** The LCG sample/init order key (see [[lcgHash]]). */
  private def sampleHash: Column = lcgHash(99L)

  /** Coarse k-means quantizer as plain DataFrame aggregation, built to be
    * BIT-DETERMINISTIC so DuckDB can replay it (q_ann_ivf's oracle unrolls
    * these rounds in SQL):
    *  - init: the k sample vectors with the lowest LCG key hash
    *    (exact integer arithmetic — no engine-specific hash);
    *  - assignment: codegen'd `vec_dot` argmin, first-minimum tie-break;
    *  - update: per list, members are folded in vec_id order (sorted
    *    collect, left fold, one division) — canonical-order double sums,
    *    identical on any partitioning, instead of a partition-order `avg`.
    * The caller hands in the bounded `sampleKFor`-row sample, so the
    * per-list `collect_list` buffer holds at most the sample's rows and
    * each round collects k·dim doubles — both corpus-size-bounded (the
    * sample is sampleKFor(lists), O(√n)), which is what makes the
    * canonical-order fold affordable. A coarse quantizer doesn't need
    * convergence and never trains on the full corpus at scale. */
  private[operators] def kmeansCentroids(sample: DataFrame, k: Int,
                                         iters: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = sample
      .withColumn("h", sampleHash)
      .orderBy("h", "vec_id").limit(k)
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    for (_ <- 1 to iters) {
      val centsCol = array(cents.map(c => array(c.map(lit): _*)): _*)
      val sums = sample
        .withColumn("cents", centsCol)
        .withColumn("list_id", expr(
          """array_position(
            |  transform(cents, c -> vec_dot(c, c) - 2.0D * vec_dot(c, embedding)),
            |  array_min(transform(cents,
            |    c -> vec_dot(c, c) - 2.0D * vec_dot(c, embedding))))"""
            .stripMargin))
        .groupBy("list_id")
        .agg(sort_array(collect_list(struct(col("vec_id").as("vid"),
          col("embedding").cast(ArrayType(DoubleType)).as("emb")))).as("ms"))
        .select(col("list_id"),
          expr("""aggregate(slice(ms, 2, size(ms)), element_at(ms, 1).emb,
                 |  (acc, m) -> zip_with(acc, m.emb, (a, b) -> a + b))"""
            .stripMargin).as("sumv"),
          size(col("ms")).as("n"))
        .collect()
      val next = cents.map(_.clone()) // empty lists keep their centroid
      sums.foreach { r =>
        val n = r.getInt(2)
        next(r.getLong(0).toInt - 1) =
          r.getSeq[Double](1).map(_ / n).toArray
      }
      cents = next
    }
    cents
  }

  /** The DISTRIBUTED quantizer — the 100 TB escape hatch the
    * [[kmeansCentroids]] scaladoc documents: MLlib KMeans over the SAME
    * bounded lowest-hash training sample, seeded, so the Lloyd iterations
    * run as executor-side aggregates (MLlib's own treeAggregate) instead
    * of the driver-side canonical-order fold. The trade is explicit:
    * MLlib's float-parallel sums are NOT bit-replayable in SQL, so this
    * path has no DuckDB oracle — its correctness contract is the
    * quantizer-independent structural invariant (probing EVERY list
    * reproduces [[bruteForceTopK]] row-for-row, spec-asserted for both
    * quantizers) plus a recall floor at the derived probe law. Use it
    * past the replayable fold's documented regime bound (~10⁴–10⁵
    * lists); at verification scale both quantizers serve the same
    * interface ([[ivfTopK]] vs [[ivfTopKDistributed]]). */
  def kmeansCentroidsDistributed( // public: center-count/dim spec-assertable
      sample: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val model = new KMeans()
      .setK(k).setMaxIter(iters).setSeed(99L)
      .setFeaturesCol("features")
      .fit(sample.select(array_to_vector(
        col("embedding").cast(ArrayType(DoubleType))).as("features")))
    val cents = model.clusterCenters.map(_.toArray)
    require(cents.length == k,
      s"graft: distributed quantizer produced ${cents.length} centers " +
        s"for k=$k (training sample too degenerate?)")
    cents
  }

  /** The bounded quantizer training sample: lowest-`k` LCG hashes,
    * ties broken by vec_id — a TakeOrdered (top-k) job, never a shuffle of
    * the corpus. Public so the derived-size property is spec-assertable. */
  def ivfTrainingSample(e: DataFrame, k: Int): DataFrame =
    e.withColumn("h", sampleHash)
      .orderBy("h", "vec_id").limit(k)
      .select("vec_id", "embedding")

  /** IVF ANN: a k-means coarse quantizer assigns every vector to its
    * nearest centroid list; a query probes only the derived-probe-count nearest
    * lists and scores those candidates exactly. The centroids are trained
    * once (seeded, on the bounded lowest-hash sample) and
    * shipped as plan literals — the inverted-file structure is just a
    * groupBy key, so the search is one bucketed join, the same shuffle
    * discipline as the LSH path but data-adaptive.
    *
    * `probesOverride` exists for the spec-side pricing of the probe knob
    * (SimilarityScaleSpec): the catalog query always runs the derived
    * √lists law. Probing EVERY list must reproduce [[bruteForceTopK]]
    * row-for-row — the structural invariant that the IVF machinery loses
    * candidates ONLY through probe pruning, spec-asserted. */
  def ivfTopK(spark: SparkSession, dir: String,
              probesOverride: Option[Int] = None): DataFrame = {
    // localCheckpoint, not cache: reused by the sample draw AND the final
    // search, but a cache would stay pinned in the CacheManager for the
    // JVM's lifetime (no post-materialization hook to unpersist from);
    // checkpoint blocks are GC-scoped — released once the result frame
    // is dropped (durable `checkpoint` on a real cluster)
    val base = Tables.embeddings(spark, dir)
    val e = withNorm(base, dimOf(base)).localCheckpoint(true)
    // corpus-derived parameterization (√n law, docs/SCALE.md §ANN) — a
    // metadata-cheap count over the checkpointed frame
    val numLists = listsForCount(e.count())
    val numProbes = probesOverride.getOrElse(probesForLists(numLists))
    require(numProbes >= 1 && numProbes <= numLists,
      s"probes $numProbes out of [1, $numLists]")
    // the bounded sample is itself checkpointed: every Lloyd round
    // re-reads it, and sampleKFor(lists) rows is driver-trivial to pin
    val samp = ivfTrainingSample(e, sampleKFor(numLists))
      .localCheckpoint(eager = true)
    val centroids = kmeansCentroids(samp, numLists, iters = 3)
    // centroids → one literal array<array<double>> column
    val cents = array(centroids.map(c => array(c.map(lit): _*)): _*)
    // squared distance to centroid c: x·x − 2x·c + c·c; x·x is constant
    // per row for the argmin, so rank by (c·c − 2x·c)
    def distsCol = expr(
      "transform(cents, c -> vec_dot(c, c) - 2.0D * vec_dot(c, embedding))")
    val assigned = e.withColumn("cents", cents)
      .withColumn("dists", distsCol)
      .withColumn("list_id",
        expr("array_position(dists, array_min(dists))").cast(LongType))
      .drop("cents", "dists")
    // the QueryK join comes BEFORE the dists projection: placed above it,
    // this branch would evaluate the numLists-vec_dot transform for every
    // corpus row a SECOND time (the assignment pass already pays it once)
    // just to keep QueryK rows
    val probed = e.join(broadcast(annQueryIds(e)), "vec_id")
      .withColumn("cents", cents)
      .withColumn("dists", distsCol)
      .withColumn("probe", explode(expr(
        s"""slice(array_sort(zip_with(dists, sequence(1, $numLists),
           |  (d, i) -> struct(d AS d, i AS i))), 1, $numProbes)"""
          .stripMargin)))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("probe.i").cast(LongType).as("list_id"))
    val pairs = assigned.join(broadcast(probed), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "q_emb", "q_norm", "vec_id", "embedding", "norm")
      .distinct()
    score(pairs)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("q_id", "rank")
  }

  /** IVF ANN with the DISTRIBUTED quantizer ([[kmeansCentroidsDistributed]])
    * and the centroid set carried as a broadcast DIMENSION TABLE instead of
    * plan literals — the 100 TB shape [[kmeansCentroids]]'s regime-bound
    * scaladoc promises: a 10⁵–10⁶-list deployment is ~10⁶·dim doubles of
    * centroids, fine as a broadcast relation but hopeless as a literal
    * expression tree (codegen limits) and too big for the driver-side
    * canonical-order Lloyd fold.
    *
    * Plan shape: assignment is a broadcast nested-loop join corpus ×
    * centroids whose n·k distance rows — the inherent quantization cost,
    * identical to the literal path's per-row k-length transform —
    * partial-aggregate MAP-SIDE to one argmin row per vector
    * (`min(struct(dist, list_id))`, lowest-list tiebreak), so the shuffle
    * carries n rows, never n·k; the probe side ranks the same broadcast
    * per query over the bounded QueryK rows; the search is the same
    * bucketed `list_id` equi-join as [[ivfTopK]].
    *
    * No DuckDB oracle — MLlib's parallel float sums are not
    * bit-replayable — so the correctness contract is spec-side and
    * quantizer-independent: probing EVERY list must reproduce
    * [[bruteForceTopK]] row-for-row (the machinery loses candidates only
    * through probe pruning, whatever the centroids are), plus a recall
    * floor at the derived √lists probe law (SimilarityScaleSpec). The
    * catalog query q_ann_ivf stays on the bit-replayable [[ivfTopK]],
    * which is what the oracle can check. */
  def ivfTopKDistributed(spark: SparkSession, dir: String,
                         probesOverride: Option[Int] = None): DataFrame = {
    val base = Tables.embeddings(spark, dir)
    val e = withNorm(base, dimOf(base)).localCheckpoint(true)
    val numLists = listsForCount(e.count())
    val numProbes = probesOverride.getOrElse(probesForLists(numLists))
    require(numProbes >= 1 && numProbes <= numLists,
      s"probes $numProbes out of [1, $numLists]")
    val samp = ivfTrainingSample(e, sampleKFor(numLists))
      .localCheckpoint(eager = true)
    import spark.implicits._
    val centDf = kmeansCentroidsDistributed(samp, numLists, iters = 3)
      .zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c) }.toSeq
      .toDF("c_list_id", "centroid")
    // squared distance to centroid c up to the per-row constant x·x:
    // c·c − 2x·c (the argmin is unchanged) — same algebra as ivfTopK
    def d = call_function("vec_dot", col("centroid"), col("centroid")) -
      lit(2.0) * call_function("vec_dot", col("centroid"), col("embedding"))
    val assigned = e.crossJoin(broadcast(centDf))
      .withColumn("d", d)
      .groupBy("vec_id")
      .agg(min(struct(col("d"), col("c_list_id"))).as("m"),
        first(col("embedding")).as("embedding"),
        first(col("norm")).as("norm"))
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("m.c_list_id").as("list_id"))
    val probed = e.join(broadcast(annQueryIds(e)), "vec_id")
      .crossJoin(broadcast(centDf))
      .withColumn("d", d)
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(asc("d"), asc("c_list_id"))))
      .filter(col("rn") <= numProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_list_id").as("list_id"))
    val pairs = assigned.join(broadcast(probed), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "q_emb", "q_norm", "vec_id", "embedding", "norm")
      .distinct()
    score(pairs)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("q_id", "rank")
  }

  /** LSH ANN: bucket-join queries to candidates at the count-derived
    * (bits, annBands) parameterization, exact cosine on the candidate set
    * only, top-k. Per-query candidate volume ≈ bands · TargetBucket by
    * construction (see the parameterization algebra above). */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
    val dim = dimOf(base)
    val bits = bitsForCount(base.count(), MaxBitsAnn)
    val e = signatures(withNorm(base, dim), dim, bits, annBandsFor(bits))
    val cand = e.select(col("vec_id"), col("embedding"), col("norm"),
      explode(col("buckets")).as("bk"))
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // query signatures derive from the QueryK-pruned BASE, not from cand:
    // joining above the signature projection would run the bits·bands
    // vec_dot sign tests over the whole corpus a second time on this
    // branch (same discipline as queries()/ivfTopK's probe side)
    val qs = signatures(
        withNorm(base.join(broadcast(annQueryIds(base)), "vec_id"), dim),
        dim, bits, annBandsFor(bits))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), explode(col("buckets")).as("bk"))
      .select(col("q_id"), col("q_emb"), col("q_norm"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val pairs = cand.join(broadcast(qs), Seq("band", "key"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "q_emb", "q_norm", "vec_id", "embedding", "norm")
      .distinct()
    score(pairs)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("q_id", "rank")
  }

  // -- ANN recall audit --------------------------------------------------

  /** ANN recall audit — the quality gauge that does for the IVF index
    * what q_mh_accuracy does for the MinHash sketch: per query point,
    * how much of the EXACT brute-force top-k the approximate IVF search
    * recovered (recall@k against deterministic ground truth, both sides
    * already bit-replayable). This turns the index's accuracy/cost
    * trade-off from an assertion into a measured, oracle-gated table —
    * the number a 100 TB deployment tunes NumLists/probes against.
    *
    * What it measures TODAY (r10, corpus-derived lists/probes + the
    * fixed lowest-QueryK draw): mean recall 0.755 at sf0.01 (16 lists /
    * 4 probes) and 0.815 at sf0.1 (32 lists / 8 probes) — well above
    * the 25% probed-corpus floor. Under the r9 pinned 16/4 constants
    * the sf0.1 audit read 0.475 (min 0.1), barely above the floor: the
    * weakly-clustered synthetic corpus is IVF's worst case, and finer
    * data-derived quantization is exactly what recovered it. That is
    * what a deployment needs measured before trusting the index: the
    * knobs are the probe fraction and the √n list law, and this table
    * prices them.
    *
    * Scale shape: both inputs are the existing top-k pipelines (two-stage
    * heads, bounded candidate sets); the audit itself is an equi join on
    * (query, neighbor) over queries×k rows and a queries-sized
    * aggregate. */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(bruteForceTopK(spark, dir), ivfTopK(spark, dir))

  /** The shared recall gauge both audits run: per query, how much of
    * the `exact` top-k the `approx` top-k recovered (recall@k). Both
    * inputs are (q_id, rank, neighbor_id, …) frames of the top-k
    * family; the audit itself is an equi join on (query, neighbor)
    * over queries×k rows and a queries-sized aggregate — bounded at
    * any corpus size. */
  private[graft] def recallOf(exact: DataFrame,
                              approx: DataFrame): DataFrame = {
    val bf = exact.select(col("q_id"), col("neighbor_id"))
    val ap = approx
      .select(col("q_id").as("iq"), col("neighbor_id").as("inb"))
    bf.join(ap, col("q_id") === col("iq") &&
        col("neighbor_id") === col("inb"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("inb").isNotNull, 1L).otherwise(0L)).as("n_overlap"))
      .select(col("q_id"), col("k"), col("n_overlap"),
        round(col("n_overlap").cast(DoubleType) / col("k").cast(DoubleType),
          6).as("recall"))
      .orderBy("q_id")
  }

  // -- embedding-space drift ---------------------------------------------

  /** Embedding-space drift — the representation-monitoring gauge that
    * closes the drift family (categorical langDrift, numeric valueDrift,
    * streaming streamDrift, and now the EMBEDDING column): per
    * dimension, the mean vector of two label cohorts (labels 0–4 vs
    * 5–9, the deterministic stand-in for "yesterday's embedding batch
    * vs today's") and their difference — the per-dimension centroid
    * shift an embedding pipeline alarms on after a model or
    * preprocessing change.
    *
    * Exactness: parquet floats widen to doubles exactly; per-row values
    * floor-quantize to integer micros and sum as BIGINTs (the esum
    * discipline — order-independent at any parallelism); each mean is
    * one IEEE division, rounded at 6 dp.
    *
    * Scale shape: ONE posexplode + map-side-combinable conditional
    * aggregate keyed by dimension — 64 groups regardless of corpus
    * size; no window, no join. */
  def embedDrift(spark: SparkSession, dir: String): DataFrame = {
    def q6(c: org.apache.spark.sql.Column) =
      floor(c.cast(DoubleType) * 1000000.0).cast(LongType)
    Tables.embeddings(spark, dir)
      .select((col("label") < 5).as("is_a"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(((col("pos") + 1).cast(LongType)).as("dim"))
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("is_a"), q6(col("v"))).otherwise(0L)).as("sa6"),
        sum(when(!col("is_a"), q6(col("v"))).otherwise(0L)).as("sb6"))
      .select(col("dim"), col("n_a"), col("n_b"),
        round(col("sa6").cast(DoubleType) / 1000000.0 /
          col("n_a").cast(DoubleType), 6).as("mean_a"),
        round(col("sb6").cast(DoubleType) / 1000000.0 /
          col("n_b").cast(DoubleType), 6).as("mean_b"),
        round(col("sa6").cast(DoubleType) / 1000000.0 /
          col("n_a").cast(DoubleType) -
          col("sb6").cast(DoubleType) / 1000000.0 /
          col("n_b").cast(DoubleType), 6).as("shift"))
      .orderBy("dim")
  }

  /** DuckDB replay of [[embedDrift]] — same cohorts, quantization and
    * association shapes. */
  val embedDriftOracleSql: String =
    """WITH x AS (
      |  SELECT label < 5 AS is_a,
      |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |g AS (
      |  SELECT dim,
      |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN is_a
      |      THEN CAST(FLOOR(v * 1000000.0) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS sa6,
      |    CAST(SUM(CASE WHEN is_a THEN 0
      |      ELSE CAST(FLOOR(v * 1000000.0) AS BIGINT) END)
      |      AS BIGINT) AS sb6
      |  FROM x GROUP BY 1)
      |SELECT dim, n_a, n_b,
      |  ROUND(CAST(sa6 AS DOUBLE) / 1000000.0 / CAST(n_a AS DOUBLE), 6)
      |    AS mean_a,
      |  ROUND(CAST(sb6 AS DOUBLE) / 1000000.0 / CAST(n_b AS DOUBLE), 6)
      |    AS mean_b,
      |  ROUND(CAST(sa6 AS DOUBLE) / 1000000.0 / CAST(n_a AS DOUBLE)
      |    - CAST(sb6 AS DOUBLE) / 1000000.0 / CAST(n_b AS DOUBLE), 6)
      |    AS shift
      |FROM g ORDER BY dim""".stripMargin

  // -- compressed ANN: product (PQ) and scalar (SQ8) quantization ----------

  /** PQ parameters. `PqSub` subspaces split the embedding coordinate-wise;
    * each subspace gets a `1 << PqBits`-entry codebook. At the test dim
    * (64) that is 16 subvectors of 4 dims × 16 codes — a 2⁴·¹⁶ = 2⁶⁴-cell
    * virtual grid from 256 stored centroids. The subspace count is the
    * measured fidelity knob (PqDev sweep, sf0.01, recall@10 vs brute
    * force): sub=8 reads 0.315 ADC / 0.845 at rerank=100; sub=16 reads
    * 0.460 / 0.975 — finer subspaces halve per-subspace quantization
    * error at the cost of doubling the per-pair ADC adds (16 vs 8) and
    * the packed code width (8 B vs 4 B per vector — still 64× under the
    * 512 B raw embedding). Production at 10⁹+ vectors runs 8-bit
    * codebooks (256 codes) on a proportionally larger training sample;
    * the LAWS here (sample rows per code, coordinate-disjoint subspaces,
    * argmin tie-break) are what carry, not the constants. */
  val PqSub = 16
  val PqBits = 4
  /** Training-sample law: rows per codebook entry — same 16× rule as
    * [[sampleKFor]] (16 rows per IVF list). */
  def pqSampleK(codes: Int): Int = math.max(MinSampleK, 16 * codes)

  /** Per-subspace codebooks, trained with the SAME bit-deterministic
    * Lloyd semantics as the IVF coarse quantizer ([[kmeansCentroids]] —
    * LCG lowest-hash init, first-minimum argmin, canonical vec_id-order
    * sums), each subspace on its coordinate slice of the one bounded
    * training sample. Returns [sub][code][subdim].
    *
    * All `sub` books train JOINTLY: one init collect, then ONE Spark job
    * per Lloyd round computing every subspace's assignment and every
    * (subspace, code) group's canonical-order sum together — 1 + iters
    * bounded jobs total instead of the sub·(1 + iters) a per-slice loop
    * pays (measured: the naive loop's 48 tiny jobs cost a flat ~4.5 s of
    * scheduler overhead at EVERY corpus size; the fused form removes it
    * without changing one bit of the result — [[pqCodebooksSliced]] is
    * the per-slice reference and the spec asserts exact equality).
    * Corpus-size-independent either way: the sample is O(codes) rows,
    * the same bounded regime as the IVF quantizer (its scaladoc's regime
    * bound and distributed escape hatch apply unchanged). */
  def pqCodebooks(sample: DataFrame, dim: Int,
                  sub: Int = PqSub, bits: Int = PqBits,
                  iters: Int = 3): Array[Array[Array[Double]]] = {
    require(dim % sub == 0, s"dim $dim not divisible into $sub subspaces")
    val subDim = dim / sub
    val codes = 1 << bits
    // shared init: the lowest-hash `codes` sample rows, sliced — exactly
    // the init each per-slice kmeansCentroids run would draw
    val initRows = sample
      .withColumn("h", sampleHash)
      .orderBy("h", "vec_id").limit(codes)
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    var books: Array[Array[Array[Double]]] = Array.tabulate(sub)(m =>
      initRows.map(_.slice(m * subDim, (m + 1) * subDim)))
    for (_ <- 1 to iters) {
      // per row: for each subspace, (m, argmin code, double subvector) —
      // one explode, one hash aggregate over ≤ sub·codes groups
      val entries = books.zipWithIndex.map { case (book, m) =>
        val x = expr(s"slice(embedding, ${m * subDim + 1}, $subDim)")
        val dists = transform(matrixLit(book), c =>
          call_function("vec_dot", c, c) -
            lit(2.0) * call_function("vec_dot", c, x))
        struct(lit(m).as("m"),
          array_position(dists, array_min(dists)).as("code"),
          x.cast(ArrayType(DoubleType)).as("emb"))
      }
      val sums = sample
        .select(col("vec_id"), explode(array(entries: _*)).as("e"))
        .select(col("vec_id"), col("e.m").as("m"), col("e.code").as("code"),
          col("e.emb").as("emb"))
        .groupBy("m", "code")
        .agg(sort_array(collect_list(struct(col("vec_id").as("vid"),
          col("emb")))).as("ms"))
        .select(col("m"), col("code"),
          expr("""aggregate(slice(ms, 2, size(ms)), element_at(ms, 1).emb,
                 |  (acc, e) -> zip_with(acc, e.emb, (a, b) -> a + b))"""
            .stripMargin).as("sumv"),
          size(col("ms")).as("n"))
        .collect()
      val next = books.map(_.map(_.clone())) // empty cells keep entries
      sums.foreach { r =>
        val n = r.getInt(3)
        next(r.getInt(0))(r.getLong(1).toInt - 1) =
          r.getSeq[Double](2).map(_ / n).toArray
      }
      books = next
    }
    books
  }

  /** The per-slice reference form of [[pqCodebooks]]: `sub` independent
    * [[kmeansCentroids]] runs, one per coordinate slice. Exists to PIN
    * the fused trainer — the spec asserts bit equality between the two —
    * and as the form whose SQL replayability q_ann_ivf already proves. */
  private[graft] def pqCodebooksSliced(
      sample: DataFrame, dim: Int,
      sub: Int = PqSub, bits: Int = PqBits,
      iters: Int = 3): Array[Array[Array[Double]]] = {
    require(dim % sub == 0, s"dim $dim not divisible into $sub subspaces")
    val subDim = dim / sub
    val codes = 1 << bits
    (0 until sub).map { m =>
      kmeansCentroids(
        sample.select(col("vec_id"),
          expr(s"slice(embedding, ${m * subDim + 1}, $subDim)")
            .as("embedding")),
        codes, iters)
    }.toArray
  }

  /** Literal array<array<double>> column for a centroid set or one
    * subspace's codebook. */
  private def matrixLit(m: Array[Array[Double]]): Column =
    array(m.map(c => array(c.map(lit): _*)): _*)

  /** Pack 4-bit PQ codes two per byte — the STORED form of the coded
    * corpus frame (the 64×-compression arithmetic in docs/SCALE.md
    * assumes it): `sub` codes in [1, 16] become `sub/2` tinyints, high
    * nibble first. Plain column algebra, parquet-storable, exactly
    * invertible by [[pqUnpackCodes]] (round-trip spec through a real
    * parquet write). */
  def pqPackCodes(codes: Column, sub: Int = PqSub): Column = {
    require(sub % 2 == 0, s"packing needs an even subspace count ($sub)")
    transform(sequence(lit(0), lit(sub / 2 - 1)), i =>
      ((element_at(codes, i * 2 + 1) - 1) * 16 +
        (element_at(codes, i * 2 + 2) - 1) - 128).cast(ByteType))
  }

  /** Inverse of [[pqPackCodes]]: `sub/2` tinyints back to `sub` 1-based
    * codes. The stored byte is biased by −128 so the full 8-bit range
    * fits the SIGNED tinyint parquet stores; unbias before the nibble
    * split. */
  def pqUnpackCodes(packed: Column, sub: Int = PqSub): Column =
    transform(sequence(lit(1), lit(sub)), m => {
      // integer ops only: >>1 is the floor-div byte index, >>4 / &15
      // the nibble split (Spark's `/` on ints would go fractional)
      val b = element_at(packed, shiftright(m + 1, 1))
        .cast(IntegerType) + 128
      when(pmod(m, lit(2)) === 1, shiftright(b, 4) + 1)
        .otherwise(b.bitwiseAND(lit(15)) + 1)
    })

  // -- codecs: the per-family half of every compressed index ---------------

  /** What a compressed index trains: PQ at a subspace count, or SQ8.
    * Training runs on the bounded sample a build hands in — raw vectors
    * for the flat top-k, residuals x − c_list for an IVF index. PQ codes
    * pack two per byte, so an odd subspace count fails here, before any
    * build work. `rotationSub` is the subspace count an OPQ pre-rotation
    * balances variance across (SQ8 has no subspaces and takes the PQ
    * default: the rotation is orthogonal, so it is valid for any codec). */
  sealed trait Codec {
    def train(sample: DataFrame, dim: Int): VectorCodec
    private[operators] def rotationSub: Int
  }
  final case class Pq(subspaces: Int = PqSub) extends Codec {
    require(subspaces % 2 == 0,
      s"graft: PQ needs an even subspaces count (codes pack two per " +
        s"byte), got $subspaces")
    def train(sample: DataFrame, dim: Int): VectorCodec =
      PqCodec(pqCodebooks(sample, dim, sub = subspaces))
    private[operators] def rotationSub: Int = subspaces
  }
  case object Sq8 extends Codec {
    /** Per-dimension grid from the bounded training sample: for each
      * dimension, (lo, step) with 256 uniform levels spanning the
      * sample's [min, max] — x̂_d = lo_d + code_d·step_d, code ∈
      * [0, 255]. Values outside the sample's range CLAMP to the end
      * levels (the standard trained-scalar-quantizer contract; FAISS
      * ScalarQuantizer QT_8bit trains the same way). A constant dimension
      * gets step 1 so the algebra stays finite (every value then codes
      * to 0 and reconstructs at lo exactly). One bounded-sample
      * aggregate, 2·dim doubles collected. */
    def train(sample: DataFrame, dim: Int): VectorCodec = {
      val rows = sample
        .select(posexplode(col("embedding").cast(ArrayType(DoubleType))))
        .toDF("pos", "v")
        .groupBy("pos").agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
        .collect()
      require(rows.length == dim,
        s"graft: SQ8 training saw ${rows.length} dimensions, expected $dim")
      val lo = new Array[Double](dim)
      val step = new Array[Double](dim)
      rows.foreach { r =>
        val d = r.getInt(0)
        lo(d) = r.getDouble(1)
        val span = r.getDouble(2) - r.getDouble(1)
        step(d) = if (span > 0.0) span / 255.0 else 1.0
      }
      Sq8Codec(lo, step)
    }
    private[operators] def rotationSub: Int = PqSub
  }

  /** A trained codec — the ONLY family-specific code of the compressed
    * indexes: how a vector (or residual) is coded, how a (query, coded
    * row) pair is ADC-scored, and how the trained artifacts and codes
    * are stored. Everything else — the flat top-k, IVF build, search,
    * persistence, append, compaction and audits — runs once, over this
    * interface.
    *
    * ADC shapes: PQ scores through a per-query lookup table —
    * lut[m][code] = q_m · entry — so a pair costs a `sub`-term table sum
    * over a corpus frame `dim/sub`× smaller; SQ8 reconstructs x̂ once
    * per coded row BEFORE the query join and takes one dim-term dot (SQ8
    * compresses storage and shuffle, not multiplies — FAISS's SQ
    * contract). Under IVF, x̂ = c_list + decode(codes): PQ adds the
    * centroid term q·c_list on the query side (`qc`), SQ8 folds c_list
    * into x̂ on the coded side. */
  sealed trait VectorCodec {
    /** The `family` tag persisted in an index's `meta/`. */
    def family: String
    /** Codes of an array<double>-compatible vector column. */
    private[operators] def codes(x: Column): Column
    /** codes → the reconstruction x̂ (array<double>). */
    private[operators] def decode(codes: Column): Column
    /** ‖decode(codes)‖², in the codec's canonical fold order. */
    protected def reconNormSq(codes: Column): Column =
      aggregate(decode(codes), lit(0.0), (a, v) => a + v * v)
    /** Encode a (vec_id, embedding) frame to (vec_id, codes, recon_norm)
      * — the flat coded corpus; recon_norm is computed from the codes at
      * encode time, so the ADC cosine is exact on any vector the codec
      * reconstructs exactly (spec-planted). */
    def encode(e: DataFrame): DataFrame =
      e.select(col("vec_id"), codes(col("embedding")).as("codes"))
        .withColumn("recon_norm", sqrt(reconNormSq(col("codes"))))
    /** Query-side ADC columns; `centroid` is the probed list's centroid
      * under IVF, None for the flat top-k. */
    private[operators] def queryColumns(centroid: Option[Column]): Seq[Column]
    /** Coded-side ADC columns; `centroid` is the row's list centroid under
      * IVF, None for the flat top-k. */
    private[operators] def codedColumns(centroid: Option[Column]): Seq[Column]
    /** q · x̂ on a joined (query, coded) row. */
    private[operators] def adcDot(ivf: Boolean): Column
    /** The persisted codes column: its name, and the in-memory ↔ stored
      * forms (both array<tinyint> on disk). */
    private[operators] def storedCol: String
    private[operators] def storeCodes(codes: Column): Column
    private[operators] def loadCodes(stored: Column): Column
    /** Codec integers the index `meta/` row carries after `dim`. */
    private[operators] def metaInts: Seq[(String, Int)]
    /** Persist the trained artifacts under the index path. */
    private[operators] def write(spark: SparkSession, indexPath: String): Unit
  }

  /** PQ: `books` is [sub][code][subdim]; artifacts under `codebooks/`
    * (m, code, entry), codes packed two per byte. */
  final case class PqCodec(books: Array[Array[Array[Double]]])
      extends VectorCodec {
    def family: String = PqCodec.Family
    private def sub = books.length
    private def subDim = books(0)(0).length
    private[operators] def codes(x: Column): Column =
      array(books.zipWithIndex.map { case (book, m) =>
        val xm = slice(x, m * subDim + 1, subDim)
        val dists = transform(matrixLit(book), c =>
          call_function("vec_dot", c, c) -
            lit(2.0) * call_function("vec_dot", c, xm))
        array_position(dists, array_min(dists)).cast(IntegerType)
      }: _*)
    private[operators] def decode(codes: Column): Column =
      concat(books.zipWithIndex.map { case (book, m) =>
        element_at(matrixLit(book), element_at(codes, m + 1))
      }: _*)
    // subspaces are coordinate-disjoint, so ‖x̂‖² is exactly the SUM of
    // the chosen entries' squared norms — literals, never a decode
    override protected def reconNormSq(codes: Column): Column =
      books.zipWithIndex.map { case (book, m) =>
        element_at(array(book.map(c => lit(c.map(x => x * x).sum)): _*),
          element_at(codes, m + 1))
      }.reduce(_ + _)
    private[operators] def queryColumns(
        centroid: Option[Column]): Seq[Column] =
      array(books.zipWithIndex.map { case (book, m) =>
        val qm = slice(col("q_emb"), m * subDim + 1, subDim)
        array(book.map(c =>
          call_function("vec_dot", qm, array(c.map(lit): _*))): _*)
      }: _*).as("lut") +:
        centroid.map(c => call_function("vec_dot", c, col("q_emb")).as("qc"))
          .toSeq
    private[operators] def codedColumns(
        centroid: Option[Column]): Seq[Column] = Nil
    private[operators] def adcDot(ivf: Boolean): Column = {
      val terms = (1 to sub).map(m =>
        element_at(element_at(col("lut"), m), element_at(col("codes"), m)))
      if (ivf) terms.foldLeft(col("qc"))(_ + _) else terms.reduce(_ + _)
    }
    private[operators] def storedCol: String = "packed"
    private[operators] def storeCodes(codes: Column): Column =
      pqPackCodes(codes, sub)
    private[operators] def loadCodes(stored: Column): Column =
      pqUnpackCodes(stored, sub)
    private[operators] def metaInts: Seq[(String, Int)] = Seq("sub" -> sub)
    private[operators] def write(spark: SparkSession,
                                 indexPath: String): Unit = {
      import spark.implicits._
      (for (m <- books.indices; c <- books(m).indices)
        yield (m, c, books(m)(c).toSeq)).toSeq
        .toDF("m", "code", "entry")
        .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/codebooks")
    }
  }
  object PqCodec {
    val Family = "ivfadc"
    private[operators] def read(spark: SparkSession, indexPath: String,
                                sub: Int): PqCodec = {
      val books = Array.ofDim[Array[Double]](sub, 1 << PqBits)
      spark.read.parquet(s"$indexPath/codebooks").collect().foreach { r =>
        books(r.getAs[Int]("m"))(r.getAs[Int]("code")) =
          r.getAs[scala.collection.Seq[Double]]("entry").toArray
      }
      require(books.forall(_.forall(_ != null)),
        s"graft: index at $indexPath is missing codebook entries")
      PqCodec(books)
    }
  }

  /** SQ8: a per-dimension (lo, step) grid; artifacts under `bounds/`
    * (pos, lo, step), codes one biased byte (code − 128, the
    * [[pqPackCodes]] storage idiom) per dimension, stored as they are. */
  final case class Sq8Codec(lo: Array[Double], step: Array[Double])
      extends VectorCodec {
    def family: String = Sq8Codec.Family
    private[operators] def codes(x: Column): Column = {
      val loCol = array(lo.map(lit): _*)
      val stepCol = array(step.map(lit): _*)
      transform(sequence(lit(1), lit(lo.length)), i =>
        (least(lit(255L), greatest(lit(0L),
          floor((element_at(x, i) - element_at(loCol, i)) /
            element_at(stepCol, i) + lit(0.5)))) - 128L).cast(ByteType))
    }
    private[operators] def decode(codes: Column): Column =
      transform(codes, (c, i) =>
        element_at(array(lo.map(lit): _*), i + 1) +
          (c.cast(DoubleType) + lit(128.0)) *
            element_at(array(step.map(lit): _*), i + 1))
    private[operators] def queryColumns(
        centroid: Option[Column]): Seq[Column] = Nil
    private[operators] def codedColumns(
        centroid: Option[Column]): Seq[Column] = {
      val dec = decode(col("codes"))
      Seq(centroid.fold(dec)(c => zip_with(c, dec, (a, b) => a + b))
        .as("xhat"))
    }
    private[operators] def adcDot(ivf: Boolean): Column =
      call_function("vec_dot", col("q_emb"), col("xhat"))
    private[operators] def storedCol: String = "codes"
    private[operators] def storeCodes(codes: Column): Column = codes
    private[operators] def loadCodes(stored: Column): Column = stored
    private[operators] def metaInts: Seq[(String, Int)] = Nil
    private[operators] def write(spark: SparkSession,
                                 indexPath: String): Unit = {
      import spark.implicits._
      lo.indices.map(d => (d, lo(d), step(d)))
        .toDF("pos", "lo", "step")
        .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/bounds")
    }
  }
  object Sq8Codec {
    val Family = "ivf_sq8"
    private[operators] def read(spark: SparkSession, indexPath: String,
                                dim: Int): Sq8Codec = {
      val rows = spark.read.parquet(s"$indexPath/bounds").collect()
      require(rows.length == dim &&
          rows.map(_.getAs[Int]("pos")).toSet == (0 until dim).toSet,
        s"graft: index at $indexPath has malformed bounds " +
          s"(${rows.length} rows for dim $dim)")
      val lo = new Array[Double](dim)
      val step = new Array[Double](dim)
      rows.foreach { r =>
        val d = r.getAs[Int]("pos")
        lo(d) = r.getAs[Double]("lo")
        step(d) = r.getAs[Double]("step")
      }
      Sq8Codec(lo, step)
    }
  }

  /** OPQ pre-rotation of a compressed index or flat top-k: none, the
    * parametric eigenvalue allocation ([[opqRotation]]), or the
    * non-parametric alternation ([[opqRotationNP]], which starts from
    * the parametric one). */
  sealed trait Rotation
  object Rotation {
    case object Off extends Rotation
    case object Parametric extends Rotation
    case object NonParametric extends Rotation
  }

  /** Train the requested rotation on the lowest-hash sample of the RAW
    * corpus (None for [[Rotation.Off]]). */
  private def trainRotation(base: DataFrame, dim: Int, codec: Codec,
                            rotate: Rotation)
      : Option[Array[Array[Double]]] = {
    def sample = ivfTrainingSample(base, pqSampleK(1 << PqBits))
    rotate match {
      case Rotation.Off => None
      case Rotation.Parametric =>
        Some(opqRotation(sample, dim, codec.rotationSub))
      case Rotation.NonParametric =>
        Some(opqRotationNP(sample, dim, codec.rotationSub))
    }
  }

  private def rotated(df: DataFrame,
                      rotation: Option[Array[Array[Double]]]): DataFrame =
    rotation.fold(df)(opqRotate(df, _))

  /** Flat compressed ANN: every corpus vector coded, every (query, coded
    * row) pair ADC-scored — queries keep their exact embedding (the
    * asymmetry), the corpus frame carries codes + one double. Approximate
    * cosine = q·x̂ / (q_norm · recon_norm). The codec is trained on the
    * bounded lowest-hash sample; with a rotation the whole corpus is
    * rotated first (codebooks/grid train on and codes quantize rotated
    * vectors; orthogonality keeps every cosine).
    *
    * `rerank` > 0 re-scores the top `rerank` ADC candidates per query
    * with the TRUE embeddings (one bounded equi-join back to the normed
    * corpus — queries·rerank rows, never the corpus) and returns the
    * exact-cosine top-k of that set; `rerank` = 0 returns pure-ADC ranks.
    * The default 10·K width is measured, not guessed: PQ recall@10 0.975
    * at sf0.01 (vs 0.800 at 4·K, 0.460 pure-ADC) — see the PqDev knob
    * table in the PqSub scaladoc. Like [[bruteForceTopK]] this scores
    * corpus × queries, so it serves corpora small enough to scan
    * unpruned; at scale the list-pruned [[ivfSearch]] is the family's
    * serving path. Whole chain bit-deterministic (LCG sample, literal
    * artifacts, first-minimum argmins, fixed-order sums) — the spec's
    * driver-side replicas match it EXACTLY. */
  def flatTopKOf(base: DataFrame, codec: Codec = Pq(),
                 rerank: Int = 10 * K,
                 rotate: Rotation = Rotation.Off): DataFrame = {
    val dim = dimOf(base)
    val rb = rotated(base, trainRotation(base, dim, codec, rotate))
    val e = withNorm(rb, dim).localCheckpoint(true)
    val samp = ivfTrainingSample(e, pqSampleK(1 << PqBits))
      .localCheckpoint(eager = true)
    val vc = codec.train(samp, dim)
    val coded = vc.encode(e)
    val qs = queries(rb, dim)
    val scored = coded.select(col("*") +: vc.codedColumns(None): _*)
      .crossJoin(broadcast(qs.select(col("*") +: vc.queryColumns(None): _*)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_adc",
        round(vc.adcDot(ivf = false) / (col("q_norm") * col("recon_norm")),
          6))
    topKWithRerank(scored, rerank, cand =>
      score(cand.join(
        e.select(col("vec_id"), col("embedding"), col("norm")), "vec_id")))
  }

  /** The ONE two-stage skew-proof ADC top-width + bounded-exact-rerank
    * block every compressed search runs (flat and IVF, either codec).
    * `scored` is the ADC-scored candidate frame — (q_id, q_emb, q_norm,
    * vec_id, cos_adc, …) — and `rerankScore` maps the bounded ADC-top
    * candidate set (queries×width rows of (q_id, q_emb, q_norm, vec_id))
    * to an exactly-scored frame (adds `cos`): the flat top-k joins its
    * normed checkpoint; the IVF search joins the RAW corpus and rotates +
    * norms only the bounded survivors. Stage shape: per-(query,
    * partition) heads first, so the global per-query sort sees
    * ≤ width·P rows, never n; with rerank ≤ 0 the ADC ranking IS the
    * answer (cos_adc published as cos); otherwise the exact rerank
    * re-ranks the width pool down to K. Ties break on vec_id at every
    * stage — a total order, so results are partitioning-independent
    * even though stage one keys on spark_partition_id. */
  private def topKWithRerank(scored: DataFrame, rerank: Int,
      rerankScore: DataFrame => DataFrame): DataFrame = {
    val width = math.max(K, rerank)
    val adcTop = scored
      .withColumn("part", spark_partition_id())
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id", "part")
          .orderBy(desc("cos_adc"), asc("vec_id"))))
      .filter(col("rn") <= width)
      .drop("rn", "part")
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos_adc"), asc("vec_id"))))
      .filter(col("rank") <= width)
    val ranked =
      if (rerank <= 0)
        adcTop.filter(col("rank") <= K)
          .select(col("q_id"), col("rank").cast(LongType).as("rank"),
            col("vec_id").as("neighbor_id"), col("cos_adc").as("cos"))
      else
        rerankScore(adcTop.select("q_id", "q_emb", "q_norm", "vec_id"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
          .filter(col("rank") <= K)
          .select(col("q_id"), col("rank").cast(LongType).as("rank"),
            col("vec_id").as("neighbor_id"), col("cos"))
    ranked.orderBy("q_id", "rank")
  }

  // -- IVF × codec: one index lifecycle (FAISS IVFADC / IVFScalarQuantizer)

  /** A built IVF index over a codec — everything a search needs EXCEPT the
    * raw corpus (which only the exact-rerank join touches): the derived
    * list count, the coarse centroids and the trained codec (bounded
    * driver-side artifacts, the model-coefficient family), and the coded
    * corpus frame (vec_id, list_id, codes, recon_norm — never
    * embeddings). [[ivfBuild]] produces it in memory;
    * [[indexBuild]]/[[indexLoad]] round-trip it through parquet so a
    * deployment builds ONCE and searches MANY times without retraining.
    *
    * `rotation` (present when built with a [[Rotation]]) is the OPQ
    * pre-transform the WHOLE index lives behind — FAISS's
    * `OPQMatrix,IVF…,PQ…` composition: the coarse quantizer, the codec
    * and every stored code are in ROTATED coordinates, so the rotation
    * travels with the index and [[ivfSearch]] applies it to queries and
    * to the rerank corpus view. */
  final case class IvfIndex(dim: Int, numLists: Int,
                            centroids: Array[Array[Double]],
                            codec: VectorCodec,
                            coded: DataFrame,
                            rotation: Option[Array[Array[Double]]] = None)

  /** IVF × codec top-k: [[ivfBuild]] + [[ivfSearch]] over the corpus at
    * `dir` — the coarse quantizer PRUNES (a query scores only its probed
    * lists' members, probes/lists → 0 under the √n laws), the codec
    * COMPRESSES (the scored frame carries codes + one double), and a
    * bounded exact rerank recovers ranking fidelity. The cheap argument
    * checks fail BEFORE the build trains anything.
    *
    * Structural invariant (spec-asserted for both codecs, mirroring
    * [[ivfTopK]]'s): probing EVERY list with corpus-wide rerank
    * reproduces [[bruteForceTopK]] ROW-FOR-ROW — assignment, coding, ADC
    * ranking and rerank may lose candidates only through probe pruning
    * and rerank truncation. Candidate pairs are structurally unique (one
    * list per vector, distinct probed lists per query), so no defensive
    * distinct — at probes·n/lists candidates per query the dedup shuffle
    * [[ivfTopK]] pays would be the costlier stage here. */
  def ivfAdcTopK(spark: SparkSession, dir: String, codec: Codec = Pq(),
                 rerank: Int = 10 * K,
                 probesOverride: Option[Int] = None): DataFrame = {
    require(rerank >= 1, s"graft: IVF search without rerank is not served " +
      s"(got $rerank)")
    probesOverride.foreach(p =>
      require(p >= 1, s"probes must be >= 1 (got $p)"))
    ivfSearch(Tables.embeddings(spark, dir), ivfBuild(spark, dir, codec),
      rerank, probesOverride)
  }

  /** Nearest-centroid assignment — the ONE cents/argmin/cvec block
    * every IVF build/encode path runs: adds (cents, dists, list_id,
    * cvec) to a frame with an `embedding` column — first-minimum
    * argmin, 1-based LongType list_id. */
  private def assignToLists(df: DataFrame, cents: Column): DataFrame = df
    .withColumn("cents", cents)
    .withColumn("dists", expr(
      "transform(cents, c -> vec_dot(c, c) - 2.0D * vec_dot(c, embedding))"))
    .withColumn("list_id",
      expr("array_position(dists, array_min(dists))").cast(LongType))
    .withColumn("cvec",
      element_at(col("cents"), col("list_id").cast(IntegerType)))

  /** The residual projection x − c_list every IVF codec trains and
    * encodes on, as doubles. */
  private def residualEmbedding: Column =
    zip_with(col("embedding"), col("cvec"), (a, b) => a - b)
      .cast(ArrayType(DoubleType))

  /** The training/encode half of the serving split: train the rotation
    * (if any) on the raw sample and move the corpus into rotated
    * coordinates, derive the √n list count, train the coarse quantizer
    * and then the codec on the RESIDUALS of the one bounded lowest-hash
    * sample (residuals concentrate near 0 with far less structure than
    * raw vectors, so a 16-entry codebook or a 256-level grid resolves
    * them better), and encode the corpus. Bit-deterministic end to end
    * (LCG sample, literal artifacts, first-minimum argmins), so two
    * builds over the same corpus produce identical artifacts. */
  def ivfBuild(spark: SparkSession, dir: String, codec: Codec = Pq(),
               rotate: Rotation = Rotation.Off): IvfIndex = {
    val base0 = Tables.embeddings(spark, dir)
    val dim = dimOf(base0)
    val rot = trainRotation(base0, dim, codec, rotate)
    val e = withNorm(rotated(base0, rot), dim).localCheckpoint(true)
    val numLists = listsForCount(e.count())
    val samp = ivfTrainingSample(e,
        math.max(sampleKFor(numLists), pqSampleK(1 << PqBits)))
      .localCheckpoint(eager = true)
    val centroids = kmeansCentroids(samp, numLists, iters = 3)
    val sampResid = assignToLists(samp, matrixLit(centroids))
      .select(col("vec_id"), residualEmbedding.as("embedding"))
    val vc = codec.train(sampResid, dim)
    IvfIndex(dim, numLists, centroids, vc, ivfEncode(e, centroids, vc), rot)
  }

  /** Encode a (vec_id, embedding) frame against FROZEN index artifacts —
    * nearest-centroid assignment, residual codes, EXACT reconstruction
    * norm ‖c_list + decode(codes)‖ (fixed-order vec_dot). Per-row
    * deterministic given the artifacts: a vector encodes to the same
    * coded row whether it was present at build time or handed in later,
    * which is what makes [[indexAppend]] exact rather than approximate.
    * (The caller applies the index's rotation, if any, first.) */
  private[graft] def ivfEncode(e: DataFrame,
                               centroids: Array[Array[Double]],
                               codec: VectorCodec): DataFrame =
    assignToLists(e, matrixLit(centroids))
      .withColumn("codes", codec.codes(residualEmbedding))
      .withColumn("xhat", zip_with(col("cvec"), codec.decode(col("codes")),
        (a, b) => a + b))
      .select(col("vec_id"), col("list_id"), col("codes"),
        sqrt(call_function("vec_dot", col("xhat"), col("xhat")))
          .as("recon_norm"))

  /** THE probed search over an IVF index, in memory or loaded: per query,
    * probe the nearest lists, ADC-score the probed lists' codes, two-stage
    * top-width, bounded exact rerank against `base` (the current corpus —
    * the build corpus, or build ∪ appended batches). Options:
    *  - `allowed`: rank only candidates whose vec_id appears in this id
    *    frame — PRE-filter semantics, the semi-join lands on the coded
    *    frame BEFORE ranking (post-filtering an unfiltered top-k
    *    under-fills k whenever a disallowed neighbor would have ranked);
    *    all lists + corpus-wide rerank ≡ [[bruteForceTopKWhere]];
    *  - `queryVecs`: an EXTERNAL (vec_id, embedding) query batch in RAW
    *    coordinates (a rotated index rotates it) instead of the internal
    *    lowest-hash draw over `base` — the serving shape; self-pairs
    *    (vec_id = q_id) stay excluded, a no-op for disjoint id ranges
    *    (see [[prepQueries]]).
    *
    * The probed list ids (≤ QueryK·probes values, bounded) are also
    * collected and pushed as a STATIC `list_id IN (...)` filter under the
    * join: semantically redundant with the equi-join, but on a persisted
    * index partitioned by `list_id` it becomes a PartitionFilter at the
    * scan — the coarse quantizer's pruning turned into file-level I/O
    * pruning (spec-pinned): a search READS only probes/lists of the
    * index, it does not scan-and-drop. */
  def ivfSearch(base: DataFrame, index: IvfIndex,
                rerank: Int = 10 * K,
                probesOverride: Option[Int] = None,
                allowed: Option[DataFrame] = None,
                queryVecs: Option[DataFrame] = None): DataFrame = {
    require(rerank >= 1, s"graft: IVF search without rerank is not served " +
      s"(got $rerank)")
    val numLists = index.numLists
    val numProbes = probesOverride.getOrElse(probesForLists(numLists))
    require(numProbes >= 1 && numProbes <= numLists,
      s"probes $numProbes out of [1, $numLists]")
    val dim = index.dim
    val codec = index.codec
    // an OPQ-built index lives entirely in rotated coordinates — the
    // query side AND the rerank corpus view rotate with it (orthogonal,
    // so every cosine equals the raw one). The O(dim²)-per-row projection
    // runs only AFTER the bounding joins — rotating the whole corpus to
    // keep QueryK query rows (or queries·width rerank rows) would put a
    // full matrix multiply of the corpus under every search, the trap
    // the [[queries]] scaladoc pins for the norm projection.
    def rot(df: DataFrame): DataFrame = rotated(df, index.rotation)
    val cents = matrixLit(index.centroids)
    val qs = prepQueries(rot(queryVecs.getOrElse(
      base.join(broadcast(annQueryIds(base)), "vec_id"))), dim)
    val probed = qs
      .withColumn("cents", cents)
      .withColumn("dists", expr(
        "transform(cents, c -> vec_dot(c, c) - 2.0D * vec_dot(c, q_emb))"))
      .withColumn("probe", explode(expr(
        s"""slice(array_sort(zip_with(dists, sequence(1, $numLists),
           |  (d, i) -> struct(d AS d, i AS i))), 1, $numProbes)"""
          .stripMargin)))
      .select(Seq(col("q_id"), col("q_emb"), col("q_norm"),
        col("probe.i").cast(LongType).as("list_id")) ++
        codec.queryColumns(Some(element_at(col("cents"), col("probe.i")))): _*)
    // the bounded probe frame is materialized ONCE (QueryK·probes rows):
    // the static IN-list collect and the broadcast join side both read
    // the checkpoint instead of re-executing the query-side pipeline
    val probedCk = probed.localCheckpoint(eager = true)
    val probedIds = probedCk.select("list_id").distinct()
      .collect().map(_.getLong(0)).sorted
    // predicate pre-filter: semi-join the id frame onto the coded rows
    // BEFORE ranking; planner-chosen strategy
    val coded = allowed.fold(index.coded)(a =>
      index.coded.join(a.select("vec_id"), Seq("vec_id"), "left_semi"))
    val scored = coded
      .filter(col("list_id").isin(probedIds: _*))
      .select(col("*") +: codec.codedColumns(
        Some(element_at(cents, col("list_id").cast(IntegerType)))): _*)
      .join(broadcast(probedCk), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_adc",
        round(codec.adcDot(ivf = true) / (col("q_norm") * col("recon_norm")),
          6))
    // exact rerank: join the bounded candidate set to the RAW corpus
    // first, rotate + norm only the queries·width surviving rows
    topKWithRerank(scored, rerank, cand =>
      score(withNorm(rot(
        cand.join(base.select(col("vec_id"), col("embedding")), "vec_id")),
        dim)))
  }

  // -- persisted IVF index (build once / search many) --------------------

  /** Build the IVF index for the corpus at `dir` and PERSIST it under
    * `indexPath` — training + encode happen ONCE, then
    * `ivfSearch(base, indexLoad(spark, indexPath))` answers queries from
    * the stored artifacts without retraining. Layout:
    *
    *  - `meta/`       one row (dim, [codec ints,] num_lists, rotated,
    *                  family) — `family` is the codec tag the loader
    *                  dispatches on ('ivfadc' PQ, whose `sub` rides after
    *                  dim; 'ivf_sq8' SQ8);
    *  - `rotation/`   (i, row) — only when rotated;
    *  - `centroids/`  (list_id, centroid) — numLists rows;
    *  - `codebooks/` (PQ: m, code, entry) or `bounds/` (SQ8: pos, lo,
    *                  step) — the codec's trained artifacts;
    *  - `codes/`      the coded corpus in the codec's stored form (PQ
    *                  nibbles packed two per byte, SQ8 bytes as they
    *                  are), written `partitionBy("list_id")` so a probed
    *                  search prunes at the FILE level.
    *
    * Everything stored is either bounded (the model-coefficient family)
    * or exactly invertible (packed codes, parquet doubles), so the loaded
    * index reproduces the in-memory search BIT-FOR-BIT. Returns the
    * in-memory index it persisted. */
  def indexBuild(spark: SparkSession, dir: String, indexPath: String,
                 codec: Codec = Pq(),
                 rotate: Rotation = Rotation.Off): IvfIndex = {
    import spark.implicits._
    val idx = ivfBuild(spark, dir, codec, rotate)
    val ints = ("dim" -> idx.dim) +: idx.codec.metaInts :+
      ("num_lists" -> idx.numLists)
    spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row.fromSeq(
          ints.map(_._2) ++ Seq(idx.rotation.nonEmpty, idx.codec.family))),
        StructType(ints.map(i => StructField(i._1, IntegerType, false)) ++
          Seq(StructField("rotated", BooleanType, false),
            StructField("family", StringType))))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
    idx.rotation.foreach { r =>
      r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
        .toDF("i", "row")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$indexPath/rotation")
    }
    idx.centroids.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/centroids")
    idx.codec.write(spark, indexPath)
    writeCodes(idx.coded, idx.codec, "overwrite", indexPath)
    idx
  }

  /** Write an in-memory coded frame in the codec's stored form. */
  private def writeCodes(coded: DataFrame, codec: VectorCodec, mode: String,
                         indexPath: String): Unit =
    coded.select(col("vec_id"), col("list_id"),
        codec.storeCodes(col("codes")).as(codec.storedCol),
        col("recon_norm"))
      .write.mode(mode).partitionBy("list_id")
      .parquet(s"$indexPath/codes")

  /** The ONE schema of a persisted `codes/` frame — shared by the loader
    * and the compactor so they can never diverge; the explicit `list_id`
    * LongType pins the partition column against directory-name type
    * inference (which would hand back an int and silently change the
    * probe join's key type). */
  private def codesSchema(codec: VectorCodec): StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField(codec.storedCol, ArrayType(ByteType)),
    StructField("recon_norm", DoubleType),
    StructField("list_id", LongType)))

  /** The guarded meta probe every index entry point shares — the
    * "is this an index?" check: a typo'd or half-written path must
    * fail with a graft-prefixed diagnostic naming the path, not an
    * ArrayIndexOutOfBounds from collect()(0). */
  private def indexMeta(spark: SparkSession, indexPath: String)
      : org.apache.spark.sql.Row = {
    val metaRows = spark.read.parquet(s"$indexPath/meta").collect()
    require(metaRows.length == 1,
      s"graft: index at $indexPath has ${metaRows.length} meta rows, " +
        "expected exactly 1 — not an indexBuild-written index")
    metaRows(0)
  }

  /** The trained codec of a persisted index, chosen by the meta's
    * `family` tag. Metas written before the tag existed were only ever
    * PQ builds, so an absent tag reads as PQ. */
  private def codecOf(spark: SparkSession, indexPath: String,
                      meta: org.apache.spark.sql.Row): VectorCodec = {
    val family =
      if (meta.schema.fieldNames.contains("family"))
        meta.getAs[String]("family")
      else PqCodec.Family
    family match {
      case PqCodec.Family =>
        PqCodec.read(spark, indexPath, meta.getAs[Int]("sub"))
      case Sq8Codec.Family =>
        Sq8Codec.read(spark, indexPath, meta.getAs[Int]("dim"))
      case other =>
        throw new IllegalArgumentException(
          s"graft: index at $indexPath has unknown family '$other'")
    }
  }

  /** Load an [[indexBuild]]-written index. The bounded artifacts
    * (centroids, codec, rotation) are collected in their canonical order;
    * the coded frame stays distributed, codes turned back into their
    * in-memory form in-plan. */
  def indexLoad(spark: SparkSession, indexPath: String): IvfIndex = {
    val meta = indexMeta(spark, indexPath)
    val dim = meta.getAs[Int]("dim")
    val numLists = meta.getAs[Int]("num_lists")
    val centroids = spark.read.parquet(s"$indexPath/centroids")
      .orderBy("list_id").select("centroid")
      .collect().map(_.getSeq[Double](0).toArray)
    require(centroids.length == numLists,
      s"graft: index at $indexPath has ${centroids.length} centroids, " +
        s"meta says $numLists")
    val codec = codecOf(spark, indexPath, meta)
    val coded = spark.read.schema(codesSchema(codec))
      .parquet(s"$indexPath/codes")
      .select(col("vec_id"), col("list_id"),
        codec.loadCodes(col(codec.storedCol)).as("codes"), col("recon_norm"))
    val rotation =
      if (meta.schema.fieldNames.contains("rotated") &&
          meta.getAs[Boolean]("rotated")) {
        val r = Array.ofDim[Array[Double]](dim)
        spark.read.parquet(s"$indexPath/rotation").collect().foreach { row =>
          r(row.getAs[Int]("i")) =
            row.getAs[scala.collection.Seq[Double]]("row").toArray
        }
        require(r.forall(_ != null),
          s"graft: index at $indexPath is missing rotation rows")
        Some(r)
      } else None
    IvfIndex(dim, numLists, centroids, codec, coded, rotation)
  }

  /** Append a batch of NEW vectors to a persisted index WITHOUT
    * retraining — the serving-pipeline add (FAISS `index.add` on a
    * trained index): artifacts stay FROZEN (centroids, codec, rotation),
    * the delta is rotated if the index is, assigned + residual-encoded by
    * the same [[ivfEncode]] the build ran, and the rows land in the SAME
    * partitionBy(list_id) layout — a parquet append, new files inside
    * existing list directories, so the probe-time PartitionFilter pruning
    * is untouched. Encoding is per-row deterministic given the artifacts,
    * so search over (build ∪ appends) is spec-asserted row-for-row equal
    * to a search whose coded frame held the union from the start. Caller
    * contract: vec_ids are new ([[indexDupIds]] audits it; in-place
    * updates are the CDC surface's job — `Versioning.mergeUpsert` —
    * followed by a rebuild or a compaction). Appends must be SERIALIZED
    * against [[indexCompact]] — single-writer contract. Periodic
    * RETRAINING as the corpus drifts is a deployment decision, watched by
    * [[indexRecallAudit]]. */
  def indexAppend(spark: SparkSession, newVecs: DataFrame,
                  indexPath: String): Unit = {
    val idx = indexLoad(spark, indexPath)
    writeCodes(
      ivfEncode(withNorm(rotated(newVecs, idx.rotation), idx.dim),
        idx.centroids, idx.codec),
      idx.codec, "append", indexPath)
  }

  /** Compact a persisted index's coded frame — the maintenance pass an
    * append-heavy deployment schedules (the lakehouse OPTIMIZE shape):
    * every [[indexAppend]] lands NEW files inside the list directories,
    * and a probed scan's task count grows with the file count, not the
    * data; compaction rewrites `codes/` bin-packed to one file per list
    * partition, CONTENT-IDENTICAL (the spec asserts the exact row
    * multiset and a row-for-row search before/after). The rewrite stages
    * to a sibling directory and swaps with two renames (Hadoop
    * FileSystem — works on HDFS and object-store committers alike), so a
    * reader planning BEFORE the first rename or AFTER the second sees a
    * complete frame — never a half-written one. The codes are read
    * through the schema of the index's own codec, resolved from its meta
    * BEFORE any rename touches the index.
    *
    * Concurrency contract (SINGLE WRITER): append and compact must be
    * serialized by the deployment — exactly the lakehouse OPTIMIZE
    * contract. An [[indexAppend]] that lands between compaction's
    * snapshot read of `codes/` and the swap would be rewritten away with
    * the old directory; nothing in the layout detects that, so do not run
    * them concurrently. Readers get a weaker but still real guarantee:
    * between the two renames `codes/` briefly does not exist, so a reader
    * that PLANS inside that window fails fast (and retries) rather than
    * seeing half a frame; a reader whose file listing resolved before the
    * swap needs the old files to outlive its scan — pass
    * `vacuumOld = false` to leave `codes_old/` for a deferred vacuum (the
    * next compaction's recovery preamble, or an explicit cleanup) instead
    * of deleting it immediately. Returns (files before, files after). */
  def indexCompact(spark: SparkSession, indexPath: String,
                   vacuumOld: Boolean = true): (Long, Long) = {
    val schema = codesSchema(
      codecOf(spark, indexPath, indexMeta(spark, indexPath)))
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(s"$indexPath/codes")
    val old = new org.apache.hadoop.fs.Path(s"$indexPath/codes_old")
    val tmp = new org.apache.hadoop.fs.Path(s"$indexPath/codes_compacting")
    val fs = path.getFileSystem(conf)
    // crash recovery FIRST — makes compaction retry-safe against a
    // death at any prior step:
    //  - codes missing + codes_old present → died BETWEEN the two
    //    renames: roll the stage-out back;
    //  - codes present + codes_old present → died after the swap-in,
    //    before the delete: finish the delete;
    //  - a stale codes_compacting is a dead write: remove it.
    if (!fs.exists(path) && fs.exists(old))
      require(fs.rename(old, path),
        s"graft: compaction recovery could not roll $old back to $path")
    else if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    def parquetFiles(p: org.apache.hadoop.fs.Path): Long = {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val before = parquetFiles(path)
    // one output file per list directory: the packed frame is tiny
    // relative to raw embeddings (64×), so a single file per list is
    // the right grain until a list itself outgrows a block — at which
    // point maxRecordsPerFile (a conf, not a code change) re-splits
    spark.read.schema(schema).parquet(s"$indexPath/codes")
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(tmp.toString)
    require(fs.rename(path, old), s"graft: compaction could not stage $path")
    require(fs.rename(tmp, path),
      s"graft: compaction could not swap in $tmp — codes left at $old")
    if (vacuumOld) fs.delete(old, true)
    (before, parquetFiles(path))
  }

  // -- persisted-index maintenance audits (drift + invariants) -------------

  /** Recall audit over a PERSISTED index — the drift watchdog
    * [[indexAppend]]'s contract promises, closing the serving loop's
    * retrain decision: the index's artifacts are FROZEN at build time, so
    * every appended batch is quantized with the build sample's grid; as
    * the corpus distribution drifts away from that sample the
    * quantization error grows, ADC ranking decays, and a bounded rerank
    * stops recovering the true neighbors. Per query of `queryVecs` (the
    * production shape — "today's traffic", or the batch just appended):
    * recall@k of the stored index's [[ivfSearch]] against
    * [[bruteForceTopKFor]] ground truth over `base` — the CURRENT corpus,
    * i.e. the build corpus UNION every appended batch (the caller owns
    * that union; the index does not store raw vectors).
    *
    * Reading it: mean recall flat vs the build-time audit → the frozen
    * grid still fits, keep appending; mean recall down → retrain
    * ([[indexBuild]]) and cut over — the economics of that decision
    * (audit cost vs rebuild cost) are priced in docs/SCALE.md. Scale
    * shape: one brute-force pass over `base` for a BOUNDED query batch,
    * the ordinary probed search, and a queries×k recall join — the audit
    * is corpus-linear ONCE per decision, vs retrain-per-decision. */
  def indexRecallAudit(spark: SparkSession, base: DataFrame,
                       indexPath: String, queryVecs: DataFrame,
                       rerank: Int = 10 * K,
                       probesOverride: Option[Int] = None): DataFrame =
    recallOf(
      bruteForceTopKFor(base, queryVecs),
      ivfSearch(base, indexLoad(spark, indexPath), rerank, probesOverride,
        queryVecs = Some(queryVecs)))

  /** Per-list physical statistics of a persisted index's coded frame —
    * the observability surface maintenance schedules read: one row per
    * list (list_id, n_rows, n_files), ordered by list_id. `n_files`
    * grows with every [[indexAppend]] and is the compaction trigger
    * (a probed scan's task count tracks files, not rows); `n_rows`
    * skew across lists is the probe-cost skew. One scan of the coded
    * frame, map-combinable aggregate over ≤ numLists groups —
    * metadata-cheap at any corpus size. */
  def indexStats(spark: SparkSession, indexPath: String): DataFrame = {
    indexCodesSlim(spark, indexPath)
      .select(col("list_id"), input_file_name().as("f"))
      .groupBy("list_id")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("f")).as("n_files"))
      .orderBy("list_id")
  }

  /** Duplicate-id audit of a persisted index — makes violations of
    * [[indexAppend]]'s vec_id-novelty contract OBSERVABLE instead of
    * silent: a duplicate id carries a second coded row, and a search
    * can then hand the same neighbor back in two rank slots. Returns
    * the offending (vec_id, n_rows) pairs (n_rows ≥ 2), ordered by
    * vec_id — EMPTY on a healthy index, which is the cheap invariant a
    * deployment asserts after every append window (and before trusting
    * a compaction's content equivalence). The fix for a non-empty
    * result is the documented CDC path: upsert via
    * `Versioning.mergeUpsert` on the raw corpus, then rebuild or
    * compact. One map-combinable aggregate on the id key. */
  def indexDupIds(spark: SparkSession, indexPath: String): DataFrame =
    indexCodesSlim(spark, indexPath)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") >= 2)
      .orderBy("vec_id")

  /** The (vec_id, list_id) projection of a persisted index's coded
    * frame, read DIRECTLY from parquet — what the physical audits
    * ([[indexStats]], [[indexDupIds]], [[indexCompactionAdvice]]) scan:
    * they never touch codes, so a full [[indexLoad]] would be pure
    * overhead. The meta probe stays — the is-this-an-index diagnostic —
    * and the explicit schema pins the `list_id` partition column to
    * LongType exactly as the loader does. Codec-agnostic by
    * construction: every codes layout carries these two columns. */
  private def indexCodesSlim(spark: SparkSession,
                             indexPath: String): DataFrame = {
    indexMeta(spark, indexPath)
    spark.read.schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("list_id", LongType))))
      .parquet(s"$indexPath/codes")
  }

  // -- OPQ: optimized product quantization (parametric) --------------------

  /** Deterministic cyclic Jacobi eigendecomposition of a symmetric
    * matrix (driver-side, StrictMath only — bit-identical on any JVM):
    * fixed sweep order (row-major upper triangle), fixed sweep count
    * (quadratic convergence: 12 cyclic sweeps drive a 64×64
    * off-diagonal to ~machine epsilon). Returns (eigenvalues,
    * eigenvectors as ROWS — row i pairs with eigenvalue i). */
  private[graft] def jacobiEigen(m0: Array[Array[Double]],
                                 sweeps: Int = 12)
      : (Array[Double], Array[Array[Double]]) = {
    val n = m0.length
    val a = m0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to sweeps; p <- 0 until n - 1; q <- p + 1 until n) {
      val apq = a(p)(q)
      if (apq != 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
        // t = sign(theta)/(|theta| + sqrt(theta²+1)); theta = 0 → t = 1
        // (signum would return 0 there and the rotation would stall)
        val t =
          if (theta >= 0.0)
            1.0 / (theta + StrictMath.sqrt(theta * theta + 1.0))
          else 1.0 / (theta - StrictMath.sqrt(theta * theta + 1.0))
        val c = 1.0 / StrictMath.sqrt(t * t + 1.0)
        val s = t * c
        var k = 0
        while (k < n) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
          k += 1
        }
        k = 0
        while (k < n) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
          k += 1
        }
        k = 0
        while (k < n) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
          k += 1
        }
      }
    }
    (Array.tabulate(n)(i => a(i)(i)),
      Array.tabulate(n, n)((i, j) => v(j)(i)))
  }

  /** OPQ-parametric rotation (Ge et al., CVPR 2013 — eigenvalue
    * allocation): PCA the bounded training sample, then deal the
    * eigen-directions across the `sub` subspaces so every subspace
    * gets (a) exactly dim/sub directions and (b) a balanced variance
    * PRODUCT — the allocation that minimizes the Gaussian
    * quantization-error bound at a fixed code budget. x′ = R·x groups
    * directions so no single subspace hoards the corpus's variance —
    * exactly the failure mode of coordinate-block PQ on anisotropic
    * data (spec-planted: 4 dominant dims in ONE block collapse ADC
    * recall; dealt, it recovers).
    *
    * Bit-deterministic end to end: the sample is the LCG lowest-hash
    * draw, collected and folded in vec_id order; PCA is the cyclic
    * [[jacobiEigen]]; allocation sorts on the (−eigenvalue, index)
    * total order and breaks balance ties on the lowest subspace index;
    * products run in the log domain (an anisotropic corpus's eigenvalue
    * product can underflow a raw double). Driver cost is dim² doubles
    * + an O(dim³) Jacobi — the same bounded model-artifact family as
    * the centroid fold; the rotation ships as dim² plan literals (the
    * [[kmeansCentroids]] regime note applies: a 10⁴-dim deployment
    * would broadcast it as a dimension table instead). */
  def opqRotation(sample: DataFrame, dim: Int,
                  sub: Int = PqSub): Array[Array[Double]] = {
    require(dim % sub == 0, s"dim $dim not divisible into $sub subspaces")
    val subDim = dim / sub
    val rows = sample
      .orderBy("vec_id")
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "opqRotation: empty training sample")
    val n = rows.length
    val mean = new Array[Double](dim)
    rows.foreach { x =>
      var d = 0; while (d < dim) { mean(d) += x(d); d += 1 }
    }
    for (d <- 0 until dim) mean(d) /= n
    val cov = Array.ofDim[Double](dim, dim)
    rows.foreach { x =>
      var i = 0
      while (i < dim) {
        val xi = x(i) - mean(i)
        var j = i
        while (j < dim) { cov(i)(j) += xi * (x(j) - mean(j)); j += 1 }
        i += 1
      }
    }
    for (i <- 0 until dim; j <- i until dim) {
      cov(i)(j) /= n; cov(j)(i) = cov(i)(j)
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = (0 until dim).sortBy(i => (-evals(i), i))
    val logProd = new Array[Double](sub)
    val slots = new Array[Int](sub)
    val assigned = Array.fill(sub)(Vector.newBuilder[Int])
    order.foreach { i =>
      val m = (0 until sub).filter(slots(_) < subDim)
        .minBy(m => (logProd(m), m))
      assigned(m) += i
      slots(m) += 1
      logProd(m) += StrictMath.log(StrictMath.max(evals(i), 1e-300))
    }
    assigned.flatMap(_.result()).map(evecs)
  }

  /** NON-parametric OPQ (Ge et al., CVPR 2013 §4 — the alternating
    * refinement): starting from the PARAMETRIC [[opqRotation]], iterate
    *
    *   1. train codebooks in the CURRENT rotated space — the very
    *      [[pqCodebooks]] trainer the index build runs, so the rotation
    *      is optimized against the real quantizer, not a proxy;
    *   2. encode the sample, collect the reconstructions X̂;
    *   3. solve the orthogonal Procrustes problem min_R ‖R·X − X̂‖_F —
    *      R ← the polar factor of M = X̂·Xᵀ, computed DETERMINISTICALLY
    *      as M·(MᵀM)^{−1/2} via the cyclic [[jacobiEigen]] (no SVD
    *      library, no sign/order ambiguity).
    *
    * Everything runs on the one bounded training sample (codebook
    * training distributed as always; encode/Procrustes driver-side on
    * the collected rows in vec_id order), so the whole loop is
    * corpus-size-independent — `iters` bounded sample jobs, O(dim³)
    * driver algebra per iteration. Returns the rotation and the
    * per-iteration sample MSE trace (‖R·x − x̂‖² mean BEFORE each
    * Procrustes step) — the alternating-descent objective the spec
    * asserts does not increase end-to-end. Whether the refinement BEATS
    * the parametric rotation on recall is measured, not assumed:
    * docs/SCALE.md records the verdict from the anisotropic plant. */
  private[graft] def opqRotationNPTrace(sample: DataFrame, dim: Int,
                                        sub: Int = PqSub, iters: Int = 3)
      : (Array[Array[Double]], Seq[Double]) = {
    require(iters >= 1, s"opqRotationNP needs iters >= 1 (got $iters)")
    val subDim = dim / sub
    val codes = 1 << PqBits
    var r = opqRotation(sample, dim, sub)
    val rowsX = sample
      .orderBy("vec_id")
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    val n = rowsX.length
    val mse = Vector.newBuilder[Double]
    def rotateRow(m: Array[Array[Double]], x: Array[Double]) =
      m.map { row =>
        var s = 0.0; var i = 0
        while (i < dim) { s += row(i) * x(i); i += 1 }
        s
      }
    for (_ <- 1 to iters) {
      val books = pqCodebooks(opqRotate(sample, r), dim, sub)
      // driver encode replica (same c·c − 2x·c first-minimum argmin as
      // PqCodec.codes) + the Procrustes cross matrix M = Σ x̂·yᵀ in one
      // pass
      val m = Array.ofDim[Double](dim, dim)
      var err = 0.0
      rowsX.foreach { x =>
        val y = rotateRow(r, x)
        val xhat = new Array[Double](dim)
        for (s <- 0 until sub) {
          val off = s * subDim
          var best = 0; var bestD = Double.PositiveInfinity
          for (c <- 0 until codes) {
            val cb = books(s)(c)
            var d = 0.0; var i = 0
            while (i < subDim) {
              d += cb(i) * cb(i) - 2.0 * cb(i) * y(off + i); i += 1
            }
            if (d < bestD) { bestD = d; best = c }
          }
          System.arraycopy(books(s)(best), 0, xhat, off, subDim)
        }
        var i = 0
        while (i < dim) {
          val e = y(i) - xhat(i); err += e * e
          var j = 0
          while (j < dim) { m(i)(j) += xhat(i) * x(j); j += 1 }
          i += 1
        }
      }
      mse += err / n
      // Procrustes solution R = U·Vᵀ from the eigen-SVD of M: MᵀM =
      // V·Σ²·Vᵀ via the cyclic Jacobi, then U columns as M·v_k/σ_k for
      // the well-conditioned directions and a DETERMINISTIC canonical-
      // basis completion (modified Gram–Schmidt, fixed order) for the
      // near-null ones — on an extremely anisotropic corpus (the OPQ
      // plant's 1e4 scale ratio) σ spans ~1e8, so the naive
      // M·(MᵀM)^{−1/2} polar form squares itself out of double
      // precision; in the null space every orthogonal completion is an
      // equally optimal Procrustes solution, so completing is exact,
      // not approximate
      val mtm = Array.tabulate(dim, dim) { (i, j) =>
        var s = 0.0; var k = 0
        while (k < dim) { s += m(k)(i) * m(k)(j); k += 1 }
        s
      }
      val (evals, evecs) = jacobiEigen(mtm)
      val order = (0 until dim).sortBy(k => (-evals(k), k))
      val sigma = order.map(k =>
        StrictMath.sqrt(StrictMath.max(evals(k), 0.0)))
      val tol = sigma.head * 1e-7
      val u = Array.ofDim[Double](dim, dim) // columns u(_)(slot)
      def orthogonalize(col0: Array[Double], upTo: Int): Array[Double] = {
        val c = col0.clone()
        for (p <- 0 until upTo) {
          var d = 0.0; var i = 0
          while (i < dim) { d += c(i) * u(i)(p); i += 1 }
          i = 0
          while (i < dim) { c(i) -= d * u(i)(p); i += 1 }
        }
        c
      }
      var slot = 0
      order.zipWithIndex.foreach { case (k, idx) =>
        if (sigma(idx) > tol) {
          val col = orthogonalize(
            Array.tabulate(dim) { i =>
              var s = 0.0; var j = 0
              while (j < dim) { s += m(i)(j) * evecs(k)(j); j += 1 }
              s / sigma(idx)
            }, slot)
          val nn = StrictMath.sqrt(col.map(x => x * x).sum)
          for (i <- 0 until dim) u(i)(slot) = col(i) / nn
          slot += 1
        }
      }
      while (slot < dim) {
        // complete with the canonical basis vector whose residual
        // against the filled columns is LARGEST (ties → lowest index) —
        // deterministic, and guaranteed to terminate for ANY null-space
        // orientation: the e_i span the space, so with `slot` columns
        // filled some residual has norm² ≥ (dim − slot)/dim. (A
        // fixed-threshold first-fit scan deadlocks when the null space
        // is spread across axes — e.g. mean-centered samples, whose
        // null eigenvector has every |⟨e_i, w⟩| = 1/√dim.)
        var bestE = -1; var bestNn = -1.0
        var cand: Array[Double] = null
        for (e <- 0 until dim) {
          val c = orthogonalize(
            Array.tabulate(dim)(i => if (i == e) 1.0 else 0.0), slot)
          val nn = StrictMath.sqrt(c.map(x => x * x).sum)
          if (nn > bestNn + 1e-12) { bestNn = nn; bestE = e; cand = c }
        }
        require(bestNn > 1e-6,
          s"graft: Procrustes completion degenerate at slot $slot")
        for (i <- 0 until dim) u(i)(slot) = cand(i) / bestNn
        slot += 1
      }
      // R = U·Vᵀ with U's slot s paired to eigenvector order(s)
      r = Array.tabulate(dim, dim) { (i, j) =>
        var s = 0.0
        for (t <- 0 until dim) s += u(i)(t) * evecs(order(t))(j)
        s
      }
      // orthogonality check: ‖R·Rᵀ − I‖_max — a silent non-rotation
      // would invalidate every cosine-preservation claim downstream
      val offMax = (0 until dim).flatMap(i => (0 until dim).map { j =>
        var s = 0.0; var k = 0
        while (k < dim) { s += r(i)(k) * r(j)(k); k += 1 }
        StrictMath.abs(s - (if (i == j) 1.0 else 0.0))
      }).max
      require(offMax < 1e-8,
        f"graft: Procrustes polar factor off the orthogonal manifold " +
          f"(max deviation $offMax%.2e)")
    }
    (r, mse.result())
  }

  /** The non-parametric rotation alone (see [[opqRotationNPTrace]]). */
  def opqRotationNP(sample: DataFrame, dim: Int,
                    sub: Int = PqSub, iters: Int = 3)
      : Array[Array[Double]] =
    opqRotationNPTrace(sample, dim, sub, iters)._1

  /** Rotate a corpus: embedding → R·embedding (array<double>, one
    * codegen'd vec_dot per output coordinate). Orthogonal R preserves
    * dots and norms, so every cosine downstream is the original cosine
    * up to fp rounding — only the PQ grid sees a different
    * (better-conditioned) coordinate system. */
  def opqRotate(df: DataFrame, r: Array[Array[Double]]): DataFrame =
    df.withColumn("embedding",
      array(r.map(row => call_function("vec_dot",
        array(row.map(lit): _*), col("embedding"))): _*))

  // -- retrain & compaction decision records (r19: the composition) -------

  /** Run the drift watchdog ([[indexRecallAudit]]) and APPEND its summary
    * to a persisted audit LOG under the index — the history the retrain
    * decision reads: one reading cannot say "degraded versus what?" — the
    * decision needs the build-time baseline and the trend, which is
    * exactly what this log accumulates. Contract (what makes
    * [[indexRebuildAdvice]]'s baseline meaningful): log ONCE right
    * after [[indexBuild]] with build-distribution traffic — that
    * reading becomes audit_seq 1, the baseline — then once per append
    * window with that window's traffic, at the SAME knobs every time
    * (the three-readings-identical-knobs discipline the r18 drift
    * spec pins; knob changes move the gauge without any drift).
    *
    * One summary row per call — (audit_seq, n_queries, mean_recall,
    * min_recall) — appended under `indexPath/audit_log` so the
    * history travels WITH the artifact it judges. The summary
    * divisions run on driver-collected rows in q_id order (per-query
    * recalls are exact multiples of 1/k), one IEEE division each,
    * rounded at 6 dp — deterministic at any parallelism. Bounded
    * end-to-end: queries-sized input, 1-row output, the
    * model-metadata family. Returns the appended row. */
  def indexAuditLog(spark: SparkSession, base: DataFrame,
                    indexPath: String, queryVecs: DataFrame,
                    rerank: Int = 10 * K,
                    probesOverride: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val logPath = s"$indexPath/audit_log"
    val rows = indexRecallAudit(spark, base, indexPath, queryVecs, rerank,
        probesOverride)
      .select("q_id", "recall").orderBy("q_id").collect()
    require(rows.nonEmpty, "graft: audit produced no query rows")
    val recalls = rows.map(_.getDouble(1))
    val mean = math.round(recalls.sum / recalls.length * 1e6) / 1e6
    val p = new org.apache.hadoop.fs.Path(logPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prevSeq =
      if (fs.exists(p))
        spark.read.parquet(logPath)
          .agg(max(col("audit_seq"))).collect()(0).getLong(0)
      else 0L
    val row = Seq((prevSeq + 1, recalls.length.toLong, mean, recalls.min))
      .toDF("audit_seq", "n_queries", "mean_recall", "min_recall")
    row.coalesce(1).write.mode("append").parquet(logPath)
    row
  }

  /** The retrain DECISION record — the unbuilt piece the r18 verdict
    * named: read the audit log (family-agnostic — only the log, never
    * the codes), compare the LATEST reading against the BASELINE
    * (audit_seq 1, the build-time reading the log contract pins), and
    * emit ONE explicit advice row: (n_audits, baseline_seq,
    * baseline_recall, latest_seq, latest_recall, recall_drop,
    * drop_tolerance, rebuild) with rebuild = drop > tolerance.
    *
    * The default tolerance (0.10 recall) sits where the priced
    * economics put it (docs/SCALE.md: the audit costs 0.14–0.25× the
    * rebuild it decides, the ratio IMPROVING with corpus): the
    * undrifted control moves the gauge by ≤ a few hundredths (audit
    * noise — advising a rebuild there would burn the ~7× saving the
    * audit-per-window loop buys), while the planted mean-shift drift
    * moves it ~0.35 — an order of margin on either side. A fresh log
    * (baseline only) reads drop 0 → keep serving. Fails loud when no
    * log exists: advice without a baseline is a guess.
    *
    * TREND (r19, the early-warning half): the latest-vs-baseline drop
    * only alarms AFTER the threshold is crossed; the trend columns
    * project the crossing from the recent slope so a scheduler can
    * plan the rebuild before the alarm. `trend_drop_per_window` =
    * (mean_recall w windows ago − latest) / w over w =
    * min(trendWindow, n_audits − 1) recent steps (positive =
    * declining, 6-dp rounded like every published number);
    * `projected_windows_to_rebuild` = 0 when rebuild is already
    * advised, NULL when the trend is flat-or-improving (no crossing
    * at the current slope), else the smallest k with
    * drop + k·trend > tolerance — all three derivable from the row's
    * own published columns, the same replayability contract as the
    * drop itself. */
  def indexRebuildAdvice(spark: SparkSession, indexPath: String,
                         dropTolerance: Double = 0.10,
                         trendWindow: Int = 3): DataFrame = {
    import spark.implicits._
    val logPath = s"$indexPath/audit_log"
    val p = new org.apache.hadoop.fs.Path(logPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"graft: no audit log at $indexPath — log a build-time baseline " +
        "with indexAuditLog first")
    val log = spark.read.parquet(logPath).orderBy("audit_seq").collect()
    require(log.nonEmpty, s"graft: audit log at $indexPath is empty")
    val baseline = log.head
    val latest = log.last
    // decide on the SAME rounded drop the record publishes — deciding
    // on the raw difference could contradict the emitted columns at
    // the tolerance boundary (rebuild=true with printed
    // drop == tolerance), and a decision record a reader cannot replay
    // from its own numbers is a bug
    val drop = math.round((baseline.getAs[Double]("mean_recall") -
      latest.getAs[Double]("mean_recall")) * 1e6) / 1e6
    // the trend reads the last w steps, not baseline-vs-latest: after
    // many healthy windows one bad reading should move the projection
    // hard, which a whole-history average would dilute
    val w = math.min(trendWindow, log.length - 1)
    val trend =
      if (w <= 0) 0.0
      else math.round(
        (log(log.length - 1 - w).getAs[Double]("mean_recall") -
          latest.getAs[Double]("mean_recall")) / w * 1e6) / 1e6
    val rebuild = drop > dropTolerance
    val projected: Option[Long] =
      if (rebuild) Some(0L)
      else if (trend <= 0.0) None
      else Some(math.floor((dropTolerance - drop) / trend).toLong + 1L)
    Seq((log.length.toLong, baseline.getAs[Long]("audit_seq"),
        baseline.getAs[Double]("mean_recall"),
        latest.getAs[Long]("audit_seq"),
        latest.getAs[Double]("mean_recall"),
        drop, dropTolerance, w.toLong, trend, projected,
        rebuild))
      .toDF("n_audits", "baseline_seq", "baseline_recall", "latest_seq",
        "latest_recall", "recall_drop", "drop_tolerance", "trend_window",
        "trend_drop_per_window", "projected_windows_to_rebuild",
        "rebuild")
  }

  /** The compaction DECISION record — closes the observability→action
    * gap on [[indexStats]] (r18 verdict #5: per-list n_files is
    * "the compaction trigger" but nothing consumed it): one row over
    * the family-agnostic slim scan — (n_lists, n_rows, n_files,
    * max_files_per_list, files_per_list_threshold, compact) with
    * compact = max_files_per_list > threshold. The default threshold
    * (4 files/list) prices the trade: a probed scan schedules one
    * task per FILE, so an append-per-window deployment is paying ~5×
    * the probe task count by window four, while compaction rewrites
    * the WHOLE coded frame — advising it every window would pay the
    * full rewrite for a one-file saving. Composes with
    * [[indexRebuildAdvice]] as the maintenance-decision pair a
    * scheduler reads after each append window. */
  def indexCompactionAdvice(spark: SparkSession, indexPath: String,
                            maxFilesPerList: Int = 4): DataFrame =
    indexStats(spark, indexPath)
      .agg(count(lit(1)).as("n_lists"),
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_files")).as("n_files"),
        max(col("n_files")).as("max_files_per_list"))
      .select(col("n_lists"), col("n_rows"), col("n_files"),
        col("max_files_per_list"),
        lit(maxFilesPerList.toLong).as("files_per_list_threshold"),
        (col("max_files_per_list") > maxFilesPerList).as("compact"))
}
