package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Deduplication operators for LLM training-data pipelines over `documents`
  * (builder-brief first-class components; SURVEY.md §7.1(7)).
  *
  * - exact dedup: content-hash groupBy (md5 — DuckDB-oracle-checkable)
  * - near dedup: word-shingle MinHash, BANDED into LSH buckets; candidate
  *   pairs are generated only WITHIN buckets (groupBy/self-join on the band
  *   key — never all-pairs), then verified with exact Jaccard
  * - SimHash: 64-bit signed bit-vote fingerprint, banded into 16-bit chunks
  *   for candidate generation, Hamming-verified
  *
  * Scale design (100 TB): all stages are narrow maps + hash shuffles keyed
  * on (band, signature); cost is O(n·bands + Σ bucket²) with a bucket-size
  * cap dropping degenerate buckets (boilerplate text at web scale),
  * the standard guard against quadratic blowup on skewed buckets. Signatures
  * are built with native codegen kernels over DuckDB-replayable polynomial
  * hash families (see functions.PolyHash), no UDFs — so the LSH candidate
  * generation itself is stated exactly by the oracles.
  *
  * The testdata corpus is random words (no natural dups), so `corpus` plants
  * deterministic exact (+1M ids) and near (+2M ids, 2 appended tokens)
  * duplicates — every branch is exercised and unit-tested.
  */
object Dedup {

  /** documents ∪ planted exact dups (doc_id%5==0) ∪ planted near dups
    * (doc_id%7==0, two tokens appended). */
  def corpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    val exact = d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val near = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat(col("text"), lit(" qq zz")).as("text"))
    d.unionByName(exact).unionByName(near)
  }

  /** Exact dedup: md5 content hash → group → keep-first (min doc_id).
    * Emits only the duplicate groups (bounded output). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))
      .filter(col("cnt") > 1)
      .orderBy("h")

  // -- exact substring-level dedup ----------------------------------------

  /** Span length in word tokens for the cross-doc repeated-span pass —
    * the production pass uses ~50 (Lee et al. 2022); 16 keeps every
    * branch exercised on the ~54-token-average test corpus. Shared with
    * the q_substring_dedup oracle SQL (interpolated there). */
  val SpanTokens = 16

  /** The ONE text normalization of the span-grain dedup pair —
    * [[substringDedup]] (work-list) and [[spanMask]] (rewrite): lower,
    * collapse whitespace runs to single spaces, TRIM. A single shared
    * definition so the two operators (and their oracles and the DedupSpec
    * brute forces) can never disagree on what a "span" is — the r12
    * review confirmed the work-list missing spans the rewrite erased on
    * padded (`'x '`-style) corpora because only the rewrite trimmed.
    * Null text RAISES identically in both (previously a silent drop on
    * one side vs a −1-token row on the other): a null document in a
    * dedup corpus is an upstream bug, and the error names the doc. */
  private def spanNormText: Column =
    trim(regexp_replace(lower(
      when(col("text").isNotNull, col("text"))
        .otherwise(raise_error(concat(
          lit("graft: null text in span-dedup corpus at doc_id "),
          col("doc_id").cast(StringType))))),
      "\\s+", " "))

  /** Exact SUBSTRING-level dedup — repeated w-token spans across
    * documents, the standard training-data pass ("remove long spans that
    * repeat verbatim anywhere in the corpus", applied via suffix arrays
    * in Lee et al.'s dedup paper; this is its shuffle-shaped equivalent:
    * positional fixed-length shingles + hash grouping). It closes the
    * grain gap between [[exactDedup]] (whole-doc identity) and the
    * MinHash/SimHash paths (whole-doc similarity): a document that
    * EMBEDS a long quotation/boilerplate span of another is invisible to
    * both, and is exactly what cross-doc contamination looks like at
    * 100 TB.
    *
    * Grain: distinct w-token spans per document (the `word_ngrams`
    * kernel — a <w-token doc contributes its whole text as its one span,
    * the kernel's documented short-doc semantics). A span is REPEATED if
    * it occurs in ≥2 distinct documents (kernel spans are per-doc
    * distinct, so a plain count is the doc count). The per-doc output
    * row is the removal work-list a rewrite pass consumes: total spans,
    * repeated spans, the worst span's document count, repeated fraction.
    *
    * Scale shape — the fp-prune-then-verify discipline (the PPJoin /
    * bloom-dedup lesson), with the SAME strings-free corpus-wide pass as
    * [[spanMaskOf]]: phase 1 is the O(len)-per-doc `span_fps` prefix-hash
    * kernel (no span strings, no structs — (doc_id, pos, fp) longs in,
    * longs out), so corpus-wide shuffles carry 8-byte fingerprints, never
    * strings. Occurrence-level fp counts ≥2 are a LOSSLESS superset of
    * "span in ≥2 docs" (equal spans ⇒ equal fps; a collision only adds a
    * candidate). Phase 2 re-derives span strings narrow for HOT
    * occurrences only (recompute beats shuffling strings; no broadcast
    * hint — the hot set is bounded by duplicated-content volume, so AQE
    * picks broadcast when small) and verifies by grouping the surviving
    * span strings exactly — a fp collision can never fabricate a
    * duplicate. The n_spans denominator rides the fp side as the per-doc
    * DISTINCT-fp count plus an EXACT in-doc collision correction: a doc
    * where one fp covers k>1 distinct spans counted k spans as 1 fp, and
    * every such fp has ≥2 occurrences, hence is hot, hence has its k
    * strings materialized — add back (k−1) per (doc, hot fp). Cold fps
    * have exactly one occurrence corpus-wide, so they cannot hide a
    * collision; the sum is therefore the exact distinct-span count.
    *
    * The DuckDB oracle replays the PRUNE-FREE semantic definition
    * (group span strings directly), so the hash gate doubles as a
    * losslessness proof for the prune at every verified SF; DedupSpec
    * adds a Scala brute-force equality on the collected corpus. */
  def substringDedup(spark: SparkSession, dir: String,
                     w: Int = SpanTokens): DataFrame =
    substringDedupOf(corpus(spark, dir), w)

  /** [[substringDedup]] over an arbitrary (doc_id, text) frame — split
    * out (like [[spanMaskOf]]) so DedupSpec can drive adversarial
    * corpora (padded, null-text) through the EXACT production plan. */
  def substringDedupOf(docs: DataFrame, w: Int = SpanTokens): DataFrame =
    substringDedupOf(docs, w, materialize = true)

  /** [[substringDedupOf]] with the materialization seam exposed —
    * `materialize = false` exists for PlanSpec only (the trianglesOf
    * discipline), so the span_fps-kernel / no-cartesian / join-count pins
    * can read the FULL logical shape: checkpoints hide executed subtrees
    * behind ExistingRDD scans. */
  private[graft] def substringDedupOf(docs: DataFrame, w: Int,
                                      materialize: Boolean): DataFrame = {
    def ckpt(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint(eager = false) else df
    val base = docs.select(col("doc_id"), spanNormText.as("nt"))
    val toks = base.select(col("doc_id"), split(col("nt"), " ").as("ts"))
    // corpus-wide pass: positional fps off the normalized string via the
    // strings-free O(len) kernel (shared with spanMaskOf). r20: lazily
    // localCheckpointed — the kernel otherwise re-ran for each of its two
    // consumers (hotness count + hot-occurrence join carry different
    // exchange signatures, so AQE reuse cannot dedupe them); with the
    // n_fp rederivation below this takes the plan from three span_fps
    // corpus passes to ONE. Measured 3.18 → 2.25 s isolated warm at
    // sf0.1 (DevProbe 5-run medians: ckpt alone 2.71, ckpt + n_fp
    // rederivation 2.25). Lazy, not eager: the materialization runs
    // inside the consuming action, no build-time barrier.
    val occFp = ckpt(base.select(col("doc_id"),
      posexplode(expr(s"span_fps(nt, $w)")).as(Seq("i", "fp"))))
    // occurrence-level hotness (no per-doc distinct — saves a corpus-wide
    // (doc_id, fp) exchange): ≥2 occurrences ⊇ ≥2 docs, and also ⊇ "fp
    // shared by ≥2 positions anywhere", which is what makes the n_spans
    // collision correction below exact
    val hotFp = occFp.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("fp")
    // per-doc distinct-fp count == distinct-span count modulo in-doc fp
    // collisions (corrected exactly below), off the MATERIALIZED occFp (span_fps
    // always emits >= 1 fp per doc — short docs get their whole-text fp —
    // so the posexplode is row-preserving at doc grain and every doc
    // keeps its n_fp row). Until r20 this was a third span_fps run with a
    // LOCAL array_distinct (chosen in r12 when occFp was recompute-shaped
    // and a (doc_id, fp) exchange was pure addition); with occFp now
    // checkpointed once, the exchange costs less than the kernel re-run.
    val nFp = occFp.select("doc_id", "fp").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    // only hot occurrences assemble span strings; (doc, fp, span) distinct
    // IS the (doc, span) distinct grain — a span determines its fp
    val hotOcc = occFp.join(hotFp, "fp")
      .join(toks, "doc_id")
      .select(col("doc_id"), col("fp"),
        when(size(col("ts")) < w, expr("array_join(ts, ' ')"))
          .otherwise(expr(s"array_join(slice(ts, i + 1, $w), ' ')"))
          .as("span"))
      .distinct()
    // exact verify: span string present in ≥2 distinct docs
    val dup = hotOcc.groupBy("span").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    // in-doc collision correction: k distinct spans under one fp in one
    // doc → add back (k−1); such fps are necessarily hot (≥2 occurrences)
    // so their strings are all here
    val corr = hotOcc.groupBy("doc_id", "fp")
      .agg((count(lit(1)) - lit(1L)).as("extra"))
      .groupBy("doc_id").agg(sum(col("extra")).as("extra"))
    val docDup = hotOcc.join(dup, "span")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup"), max(col("n_docs")).as("max_span_docs"))
    val nSpans = nFp.join(corr, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_fp") + coalesce(col("extra"), lit(0L))).as("n_spans"))
    nSpans.join(docDup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("max_span_docs"), lit(0L)).as("max_span_docs"),
        round(coalesce(col("n_dup"), lit(0L)).cast(DoubleType) /
          col("n_spans").cast(DoubleType), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[substringDedup]] — the PRUNE-FREE semantic
    * definition: no fingerprint phase, span strings grouped directly.
    * A hash match therefore proves the Spark side's fp prune lossless. */
  val substringDedupOracleSql: String = {
    val w = SpanTokens
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, text || ' qq zz' FROM documents
       |  WHERE doc_id % 7 = 0),
       |tok AS (
       |  SELECT doc_id,
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
       |                 ' ') AS ts
       |  FROM corpus),
       |grams AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(ts) < $w
       |      THEN [array_to_string(ts, ' ')]
       |      ELSE list_transform(range(0, len(ts) - ${w - 1}),
       |             i -> array_to_string(ts[i+1:i+$w], ' '))
       |    END) AS gs
       |  FROM tok),
       |expl AS (SELECT doc_id, unnest(gs) AS span FROM grams),
       |dup AS (
       |  SELECT span, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM expl GROUP BY span HAVING COUNT(*) >= 2),
       |ns AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
       |  FROM expl GROUP BY doc_id),
       |dd AS (
       |  SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup,
       |    MAX(d.n_docs) AS max_span_docs
       |  FROM expl e JOIN dup d USING (span) GROUP BY e.doc_id)
       |SELECT ns.doc_id, ns.n_spans,
       |  COALESCE(dd.n_dup, 0) AS n_dup,
       |  COALESCE(dd.max_span_docs, 0) AS max_span_docs,
       |  ROUND(CAST(COALESCE(dd.n_dup, 0) AS DOUBLE)
       |    / CAST(ns.n_spans AS DOUBLE), 6) AS dup_frac
       |FROM ns LEFT JOIN dd ON ns.doc_id = dd.doc_id
       |ORDER BY ns.doc_id""".stripMargin
  }

  /** The REWRITE pass that consumes [[substringDedup]]'s semantics — the
    * actual removal step of the Lee-et-al repeated-span dedup: every token
    * position covered by any cross-doc-repeated w-token span is masked,
    * and the document is re-emitted with those tokens dropped. Where
    * [[substringDedup]] reports the per-doc work-list, this operator
    * APPLIES it, so a catalog user gets the end-to-end pass.
    *
    * Grain: POSITIONAL w-token spans (position matters here — coverage is
    * a union of [i, i+w-1] windows, so the distinct-span grain of the
    * work-list query is not enough). A span is hot iff it occurs in ≥2
    * distinct documents (same definition as [[substringDedup]]); a <w-token
    * doc contributes its whole text as its single span at position 0 and
    * is fully masked when that text is hot.
    *
    * Scale shape: same fp-prune-then-verify discipline — corpus-wide
    * shuffles carry (doc_id, fp) longs; only the ≥2-doc-seen fp subset
    * (lossless superset) ever shuffles span STRINGS for the exact verify;
    * the coverage expansion (occurrence × w positions) runs only over hot
    * occurrences, so its volume is bounded by duplicated-content volume,
    * never the corpus. The rewrite itself is a narrow per-doc map (filter
    * by covered-position set). Exactness: integer positions, one IEEE
    * division for mask_frac (6-dp round, the dup_frac discipline).
    *
    * The DuckDB oracle replays the PRUNE-FREE definition (span strings
    * grouped directly), so the hash gate proves the fp prune lossless —
    * including over the planted exact dups, which must come out FULLY
    * masked (kept_text = '', mask_frac = 1.0; spec-asserted). */
  def spanMask(spark: SparkSession, dir: String,
               w: Int = SpanTokens): DataFrame =
    spanMaskOf(corpus(spark, dir), w)

  /** [[spanMask]] over an arbitrary (doc_id, text) frame — split out so
    * the edge-case battery in DedupSpec can drive adversarial corpora
    * (empty/whitespace-only/single-token/short-hot docs) through the
    * EXACT production plan, not a test-local reimplementation. */
  def spanMaskOf(docs: DataFrame, w: Int = SpanTokens): DataFrame =
    spanMaskOf(docs, w, materialize = true)

  /** [[spanMaskOf]] with the materialization seam exposed —
    * `materialize = false` exists for PlanSpec only (the trianglesOf
    * discipline), so the span_fps-kernel / no-cartesian / join-count pins
    * can read the FULL logical shape: checkpoints hide executed subtrees
    * behind ExistingRDD scans. */
  private[graft] def spanMaskOf(docs: DataFrame, w: Int,
                                materialize: Boolean): DataFrame = {
    def ckpt(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint(eager = false) else df
    val nt = spanNormText
    // r20: BOTH corpus-wide frames lazily localCheckpointed — toks is
    // consumed by the hot-occurrence join AND the final rewrite join,
    // occFp by the hotness count AND the hot-occurrence join, and the
    // consumers' exchange signatures differ, so AQE reuse dedupes
    // neither: the normalization/split and the span_fps kernel each ran
    // twice per query. Measured 4.91 → 2.88 s isolated warm at sf0.1
    // (DevProbe 5-run medians: occFp ckpt alone 3.59, occFp + toks
    // 2.88); lazy, so the materializations run inside the consuming
    // action with no build-time barrier.
    val toks = ckpt(docs.select(col("doc_id"), split(nt, " ").as("ts")))
    // phase 1 input: positional fps straight off the normalized string —
    // the `span_fps` kernel rolls every w-token span in O(len) per doc
    // (prefix polynomial hashes), so the ONLY corpus-wide pass builds no
    // span strings and no structs: (doc_id, i, fp) longs in, longs out.
    // posexplode's 0-based pos IS the token index (short docs emit their
    // single whole-text fp at i=0, word_ngrams' short-doc semantics)
    val occFp = ckpt(docs
      .select(col("doc_id"), nt.as("nt"))
      .select(col("doc_id"),
        posexplode(expr(s"span_fps(nt, $w)")).as(Seq("i", "fp"))))
    // fp-level OCCURRENCE counts — deliberately no per-doc distinct:
    // "≥2 occurrences" is a lossless superset of "≥2 docs" (the exact
    // verify below holds the doc-level line), and skipping the distinct
    // saves a full (doc_id, fp) exchange on the corpus-wide path
    val hotFp = occFp.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("fp")
    // hot occurrences re-attach their token array and only THEY assemble
    // a span string — string volume is bounded by duplicated content
    // (plus fp collisions), never the corpus
    val hotOcc = occFp.join(hotFp, "fp")
      .join(toks, "doc_id")
      .select(col("doc_id"), col("i"), size(col("ts")).as("n"),
        when(size(col("ts")) < w, expr("array_join(ts, ' ')"))
          .otherwise(expr(s"array_join(slice(ts, i + 1, $w), ' ')"))
          .as("span"))
    // exact verify on the surviving span strings only
    val hotSpan = hotOcc
      .select("doc_id", "span").distinct()
      .groupBy("span").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("span")
    // coverage: union of [i, i+w-1] windows over hot occurrences, clamped
    // to the doc (short docs: the whole-text span covers 0..n-1)
    val covered = hotOcc.join(hotSpan, "span")
      .select(col("doc_id"),
        explode(expr(s"sequence(i, least(i + $w - 1, n - 1))")).as("p0"))
      .distinct()
    val covAgg = covered.groupBy("doc_id")
      .agg(collect_set(col("p0")).as("cov"))
    toks.join(covAgg, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"),
        expr("CAST(array() AS array<int>)")))
      .select(col("doc_id"),
        size(col("ts")).cast(LongType).as("n_tokens"),
        size(col("cov")).cast(LongType).as("n_masked"),
        round(size(col("cov")).cast(DoubleType) /
          size(col("ts")).cast(DoubleType), 6).as("mask_frac"),
        // kept positions via hash-based set difference — array_except
        // preserves first-arg (ascending) order, so index→token rebuild
        // keeps token order; the previous filter(ts, !array_contains(cov))
        // rescanned the unsorted cov array per token, O(n_tokens·n_masked)
        // per doc — quadratic on exactly the boilerplate-heavy long docs
        // this pass targets (r12 review #3)
        expr("array_join(transform(" +
          "array_except(sequence(0, size(ts) - 1), cov), " +
          "i -> element_at(ts, i + 1)), ' ')").as("kept_text"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[spanMask]] — prune-free (no fingerprint phase:
    * span strings grouped directly), so a hash match proves the Spark
    * side's fp prune lossless. DuckDB list lambdas index 1-based, the
    * Spark side 0-based — hence the `idx - 1` in the keep filter. */
  val spanMaskOracleSql: String = {
    val w = SpanTokens
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, text || ' qq zz' FROM documents
       |  WHERE doc_id % 7 = 0),
       |tok AS (
       |  SELECT doc_id,
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
       |                 ' ') AS ts
       |  FROM corpus),
       |expl AS (
       |  SELECT doc_id, n, unnest(is_) AS i, unnest(spans) AS span FROM (
       |    SELECT doc_id, len(ts) AS n,
       |      CASE WHEN len(ts) < $w THEN [CAST(0 AS BIGINT)]
       |        ELSE range(0, len(ts) - ${w - 1}) END AS is_,
       |      CASE WHEN len(ts) < $w THEN [array_to_string(ts, ' ')]
       |        ELSE list_transform(range(0, len(ts) - ${w - 1}),
       |               i -> array_to_string(ts[i+1:i+$w], ' ')) END AS spans
       |    FROM tok)),
       |hot AS (
       |  SELECT span FROM (SELECT DISTINCT doc_id, span FROM expl)
       |  GROUP BY span HAVING COUNT(*) >= 2),
       |cov0 AS (
       |  SELECT doc_id, unnest(range(i, least(i + $w, n))) AS p
       |  FROM expl JOIN hot USING (span)),
       |cov AS (SELECT DISTINCT doc_id, p FROM cov0),
       |covagg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_masked,
       |    list(p) AS cov
       |  FROM cov GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(t.ts) AS BIGINT) AS n_tokens,
       |  COALESCE(c.n_masked, 0) AS n_masked,
       |  ROUND(CAST(COALESCE(c.n_masked, 0) AS DOUBLE)
       |    / CAST(len(t.ts) AS DOUBLE), 6) AS mask_frac,
       |  COALESCE(array_to_string(list_filter(t.ts, (x, idx) ->
       |    NOT list_contains(COALESCE(c.cov, CAST([] AS BIGINT[])),
       |                      idx - 1)), ' '), '') AS kept_text
       |FROM tok t LEFT JOIN covagg c USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  // -- suffix-grain maximal repeated-substring dedup -----------------------

  /** [[corpus]] plus a planted SELF-REPEAT branch (doc_id%11==0, +3M ids,
    * text doubled with a space): the suffix-grain pass counts repetition
    * at SITE grain — a span recurring twice inside ONE document is
    * repeated — and the random-word test corpus has no natural in-doc
    * repeats, so this branch is what exercises that semantic (periodic
    * boilerplate, the web-scale case) end to end. Shared verbatim with
    * [[suffixDedupOracleSql]]. */
  def suffixCorpus(spark: SparkSession, dir: String): DataFrame = {
    val selfRep = Tables.documents(spark, dir).select("doc_id", "text")
      .filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 3000000).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text"))
    corpus(spark, dir).unionByName(selfRep)
  }

  /** Suffix-grain maximal repeated-substring dedup — the ARBITRARY-LENGTH
    * repeated-span removal pass of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr tool),
    * superseding the fixed-w reporting grain of [[substringDedup]] /
    * [[spanMask]] in the two ways that pass only approximates:
    *
    *  1. SITE-grain repetition (what a suffix array sees): a span is
    *     repeated iff its token string occurs at ≥2 distinct (doc, pos)
    *     sites anywhere in the corpus — a span recurring twice inside
    *     one document counts, where the fixed pass demanded ≥2 distinct
    *     documents and was blind to periodic in-doc boilerplate.
    *  2. ARBITRARY-LENGTH maximal output grain: the emitted rows are the
    *     maximal removal intervals (doc_id, span_start, span_end,
    *     span_len) — each the union of every repeated substring of
    *     length ≥ w touching it, extended until a gap. A 400-token
    *     verbatim quotation comes out as ONE 400-token span, nested
    *     repeats are absorbed, overlapping maximal repeats with
    *     different partners merge; `span_end − span_start + 1` is
    *     unbounded above by design.
    *
    * Correctness rests on the coverage identity that makes the pass
    * shuffle-shapeable: a token position lies inside SOME repeated
    * substring of length ≥ w  ⇔  it lies inside a repeated w-gram
    * (⇒: any ≥w repeated span contains a w-window around each of its
    * positions, and substrings of repeated strings are repeated;
    * ⇐: a repeated w-gram IS a repeated span of length ≥ w). The union
    * of Lee-et-al removal ranges therefore equals the union of repeated
    * w-gram windows, and the maximal intervals of that union are the
    * maximal removal spans. DedupSpec proves the identity mechanically:
    * its brute force enumerates ALL span lengths ≥ w, the production
    * plan only w-grams, and the interval sets must agree exactly.
    *
    * Scale shape — the same fp-prune-then-verify discipline as
    * [[spanMaskOf]] (one O(len)-per-doc `span_fps` kernel pass; corpus-
    * wide shuffles carry (doc_id, pos, fp) longs, never strings; only
    * ≥2-occurrence fps re-derive span strings, so string volume is
    * bounded by duplicated-content volume), with two deltas: the hotness
    * count is already the SITE count the verify needs (no per-doc
    * distinct anywhere — occurrence grain IS the semantic grain here),
    * and the gaps-and-islands interval assembly runs per-doc LOCAL
    * (sort_array + index-lambda boundary scan over the collected
    * coverage set) instead of a corpus-wide window — the one exchange
    * after the verify is the (doc_id, p) coverage distinct, bounded by
    * duplicated content. Exactness: integer positions only, no floats
    * anywhere. */
  def suffixDedup(spark: SparkSession, dir: String): DataFrame =
    suffixDedupOf(suffixCorpus(spark, dir))

  /** [[suffixDedup]] over an arbitrary (doc_id, text) frame — split out
    * (the [[spanMaskOf]] convention) so DedupSpec's brute force and the
    * planted adversarial corpora (nested repeats, overlapping maximal
    * spans, whole-doc duplicates, in-doc periodic repeats) drive the
    * EXACT production plan. */
  /** The shared SITE-grain coverage stage of [[suffixDedupOf]] (interval
    * report) and [[suffixMaskOf]] (rewrite): distinct (doc_id, p) token
    * positions covered by any ≥2-site repeated w-span — one definition so
    * the report and the rewrite can never disagree on what is removed
    * (the substringDedup/spanMask r12 lesson, applied up front). */
  private[graft] def suffixCovered(docs: DataFrame, w: Int,
                                   materialize: Boolean = true): DataFrame = {
    // materialize = false exists for PlanSpec only (the trianglesOf
    // discipline): checkpoints hide executed subtrees behind ExistingRDD
    // scans, so the strings-free/join-count pins read the full shape.
    def ckpt(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint(eager = false) else df
    val base = docs.select(col("doc_id"), spanNormText.as("nt"))
    // r20 re-probe of the r19 measured-NO (which tested an occFp
    // checkpoint alone): with the LAZY checkpoints the sb/s4 restructures
    // use, occFp alone is still a wash (3.1 → 2.8-3.1 s isolated warm at
    // sf0.1, two 5-run probe rounds), but occFp AND toks together read
    // 2.60/2.62 s vs 3.05/3.18 current in both rounds — promoted. Same
    // bounded-artifact argument as spanMaskOf: toks is one row per doc,
    // occFp token-count rows of (doc_id, i, fp) longs.
    val toks = ckpt(base.select(col("doc_id"), split(col("nt"), " ").as("ts")))
    val occFp = ckpt(base.select(col("doc_id"),
      posexplode(expr(s"span_fps(nt, $w)")).as(Seq("i", "fp"))))
    // occurrence count IS the site count the suffix semantic wants —
    // ≥2 occurrences is the exact candidate condition, not a superset
    // proxy for a doc-level one (collisions still only ADD candidates;
    // the string verify below removes them)
    val hotFp = occFp.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("fp")
    val hotOcc = occFp.join(hotFp, "fp")
      .join(toks, "doc_id")
      .select(col("doc_id"), col("i"), size(col("ts")).as("n"),
        when(size(col("ts")) < w, expr("array_join(ts, ' ')"))
          .otherwise(expr(s"array_join(slice(ts, i + 1, $w), ' ')"))
          .as("span"))
    // exact verify at SITE grain: one hotOcc row per (doc, pos) site, so
    // a plain count over equal span strings is the corpus site count —
    // an fp collision can never fabricate a repeat, and a span hot only
    // via in-doc recurrence passes here (≥2 sites, 1 doc)
    val repSpan = hotOcc.groupBy("span").agg(count(lit(1)).as("sites"))
      .filter(col("sites") >= 2).select("span")
    // coverage: union of [i, i+w-1] windows (whole doc for short docs),
    // bounded by duplicated content
    hotOcc.join(repSpan, "span")
      .select(col("doc_id"),
        explode(expr(s"sequence(i, least(i + $w - 1, n - 1))")).as("p"))
      .distinct()
  }

  def suffixDedupOf(docs: DataFrame, w: Int = SpanTokens): DataFrame =
    suffixDedupOf(docs, w, materialize = true)

  /** [[suffixDedupOf]] with the coverage stage's materialization seam
    * exposed — PlanSpec-only (see [[suffixCovered]]). */
  private[graft] def suffixDedupOf(docs: DataFrame, w: Int,
                                   materialize: Boolean): DataFrame = {
    val covered = suffixCovered(docs, w, materialize)
    // gaps-and-islands LOCALLY per doc: a position starts an interval iff
    // its predecessor position is absent, ends one iff its successor is.
    // CASE (not OR) around the element_at neighbor probes — ANSI mode
    // makes an out-of-range array index an error, and boolean operators
    // do not guarantee short-circuit evaluation
    val covAgg = covered.groupBy("doc_id")
      .agg(sort_array(collect_set(col("p"))).as("cov"))
    covAgg.select(col("doc_id"), explode(expr(
      """zip_with(
        |  filter(cov, (p, k) -> CASE WHEN k = 0 THEN true
        |    ELSE element_at(cov, k) <> p - 1 END),
        |  filter(cov, (p, k) -> CASE WHEN k = size(cov) - 1 THEN true
        |    ELSE element_at(cov, k + 2) <> p + 1 END),
        |  (s, e) -> named_struct('s', s, 'e', e))""".stripMargin)).as("iv"))
      .select(col("doc_id"),
        col("iv.s").cast(LongType).as("span_start"),
        col("iv.e").cast(LongType).as("span_end"),
        (col("iv.e") - col("iv.s") + 1).cast(LongType).as("span_len"))
      .orderBy("doc_id", "span_start")
  }

  /** DuckDB replay of [[suffixDedup]] — the PRUNE-FREE semantic
    * definition: no fingerprint phase (span strings grouped directly at
    * site grain, NO per-doc distinct — in-doc recurrence must count),
    * islands via the standard row_number gaps trick. A hash match
    * proves the Spark side's fp prune lossless at every verified SF. */
  val suffixDedupOracleSql: String = {
    val w = SpanTokens
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, text || ' qq zz' FROM documents
       |  WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000, text || ' ' || text FROM documents
       |  WHERE doc_id % 11 = 0),
       |tok AS (
       |  SELECT doc_id,
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
       |                 ' ') AS ts
       |  FROM corpus),
       |expl AS (
       |  SELECT doc_id, n, unnest(is_) AS i, unnest(spans) AS span FROM (
       |    SELECT doc_id, len(ts) AS n,
       |      CASE WHEN len(ts) < $w THEN [CAST(0 AS BIGINT)]
       |        ELSE range(0, len(ts) - ${w - 1}) END AS is_,
       |      CASE WHEN len(ts) < $w THEN [array_to_string(ts, ' ')]
       |        ELSE list_transform(range(0, len(ts) - ${w - 1}),
       |               i -> array_to_string(ts[i+1:i+$w], ' ')) END AS spans
       |    FROM tok)),
       |rep AS (
       |  SELECT span FROM expl GROUP BY span HAVING COUNT(*) >= 2),
       |cov0 AS (
       |  SELECT doc_id, unnest(range(i, least(i + $w, n))) AS p
       |  FROM expl JOIN rep USING (span)),
       |cov AS (SELECT DISTINCT doc_id, p FROM cov0),
       |isl AS (
       |  SELECT doc_id, p,
       |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
       |  FROM cov)
       |SELECT doc_id, MIN(p) AS span_start, MAX(p) AS span_end,
       |  CAST(COUNT(*) AS BIGINT) AS span_len
       |FROM isl GROUP BY doc_id, g
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** The rewrite consumer of [[suffixDedupOf]] — APPLIES the suffix-grain
    * removal: every token position covered by a ≥2-SITE repeated w-span
    * is dropped and the document re-emitted, the actual deletion step of
    * the Lee-et-al pass (what [[spanMask]] is to [[substringDedup]], at
    * the suffix semantic). Shares [[suffixCovered]] with the interval
    * report, so what the report says is removed and what this pass
    * removes can never diverge — spec-asserted both ways (n_masked ==
    * Σ span_len; kept tokens == the complement of the intervals).
    * Emits one row per INPUT doc (uncovered docs pass through intact):
    * (doc_id, n_tokens, n_masked, mask_frac, kept_text). Library
    * surface + spec-gated (the r15 wire window is exhausted at 179
    * keys, so no catalog key; the coverage stage it shares IS
    * oracle-gated through q_suffix_dedup at 3 SFs). Same scale shape
    * as [[spanMaskOf]]'s rewrite tail: one (doc_id, p) exchange bounded
    * by duplicated content, then a narrow per-doc set-difference
    * rebuild (array_except — index order preserved, O(n) per doc). */
  def suffixMaskOf(docs: DataFrame, w: Int = SpanTokens): DataFrame =
    suffixMaskOf(docs, w, materialize = true)

  /** [[suffixMaskOf]] with the coverage stage's materialization seam
    * exposed — PlanSpec-only (see [[suffixCovered]]). */
  private[graft] def suffixMaskOf(docs: DataFrame, w: Int,
                                  materialize: Boolean): DataFrame = {
    val toks = docs.select(col("doc_id"), split(spanNormText, " ").as("ts"))
    val covAgg = suffixCovered(docs, w, materialize).groupBy("doc_id")
      .agg(collect_set(col("p")).as("cov"))
    toks.join(covAgg, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"),
        expr("CAST(array() AS array<int>)")))
      .select(col("doc_id"),
        size(col("ts")).cast(LongType).as("n_tokens"),
        size(col("cov")).cast(LongType).as("n_masked"),
        round(size(col("cov")).cast(DoubleType) /
          size(col("ts")).cast(DoubleType), 6).as("mask_frac"),
        expr("array_join(transform(" +
          "array_except(sequence(0, size(ts) - 1), cov), " +
          "i -> element_at(ts, i + 1)), ' ')").as("kept_text"))
      .orderBy("doc_id")
  }

  // -- MinHash-LSH -------------------------------------------------------

  val NumHashes = 20
  val Bands = 5
  val RowsPerBand = NumHashes / Bands
  val MaxBucket = 100 // drop degenerate buckets (boilerplate at web scale)

  /** doc_id, shingles (distinct word 3-grams), minhash signature array —
    * the PRODUCTION signature pipeline. Shingling and the signature are
    * native kernels (functions.Shingles3 / functions.TabulationSigs):
    * tight codegen'd loops, bit-exact with the interpreted HOF executable
    * specs (equivalence-tested in DedupSpec); shingles of a single-spaced
    * string are substring slices, so no per-shingle string is ever built.
    *
    * Hash family (since r10): tabulation-style XOR of structured per-byte
    * tables (PolyHash.minhashTab). The r9 affine family h_j(p) = a_j·p +
    * b_j mod P has CORRELATED minima — one small polyhash p can capture
    * the min of most slots at once, which the q_mh_accuracy audit
    * measured as a ~1% tail of estimator errors up to 0.82; banding
    * RECALL inherits that pathology (a correlated-minima signature can
    * under-match real near-dups even though the exact-Jaccard verify
    * keeps precision safe). The XOR family is not monotone in p, the
    * worst-case error collapses to the binomial envelope (~0.22,
    * q_mh_tabulation), and all banding consumers (minhashNearDup,
    * incrementalDedup, dedupSurvivors, sourceSimilarity) now sign with
    * it — each oracle replays the same family via tabSlotSql. */
  def signatures(docs: DataFrame): DataFrame =
    docs
      .withColumn("shingles", expr(
        "shingles3(regexp_replace(lower(text), '\\\\s+', ' '))"))
      .withColumn("minhash", expr(s"tabulation_sigs(shingles, $NumHashes)"))
      .select("doc_id", "shingles", "minhash")

  /** The r9 AFFINE signature pipeline (functions.MinHashSigs) — retained
    * solely for [[minhashAccuracy]], the audit that measured the affine
    * family's correlated-minima pathology and motivated the tabulation
    * switch: q_mh_accuracy (affine, before) vs q_mh_tabulation
    * (tabulation, after) stay directly comparable as the permanent
    * before/after record. */
  def signaturesAffine(docs: DataFrame): DataFrame =
    docs
      .withColumn("shingles", expr(
        "shingles3(regexp_replace(lower(text), '\\\\s+', ' '))"))
      .withColumn("minhash", expr(s"minhash_sigs(shingles, $NumHashes)"))
      .select("doc_id", "shingles", "minhash")

  /** The original HOF formulation of the shingle + AFFINE minhash
    * signature (poly roll per shingle, affine per seed — see
    * PolyHash.minhash) — kept (unregistered) as the executable spec the
    * `minhash_sigs` kernel is equivalence-tested against. */
  def signaturesHof(docs: DataFrame): DataFrame =
    docs
      .withColumn("tokens",
        split(regexp_replace(lower(col("text")), "\\s+", " "), " "))
      .withColumn("shingles", expr(
        """array_distinct(CASE WHEN size(tokens) < 3
          |  THEN array(concat_ws(' ', tokens))
          |  ELSE transform(sequence(0, size(tokens) - 3),
          |                 i -> concat_ws(' ', slice(tokens, i + 1, 3)))
          |END)""".stripMargin))
      .withColumn("minhash", expr(
        s"""transform(sequence(0, $NumHashes - 1), j ->
           |  array_min(transform(shingles, s ->
           |    ((1103515245L * (j + 1)) % 2147483647L
           |       * aggregate(split(s, ''), 0L,
           |           (a, c) -> (a * 131 + ascii(c)) % 2147483647L)
           |     + (12345L * (j + 1)) % 2147483647L) % 2147483647L)))"""
          .stripMargin))
      .select("doc_id", "shingles", "minhash")

  /** The HOF formulation of the TABULATION signature ([[signatures]]'s
    * production family) — kept (unregistered) as the executable spec the
    * `tabulation_sigs` kernel is equivalence-tested against. The
    * single-element-array "let" binds the polyhash array once per row
    * (projection collapse would otherwise substitute the ps expression
    * into all NumHashes slot lambdas and re-run the per-shingle roll
    * 20×). */
  def signaturesTabHof(docs: DataFrame): DataFrame =
    docs
      .withColumn("shingles", expr(
        "shingles3(regexp_replace(lower(text), '\\\\s+', ' '))"))
      .withColumn("minhash", expr(
        s"""element_at(transform(array(
           |    transform(shingles, s -> aggregate(split(s, ''), 0L,
           |      (a, c) -> (a * 131 + ascii(c)) % 2147483647L))),
           |  ps -> transform(sequence(0, ${NumHashes - 1}), j ->
           |    array_min(transform(ps, p -> $tabSlotExpr)))), 1)"""
          .stripMargin))
      .select("doc_id", "shingles", "minhash")

  /** Candidate pairs via banded LSH: explode (band, band-signature) keys,
    * group each bucket, expand pairs INSIDE the bucket's member array.
    * One groupBy shuffle + one distinct — versus the window + self-join
    * form (4 shuffles, upstream evaluated twice through the join's two
    * sides). Bucket membership is bounded by `MaxBucket` BEFORE pair
    * expansion, so a degenerate bucket (boilerplate text at web scale)
    * costs one dropped row, never a quadratic pair blowup; per-reducer
    * memory is one bucket's id list, same as the window form's per-key
    * partition. */
  /** (doc_id, band, sig) band rows of a signature frame — the shared
    * derivation of candidatePairs (within-set) and incrementalDedup
    * (cross-set). The band signature is the raw 4-value slice (an
    * array<bigint> grouping key), not an xxhash64 of it — same shuffle
    * shape, but replayable in the DuckDB oracle (GROUP BY the list) and
    * free of hash-collision false positives across buckets. */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"),
      explode(expr(
        s"""transform(sequence(0, $Bands - 1),
           |  b -> struct(b AS band,
           |              slice(minhash, b * $RowsPerBand + 1,
           |                    $RowsPerBand) AS sig))"""
          .stripMargin)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  def candidatePairs(sigs: DataFrame): DataFrame =
    bandsOf(sigs)
      .groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, MaxBucket))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  /** n-gram (3-shingle) Jaccard over the planted near-dup pairs — the
    * verification metric as its own oracle-checked operator. Each original
    * joins its planted +2M near copy on the derived key: one narrow join,
    * no candidate explosion (candidate GENERATION is minhash/simhash's
    * job; this is the exact-similarity kernel they share). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = signatures(corpus(spark, dir)).select("doc_id", "shingles")
    val orig = sh.filter(col("doc_id") < 1000000 && col("doc_id") % 7 === 0)
      .select(col("doc_id").as("a"), col("shingles").as("sh_a"))
    val near = sh.filter(col("doc_id") >= 2000000)
      .select(col("doc_id").as("b"), (col("doc_id") - 2000000).as("k"),
        col("shingles").as("sh_b"))
    orig.join(near, orig("a") === near("k"))
      .select(col("a"), col("b"), round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType),
        6).as("jaccard"))
      .orderBy("a")
  }

  /** Near-dedup end to end: candidates → exact-Jaccard verification. */
  def minhashNearDup(spark: SparkSession, dir: String,
                     threshold: Double = 0.5): DataFrame = {
    // localCheckpoint, not cache: the signature frame (the heaviest dedup
    // intermediate) feeds the pair generation and both join sides; a
    // cache would stay pinned in the CacheManager for the JVM's lifetime,
    // while checkpoint blocks are GC-scoped — released once the result
    // frame is dropped (durable `checkpoint` on a real cluster)
    val sigs = signatures(corpus(spark, dir)).localCheckpoint(true)
    val pairs = candidatePairs(sigs)
    val sa = sigs.select(col("doc_id").as("a"), col("shingles").as("sh_a"))
    val sb = sigs.select(col("doc_id").as("b"), col("shingles").as("sh_b"))
    pairs.join(sa, "a").join(sb, "b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType), 4))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
      .orderBy("a", "b")
  }

  // -- Survivor selection (connected components) --------------------------

  /** Connected components over an undirected pair set by iterative
    * min-label propagation PLUS pointer jumping: every node starts labeled
    * with the minimum of itself and its direct neighbors (the first
    * propagation round folded into the initialization groupBy — one
    * aggregate instead of a distinct + a join round); each round a node
    * then takes the minimum label among itself
    * and its neighbors, then short-circuits through its label's own label
    * (l(n) := l(l(n)) — the pointer-jumping step of the
    * large-star/small-star family). One-hop propagation alone needs
    * O(component diameter) rounds — a chain-shaped duplicate cluster
    * deeper than maxIter would abort; jumping halves the remaining chain
    * depth every round, so convergence is O(log diameter). Each round is
    * two shuffle joins + one grouped min — no driver-side graph, no
    * GraphX/RDD detour — so the same loop runs on a web-scale pair set.
    *
    * Convergence: labels are monotonically non-increasing (labels start
    * as self; min only decreases, and l(l(n)) ≤ l(n) since l(x) ≤ x),
    * so the fixpoint is reached exactly when `sum(label)` stops
    * changing — ONE aggregate per round (which also fully materializes
    * the round's cache), no changed-rows join. The sum runs in
    * DECIMAL(38,0), not Long: at web-scale 64-bit doc ids a Long sum can
    * overflow and alias two different label states, silently declaring
    * convergence early (wrong components). At the fixpoint every
    * label is a root (l(l(n)) = l(n)) and no neighbor offers a smaller
    * one — the component minimum. If `maxIter` rounds pass without
    * reaching the fixpoint, the result would be silently split — so that
    * case THROWS rather than returning wrong components. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // ONE eager materialization of the (possibly expensive) pair set: the
    // symmetric union reads it twice and the loop re-reads it every round,
    // so without this the upstream plan (here: the LSH candidate join)
    // would re-execute 2 + 2·rounds times (durable `checkpoint` on a real
    // cluster). Checkpoint blocks are GC-scoped — released when the frame
    // goes out of reach, unlike cache() which pins until unpersist.
    val p = pairs.select(col("a"), col("b")).localCheckpoint(eager = true)
    val edges = p.unionByName(p.select(col("b").as("a"), col("a").as("b")))
    // init = min(self, neighbors): every label is a node of the component
    // (a's own id or a neighbor's), so the jump self-join below always
    // matches and the monotone-decrease convergence argument is unchanged
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast(DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0))))
        .collect()(0).getDecimal(0)
    // LAZY localCheckpoint throughout the loop: the convergence-sum action
    // materializes the checkpoint as its side effect, so each round is ONE
    // driver-synchronized job (sum + materialization fused) — the eager
    // checkpoint + separate sum-collect form was 2 jobs/round and made
    // this loop the r5 bench whale (47 s for a 238-pair graph).
    var labels = edges.groupBy(col("a"))
      .agg(min(col("b")).as("mn"))
      .select(col("a").as("node"), least(col("a"), col("mn")).as("label"))
      .localCheckpoint(eager = false)
    var prevSum = labelSum(labels)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val prop = edges.join(labels, edges("b") === labels("node"))
        .select(edges("a").as("node"), col("label"))
      val minned = labels.select("node", "label").unionByName(prop)
        .groupBy("node").agg(min("label").as("label"))
      // pointer jumping: follow the label one hop (every label IS a node
      // of the same frame, so the inner self-join always matches). The
      // self-join references `minned` twice — without lineage truncation
      // the logical plan would DOUBLE per round (exponential analysis
      // cost); the checkpoint resets the plan each round.
      val parents = minned
        .select(col("node").as("p_node"), col("label").as("p_label"))
      val next = minned.join(parents, minned("label") === col("p_node"))
        .select(minned("node").as("node"), col("p_label").as("label"))
        .localCheckpoint(eager = false)
      val nextSum = labelSum(next)
      done = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    if (!done) {
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "a component's diameter exceeds maxIter; raise maxIter " +
          "(results would otherwise be silently split components)")
    }
    labels
  }

  /** Survivor selection — the step after candidate generation + verification
    * in a real dedup pipeline: near-dup pairs → connected components →
    * keep-first (min doc_id) per duplicate group. Emits one row per group
    * with its survivor, size, and largest member. The label frame is
    * checkpoint-backed (see connectedComponents), so the group aggregate
    * here is one cheap pass over materialized blocks that the GC releases
    * once the result frame is dropped. */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashNearDup(spark, dir))
      .groupBy(col("label").as("survivor_id"))
      .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
      .orderBy("survivor_id")

  // -- incremental dedup ---------------------------------------------------

  /** Incremental dedup — THE production dedup workload at corpus scale:
    * a new ingest batch is deduplicated against the INDEXED history (its
    * content hashes and LSH bands), never by re-deduping the whole
    * corpus. Pipeline: exact content-hash hit → banded LSH candidates
    * BETWEEN batch and history only (a batch band probes the history's
    * capped buckets — no batch×batch or history×history pairs) → exact
    * Jaccard verify → every batch row classified `exact_dup` /
    * `near_dup` / `new` with its matched history doc.
    *
    * The batch is planted (same discipline as `corpus`): +1M = exact
    * copies, +2M = near copies (two appended tokens), +3M = genuinely
    * new (character-reversed text — shares no shingles). Every status
    * branch is exercised and the whole classification is replayed by
    * the DuckDB oracle.
    *
    * Scale shape: the history side is ONE hash aggregate (in production
    * a precomputed index table) plus capped band buckets; batch-side
    * work is proportional to the batch, not the corpus. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(spark, dir).select("doc_id", "text")
    val batch = hist.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      .unionByName(hist.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" qq zz")).as("text")))
      .unionByName(hist.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          reverse(col("text")).as("text")))
    incrementalDedupOf(hist, batch)
  }

  /** [[incrementalDedup]] over arbitrary history/batch (doc_id, text)
    * frames — split out so DedupSpec can plant a degenerate history
    * bucket and watch the cap's exact blast radius (near path only;
    * the content-hash exact path is cap-immune) through the production
    * plan. */
  def incrementalDedupOf(hist: DataFrame, batch0: DataFrame): DataFrame = {
    // r20: the batch frame is consumed twice (the exact md5 probe and the
    // anti-joined `rest` feeding signatures), re-deriving its three-way
    // planted union each time; a lazy localCheckpoint materializes it
    // once. Together with `fresh` below reading the already-checkpointed
    // rs, measured 2.07 → 1.42 s isolated warm at sf0.1 (DevProbe 5-run
    // medians: fresh-from-rs alone 1.65, plus this ckpt 1.42). In
    // production the batch is a real ingest table, not a derived union —
    // this materialization stands in for "read the staged batch once".
    val batch = batch0.localCheckpoint(eager = false)
    // 1. exact: content-hash lookup against the history's hash index
    val histHash = hist.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("hid"))
    val exact = batch.select(col("doc_id"), md5(col("text")).as("h"))
      .join(histHash, "h")
      .select(col("doc_id"), col("hid"))
    val rest = batch.join(exact.select("doc_id"), Seq("doc_id"), "left_anti")
    // 2. near: batch bands probe the history's capped band buckets
    val rs = signatures(rest).localCheckpoint(eager = true)
    val hs = signatures(hist).localCheckpoint(eager = true)
    val hb = bandsOf(hs)
      .groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= MaxBucket)
    val cand = bandsOf(rs)
      .join(hb, Seq("band", "sig"))
      .select(col("doc_id").as("b"), explode(col("ids")).as("h"))
      .distinct()
    val near = cand
      .join(rs.select(col("doc_id").as("b"), col("shingles").as("sh_b")), "b")
      .join(hs.select(col("doc_id").as("h"), col("shingles").as("sh_h")), "h")
      .filter(
        size(array_intersect(col("sh_b"), col("sh_h"))).cast(DoubleType) /
          size(array_union(col("sh_b"), col("sh_h"))).cast(DoubleType)
          >= 0.5)
      .groupBy(col("b").as("doc_id"))
      .agg(min(col("h")).as("hid"))
    // 3. classify (exact/rest disjoint by construction; near ⊆ rest).
    // fresh reads the already-CHECKPOINTED rs instead of re-deriving
    // rest (r20): signatures is a pure projection — row-preserving — so
    // the doc_id sets are identical, and the anti-join's probe side
    // becomes a materialized scan instead of a recompute subtree.
    val fresh = rs.select("doc_id")
      .join(near.select("doc_id"), Seq("doc_id"), "left_anti")
    exact.select(col("doc_id"), lit("exact_dup").as("status"),
        col("hid").as("matched_id"))
      .unionByName(near.select(col("doc_id"), lit("near_dup").as("status"),
        col("hid").as("matched_id")))
      .unionByName(fresh.select(col("doc_id"), lit("new").as("status"),
        lit(null).cast(LongType).as("matched_id")))
      .orderBy("doc_id")
  }

  // -- bloom-filter ingest prefilter --------------------------------------

  /** Floor for the history bloom sketch's item estimate (guards tiny
    * corpora from degenerate sizing). The real estimate is the history's
    * row count — a parquet-metadata-only count job here, the index's
    * maintained row count in production. Sizing from the actual count
    * matters twice: a fixed large estimate makes EVERY partial-aggregation
    * task zero and merge a megabyte-scale buffer (pure overhead on small
    * histories), and an under-estimate blows the FP rate at scale. At
    * Spark's default 3% FPP the sketch grows at ~7.3 bits/doc — 1B docs
    * ≈ 0.9 GB, a broadcast-sized structure maintained incrementally,
    * never rebuilt per batch. */
  val BloomMinEstItems: Long = 1024L

  /** Bloom-prefiltered incremental exact dedup — the 100 TB fast path for
    * ingest-vs-history dedup. A plain anti-join shuffles the ENTIRE batch
    * against the history hash index every ingest; but in a healthy crawl
    * most batch rows are genuinely new, so almost all of that shuffle is
    * wasted motion. Instead: aggregate the history's content hashes into
    * one bloom sketch (`graft_bloom_agg`, Spark's runtime-filter bloom as
    * an explicit aggregate), then probe it with a codegen'd
    * `graft_might_contain` scan over the batch. Bloom "no" is definitive —
    * those rows are classified `new` with NO join at all; only the bloom
    * "maybe" sliver (true dups + ~3% false positives) enters the exact
    * md5 confirm join, whose verdict — not the bloom's — decides the
    * final status. Shuffle volume is therefore proportional to the
    * DUPLICATE count, not the batch size, and the result is exact: the
    * oracle replays the whole classification as a plain hash join.
    *
    * Batch planting: +1M = exact copies of doc_id%4==0 (bloom hits,
    * confirmed dup), +3M = reversed text of doc_id%6==0 (bloom misses bar
    * FP noise, classified new either way).
    *
    * (Reference analogue: the eager merge-then-filter of repeated loads,
    * 01_DataMerge.R:97-118 — re-expressed as an index probe.) */
  def bloomDedup(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(spark, dir).select("doc_id", "text")
    val batch = hist.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      .unionByName(hist.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          reverse(col("text")).as("text")))
    // Bounded-sketch collect (same class as centroids/quantiles): one
    // count-sized binary row (~1 byte/history doc at 3% FPP).
    val estItems = math.max(hist.count(), BloomMinEstItems)
    val bloom = hist
      .agg(expr(s"graft_bloom_agg(xxhash64(text), ${estItems}L)")
        .as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val probed = batch.withColumn("maybe",
      call_function("graft_might_contain", lit(bloom), xxhash64(col("text"))))
    val definiteNew = probed.filter(!col("maybe"))
      .select(col("doc_id"), lit("new").as("status"),
        lit(null).cast(LongType).as("matched_id"))
    val histIdx = hist.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("hid"))
    val confirmed = probed.filter(col("maybe"))
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(histIdx, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("hid").isNull, lit("new")).otherwise(lit("exact_dup"))
          .as("status"),
        col("hid").as("matched_id"))
    definiteNew.unionByName(confirmed).orderBy("doc_id")
  }

  // -- group-level signatures (mergeable sketch aggregation) --------------

  /** Cross-source similarity from MERGED MinHash signatures: per-document
    * signatures (the same native kernels as minhashNearDup) are folded
    * into one signature per source with the native `minhash_agg`
    * aggregate (functions.MinHashAgg — element-wise min, i.e. the
    * signature of the source's UNIONED shingle set), then every source
    * pair's Jaccard is estimated as the fraction of agreeing signature
    * slots — the classic MinHash estimator.
    *
    * Scale shape: one narrow signature projection, one partial-aggregated
    * groupBy shuffling 20 longs per (partition, source), and a pairwise
    * join over #sources rows (tiny by construction — sources are a
    * bounded dimension). The per-document explode/groupBy(slot)
    * formulation would shuffle NumHashes× the rows; the mergeable
    * aggregate is what a per-domain dedup audit over 100 TB actually
    * runs. */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.documents(spark, dir)
      .withColumn("shingles", expr(
        "shingles3(regexp_replace(lower(text), '\\\\s+', ' '))"))
      .withColumn("minhash", expr(s"tabulation_sigs(shingles, $NumHashes)"))
      .select(col("source"), col("minhash"))
    val merged = sigs.groupBy("source")
      .agg(expr("minhash_agg(minhash)").as("sig"))
    val a = merged.select(col("source").as("src_a"), col("sig").as("sig_a"))
    val b = merged.select(col("source").as("src_b"), col("sig").as("sig_b"))
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        round(
          size(filter(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => x === y), p => p)).cast(DoubleType) / NumHashes,
          4).as("est_jaccard"))
      .orderBy("src_a", "src_b")
  }

  // -- SimHash -----------------------------------------------------------

  /** 64-bit SimHash over the token multiset (bit-vote of per-token hashes).
    *
    * Token hashes are two polynomial char rolls mod 2^31-range primes
    * (h1 bases bits 0–31, h2 bits 32–63) instead of xxhash64: every
    * intermediate stays below 2^63, so DuckDB's overflow-checked BIGINT
    * arithmetic reproduces the full signature — banding, Hamming filter and
    * all — making the operator exactly oracle-checkable. (Bits 31/63 are
    * constant under the < 2^31 moduli; 62 effective vote bits.)
    *
    * The signature is the native `simhash64` kernel (functions.SimHash64):
    * one codegen'd pass over the normalized string — tokenize, roll, vote,
    * pack — instead of the interpreted aggregate/zip_with HOF chain (which
    * cost one closure dispatch per char per token and dominated the dedup
    * stage; the HOF form survives as `simhashHof` purely to pin the
    * kernel's semantics in DedupSpec). */
  def simhash(docs: DataFrame): DataFrame =
    docs
      .withColumn("simhash",
        expr("simhash64(regexp_replace(lower(text), '\\\\s+', ' '))"))
      .select("doc_id", "simhash")

  /** The original HOF formulation of `simhash` — kept (unregistered) as the
    * executable spec the native kernel is equivalence-tested against.
    * One nested expression where every subexpression is referenced exactly
    * once; splitting into `bits`/`pack` columns is a performance trap —
    * CollapseProject inlines the column into every element_at reference and
    * the 64-way pack re-evaluates the full token aggregation 64×
    * (measured: 384 s → 4 s at sf0.1). */
  def simhashHof(docs: DataFrame): DataFrame =
    docs
      .withColumn("simhash", expr(
        """aggregate(
          |  zip_with(
          |    aggregate(
          |      transform(split(regexp_replace(lower(text), '\\s+', ' '), ' '),
          |        t -> aggregate(split(t, ''), struct(0L AS h1, 0L AS h2),
          |          (a, c) -> struct(
          |            (a.h1 * 131 + ascii(c)) % 2147483647 AS h1,
          |            (a.h2 * 137 + ascii(c)) % 2147483629 AS h2))),
          |      array_repeat(0L, 64),
          |      (acc, h) -> zip_with(acc, sequence(0, 63), (a, b) ->
          |        a + CASE WHEN ((CASE WHEN b < 32 THEN shiftright(h.h1, b)
          |                        ELSE shiftright(h.h2, b - 32) END) & 1) = 1
          |            THEN 1 ELSE -1 END)),
          |    sequence(0, 63),
          |    (v, b) -> shiftleft(CASE WHEN v >= 0 THEN 1L ELSE 0L END, b)),
          |  0L, (acc, x) -> acc + x)""".stripMargin))
      .select("doc_id", "simhash")

  /** SimHash near-dup pairs: 16-bit chunk banding → Hamming ≤ maxDist.
    * Same bucket-local pair expansion as `candidatePairs` (one groupBy
    * shuffle instead of a self-join); members carry their signature into
    * the bucket so the Hamming check is a narrow map over the expanded
    * pairs. */
  def simhashNearDup(spark: SparkSession, dir: String,
                     maxDist: Int = 10): DataFrame =
    simhashNearDupOf(corpus(spark, dir), maxDist)

  /** [[simhashNearDup]] over an arbitrary (doc_id, text) frame — split out
    * (the substringDedupOf/spanMaskOf discipline) so DedupSpec can plant a
    * degenerate chunk bucket through the EXACT production plan. */
  def simhashNearDupOf(docs: DataFrame, maxDist: Int = 10): DataFrame =
    simhash(docs)
      .select(col("doc_id"), col("simhash"),
        explode(expr(
          """transform(sequence(0, 3),
            |  c -> struct(c AS chunk,
            |              shiftright(simhash, c * 16) & 65535 AS key))"""
            .stripMargin)).as("ck"))
      .groupBy(col("ck.chunk"), col("ck.key"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash"))))
        .as("ms"))
      // same degenerate-bucket cap as candidatePairs: a boilerplate chunk
      // key at web scale must cost one dropped row, not a g²/2 blowup
      .filter(size(col("ms")).between(2, MaxBucket))
      .select(explode(expr(
        """flatten(transform(ms, (x, i) ->
          |  transform(slice(ms, i + 2, size(ms)), y ->
          |    struct(x.doc_id AS a, y.doc_id AS b,
          |           x.simhash AS sim_a, y.simhash AS sim_b))))"""
          .stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        bit_count(expr("p.sim_a ^ p.sim_b")).cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy("a", "b")

  // -- sketch accuracy audit ---------------------------------------------

  /** MinHash sketch-accuracy audit — the calibration check a dedup
    * pipeline runs before trusting its sketch thresholds: for every
    * PLANTED near-dup pair (known ground truth, the q_ngram_jaccard pair
    * set) compare the signature ESTIMATE (matching slots / NumHashes —
    * the unbiased estimator LSH banding thresholds are derived from)
    * against the EXACT shingle-set Jaccard, and report the absolute
    * error. E[matches]/n = J for an ideal family; at n = 20 the estimate
    * moves in 0.05 steps, so per-pair error ~0.05 is discretization.
    *
    * What the audit actually finds (measured, all SFs): mean |est−J|
    * ≈ 0.04 and median ≈ 0.03 — but a ~1% tail of pairs errs by up to
    * ~0.8, because the affine family h_j(p) = a_j·p + b_j mod M has
    * CORRELATED minima: when one shingle's polyhash p is small enough
    * that a_j·p never wraps, that same shingle captures the min for
    * most j at once, and a single differing shingle can flip most
    * slots. This finding is why (a) the dedup path only ever uses the
    * sketch for banded candidate generation, always verifying with
    * exact Jaccard ([[minhashNearDup]]), and (b) since r10 the
    * PRODUCTION banding family is the tabulation-style XOR hash this
    * audit's twin measures ([[minhashTabulation]] / [[signatures]]) —
    * this query keeps signing with the retired affine family
    * ([[signaturesAffine]]) as the permanent "before" record. The spec
    * pins the aggregate bands plus the bounded pathological-tail
    * fraction.
    *
    * Exactness: slot matches and set sizes are exact integers on both
    * engines (the signature recurrence replays in SQL bit-for-bit, as
    * q_minhash_neardup already proves); est/jac are single IEEE
    * divisions rounded at 6 dp.
    *
    * Scale shape: the pair set is the planted join (batch-sized, an
    * equi join on the derived key), each comparison two narrow HOFs —
    * no candidate blow-up, no shuffle beyond the equi join. */
  def minhashAccuracy(spark: SparkSession, dir: String): DataFrame = {
    // only the planted pair docs need signatures (same pruning as
    // [[minhashTabulation]], semantics-identical: the slot hash is a
    // per-doc function) — signing the other ~78% of the corpus was the
    // bulk of this audit's cost
    val sig = signaturesAffine(corpus(spark, dir)
      .filter((col("doc_id") < 1000000 && col("doc_id") % 7 === 0) ||
        col("doc_id") >= 2000000))
    val orig = sig.filter(col("doc_id") < 1000000 && col("doc_id") % 7 === 0)
      .select(col("doc_id").as("a"), col("shingles").as("sh_a"),
        col("minhash").as("mh_a"))
    val near = sig.filter(col("doc_id") >= 2000000)
      .select(col("doc_id").as("b"), (col("doc_id") - 2000000).as("k"),
        col("shingles").as("sh_b"), col("minhash").as("mh_b"))
    orig.join(near, col("a") === col("k"))
      .select(col("a"), col("b"),
        expr("size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), z -> z))")
          .cast(LongType).as("est_matches"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType)
          .as("inter"),
        size(array_union(col("sh_a"), col("sh_b"))).cast(LongType)
          .as("uni"))
      .select(col("a"), col("b"), col("est_matches"),
        round(col("est_matches").cast(DoubleType) / NumHashes.toDouble, 6)
          .as("est_jaccard"),
        round(col("inter").cast(DoubleType) / col("uni").cast(DoubleType), 6)
          .as("exact_jaccard"),
        round(abs(col("est_matches").cast(DoubleType) / NumHashes.toDouble -
          col("inter").cast(DoubleType) / col("uni").cast(DoubleType)), 6)
          .as("abs_err"))
      .orderBy("a")
  }

  /** One slot of the tabulation-STYLE hash: XOR of four per-byte table
    * values, tables generated by a fixed affine formula of (slot j, byte
    * index k, byte value) — structured entries, not the (pseudo)random
    * draws of true Zobrist/Pǎtraşcu–Thorup tabulation, so the cited
    * independence guarantees don't formally apply; what the XOR buys
    * structurally is non-monotonicity in p, and the q_mh_accuracy /
    * q_mh_tabulation audit pair measures that this empirically collapses
    * the correlated-minima worst case (0.82 → ~0.22). Mirrored literally
    * in the oracle's SQL (xor() calls — DuckDB's ^ is exponentiation) and
    * in the codegen kernel PolyHash.minhashTab (equivalence-tested).
    * `shiftright(p, n)` rather than the `>>` operator: Spark's expression
    * parser rejects `>>` inside a lambda nested in another lambda
    * (measured — single-depth parses). */
  private def tabSlotExpr: String = (0 to 3).map { k =>
    s"((((2654435761L * (4*j + $k + 1)) % 2147483647L) * " +
      s"((shiftright(p, ${8 * k}) & 255L) + 17L) + " +
      s"(40503L * (4*j + $k + 1) + 7L) % 2147483647L) % 2147483647L)"
  }.mkString(" ^ ")

  /** The engineered fix for the [[minhashAccuracy]] finding — and, since
    * r10, the accuracy audit of the PRODUCTION family: the same audit
    * under the tabulation-style XOR hash ([[signatures]]' family, the
    * codegen'd `tabulation_sigs` kernel). XOR of per-byte table values is
    * not monotone in p, so the affine family's correlated-minima
    * pathology — one small p capturing the min of most slots at once —
    * cannot occur. Measured against q_mh_accuracy on the same pairs:
    * mean/median hold at ~0.04/0.03 (the n = 20 discretization floor),
    * while the WORST CASE collapses from 0.61 (sf0.001) / 0.82 (sf0.1)
    * to ~0.21–0.23 — the plain binomial envelope, i.e. the catastrophes
    * are gone and only ordinary sampling noise remains. Same output
    * shape as q_mh_accuracy, so the two rows compare directly. */
  def minhashTabulation(spark: SparkSession, dir: String): DataFrame = {
    // only the planted pair docs need signatures — the audit joins
    // orig (%7, <10⁶) to near (≥2·10⁶); signing the other ~78% of the
    // corpus is wasted work (semantics-identical: the slot hash is a
    // per-doc function)
    val base = signatures(corpus(spark, dir)
      .filter((col("doc_id") < 1000000 && col("doc_id") % 7 === 0) ||
        col("doc_id") >= 2000000))
    val orig = base.filter(col("doc_id") < 1000000 && col("doc_id") % 7 === 0)
      .select(col("doc_id").as("a"), col("shingles").as("sh_a"),
        col("minhash").as("mh_a"))
    val near = base.filter(col("doc_id") >= 2000000)
      .select(col("doc_id").as("b"), (col("doc_id") - 2000000).as("k"),
        col("shingles").as("sh_b"), col("minhash").as("mh_b"))
    orig.join(near, col("a") === col("k"))
      .select(col("a"), col("b"),
        expr("size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), z -> z))")
          .cast(LongType).as("est_matches"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType)
          .as("inter"),
        size(array_union(col("sh_a"), col("sh_b"))).cast(LongType)
          .as("uni"))
      .select(col("a"), col("b"), col("est_matches"),
        round(col("est_matches").cast(DoubleType) / NumHashes.toDouble, 6)
          .as("est_jaccard"),
        round(col("inter").cast(DoubleType) / col("uni").cast(DoubleType), 6)
          .as("exact_jaccard"),
        round(abs(col("est_matches").cast(DoubleType) / NumHashes.toDouble -
          col("inter").cast(DoubleType) / col("uni").cast(DoubleType)), 6)
          .as("abs_err"))
      .orderBy("a")
  }

  /** The tabulation slot formula as DuckDB SQL (xor() nesting). */
  def tabSlotSql: String = {
    val terms = (0 to 3).map { k =>
      s"((((2654435761 * (4*j + $k + 1)) % 2147483647) * " +
        s"(((p >> ${8 * k}) & 255) + 17) + " +
        s"(40503 * (4*j + $k + 1) + 7) % 2147483647) % 2147483647)"
    }
    terms.reduceLeft((a, b) => s"xor($a, $b)")
  }

  // -- exact similarity join via prefix filtering -------------------------

  /** EXACT Jaccard-threshold similarity self-join by prefix filtering
    * (the AllPairs/PPJoin family, Chaudhuri/Bayardo) — the deterministic
    * complement of [[minhashNearDup]]: no sketch, no recall loss, every
    * token-set pair with J ≥ 9/10 is found. Each doc's DISTINCT tokens
    * sort under one global total order — ascending document frequency
    * then token, materialized as the sortable string `%012d|token` so
    * both engines order identically with no rank table (and no 1-task
    * global row_number) — and only the first s − ceil(τ·s) + 1 tokens
    * (its PREFIX, the doc's rarest) generate candidates: if J(A,B) ≥ τ
    * the prefixes must share a token, so joining prefix-to-prefix loses
    * nothing. τ = 9/10 keeps every bound in exact integer arithmetic
    * (ceil(9s/10) = (9s+9) div 10; J ≥ 9/10 ⟺ 10·|A∩B| ≥ 9·|A∪B|).
    *
    * Output is the per-doc summary — partner count and the best match by
    * (jaccard, then smallest partner id) over the UNDIRECTED pair set —
    * so the result stays LINEAR in the corpus even on this deliberately
    * self-similar synthetic corpus (the raw τ=9/10 pair set is already
    * ~14k pairs at sf0.01 and grows quadratically; a pair dump is the
    * wrong contract for a catalog query).
    *
    * Scale shape: candidate fan-out is governed by PREFIX token
    * frequency — by construction each doc's rarest tokens, the opposite
    * tail from the hot-token blow-up a naive token join hits; the verify
    * step is one narrow array_intersect per surviving pair. The
    * brute-force-equivalence proof lives in DedupSpec (every sf0.001
    * corpus pair recounted in memory); the oracle replays the same
    * algorithm in DuckDB. */
  def prefixSimJoin(spark: SparkSession, dir: String): DataFrame = {
    // deterministic quarter-slice: the synthetic corpus is pathologically
    // self-similar (~14k true pairs at τ=9/10 for 5k docs — real corpora
    // are orders sparser), so the catalog query runs on doc_id ≡ 0 mod 4,
    // cutting the necessary-verification volume 16× while every planted
    // duplicate family survives (the +10⁶/+2·10⁶ plant offsets are ≡ 0
    // mod 4, so plants keep their base's residue). The operator below the
    // filter is the full general shape.
    val toks = corpus(spark, dir)
      .filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), explode(array_distinct(
        split(regexp_replace(lower(col("text")), "\\s+", " "), " ")))
        .as("t"))
      .filter(length(col("t")) > 0)
    val dfreq = toks.groupBy("t").agg(count(lit(1)).as("df"))
    // %012d, not %08d: the global order is the LEXICOGRAPHIC order of
    // these strings, which equals the numeric (df, token) order only
    // while df fits the zero-padded width — 10^12 covers any conceivable
    // per-token document frequency (a 100 TB corpus holds ~10^11 docs)
    val keyed = toks.join(dfreq, "t")
      .select(col("doc_id"), format_string("%012d|%s", col("df"), col("t"))
        .as("k"))
    // localCheckpoint, not cache: arr feeds prefix generation AND both
    // verify sides — without it the collect_list aggregation re-executes
    // three times (same lifecycle argument as minhashNearDup's sigs)
    val arr = keyed.groupBy("doc_id")
      .agg(sort_array(collect_list(col("k"))).as("ks"))
      .withColumn("s", size(col("ks")).cast(LongType))
      .localCheckpoint(true)
    // prefix length s − ceil(9s/10) + 1, all integer (div, not fp);
    // posexplode keeps each prefix token's 1-based position in the full
    // sorted array (the prefix IS the array's head) for the positional
    // filter below
    val pre = arr.select(col("doc_id"), col("s"),
      posexplode(expr("slice(ks, 1, int(s - (9*s + 9) div 10 + 1))")))
      .select(col("doc_id"), col("s"), (col("pos") + 1L).as("p"),
        col("col").as("k"))
    // two result-preserving prunes BEFORE the distinct, each a couple of
    // integer compares per matched token row:
    //  - length filter: J ≥ 9/10 forces 9·max(|A|,|B|) ≤ 10·min(|A|,|B|);
    //  - PPJoin positional filter: shared tokens occupy positions ≥ the
    //    matched token's position in each sorted array, so the overlap is
    //    ≤ 1 + min(sx−px, sy−py); a true pair needs inter ≥
    //    ceil(9(sx+sy)/19) (10·inter ≥ 9·(sx+sy−inter)), and since the
    //    bound side is an integer, ubound ≥ ceil(N/19) ⟺ 19·ubound ≥ N —
    //    so the whole test stays in exact integer multiplication. A true
    //    pair's globally-smallest shared token — itself a prefix-prefix
    //    match row, since anything ≤ a prefix token is in the prefix —
    //    satisfies the bound, so filtering every match row keeps at least
    //    that witness row for every true pair (DedupSpec's brute-force
    //    recount and the semantic oracle both pin result-identity).
    val cand = pre.as("x").join(pre.as("y"),
        col("x.k") === col("y.k") && col("x.doc_id") < col("y.doc_id") &&
          col("x.s") * 9L <= col("y.s") * 10L &&
          col("y.s") * 9L <= col("x.s") * 10L &&
          lit(19L) * (lit(1L) +
            least(col("x.s") - col("x.p"), col("y.s") - col("y.p"))) >=
            lit(9L) * (col("x.s") + col("y.s")))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val av = arr.select(col("doc_id").as("a"), col("ks").as("ka"),
      col("s").as("sa"))
    val bv = arr.select(col("doc_id").as("b"), col("ks").as("kb"),
      col("s").as("sb"))
    // r20: |A∩B| via the sorted_intersect_count merge kernel — the ks
    // arrays are already sort_array'd (the prefix slice needs the global
    // order), so the count needs no hashing and no materialized
    // intersection array. Result-identical to size(array_intersect) on
    // sorted distinct inputs (pinned in DedupSpec); a DevProbe stage
    // breakdown attributed ~2.5 s of this query's 4.4 s to
    // array_intersect alone (verify joins with arrays attached but no
    // intersect: 1.08 s; with array_intersect: 3.65 s).
    val pairs = cand.join(av, "a").join(bv, "b")
      .withColumn("inter", expr("sorted_intersect_count(ka, kb)"))
      .withColumn("uni", col("sa") + col("sb") - col("inter"))
      .filter(col("inter") * 10L >= col("uni") * 9L)
      .select(col("a"), col("b"),
        round(col("inter").cast(DoubleType) / col("uni").cast(DoubleType), 6)
          .as("jac"))
    // undirected per-doc rollup: count + argmax by (jac, smallest id)
    pairs.select(col("a").as("doc_id"), col("b").as("p"), col("jac"))
      .unionByName(pairs.select(col("b").as("doc_id"), col("a").as("p"),
        col("jac")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_partners"),
        max(struct(col("jac"), (-col("p")).as("np"))).as("best"))
      .select(col("doc_id"), col("n_partners"),
        (-col("best.np")).as("best_partner"),
        col("best.jac").as("best_jaccard"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[prefixSimJoin]] — same corpus plants, global
    * order, prefix bound, integer verify and per-doc rollup. */
  val prefixSimJoinOracleSql: String =
    """WITH base0 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' qq zz' FROM documents
      |  WHERE doc_id % 7 = 0),
      |base AS (SELECT doc_id, text FROM base0 WHERE doc_id % 4 = 0),
      |tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(
      |    regexp_replace(lower(text), '\s+', ' ', 'g'), ' '))) AS t
      |  FROM base),
      |tok2 AS (SELECT doc_id, t FROM tok WHERE len(t) > 0),
      |dfreq AS (SELECT t, COUNT(*) AS df FROM tok2 GROUP BY 1),
      |keyed AS (
      |  SELECT doc_id, printf('%012d|%s', CAST(df AS BIGINT), t) AS k
      |  FROM tok2 JOIN dfreq USING (t)),
      |arr AS (
      |  SELECT doc_id, list_sort(list(k)) AS ks,
      |    CAST(len(list(k)) AS BIGINT) AS s
      |  FROM keyed GROUP BY 1),
      |pre AS (
      |  SELECT doc_id,
      |    unnest(ks[1 : CAST(s - (9*s + 9)//10 + 1 AS INT)]) AS k
      |  FROM arr),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM pre x JOIN pre y ON x.k = y.k AND x.doc_id < y.doc_id),
      |v AS (
      |  SELECT a, b,
      |    CAST(len(list_intersect(aa.ks, bb.ks)) AS BIGINT) AS inter,
      |    aa.s + bb.s AS ss
      |  FROM cand JOIN arr aa ON cand.a = aa.doc_id
      |            JOIN arr bb ON cand.b = bb.doc_id),
      |pairs AS (
      |  SELECT a, b,
      |    ROUND(CAST(inter AS DOUBLE) / CAST(ss - inter AS DOUBLE), 6)
      |      AS jac
      |  FROM v WHERE inter * 10 >= (ss - inter) * 9),
      |sym AS (
      |  SELECT a AS doc_id, b AS p, jac FROM pairs
      |  UNION ALL SELECT b, a, jac FROM pairs),
      |r AS (
      |  SELECT doc_id, p, jac,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |                       ORDER BY jac DESC, p ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS n_partners
      |  FROM sym)
      |SELECT doc_id, CAST(n_partners AS BIGINT) AS n_partners,
      |  p AS best_partner, jac AS best_jaccard
      |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
}
