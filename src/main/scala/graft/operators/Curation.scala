package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Materialize, Tables}

/** Corpus-curation operators for LLM training-data pipelines over
  * `documents` — the steps that sit between dedup/quality-scoring and the
  * trainer in a real 100 TB pipeline:
  *
  *  - PII redaction (emails / phone numbers / IPv4 → placeholder tokens),
  *  - deterministic mixture sampling (per-source keep rates, the dataset
  *    re-weighting step of every pretraining mix),
  *  - sequence packing (concat-and-chunk assignment of documents to
  *    fixed-token-budget context windows).
  *
  * All three are oracle-gated: redaction counts/fingerprints, the sampling
  * decision, and the packing prefix-sums are exact integer (or
  * regex-dialect-portable) arithmetic that DuckDB replays verbatim.
  *
  * Scale shapes: redaction and sampling are narrow per-row projections
  * (scan-speed on any corpus); packing needs one global range sort + two
  * linear passes (see `seqPack` — no single-task window anywhere).
  */
object Curation {

  // -- PII redaction ------------------------------------------------------

  /** Dialect-portable PII patterns (same language under Java regex and
    * RE2): no backreferences, no lookaround, explicit character classes. */
  val EmailRe = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val IpRe = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"

  /** The key-derived PII-planting column (the testdata corpus is random
    * words with no natural PII — same discipline as Dedup.corpus, mirrored
    * verbatim in the oracle SQL). Shared by piiCorpus and curateChain. */
  def plantedPii(text: Column, key: Column): Column =
    concat(text,
      when(key % 11 === 0,
        lit(" reach me at alice.w@example.com ok")).otherwise(lit("")),
      when(key % 13 === 0,
        lit(" call 555-123-4567 today")).otherwise(lit("")),
      when(key % 17 === 0,
        lit(" from 10.0.42.7 gateway")).otherwise(lit("")))

  def piiCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"),
      plantedPii(col("text"), col("doc_id")).as("text"))

  /** Rabin–Karp rolling fingerprint of a string column — the same
    * DuckDB-replayable fold as TextAnalysis.fingerprint (the native
    * `rolling_fp` codegen kernel), factored so the redacted text can be
    * fingerprinted without materializing it in the result (the redacted
    * corpus itself would be the real output at scale; the fingerprint
    * proves the transform byte-for-byte). */
  private def rollingFp(c: Column): Column = call_function("rolling_fp", c)

  /** PII redaction: match counts per category on the input text plus the
    * fingerprint of the fully-redacted text (emails → `<EMAIL>`, phones →
    * `<PHONE>`, IPv4 → `<IP>`, applied in that fixed order). A narrow
    * per-row projection — streams over a 100 TB corpus at scan speed. */
  def redact(spark: SparkSession, dir: String): DataFrame = {
    val docs = piiCorpus(spark, dir)
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")
    // Column API (not expr()): the SQL parser would eat the patterns'
    // backslashes before the regex engine ever saw them
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast(LongType).as("n_email"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
        .cast(LongType).as("n_phone"),
      size(regexp_extract_all(col("text"), lit(IpRe), lit(0)))
        .cast(LongType).as("n_ip"),
      rollingFp(red).as("red_fp"))
  }

  // -- deterministic mixture sampling ------------------------------------

  /** Per-source keep rates in permille — the pretraining-mix re-weighting
    * knob. Sorted-seq order keeps the generated when-chain deterministic
    * (the conditions are disjoint, so order never changes results). */
  val mixRatesPermille: Seq[(String, Int)] =
    Seq("de" -> 500, "en" -> 800, "es" -> 300, "fr" -> 400, "zh" -> 200)
  val mixDefaultPermille = 100

  /** The ONE key-derived LCG order/decision hash of this file — key
    * reduced mod M first (congruence-safe, no Long overflow at any key),
    * distinct additive constants giving independent streams: 7 = mixture
    * keep + shard assignment, 13 = domain-cap / stratified order, 29 =
    * weighted-sample priority. Every operator's oracle replays
    * ((key % M) * 2654435761 + inc) % M verbatim; one definition means a
    * modulus/multiplier edit cannot desynchronize a single copy. */
  private[operators] val LcgM = 1000003L
  def lcgDraw(key: Column, inc: Long): Column =
    pmod(pmod(key, lit(LcgM)) * 2654435761L + inc, lit(LcgM))

  /** The sampling decision for a key: an LCG hash reduced mod 1000,
    * compared against the source's permille rate. Key-derived (membership
    * independent of partitioning/scale — same argument as
    * OlsPipeline.keySplit) and exact integer arithmetic, so the oracle
    * replays the decision bit-for-bit. */
  def mixKeep(key: Column, rate: Column): Column =
    lcgDraw(key, 7L) % 1000 < rate

  /** Mixture sampling: keep each document with its source's (lang's)
    * permille rate, deterministically by doc_id. Emits the per-source
    * audit every pipeline run logs: total vs kept docs and kept
    * whitespace-token volume. Narrow projection + one small aggregate. */
  def sampleMixture(spark: SparkSession, dir: String): DataFrame = {
    val rate = mixRatesPermille.foldLeft(lit(mixDefaultPermille)) {
      case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"),
        mixKeep(col("doc_id"), rate).as("keep"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("kept_tokens"))
      .orderBy("lang")
  }

  /** Per-domain document quota (web-corpus curation: no source may
    * contribute more than `DomainCapK` documents to the mixture —
    * over-represented domains are down-sampled, small ones kept whole).
    * Selection within a domain is by LCG hash of doc_id (ties by doc_id):
    * a deterministic uniform draw, independent of partitioning and scale —
    * the same key-derivation discipline as `mixKeep`. */
  val DomainCapK = 20

  /** Skew-proof quota selection: a naive per-source row_number window
    * sorts EVERY document of a hot domain on one reducer — at web scale a
    * single domain can be 10⁸ docs. Instead the two-stage top-k idiom
    * (Similarity.bruteForceTopK): per-(source, input-partition) heads
    * first — each task emits at most k rows per source it sees — then the
    * global per-source rank over the ≤ k·P survivors. No reducer ever
    * sorts more than k·P rows per domain, at any skew. */
  def domainCap(spark: SparkSession, dir: String,
                k: Int = DomainCapK): DataFrame = {
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("h", lcgDraw(col("doc_id"), 13L))
    val partial = hashed
      .withColumn("part", spark_partition_id())
      .withColumn("rn", row_number().over(
        Window.partitionBy("source", "part").orderBy("h", "doc_id")))
      .filter(col("rn") <= k)
      .drop("rn", "part")
    partial
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy("h", "doc_id")).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("doc_id"))
      .orderBy("source", "rank")
  }

  /** Weighted-sample size and priority scale, shared with the oracle. */
  val WeightedSampleK = 25
  val PriScale = 1000000L

  /** Weight-proportional corpus sampling without replacement (priority
    * sampling, Duffield/Lund/Thorup shape): every document gets priority
    * w·S div (h+1) from its weight (n_chars — stand-in for a quality
    * score) and a uniform key-derived LCG draw h; the k largest priorities
    * are the sample. P(h+1 ≤ w·S/t) ∝ w, so inclusion probability is
    * proportional to weight (capped at 1) — long documents are drawn
    * more often, deterministically.
    *
    * Exactness: the whole priority is integer arithmetic (the `div` form,
    * exact on both engines — a double u^(1/w) key would drift in ulp) and
    * the draw is the mixKeep LCG family: membership is independent of
    * partitioning, layout and scale.
    *
    * Scale shape: one narrow projection; the global top-k executes as
    * TakeOrderedAndProject — per-partition heads, never a global sort;
    * the rank window touches exactly k rows. */
  def weightedSample(spark: SparkSession, dir: String,
                     k: Int = WeightedSampleK): DataFrame = {
    val top = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        expr(s"(n_chars * $PriScale) div " +
          s"(pmod(pmod(doc_id, ${LcgM}L) * 2654435761L + 29L, ${LcgM}L) + 1)")
          .as("pri"))
      .orderBy(col("pri").desc, col("doc_id").asc)
      .limit(k)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pri").desc, col("doc_id").asc)).cast(LongType))
      .select(col("rank"), col("doc_id"), col("n_chars"), col("pri"))
      .orderBy("rank")
  }

  /** DuckDB replay of [[weightedSample]] — same LCG, same integer div. */
  val weightedSampleOracleSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, n_chars,
       |    (n_chars * $PriScale) //
       |      (((doc_id % 1000003) * 2654435761 + 29) % 1000003 + 1) AS pri
       |  FROM documents)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pri DESC, doc_id) AS BIGINT)
       |    AS rank,
       |  doc_id, n_chars, pri
       |FROM p ORDER BY pri DESC, doc_id LIMIT $WeightedSampleK""".stripMargin

  // -- temperature-rebalanced mixture -------------------------------------

  /** Target kept volume for the temperature mix, as a permille of the
    * corpus. */
  val TempTargetPermille = 400

  /** Temperature-rebalanced mixture sampling (the multilingual-pretraining
    * rebalancing step: raw proportions p_l are flattened to p_l^α so
    * low-resource languages are up-weighted). α = 1/2 exactly, computed
    * with `sqrt` — unlike `pow`, IEEE 754 requires sqrt to be CORRECTLY
    * ROUNDED, so the weights are bit-identical in any engine and the whole
    * rate derivation stays oracle-exact (the one transcendental the
    * cross-engine gate can trust). Per-language keep rate:
    * min(1000, floor(1000 · T · w_l / n_l)) permille, where
    * w_l = sqrt(n_l)/Σ_j sqrt(n_j) and T = floor(N · target/1000) docs;
    * the per-document decision is the same key-derived LCG as `mixKeep`.
    *
    * Scale shape: one tiny per-language count aggregate (map-side partial,
    * ~|langs| rows) collected and folded driver-side in SORTED-LANG order
    * — Σ√n is double addition, which is order-dependent, so a distributed
    * SUM would fold in partition order (layout-dependent) while the
    * oracle folds in scan order: a 1-ulp ssum difference flips
    * rate_permille on a floor boundary and with it every keep decision at
    * that rate. The deterministic left fold (mirrored by the oracle's
    * list_reduce(list(... ORDER BY lang))) makes the derivation
    * bit-exact at ANY layout; the rates ship back as a broadcast literal
    * dimension. Two scans of the corpus (stats, then decisions) — at
    * 100 TB the stats pass reads one dictionary-encoded column and in
    * production is a maintained table, not recomputed per run. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val ssum = counts.map { case (_, n) => math.sqrt(n.toDouble) }
      .foldLeft(0.0)(_ + _)
    val ntot = counts.map(_._2).sum
    val t = math.floor(ntot.toDouble * (TempTargetPermille / 1000.0))
    val spark2 = spark
    import spark2.implicits._
    val rates = counts.toSeq.map { case (l, n) =>
      (l, math.min(1000L, math.floor(
        1000.0 * t * math.sqrt(n.toDouble) / (ssum * n.toDouble)).toLong))
    }.toDF("lang", "rate_permille")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"))
      .join(broadcast(rates), "lang")
      .withColumn("keep", mixKeep(col("doc_id"), col("rate_permille")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        first(col("rate_permille")).as("rate_permille"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("kept_tokens"))
      .orderBy("lang")
  }

  // -- context-window chunking --------------------------------------------

  /** Chunk window (tokens) and stride; overlap = ChunkWin - ChunkStride.
    * A long-context trainer picks these per tokenizer/context length; the
    * arithmetic below is parameter-independent. */
  val ChunkWin = 64
  val ChunkStride = 48

  /** Overlapping context-window chunking: split each document into
    * whitespace tokens and emit one row per `ChunkWin`-token window at
    * `ChunkStride` spacing — the standard long-document → training-sample
    * expansion (overlap keeps boundary context in at least one chunk).
    * Chunk count is exact integer arithmetic
    * (`(n - win + stride - 1) div stride + 1`, min 1), windows come from
    * `sequence`+`slice` on the one tokens array, and each chunk is emitted
    * as (n_tok, md5) — narrow, exact, and DuckDB-replayable.
    *
    * Scale shape: a pure per-row projection + explode — no shuffle, no
    * state; output rows ≈ input tokens / stride regardless of document
    * length skew. A 10⁶-token outlier document becomes ~2·10⁴ rows on its
    * own partition, never a hot key. */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame = {
    val stride = lit(ChunkStride)
    // exact integer ceil-div (SQL `div`, not `/` — Column./ is double)
    val nChunks = when(size(col("toks")) <= ChunkWin, lit(1L))
      .otherwise(expr(
        s"(size(toks) - $ChunkWin + $ChunkStride - 1) div $ChunkStride") +
        lit(1L))
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .withColumn("chunk_id",
        explode(sequence(lit(0L), nChunks.cast(LongType) - 1)))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("toks"), (col("chunk_id") * stride + 1).cast(IntegerType),
          lit(ChunkWin)).as("w"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("w")).cast(LongType).as("n_tok"),
        md5(concat_ws(" ", col("w"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  // -- benchmark decontamination ------------------------------------------

  /** Word-n-gram size for eval-overlap matching (the PaLM-style unit: a
    * training doc sharing 8 consecutive words with an eval doc is a hit)
    * and the overlap fraction above which a doc is dropped as
    * contaminated. Shared with the q_decontam oracle SQL (interpolated
    * there) so query and oracle can't desynchronize. */
  val DecontamGramSize = 8
  val ContamThreshold = 0.5

  /** The simulated eval/benchmark set: a 24-token snippet (tokens 5..28 of
    * the whitespace-normalized text) of every 13th document — the corpus
    * has no real benchmark, so the overlap is planted from within it, same
    * discipline as Dedup.corpus. 24 tokens → 17 distinct 8-grams each. */
  def benchmarkSet(spark: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(norm, " ").as("toks"))
      .filter(col("doc_id") % 13 === 5 && size(col("toks")) >= 28)
      .select(col("doc_id").as("bench_id"),
        concat_ws(" ", slice(col("toks"), 5, 24)).as("snippet"))
  }

  /** Benchmark decontamination — the eval-overlap hygiene pass every
    * pretraining pipeline runs before the trainer sees a byte: flag
    * training documents sharing word 8-grams with the benchmark set.
    * Corpus = documents ∪ planted leaked docs (benchmark snippets + two
    * extra tokens, +4M ids — near-total overlap, the true-leak branch);
    * the snippets' source docs overlap partially, and the corpus's own
    * natural near-duplicate pairs surface as full-snippet hits (a doc
    * sharing a long span with a bench doc IS contaminated — the operator
    * catching them is the point; chance 8-gram collisions don't happen).
    *
    * Scale shape: the benchmark side is an eval suite — thousands of docs
    * regardless of corpus size — so its distinct gram set is BROADCAST;
    * the corpus side is one narrow projection (native `word_ngrams`
    * kernel) + explode + broadcast semi-match + one groupBy(doc_id)
    * shuffle of only the HIT rows. No corpus-side self-join anywhere. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    val bench = benchmarkSet(spark, dir)
    val corpus = Tables.documents(spark, dir)
      .select(col("doc_id"), norm.as("nt"))
      .unionByName(bench.select(
        (col("bench_id") + 4000000).as("doc_id"),
        concat(col("snippet"), lit(" xx yy")).as("nt")))
    val bgrams = bench
      .select(explode(expr(s"word_ngrams(snippet, $DecontamGramSize)"))
        .as("gram"))
      .distinct()
    corpus
      .select(col("doc_id"), expr(s"word_ngrams(nt, $DecontamGramSize)")
        .as("gs"))
      .select(col("doc_id"), size(col("gs")).cast(LongType).as("n_grams"),
        explode(col("gs")).as("gram"))
      .join(broadcast(bgrams), "gram")
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast(DoubleType) /
          col("n_grams").cast(DoubleType), 4).as("overlap_frac"),
        (col("n_hit").cast(DoubleType) / col("n_grams").cast(DoubleType)
          >= ContamThreshold).as("contaminated"))
      .orderBy("doc_id")
  }

  // -- shard assignment / manifest ----------------------------------------

  /** Shard count shared by the q_shard_manifest registration and its
    * oracle SQL (interpolated there). */
  val DefaultShards = 16

  /** Deterministic shard assignment + manifest — the write-layout step
    * between curation and the trainer: every document lands in a
    * key-derived shard (the same LCG family as mixKeep — membership
    * independent of partitioning and cluster size, so a 1000-executor
    * writer and a laptop produce identical shards), and the manifest is
    * the audit a shard writer emits per output file: doc/token counts,
    * id range, and an order-independent content checksum (bit_xor of the
    * rolling fingerprints — overflow-free and DuckDB-replayable, unlike a
    * wrapping BIGINT sum under ANSI arithmetic).
    *
    * At scale the actual write is `.repartition(n, col("shard"))
    * .write.partitionBy("shard")`; the registered query emits the
    * manifest: one narrow projection (rolling_fp kernel) + one
    * nShards-group aggregate with map-side combine. */
  def shardManifest(spark: SparkSession, dir: String,
                    nShards: Int = DefaultShards): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (lcgDraw(col("doc_id"), 7L) % nShards).as("shard"),
        size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"),
        rollingFp(col("text")).as("fp"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        expr("bit_xor(fp)").as("fp_xor"))
      .orderBy("shard")

  // -- composed curation chain --------------------------------------------

  /** The LLM-side flagship: the full curation pipeline a pretraining run
    * applies between raw corpus and trainer, composed as ONE lazy lineage
    * (the batch mirror of what q_e2e is for the ML side — no
    * materialization barrier between stages):
    *
    *   1. language ID (token_profile kernel) → keep predicted English;
    *   2. repetition filter (repeat_stats kernel) → drop boilerplate docs
    *      (duplicate-bigram fraction above TextAnalysis.RepetitionThreshold);
    *   3. exact dedup, keep-first — the input plants exact copies
    *      (doc_id%5==0, +1M ids, Dedup.corpus's rule) so the stage visibly
    *      removes rows;
    *   4. decontamination → drop docs whose word-8-gram overlap with the
    *      benchmark set reaches ContamThreshold;
    *   5. PII redaction → per-doc match counts + redacted-text fingerprint.
    *
    * Scale shape: stages 1, 2 and 5 are narrow kernel/regex projections;
    * stage 3 is one hash shuffle (a groupBy(text) keep-first aggregate — the
    * semi-join form was rejected, see the inline note; the ORACLE groups by
    * md5(text), same classes); stage 4 is the
    * broadcast gram probe plus a broadcast anti-join on the (tiny)
    * contaminated-id set. The whole chain reads `documents` through one
    * lineage — Catalyst sees every stage and prunes/pushes across them. */
  def curateChain(spark: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val base = d
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    // The declared order puts exact dedup FIRST: equal texts have equal
    // language and repetition metrics, so a duplicate group passes or
    // fails stages 1-2 wholesale and keep-first commutes with them — the
    // oracle states the logical lang → repetition → dedup order, and the
    // hash match proves the rewrite sound. keep-first is groupBy(text) →
    // min(doc_id): a HASH aggregate with a primitive buffer (the
    // min-id-set + semi-join form recomputed every upstream stage on both
    // join sides; a first()-carrying aggregate forces a string buffer and
    // degrades to SortAggregate). Catalyst then pushes the stage-1/2
    // filters back below the aggregate to the scans — group-key-derived
    // predicates commute with the agg — which is the right 100 TB plan:
    // kernels gate rows BEFORE the shuffle, and only survivors move.
    val deduped = base
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .withColumn("nt", norm)
    // 1. language filter — the shared 3-conjunct English predicate (see
    // TextAnalysis.isEnglish for the equivalence argument; only the
    // absolute threshold needs a division, kept in the oracle's exact
    // s_en >= 0.01 double form — a multiplied-out tp3 >= 0.01·g would
    // diverge in ulp cases).
    val en = deduped
      .withColumn("tp",
        expr(s"token_profile(nt, ${TextAnalysis.langProfileLit})"))
      .filter(TextAnalysis.isEnglish(col("tp")))
      .drop("tp")
    // 2. repetition filter
    val lowRep = en
      .withColumn("rs", expr("repeat_stats(nt)"))
      .withColumn("n_tok", element_at(col("rs"), 1))
      .withColumn("dup_2gram_frac",
        when(col("n_tok") < 2, lit(0.0)).otherwise(
          round(lit(1.0) - element_at(col("rs"), 4).cast(DoubleType) /
            (col("n_tok") - 1).cast(DoubleType), 4)))
      .filter(col("dup_2gram_frac") <= TextAnalysis.RepetitionThreshold)
      .drop("rs")
    // 4. decontamination: drop contaminated survivors (the id set that
    // reaches the threshold is eval-suite-sized → broadcast anti-join)
    val bgrams = benchmarkSet(spark, dir)
      .select(explode(expr(s"word_ngrams(snippet, $DecontamGramSize)"))
        .as("gram"))
      .distinct()
    val contaminated = lowRep
      .select(col("doc_id"),
        expr(s"word_ngrams(nt, $DecontamGramSize)").as("gs"))
      .select(col("doc_id"), size(col("gs")).cast(LongType).as("n_grams"),
        explode(col("gs")).as("gram"))
      .join(broadcast(bgrams), "gram")
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit").cast(DoubleType) / col("n_grams").cast(DoubleType)
        >= ContamThreshold)
      .select("doc_id")
    val clean = lowRep.join(broadcast(contaminated), Seq("doc_id"),
      "left_anti")
    // 5. PII redaction on the survivors (planted by the piiCorpus rule)
    val ptext = plantedPii(col("text"), col("doc_id"))
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(ptext, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")
    clean.select(
      col("doc_id"), col("n_tok"), col("dup_2gram_frac"),
      size(regexp_extract_all(ptext, lit(EmailRe), lit(0)))
        .cast(LongType).as("n_email"),
      size(regexp_extract_all(ptext, lit(PhoneRe), lit(0)))
        .cast(LongType).as("n_phone"),
      size(regexp_extract_all(ptext, lit(IpRe), lit(0)))
        .cast(LongType).as("n_ip"),
      rollingFp(red).as("red_fp"))
  }

  // -- sequence packing ---------------------------------------------------

  /** Context-window token budget shared by the q_seq_pack registration and
    * its oracle SQL (interpolated there) — one constant, so changing it
    * can't desynchronize query and oracle. */
  val DefaultBudgetTokens = 2048L

  /** Sequence packing, concat-and-chunk: documents in deterministic
    * doc_id order are conceptually concatenated and cut into
    * `budgetTokens`-sized context windows; each document is assigned to
    * the window its FIRST token lands in (bin = exclusive-prefix-sum /
    * budget — the standard GPT-style pretraining packing). Emits the
    * per-bin manifest (doc count, token total, doc range).
    *
    * Scale shape: `ntile` has the same global-order problem and the same
    * fix (Joins.ntileDecile) — a distributed RANGE SORT on doc_id, then
    * per-partition token sums collected once (#partitions values, not
    * rows), then one linear pass per partition carrying its exact global
    * prefix offset. No `Window.orderBy` (single-task) anywhere; the sort
    * is executed once (persisted) and feeds both passes. */
  def seqPack(spark: SparkSession, dir: String,
              budgetTokens: Long = DefaultBudgetTokens): DataFrame =
    seqPackOn(spark,
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(split(col("text"), "\\s+")).cast(LongType).as("n_tok")),
      budgetTokens)

  /** [[seqPack]] with the token column measured in LEARNED-BPE tokens
    * ([[Bpe.docTokenCounts]]) instead of the whitespace proxy — the
    * packing a pipeline actually runs once a tokenizer exists: context
    * windows budget REAL model tokens, and a whitespace count that
    * under-states long rare words mis-sizes every bin. Same packing
    * pass, same no-single-task-window discipline; only the measure
    * changes. */
  def seqPackLearned(spark: SparkSession, dir: String,
                     merges: Seq[Bpe.Merge],
                     budgetTokens: Long = DefaultBudgetTokens): DataFrame =
    seqPackOn(spark,
      Bpe.docTokenCounts(spark, dir, merges)
        .select(col("doc_id"), col("bpe_tokens").as("n_tok")),
      budgetTokens)

  /** The packing core both measures share: a (doc_id, n_tok) table in,
    * the per-bin manifest out. Kept private-to-package so every public
    * entry states its token measure explicitly. */
  private[graft] def seqPackOn(spark: SparkSession, toksIn: DataFrame,
                               budgetTokens: Long): DataFrame = {
    val toks = toksIn.select(col("doc_id"), col("n_tok").cast(LongType))
      .orderBy("doc_id")
    val rdd = toks.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // token-sum offsets (not row counts) — same one-job prefix discipline
    // as GlobalRank.offsets, but summing the n_tok column
    val sums = rdd.mapPartitionsWithIndex(
      (pi, it) => Iterator((pi, it.map(_.getLong(1)).sum)))
      .collect().sortBy(_._1).map(_._2)
    val offsets = sums.scanLeft(0L)(_ + _)
    val spark2 = spark
    import spark2.implicits._
    val agg = rdd
      .mapPartitionsWithIndex { (pi, it) =>
        var prefix = offsets(pi)
        it.map { row =>
          val t = row.getLong(1)
          val bin = prefix / budgetTokens
          prefix += t
          (bin, row.getLong(0), t)
        }
      }
      .toDF("bin", "doc_id", "n_tok")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("bin")
    // materialize the manifest DISTRIBUTED (localCheckpoint cuts the
    // lineage to the cached sort, which is then released now, not when
    // some later consumer runs) — unlike ntile's 10 fixed rows, the bin
    // manifest grows as totalTokens/budgetTokens, so a driver collect
    // here would contradict the operator's own 100 TB story (~10¹⁰ bins)
    val out = Materialize.eagerly(agg)
    rdd.unpersist(blocking = false)
    out
  }

  // -- exact stratified sampling ------------------------------------------

  val StratifiedK = 12
  private val StratM = LcgM // one modulus across the LCG family

  /** Exact per-stratum uniform sample: the k documents with the SMALLEST
    * LCG hash per language — the fixed-allocation stratified draw an eval
    * or annotation pipeline takes per slice ([[sampleMixture]] re-weights
    * by rate; this guarantees an exact per-stratum COUNT). Deterministic
    * (mixKeep LCG family, key-derived — membership independent of
    * partitioning, layout and scale), tie-broken by doc_id: a total order.
    *
    * Scale shape — the same certified-prefilter discipline as
    * [[GeoJoin.nearestPoi]]: ranking all of a 100 TB stratum to take 12
    * rows is absurd, so a threshold keeps only hashes with
    * h·n_g < 8k·M (~8k expected survivors per stratum, n_g from the
    * bounded per-stratum count dim, all integer arithmetic). Because the
    * filter keeps a PREFIX of the per-stratum hash order, top-k of the
    * survivors IS top-k of the stratum whenever ≥ k survive — certified
    * per stratum by a bounded count; a stratum that certifies short
    * (tiny, or adversarial hash clustering) falls back to ranking its
    * full rows. The 'zh' stratum runs with a deliberately 32×-tighter
    * threshold (expected k/4 survivors) so the fallback branch is
    * data-exercised — and oracle-gated — at every SF, same plant
    * discipline as [[graft.operators.DqChecks]]'s FK hole. The window
    * never sees more than ~8k rows per certified stratum; fallback
    * strata are by construction the ones the threshold could not bound.
    *
    * The oracle states the SEMANTICS — a plain per-stratum rank over all
    * rows — so the hash match proves prefilter + fallback ≡ brute force,
    * exactly like q_geo_nearest. */
  def stratifiedSample(spark: SparkSession, dir: String,
                       k: Int = StratifiedK): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        lcgDraw(col("doc_id"), 13L).as("h"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_g"))
    // r20: joined (consumed by surv and the fallback pick) and surv
    // (consumed by the certification count and the surviving-row pick)
    // are each lazily localCheckpointed — the recompute tree re-scanned
    // documents per consumer (18 scans / 9 Exchanges,
    // plans/r20/q_stratified_before.txt). Measured 0.68 → 0.55 s
    // isolated warm at sf0.1 (DevProbe 5-run medians; surv alone 0.60).
    // Both frames are documents-sized narrow (lang, doc_id, h) rows.
    val joined = Materialize.lazily(docs.join(broadcast(counts), "lang"))
    // threshold in truncating integer div (overflow-free at any n_g; a
    // stratum so large the div floors to 0 simply takes the fallback)
    val surv = Materialize.lazily(joined.filter(col("h") <
      when(col("lang") === "zh",
        expr(s"(${8L * k * StratM}L) div (n_g * 32L)"))
        .otherwise(expr(s"(${8L * k * StratM}L) div n_g"))))
    val certified = surv.groupBy("lang").agg(count(lit(1)).as("s_g"))
      .filter(col("s_g") >= k.toLong).select("lang")
    val okRows = surv.join(broadcast(certified), Seq("lang"), "left_semi")
      .select("lang", "doc_id", "h")
    val fbGroups = counts.select("lang")
      .join(broadcast(certified), Seq("lang"), "left_anti")
    val fbRows = joined.join(broadcast(fbGroups), Seq("lang"), "left_semi")
      .select("lang", "doc_id", "h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("h").asc, col("doc_id").asc)
    okRows.unionByName(fbRows)
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k.toLong)
      .select(col("lang"), col("rank"), col("doc_id"), col("h"))
      .orderBy("lang", "rank")
  }

  /** DuckDB replay of [[stratifiedSample]] — the brute-force semantics
    * itself (rank ALL rows per stratum): the hash match proves the
    * certified prefilter + fallback union equals it. */
  val stratifiedOracleSql: String =
    s"""WITH h AS (
       |  SELECT lang, doc_id,
       |    ((doc_id % $StratM) * 2654435761 + 13) % $StratM AS h
       |  FROM documents),
       |r AS (
       |  SELECT lang, doc_id, h,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
       |      AS BIGINT) AS rank
       |  FROM h)
       |SELECT lang, rank, doc_id, CAST(h AS BIGINT) AS h
       |FROM r WHERE rank <= $StratifiedK ORDER BY lang, rank""".stripMargin
}
