package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}

/** BPE tokenizer training — the iterative merge loop over the
  * [[TextAnalysis.bpePairs]] pair-count inner loop (r15 verdict #3: the
  * one LLM-pipeline capability that was stats-only; every training-data
  * pipeline runs this loop before token counting). Classic
  * Sennrich-et-al word-grain BPE (reference behavior: the tokenizer
  * training step upstream of any corpus the reference's models consume;
  * the engine's q_bpe_pairs computes exactly one round's statistics):
  *
  *   1. corpus → (word, freq) — the ONLY corpus-sized pass; everything
  *      after runs on the distinct-word table.
  *   2. each word → symbol sequence (initially its characters).
  *   3. per round: count adjacent symbol pairs weighted by word freq
  *      (every adjacent POSITION counts, overlaps included — the
  *      standard get_stats semantics), pick the argmax under the TOTAL
  *      order (n desc, left asc, right asc), rewrite every word by
  *      merging occurrences of that pair LEFTMOST-FIRST, NON-OVERLAPPING
  *      in one pass, record the merge; repeat.
  *
  * Exactness: counts are BIGINT sums of BIGINT word frequencies —
  * no floats anywhere; ties break on the (left, right) string total
  * order, so the learned vocabulary is a pure function of the corpus
  * multiset (partitioning/layout-independent — pinned by spec against
  * an in-memory brute force and under repartitioning).
  *
  * Scale shape (the 100 TB story): the corpus is touched ONCE (narrow
  * tokenize + one map-combinable word count); the k merge rounds run on
  * the vocab-bounded word table — per round one narrow pair explode, one
  * hash aggregate whose map-side partials collapse to ≤|symbols|²
  * distinct pairs, one 1-ROW driver pull (the argmax — the same bounded
  * collect family as the IVF centroid pull), one narrow fold rewrite,
  * re-checkpointed so plan depth stays O(1) per round instead of
  * nesting k aggregate() lambdas. No corpus-wide re-scan per round —
  * the defining difference from the naive loop that re-reads 100 TB
  * k times. Checkpointed round tables are vocab-bounded and reaped by
  * the caller's unpersist hygiene (Bench/specs already do this).
  */
object Bpe {

  /** One learned merge rule: at `round` (1-based), the pair
    * (`left`, `right`) with weighted adjacency count `n` became the
    * single symbol `merged` (= left+right concatenated). */
  final case class Merge(round: Int, left: String, right: String,
                         merged: String, n: Long)

  /** Tokenizer GRAIN — the word→symbols splitting rule a vocabulary was
    * trained at, as a VALUE so it can travel WITH the merges inside
    * [[Vocab]] instead of as a forgettable default argument (a byte
    * vocabulary replayed at char grain matches zero merges and silently
    * bills every word at its char count — BpeSpec proves the failure
    * mode; this type makes it unrepresentable). Sealed: the grain set
    * is closed, and each grain carries BOTH sides of the contract —
    * the distributed Column rule every Spark consumer applies and the
    * driver-side reference splitter the spec replicas run. */
  sealed trait Grain {
    private[graft] def symRule: Column
    private[graft] def splitWord(word: String): Vector[String]
    /** Stable name — what [[vocabDf]] persists and [[Grain.forName]]
      * resolves; renames would strand stored vocabularies. */
    def name: String
  }

  /** Unicode-code-point grain ([[symsCol]] / the [[encode]] walk). */
  case object CharGrain extends Grain {
    private[graft] def symRule: Column = symsCol
    private[graft] def splitWord(word: String): Vector[String] =
      word.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))).toVector
    val name = "char"
  }

  /** UTF-8 byte grain as lossless 2-hex symbols ([[byteSymsCol]] /
    * the [[encodeBytes]] walk). */
  case object ByteGrain extends Grain {
    private[graft] def symRule: Column = byteSymsCol
    private[graft] def splitWord(word: String): Vector[String] =
      word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .map(b => f"${b & 0xff}%02X").toVector
    val name = "byte"
  }

  object Grain {
    /** Inverse of [[Grain.name]] — the read side of vocabulary
      * persistence. Unknown names fail loud: replaying a vocabulary at
      * a guessed grain is exactly the silent desync this type exists
      * to prevent. */
    def forName(name: String): Grain = name match {
      case CharGrain.name => CharGrain
      case ByteGrain.name => ByteGrain
      case other => throw new IllegalArgumentException(
        s"graft: unknown tokenizer grain '$other'")
    }
  }

  /** PRE-TOKENIZER — the text→pre-tokens segmentation rule ahead of the
    * word table, the seam ORTHOGONAL to [[Grain]]: grain says how a
    * pre-token becomes symbols; the pre-tokenizer says where pre-token
    * boundaries fall (BPE merges never cross them). Carried in [[Vocab]]
    * for the same reason as the grain: a vocabulary trained on GPT-2
    * pre-tokens replayed over whitespace words segments differently and
    * silently mis-bills every contraction and punctuation run. */
  sealed trait PreTok {
    /** text column → array<string> of pre-tokens. May contain empty
      * strings (consumers filter `length ≥ 1`, the existing word-table
      * contract); [[splitText]] returns the post-filter view. */
    private[graft] def toksCol(text: Column): Column
    private[graft] def splitText(text: String): Vector[String]
    def name: String
  }

  /** The engine's original segmentation: lower + whitespace-normalize +
    * split (the shared normalization contract every text operator
    * applies). */
  case object WhitespacePreTok extends PreTok {
    private[graft] def toksCol(text: Column): Column =
      split(regexp_replace(lower(text), "\\s+", " "), " ")
    private[graft] def splitText(text: String): Vector[String] =
      text.toLowerCase.replaceAll("\\s+", " ")
        .split(" ", -1).toVector.filter(_.nonEmpty)
    val name = "ws"
  }

  /** The GPT-2 pre-tokenizer pattern (Radford et al. 2019; the tiktoken
    * `r50k`/`p50k` family): contractions split off as their own
    * pre-tokens ('s 't 're 've 'm 'll 'd), letter runs / digit runs /
    * other-symbol runs each with ONE optional leading space, interior
    * whitespace runs kept (minus a trailing-space lookahead handoff).
    * Both execution sides — Spark's `regexp_extract_all` and the
    * driver replica — compile THIS string with java.util.regex, so the
    * two segmentations agree bit-for-bit by construction. The leading
    * `(?U)` (UNICODE_CHARACTER_CLASS) makes java's `\s` Unicode-aware
    * like Python's — without it a non-ASCII space (U+00A0) classifies
    * as a SYMBOL and glues into punctuation runs, so a persisted
    * 'gpt2' vocabulary would silently segment Unicode-space text
    * differently from upstream (r18 ADVICE; spec pins the U+00A0
    * case). One string, one flag, both sides in lockstep. */
  private[graft] val Gpt2Pattern: String =
    "(?U)'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+" +
      "|\\s+(?!\\S)|\\s+"

  /** GPT-2-style regex pre-tokenization — the production byte-level-BPE
    * segmentation (case and spaces PRESERVED: the pre-tokenizer IS the
    * normalization at this grain; pairing it with [[ByteGrain]] gives
    * the standard GPT-2 shape where " world" and "world" are distinct
    * pre-tokens and every byte is coverable). */
  case object Gpt2PreTok extends PreTok {
    private[graft] def toksCol(text: Column): Column =
      regexp_extract_all(text, lit(Gpt2Pattern), lit(0))
    private[graft] def splitText(text: String): Vector[String] = {
      val m = java.util.regex.Pattern.compile(Gpt2Pattern).matcher(text)
      val b = Vector.newBuilder[String]
      while (m.find()) b += m.group()
      b.result()
    }
    val name = "gpt2"
  }

  object PreTok {
    /** Inverse of [[PreTok.name]] (see [[Grain.forName]]). */
    def forName(name: String): PreTok = name match {
      case WhitespacePreTok.name => WhitespacePreTok
      case Gpt2PreTok.name => Gpt2PreTok
      case other => throw new IllegalArgumentException(
        s"graft: unknown pre-tokenizer '$other'")
    }
  }

  /** A learned BPE vocabulary WITH the segmentation it was trained at —
    * the one artifact a pipeline passes around. Carrying grain and
    * pre-tokenizer INSIDE the type (instead of as per-call default
    * arguments) makes every replay-at-the-wrong-segmentation bug a
    * compile-time impossibility, and [[vocabDf]]/[[vocabFromDf]] keep
    * them attached across persistence. */
  final case class Vocab(merges: Seq[Merge], grain: Grain,
                         preTok: PreTok = WhitespacePreTok)

  /** Default merge-round budget: enough to exercise multi-character
    * symbols and merged-symbol-participates-again behavior at spec
    * corpus sizes; production picks vocab_size − |alphabet|. */
  val DefaultRounds = 12

  /** The one symbol-splitting rule: a word's characters as an
    * array<string>, one UNICODE CODE POINT each (Spark's substring /
    * length count code points, matching [[encode]]'s codePoints walk) —
    * every surface that mints a `syms` column MUST use this, or the
    * trainer's vocabulary silently desynchronizes from a consumer's
    * segmentation. */
  private[graft] def symsCol: Column =
    expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")

  /** word → learned-token-count dictionary over any table with a `word`
    * column: the merge replay run ONCE PER DISTINCT WORD — the shared
    * dictionary build of [[docTokenCounts]] and [[chunkByTokens]].
    * `symRule` picks the tokenizer grain the vocabulary was trained at
    * (char [[symsCol]] by default, [[byteSymsCol]] for byte-level
    * vocabularies) — a byte vocabulary replayed over char symbols would
    * never match one merge and silently bill every word at its char
    * count, so the grain must travel WITH the merges to every
    * consumer. */
  private def dictOf(words: DataFrame, merges: Seq[Merge],
                     symRule: Column = symsCol): DataFrame =
    encodeWords(
      words.groupBy("word").agg(count(lit(1)).as("freq"))
        .withColumn("syms", symRule),
      merges)
    .select(col("word"), size(col("syms")).cast("long").as("toks"))

  /** The BYTE-grain symbol rule — the other production tokenizer grain
    * (GPT-2-style byte-level BPE): a word's UTF-8 bytes, one symbol per
    * byte, rendered as LOSSLESS 2-hex strings ("E2", "0A" — a raw
    * byte-to-string cast would fold lone continuation bytes into the
    * replacement char and alias distinct bytes). Merged symbols become
    * concatenated hex ("E282" …), so the entire grain-agnostic merge
    * machinery — trainOnWords, mergeFoldAt, encodeWords, tokenProfile,
    * learnedVocabCoverage — applies unchanged; `unhex` of a final
    * symbol string recovers its exact bytes. Byte grain needs no
    * unknown-symbol story at all: every input is coverable by the
    * 256-entry base alphabet, where char grain must pass novel chars
    * through as singleton symbols. */
  private[graft] def byteSymsCol: Column =
    expr("transform(sequence(1, octet_length(word)), " +
      "i -> hex(substring(encode(word, 'UTF-8'), i, 1)))")

  /** Corpus → (word, freq, syms) with syms = the word's characters.
    * Lower + whitespace-normalize exactly as every other text operator
    * (shared normalization contract); empty tokens dropped (leading
    * whitespace would otherwise mint an empty word whose symbol
    * sequence is the empty array). */
  def wordTable(spark: SparkSession, dir: String): DataFrame =
    wordTableAt(spark, dir, CharGrain)

  /** [[wordTable]] at BYTE grain ([[byteSymsCol]]). */
  def wordTableBytes(spark: SparkSession, dir: String): DataFrame =
    wordTableAt(spark, dir, ByteGrain)

  /** Byte-level training: the identical merge loop over the byte-grain
    * word table — at this grain a learned symbol may legitimately CROSS
    * a character boundary (half an emoji + the next letter), which is
    * exactly the behavior production byte-level tokenizers rely on for
    * open-vocabulary coverage. */
  def trainBytes(spark: SparkSession, dir: String,
                 rounds: Int = DefaultRounds): Seq[Merge] =
    trainOnWords(wordTableBytes(spark, dir), rounds)

  /** The fully-seamed word table: corpus → (word, freq, syms) at ANY
    * (pre-tokenizer, grain) pair. [[wordTable]]/[[wordTableBytes]] are
    * this at (ws, char)/(ws, byte); the GPT-2 shape is (gpt2, byte).
    * Same scale shape at every seam setting: ONE corpus pass, one
    * map-combinable word count, symbols minted on the vocab-bounded
    * distinct-word table. */
  def wordTableAt(spark: SparkSession, dir: String, grain: Grain,
                  preTok: PreTok = WhitespacePreTok): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(preTok.toksCol(col("text"))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", grain.symRule)

  /** Train a [[Vocab]] — the typed entry point: the merge loop over
    * [[wordTableAt]]'s table, with the segmentation pair RECORDED in
    * the returned artifact so every consumer replays it identically.
    * `trainVocab(spark, dir, grain = ByteGrain, preTok = Gpt2PreTok)`
    * is the production GPT-2 trainer shape. */
  def trainVocab(spark: SparkSession, dir: String,
                 rounds: Int = DefaultRounds,
                 grain: Grain = CharGrain,
                 preTok: PreTok = WhitespacePreTok): Vocab =
    Vocab(trainOnWords(wordTableAt(spark, dir, grain, preTok), rounds),
      grain, preTok)

  /** Train to a TARGET VOCABULARY SIZE — the production stopping rule
    * (GPT-2's 50257 = 256 bytes + 50000 merges + specials): rounds =
    * `targetVocab` − |base alphabet|. At [[ByteGrain]] the alphabet is
    * the FIXED 256-byte universe — the GPT-2 convention the 50257
    * arithmetic encodes — NOT the corpus-measured distinct count: a
    * corpus covering fewer than 256 bytes would otherwise earn extra
    * merges, and the realized vocabulary could exceed the target the
    * moment unseen bytes appear at encode time (r18 ADVICE). At
    * [[CharGrain]] no fixed universe exists, so the alphabet is the
    * corpus-measured distinct code-point count (one map-combinable
    * distinct over the vocab-bounded word table), and the realized
    * size is a statement about THIS corpus. Stops early if the corpus
    * saturates first (every word fully merged — [[trainOnWords]]'
    * early stop), in which case the realized vocabulary is smaller
    * than the target; and, per the standard convention, the target
    * counts alphabet + MERGE RULES — two rules can realize the same
    * symbol string (e.g. (a,bc) and (ab,c) both minting "abc"), so
    * the distinct-symbol count can sit a hair under
    * alphabet + merges. */
  def trainVocabToSize(spark: SparkSession, dir: String,
                       targetVocab: Int,
                       grain: Grain = CharGrain,
                       preTok: PreTok = WhitespacePreTok): Vocab = {
    val words = Materialize.eagerly(wordTableAt(spark, dir, grain, preTok))
    val alphabet = grain match {
      case ByteGrain => 256L
      case _ => words.select(explode(col("syms")).as("s"))
        .distinct().count()
    }
    require(targetVocab > alphabet,
      s"graft: target vocabulary $targetVocab must exceed the base " +
        s"alphabet ($alphabet symbols at grain '${grain.name}')")
    Vocab(trainOnWords(words, (targetVocab - alphabet).toInt),
      grain, preTok)
  }

  /** Adjacent-pair statistics over a (freq, syms) table: one row per
    * distinct (l, r) with n = Σ freq over every adjacent position —
    * [[TextAnalysis.bpePairs]]'s dataflow at symbol grain (narrow
    * explode, map-combinable aggregate). */
  def pairStats(words: DataFrame): DataFrame =
    words.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("n"))

  /** Train `rounds` merges on a (word?, freq, syms) table. Stops early
    * when no adjacent pair remains (every word fully merged). The
    * returned vocabulary is the learned artifact — k rows, inherently
    * driver-sized. */
  def trainOnWords(words: DataFrame, rounds: Int = DefaultRounds): Seq[Merge] = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    // one materialization; each round re-checkpoints the rewritten
    // vocab-bounded table (the pageRank unrolled-rounds shape) so the
    // plan never nests k aggregate() folds
    var cur = Materialize.eagerly(words.select(col("freq"), col("syms")))
    var round = 1
    while (round <= rounds) {
      val top = pairStats(cur)
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) round = rounds + 1
      else {
        val (l, r, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += Merge(out.size + 1, l, r, l + r, n)
        cur = Materialize.eagerly(
          cur.withColumn("syms", mergeFoldAt(lit(l), lit(r))))
        round += 1
      }
    }
    out.toSeq
  }

  /** Corpus entry point: word table from `documents`, then the loop. */
  def train(spark: SparkSession, dir: String,
            rounds: Int = DefaultRounds): Seq[Merge] =
    trainOnWords(wordTable(spark, dir), rounds)

  /** The learned vocabulary as a DataFrame (round asc) — the tabular
    * form a pipeline persists next to its shard manifest. */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF().select(col("round").cast("long").as("round"),
      col("left"), col("right"), col("merged"), col("n"))
      .orderBy("round")
  }

  /** Inverse of [[mergesDf]]: reload a persisted vocabulary from its
    * tabular form (any row order — the `round` column is the order of
    * record). A tokenizer is a model artifact: pipelines persist it
    * next to the shard manifest (parquet via the ordinary writer) and
    * replay it on every later corpus; this is the read side of that
    * round-trip. The merge table is k rows — inherently driver-sized,
    * the same bounded-collect family as the IVF centroid pull. */
  def mergesFromDf(df: DataFrame): Seq[Merge] =
    df.select(col("round").cast("long"), col("left"), col("right"),
        col("merged"), col("n").cast("long"))
      .orderBy("round").collect().toSeq
      .map(r => Merge(r.getLong(0).toInt, r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))

  /** [[mergesDf]] for a [[Vocab]]: the merge table PLUS the grain and
    * pre-tokenizer names on every row — the segmentation persists WITH
    * the artifact, so a vocabulary reloaded months later cannot be
    * replayed at the wrong seam (the whole point of the type). A
    * round-0 HEADER row carries the seam even when there are ZERO
    * merges — a legitimately trained empty vocabulary (every pre-token
    * already a single symbol) must survive the round-trip too, and
    * without the header its seam would vanish with the rows. */
  def vocabDf(spark: SparkSession, vocab: Vocab): DataFrame = {
    import spark.implicits._
    val header = Seq((0L, null: String, null: String, null: String, 0L))
      .toDF("round", "left", "right", "merged", "n")
    header.unionByName(mergesDf(spark, vocab.merges))
      .withColumn("grain", lit(vocab.grain.name))
      .withColumn("pre_tok", lit(vocab.preTok.name))
      .orderBy("round")
  }

  /** Inverse of [[vocabDf]]: requires exactly one (grain, pre_tok)
    * pair across the table — a mixed frame is two vocabularies
    * concatenated, which has no meaningful replay. The round-0 header
    * row is seam-only, never a merge. */
  def vocabFromDf(df: DataFrame): Vocab = {
    val seams = df.select("grain", "pre_tok").distinct().collect()
    require(seams.length == 1,
      s"graft: vocabulary table carries ${seams.length} distinct " +
        "(grain, pre_tok) pairs, expected exactly 1")
    Vocab(
      mergesFromDf(df.filter(col("round") >= 1)
        .drop("grain", "pre_tok")),
      Grain.forName(seams(0).getString(0)),
      PreTok.forName(seams(0).getString(1)))
  }

  /** Distributed encoder: applies the learned merges IN ORDER to a
    * (freq, syms) table — k chained folds, re-checkpointed every few
    * rounds to bound plan depth. Segmenting a NEW corpus with a learned
    * vocabulary is exactly this replay. */
  def encodeWords(words: DataFrame, merges: Seq[Merge]): DataFrame =
    merges.zipWithIndex.foldLeft(words) { case (df, (m, i)) =>
      val next = df.withColumn("syms", mergeFoldAt(lit(m.left), lit(m.right)))
      if ((i + 1) % 4 == 0) Materialize.eagerly(next) else next
    }

  /** Segmentation-aware corpus statistics (r16 depth item a):
    * corpus size quoted in LEARNED-BPE tokens rather than the
    * whitespace/regex proxies of [[TextAnalysis.tokenCount]] — the
    * number a training-data pipeline actually budgets against once a
    * tokenizer exists. One row: `words` (Σ freq), `bpe_tokens`
    * (Σ freq·|syms| after replaying the merges), `chars`
    * (Σ freq·Σ|sym| — conserved at every merge depth because a
    * segmentation partitions the word's characters; specs pin it), and
    * the two derived ratios `tokens_per_word` / `chars_per_token`
    * (the compression the vocabulary buys).
    *
    * Exactness: the three counts are BIGINT sums of BIGINT products;
    * the ratios are single rounded IEEE divisions of exact longs — no
    * engine-order float accumulation. Scale shape: runs entirely on
    * the vocab-bounded distinct-word table (corpus bytes were left
    * behind at the one word-count pass); one map-combinable global
    * aggregate, no window, no join. */
  /** [[tokenProfile]] for a [[Vocab]] — the typed corpus entry point:
    * the word table is minted at the vocabulary's OWN segmentation
    * (the untyped form takes a caller-built words table, where a
    * mismatched `syms` grain is the classic silent desync). */
  def tokenProfile(spark: SparkSession, dir: String,
                   vocab: Vocab): DataFrame =
    tokenProfile(wordTableAt(spark, dir, vocab.grain, vocab.preTok),
      vocab.merges)

  def tokenProfile(words: DataFrame, merges: Seq[Merge]): DataFrame =
    encodeWords(words, merges)
      .select(col("freq"),
        size(col("syms")).cast("long").as("toks"),
        expr("aggregate(syms, 0L, (a, s) -> a + length(s))").as("cs"))
      .agg(
        sum(col("freq")).as("words"),
        sum(col("freq") * col("toks")).as("bpe_tokens"),
        sum(col("freq") * col("cs")).as("chars"))
      .select(col("words"), col("bpe_tokens"), col("chars"),
        round(col("bpe_tokens").cast("double") / col("words"), 6)
          .as("tokens_per_word"),
        round(col("chars").cast("double") / col("bpe_tokens"), 6)
          .as("chars_per_token"))

  /** Learned-vocabulary coverage — [[TextAnalysis.vocabCoverage]]'s
    * rank/cumulative-share table re-based from whitespace words to the
    * LEARNED symbol alphabet: at each requested rank, the share of all
    * BPE-token occurrences the top-`rank` learned symbols cover. The
    * gauge that says whether a candidate vocab size actually pays for
    * itself on this corpus.
    *
    * Same exactness and plan discipline as the word-grain original:
    * exact BIGINT weighted counts, total order (cnt DESC, sym ASC) at
    * the rank boundary, ONE rounded division; the top-`ranks.max` rows
    * come off a TakeOrderedAndProject (per-partition heads — never a
    * global sort of the symbol table) and the cumulative window runs
    * over exactly `ranks.max` rows — constant-size, corpus-independent.
    * The symbol table itself is vocab-bounded (≤ |alphabet| + |merges|
    * distinct symbols), so even its aggregate is constant at 100×. */
  def learnedVocabCoverage(words: DataFrame, merges: Seq[Merge],
      ranks: Seq[Int] = TextAnalysis.VocabRanks): DataFrame = {
    require(ranks.nonEmpty && ranks.forall(_ >= 1),
      s"ranks must be non-empty positive (got $ranks)")
    val toks = encodeWords(words, merges)
      .select(col("freq"), explode(col("syms")).as("sym"))
    val total = toks.agg(sum(col("freq")).as("total"))
    val top = toks.groupBy("sym").agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("sym").asc)
      .limit(ranks.max)
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("sym").asc)
    top
      .withColumn("rank", row_number().over(ord))
      .withColumn("cum_cnt", sum(col("cnt")).over(ord.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .filter(col("rank").isin(ranks: _*))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("sym"), col("cnt"), col("cum_cnt"),
        round(col("cum_cnt").cast("double") / col("total"), 6)
          .as("coverage"))
      .orderBy("rank")
  }

  /** Per-document word-frequency table — the doc-grain analogue of
    * [[wordTable]] (same normalization contract), the input
    * [[docTokenCounts]] consumes. One corpus pass, map-combinable.
    * NOTE: a doc whose text yields no words (null, empty, whitespace-
    * only) has no row here — explode of an empty array emits nothing;
    * [[docTokenCountsOf]] restores such docs as 0-token rows. */
  def docWordTable(spark: SparkSession, dir: String): DataFrame =
    docWordTableOf(Tables.documents(spark, dir))

  /** [[docWordTable]] over any (doc_id, text, …) DataFrame — the
    * `*Of` planting seam the Dedup family established. */
  def docWordTableOf(docs: DataFrame): DataFrame =
    docWordTableOf(docs, WhitespacePreTok)

  /** [[docWordTableOf]] at any pre-tokenizer — the doc grain of
    * [[wordTableAt]]'s seam. */
  def docWordTableOf(docs: DataFrame, preTok: PreTok): DataFrame =
    docs
      .select(col("doc_id"),
        explode(preTok.toksCol(col("text"))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("freq"))

  /** Per-document corpus size in LEARNED tokens — the number sequence
    * packing and mixture budgeting actually consume once a tokenizer
    * exists (the doc grain of [[tokenProfile]]). For each doc_id:
    * `words` (Σ freq) and `bpe_tokens` (Σ freq·|encode(word)|).
    *
    * Scale shape: the expensive merge replay runs ONCE PER DISTINCT
    * WORD — a dictionary derived from the (doc, word) table by a
    * map-combinable re-aggregation, encoded through the k folds, then
    * joined back ON THE WORD KEY. The join is a plain equi-join:
    * Catalyst broadcasts the dictionary when it fits (it does at test
    * SFs) and falls back to a word-keyed shuffle join at 100 TB — the
    * dictionary is corpus-DISTINCT-words-sized, so forcing a broadcast
    * here would be the wrong call at scale; we deliberately leave the
    * strategy to the planner + AQE. Per-doc counts are exact BIGINTs;
    * no window, no cartesian. */
  def docTokenCounts(docWords: DataFrame, merges: Seq[Merge],
                     symRule: Column = symsCol): DataFrame = {
    docWords.join(dictOf(docWords, merges, symRule), "word")
      .groupBy("doc_id")
      .agg(sum(col("freq")).as("words"),
        sum(col("freq") * col("toks")).as("bpe_tokens"))
  }

  /** [[docTokenCounts]] over any (doc_id, text, …) DataFrame, with a
    * COMPLETE doc universe: a doc whose text yields no words (null,
    * empty, whitespace-only — real in any production crawl even though
    * absent from the test corpora) reports words=0 / bpe_tokens=0
    * instead of silently vanishing from the manifest. Counting null
    * text as 0 is the right contract for a BUDGETING surface (no
    * trainable content, no budget) — unlike the dedup REWRITE passes,
    * which fail loud on null text because emitting a rewritten null
    * would corrupt the corpus. The restore join is doc_id-keyed on two
    * doc-grained sides, and the universe scan prunes to doc_id only. */
  def docTokenCountsOf(docs: DataFrame, merges: Seq[Merge],
                       symRule: Column = symsCol): DataFrame =
    docTokenCountsCore(docs, merges, symRule, WhitespacePreTok)

  /** [[docTokenCountsOf]] for a [[Vocab]] — the typed consumer: the
    * pre-tokenizer AND grain replay from the artifact itself, so a
    * caller cannot budget a GPT-2-trained vocabulary over whitespace
    * words or a byte vocabulary over char symbols. Same plan, same
    * universe-complete contract. */
  def docTokenCountsOf(docs: DataFrame, vocab: Vocab): DataFrame =
    docTokenCountsCore(docs, vocab.merges, vocab.grain.symRule,
      vocab.preTok)

  /** The ONE universe-complete budgeting body both overloads share
    * (the chunkCore pattern): a divergent fix to the null-doc contract
    * in one seam would otherwise silently strand the other. */
  private def docTokenCountsCore(docs: DataFrame, merges: Seq[Merge],
                                 symRule: Column,
                                 preTok: PreTok): DataFrame =
    docs.select(col("doc_id"))
      .join(docTokenCounts(docWordTableOf(docs, preTok), merges, symRule),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("words"), lit(0L)).as("words"),
        coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"))

  /** Corpus entry point for [[docTokenCountsOf]] (char grain — a
    * byte-grain caller hands its corpus to [[docTokenCountsOf]] with
    * [[byteSymsCol]]; Scala allows default arguments on only one
    * overload). */
  def docTokenCounts(spark: SparkSession, dir: String,
                     merges: Seq[Merge]): DataFrame =
    docTokenCountsOf(Tables.documents(spark, dir), merges)

  /** Per-document learned-token CHUNKING — the in-document counterpart
    * of [[graft.operators.Curation.seqPackLearned]]: split each doc into
    * context-window chunks of `budgetTokens` LEARNED tokens along word
    * boundaries (a word belongs to the chunk its FIRST token lands in —
    * the same exclusive-prefix-sum/budget rule as seqPack, applied
    * per-doc). Emits the chunk manifest: (doc_id, chunk, n_words,
    * bpe_tokens, first_word, last_word) with word indices into the
    * doc's normalized word order. A doc with no words emits no chunks
    * (a chunk must hold ≥1 word) — the complement of
    * [[docTokenCountsOf]]'s universe-complete budgeting contract,
    * documented rather than accidental.
    *
    * Scale shape: one posexplode corpus pass; the merge replay runs once
    * per DISTINCT word (same dictionary equi-join as docTokenCounts,
    * strategy left to the planner); the prefix sum is a window
    * PARTITIONED BY doc_id — millions of small partitions, the
    * orderGaps/LAG precedent, never a single-task global window; the
    * manifest aggregate is map-combinable on (doc_id, chunk). */
  def chunkByTokens(docs: DataFrame, merges: Seq[Merge],
                    budgetTokens: Long,
                    symRule: Column = symsCol): DataFrame =
    chunkCore(docs, merges, budgetTokens, symRule, WhitespacePreTok)

  /** [[chunkByTokens]] for a [[Vocab]] — the typed consumer (see
    * [[docTokenCountsOf]]): word indices in the manifest index the
    * doc's PRE-TOKEN order at the vocabulary's own pre-tokenizer. */
  def chunkByTokens(docs: DataFrame, vocab: Vocab,
                    budgetTokens: Long): DataFrame =
    chunkCore(docs, vocab.merges, budgetTokens, vocab.grain.symRule,
      vocab.preTok)

  private def chunkCore(docs: DataFrame, merges: Seq[Merge],
                        budgetTokens: Long, symRule: Column,
                        preTok: PreTok): DataFrame = {
    require(budgetTokens >= 1, s"budget must be >= 1 (got $budgetTokens)")
    val words = docs
      .select(col("doc_id"), posexplode(preTok.toksCol(col("text"))))
      .toDF("doc_id", "idx", "word")
      .filter(length(col("word")) >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("idx")
    // widx: DENSE 0-based index into the doc's FILTERED word order — the
    // index a consumer slicing the normalized word list can actually
    // use. The raw posexplode idx (which counts the empty token a
    // leading whitespace mints) orders the window but never escapes.
    words.join(dictOf(words, merges, symRule), "word")
      .withColumn("widx", row_number().over(w).cast("long") - 1)
      .withColumn("prefix", coalesce(sum(col("toks")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("chunk", (col("prefix") / budgetTokens).cast("long"))
      .groupBy("doc_id", "chunk")
      .agg(count(lit(1)).as("n_words"), sum(col("toks")).as("bpe_tokens"),
        min(col("widx")).as("first_word"),
        max(col("widx")).as("last_word"))
      .orderBy("doc_id", "chunk")
  }

  /** Corpus entry point for [[chunkByTokens]] (char grain — see the
    * [[docTokenCounts]] corpus entry point's overload note). */
  def chunkByTokens(spark: SparkSession, dir: String, merges: Seq[Merge],
                    budgetTokens: Long): DataFrame =
    chunkByTokens(Tables.documents(spark, dir), merges, budgetTokens)

  /** Driver-side reference encoder over one word — the same
    * leftmost-first non-overlapping single pass per merge round, in
    * plain Scala. Specs pin the distributed fold against this; callers
    * use it for ad-hoc single-string segmentation. Splits into UNICODE
    * CODE POINTS — matching [[symsCol]]'s Spark substring semantics —
    * never UTF-16 code units: a code-unit walk would shred a
    * supplementary character (emoji, rare CJK) into lone surrogate
    * halves that can never match a learned multi-unit symbol, silently
    * diverging from every distributed consumer. */
  def encode(word: String, merges: Seq[Merge]): Seq[String] =
    encodeSyms(CharGrain.splitWord(word), merges)

  /** Driver-side reference encoder at BYTE grain — the word's UTF-8
    * bytes as the same 2-hex symbols [[byteSymsCol]] mints. */
  def encodeBytes(word: String, merges: Seq[Merge]): Seq[String] =
    encodeSyms(ByteGrain.splitWord(word), merges)

  /** Driver-side reference encoder for a [[Vocab]] over ONE pre-token
    * (splitting text into pre-tokens is [[PreTok.splitText]]'s job) —
    * the typed form of [[encode]]/[[encodeBytes]]. */
  def encode(word: String, vocab: Vocab): Seq[String] =
    encodeSyms(vocab.grain.splitWord(word), vocab.merges)

  /** The shared grain-agnostic merge replay both reference encoders
    * run: leftmost-first, non-overlapping, one pass per merge round. */
  private def encodeSyms(syms0: Vector[String],
                         merges: Seq[Merge]): Seq[String] = {
    var syms = syms0
    merges.foreach { m =>
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == m.left && syms(i + 1) == m.right) {
          out += m.merged; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  // -- rank-priority encode (r19: tiktoken's runtime semantics) ----------

  /** THE THIRD ENCODE SEMANTICS beside round-replay char/byte —
    * tiktoken/GPT-2's RUNTIME shape (encoder.py `bpe()`): instead of
    * replaying rounds 1..k once each in training order, repeatedly
    * find the adjacent pair with the LOWEST learned rank present in
    * the word and merge all its occurrences (leftmost-first,
    * non-overlapping), until no adjacent pair is in the merge table.
    * The two semantics agree on the training corpus but DIVERGE on
    * novel adjacency orders: round-replay never revisits an earlier
    * rule, so a low-rank pair whose adjacency only forms AFTER a
    * later rule applies stays unmerged — rank-priority merges it
    * (spec-planted: merges [(a,cd)@1, (c,d)@2] on "acd" give 2 tokens
    * round-replayed, 1 token rank-priority). A pipeline importing a
    * tiktoken-style vocabulary must bill with THIS replay; the
    * [[Vocab]]-typed surfaces keep the two semantics from mixing.
    *
    * Guards: merge symbols must be NUL-free (the pair-lookup key is
    * NUL-joined; with NUL-free merge symbols the lookup is exact for
    * ANY word symbols — a colliding split would need a NUL inside a
    * merge symbol), and (pair, rank) entries must be unique (a trained
    * table is; an imported one might not be — fail loud, don't guess
    * a priority).
    *
    * Scale shape: the loop runs on the vocab-bounded DISTINCT-word
    * table ([[dictOfRanked]] — the corpus was left behind at the one
    * word-count pass); per iteration one narrow per-row min-rank probe
    * (a literal map lookup per adjacency), one narrow fold rewrite,
    * one bounded existence check, re-checkpointed so plan depth stays
    * O(1); iteration count is the deepest per-word merge chain
    * (≤ the longest pre-token's symbol count), NOT |merges| — each
    * iteration merges every word's own current best pair in
    * parallel. */
  /** The imported-vocabulary guards BOTH rank-priority surfaces run —
    * the distributed loop and the driver replica must agree or BOTH
    * fail (a guard on one side only would let a malformed import
    * produce two different tokenizations of the same input, which is
    * worse than either failure): NUL-free symbols (the lookup-key
    * exactness argument), unique (pair, rank) entries (no priority
    * guessing), and merged == left + right (the distributed fold
    * mints the concatenation; a replica honoring a divergent `merged`
    * string would silently break the concatenation-restores-the-word
    * invariant). */
  private def rankGuards(merges: Seq[Merge]): Unit = {
    require(merges.forall(m =>
        !m.left.contains('\u0000') && !m.right.contains('\u0000')),
      "graft: rank-priority encode needs NUL-free merge symbols")
    require(merges.map(m => (m.left, m.right)).distinct.size ==
        merges.size && merges.map(_.round).distinct.size == merges.size,
      "graft: rank-priority encode needs unique (pair, rank) entries")
    require(merges.forall(m => m.merged == m.left + m.right),
      "graft: rank-priority encode needs merged == left + right")
  }

  private def rankEncodeCore(words: DataFrame,
                             merges: Seq[Merge]): DataFrame = {
    if (merges.isEmpty) return words
    rankGuards(merges)
    val rankMap = map_from_arrays(
      array(merges.map(m => lit(m.left + "\u0000" + m.right)): _*),
      array(merges.map(m => lit(m.round)): _*))
    val leftMap = map_from_arrays(
      array(merges.map(m => lit(m.round)): _*),
      array(merges.map(m => lit(m.left)): _*))
    val rightMap = map_from_arrays(
      array(merges.map(m => lit(m.round)): _*),
      array(merges.map(m => lit(m.right)): _*))
    // eager checkpoints bound plan depth to O(1) per iteration, but a
    // per-CALL budgeting surface must not accumulate iteration-count
    // copies of the word table in executor storage (the trainer's
    // caller-side hygiene only reaps after the whole job): track the
    // persistent-RDD ids each checkpoint mints and free the superseded
    // round table the moment its successor has materialized
    val sc = words.sparkSession.sparkContext
    def checkpointTracked(df: DataFrame)
        : (DataFrame, scala.collection.Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val ck = Materialize.eagerly(df)
      (ck, sc.getPersistentRDDs.keySet -- before)
    }
    var (cur, curIds) = checkpointTracked(words)
    var more = true
    while (more) {
      // the row's OWN best pair: min learned rank over its adjacencies
      // (try_element_at: absent pairs read null, array_min skips them;
      // the size guard keeps sequence() ascending — sequence(1, 0)
      // would DESCEND, not come back empty)
      val withMr = cur.withColumn("mr",
        when(size(col("syms")) >= 2,
          array_min(transform(
            sequence(lit(1), size(col("syms")) - 1),
            i => try_element_at(rankMap,
              concat(element_at(col("syms"), i), lit("\u0000"),
                element_at(col("syms"), i + 1)))))))
      val (stepped, steppedIds) = checkpointTracked(
        withMr.withColumn("syms",
          when(col("mr").isNull, col("syms"))
            .otherwise(mergeFoldAt(
              try_element_at(leftMap, col("mr")),
              try_element_at(rightMap, col("mr"))))))
      // termination: every touched word strictly shrank, so the loop
      // ends when no word still holds a table pair (bounded probe on
      // the checkpointed frame — never a second fold evaluation)
      more = stepped.filter(col("mr").isNotNull).limit(1).count() > 0
      curIds.foreach(id => sc.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
      cur = stepped.drop("mr")
      curIds = steppedIds
    }
    cur
  }

  /** Column rewriting `syms` with every (l, r) adjacency merged
    * leftmost-first, non-overlapping, in one pass — an aggregate() fold
    * with state (acc, pend): pend holds the one-symbol lookbehind; a
    * (pend=l, s=r) hit emits the merged symbol and CLEARS pend, so the
    * merged token never re-pairs with its own right context this round
    * (count-then-merge-once-per-round semantics; the new pair is counted
    * next round). The pair is COLUMNS: training and replay pass literals
    * (`concat` of two literals folds to one), the rank-priority step
    * merges each row's own (l, r). Columns-API lambdas, no SQL-string
    * literal splicing — corpus symbols may contain quotes. The
    * when-chain is CASE, not OR: the null-pend probe is reached only on
    * the first branch, so ANSI mode never evaluates pend = l against a
    * null. */
  private def mergeFoldAt(l: Column, r: Column): Column = {
    val init = struct(
      array().cast("array<string>").as("acc"),
      lit(null).cast("string").as("pend"))
    aggregate(
      col("syms"), init,
      (st, s) =>
        when(st.getField("pend").isNull,
          struct(st.getField("acc").as("acc"), s.as("pend")))
        .when(st.getField("pend") === l && s === r,
          struct(concat(st.getField("acc"), array(concat(l, r))).as("acc"),
            lit(null).cast("string").as("pend")))
        .otherwise(
          struct(concat(st.getField("acc"),
              array(st.getField("pend"))).as("acc"),
            s.as("pend"))),
      st =>
        when(st.getField("pend").isNull, st.getField("acc"))
        .otherwise(concat(st.getField("acc"), array(st.getField("pend")))))
  }

  /** Rank-priority encode of a (word, …) table at the vocabulary's OWN
    * grain — the typed distributed surface: `syms` is minted HERE from
    * the `word` column by the vocab's symbol rule, so a caller cannot
    * hand symbols at the wrong grain (the seam discipline every r18
    * consumer follows). Output carries the input columns plus the
    * rank-priority `syms`. */
  def rankEncodeWordTable(words: DataFrame, vocab: Vocab): DataFrame =
    rankEncodeCore(words.withColumn("syms", vocab.grain.symRule),
      vocab.merges)

  /** word → rank-priority token count dictionary (the
    * [[dictOf]] shape under the third semantics): the loop runs once
    * per DISTINCT word. */
  private def dictOfRanked(words: DataFrame, vocab: Vocab): DataFrame =
    rankEncodeCore(
      words.groupBy("word").agg(count(lit(1)).as("freq"))
        .withColumn("syms", vocab.grain.symRule),
      vocab.merges)
    .select(col("word"), size(col("syms")).cast("long").as("toks"))

  /** [[docTokenCountsOf]] under RANK-PRIORITY semantics — the budgeting
    * surface for an imported tiktoken-style vocabulary: same
    * universe-complete contract (a wordless doc reports 0/0), same
    * dictionary equi-join scale shape, the replay ranked instead of
    * round-ordered. Kept as a SEPARATE surface rather than a flag so
    * a pipeline cannot silently mix the two semantics' numbers. */
  def docTokenCountsRanked(docs: DataFrame, vocab: Vocab): DataFrame = {
    val docWords = docWordTableOf(docs, vocab.preTok)
    docs.select(col("doc_id"))
      .join(docWords.join(dictOfRanked(docWords, vocab), "word")
          .groupBy("doc_id")
          .agg(sum(col("freq")).as("words"),
            sum(col("freq") * col("toks")).as("bpe_tokens")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("words"), lit(0L)).as("words"),
        coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"))
  }

  /** Driver-side reference encoder for rank-priority semantics over
    * ONE pre-token — what the distributed loop is spec-pinned against
    * (the [[encode]] counterpart): repeatedly merge the lowest-ranked
    * present pair, all occurrences leftmost-first non-overlapping. */
  def encodeRanked(word: String, vocab: Vocab): Seq[String] = {
    rankGuards(vocab.merges)
    val rank = vocab.merges.map(m => (m.left, m.right) -> m.round).toMap
    val byRank = vocab.merges.map(m => m.round -> m).toMap
    encodeRankedUnits(vocab.grain.splitWord(word), rank.get, byRank)
  }

  /** The ONE unit-level rank-priority loop — [[encodeRanked]] calls it
    * with immutable maps over a whole vocabulary (units minted by the
    * grain's word splitter); the ranked-token IMPORT calls it with its
    * INCREMENTAL maps mid-reconstruction (units minted by the grain's
    * SYMBOL splitter — at byte grain a stored token string is already
    * hex pairs, so re-running the word splitter over it would hex the
    * hex). Parameterized over the lookups precisely so the two call
    * sites cannot diverge: a semantics fix lands in both or neither. */
  private def encodeRankedUnits(units: Vector[String],
                                rankOfPair: ((String, String)) => Option[Int],
                                ruleAt: Int => Merge): Vector[String] = {
    var syms = units
    var go = syms.length >= 2
    while (go) {
      val present = syms.indices.dropRight(1)
        .flatMap(i => rankOfPair((syms(i), syms(i + 1))))
      if (present.isEmpty) go = false
      else {
        val m = ruleAt(present.min)
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == m.left &&
              syms(i + 1) == m.right) {
            out += m.merged; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
        go = syms.length >= 2
      }
    }
    syms
  }

  // -- ranked-token interchange (r19: the tiktoken wire format) -----------

  /** Split a stored SYMBOL string back into its grain units — the
    * inverse view the ranked-token import needs. At char grain a
    * symbol is its code points; at byte grain a symbol is a
    * concatenation of lossless 2-hex pairs ([[byteSymsCol]]), so the
    * units are the pairs themselves — running the WORD splitter over
    * the hex string would hex the hex. */
  private def symUnits(grain: Grain, sym: String): Vector[String] =
    grain match {
      case CharGrain => CharGrain.splitWord(sym)
      case ByteGrain =>
        require(sym.length % 2 == 0 &&
            sym.forall(c => (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F')),
          s"graft: byte-grain token '$sym' is not a 2-hex symbol string")
        sym.grouped(2).toVector
    }

  /** EXPORT a vocabulary as the tiktoken-style ranked-token table —
    * the interchange format production tokenizers actually ship:
    * (token, rank) pairs where the MERGE PAIRS ARE IMPLICIT. Layout
    * matches the GPT-2 convention: the base alphabet first (rank
    * 0 … |A|−1 — the FIXED 256-hex-pair universe at byte grain, the
    * sorted set of units appearing in any merged token at char
    * grain), then the merged tokens in round order at |A|, |A|+1, ….
    * Token strings are the engine's grain symbols (hex pairs at byte
    * grain — `unhex` recovers exact bytes, the [[byteSymsCol]]
    * contract). Fails loud when two merges mint the same token string
    * (possible in principle for a trained table — "ab"+"c" and
    * "a"+"bc" both spell "abc" — but a string→rank table cannot
    * represent it). A RANK-INCONSISTENT table (a merge whose input is
    * only minted by a LATER round — constructible by hand, never by
    * training) exports fine as strings but fails loud on IMPORT,
    * which replays the ranks. */
  def vocabRankedTokens(vocab: Vocab): Seq[(String, Long)] = {
    rankGuards(vocab.merges)
    require(vocab.merges.map(_.merged).distinct.size == vocab.merges.size,
      "graft: ranked-token export needs distinct token strings — two " +
        "merges mint the same token, which a string→rank table cannot " +
        "represent")
    val alphabet: Seq[String] = vocab.grain match {
      case ByteGrain => (0 until 256).map(b => f"$b%02X")
      case CharGrain =>
        vocab.merges.flatMap(m => symUnits(CharGrain, m.merged))
          .distinct.sorted
    }
    val alphaSet = alphabet.toSet
    require(vocab.merges.forall(m => !alphaSet(m.merged)),
      "graft: a merged token collides with a base-alphabet unit")
    alphabet.zipWithIndex.map { case (u, i) => (u, i.toLong) } ++
      vocab.merges.sortBy(_.round).zipWithIndex.map { case (m, i) =>
        (m.merged, (alphabet.size + i).toLong)
      }
  }

  /** IMPORT a ranked-token table as a [[Vocab]] — the piece that lets
    * a pipeline consume a tiktoken-style vocabulary it did NOT train:
    * the format stores ranked TOKENS, so the merge pairs must be
    * RECOVERED. For each multi-unit token in rank order, rank-priority
    * encode it with the merges reconstructed so far (exactly the
    * runtime loop, restricted to lower ranks): a rank-consistent BPE
    * table — every real trained one — reduces it to EXACTLY the two
    * earlier tokens whose merge minted it, because the lowest-ranked
    * pair inside the token is by construction the merge that fired
    * first during training. Anything else fails loud: ≠2 surviving
    * symbols means the token is not derivable from earlier tokens at
    * this grain (missing alphabet row, rank-inconsistent table, or
    * the wrong grain entirely — never guess). The caller declares
    * grain and pre-tokenizer (an external file carries neither); the
    * returned rounds are 1 … k in rank order with n = 0 (the format
    * carries no training counts), ready for the RANKED consumers
    * ([[encodeRanked]]/[[docTokenCountsRanked]]/
    * [[rankEncodeWordTable]]) — the semantics the format implies.
    * Driver-side and vocab-bounded by design (the table is the same
    * size class as [[Merge]] lists; the corpus is never touched). */
  def vocabFromRankedTokens(tokens: Seq[(String, Long)], grain: Grain,
                            preTok: PreTok = WhitespacePreTok): Vocab = {
    require(tokens.map(_._1).distinct.size == tokens.size,
      "graft: ranked-token import needs distinct token strings")
    require(tokens.map(_._2).distinct.size == tokens.size,
      "graft: ranked-token import needs distinct ranks")
    // degenerate strings fail HERE, not at first use: an empty token
    // would be silently dropped (zero units), and a NUL-bearing one
    // would import fine only to trip rankGuards inside every ranked
    // consumer, far from the import that admitted it
    require(tokens.forall(_._1.nonEmpty),
      "graft: ranked-token import needs non-empty token strings")
    require(tokens.forall(!_._1.contains('\u0000')),
      "graft: ranked-token import needs NUL-free token strings")
    val ordered = tokens.sortBy(_._2)
    val rankOf = tokens.toMap
    // incremental rank/rule maps — rebuilding per token would make the
    // import O(k²) in vocabulary size, and production tables are 50k+
    val pairRound = scala.collection.mutable.HashMap.empty[(String, String), Int]
    val ruleOf = scala.collection.mutable.HashMap.empty[Int, Merge]
    val merges = Vector.newBuilder[Merge]
    var round = 0
    for ((tok, rank) <- ordered) {
      val units = symUnits(grain, tok)
      if (units.length >= 2) {
        val split = encodeRankedUnits(units, pairRound.get, ruleOf)
        require(split.length == 2,
          s"graft: token '$tok' (rank $rank) does not reduce to " +
            s"exactly two earlier tokens (got ${split.length} symbols) " +
            "— not a rank-consistent BPE table at this grain")
        val (l, r) = (split(0), split(1))
        for (part <- Seq(l, r))
          require(rankOf.get(part).exists(_ < rank),
            s"graft: token '$tok' (rank $rank) splits into '$part', " +
              "which is absent or not earlier-ranked in the table")
        round += 1
        val m = Merge(round, l, r, tok, 0L)
        merges += m
        pairRound((l, r)) = round
        ruleOf(round) = m
      }
    }
    Vocab(merges.result(), grain, preTok)
  }
}
