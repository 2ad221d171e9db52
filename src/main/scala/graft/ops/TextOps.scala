package graft.ops

import graft.exec.Plans
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-statistics operators for large-scale training-data pipelines —
  * token counting, quality scoring, language-ID, document fingerprinting,
  * exact deduplication. All pure Column expressions (whole-stage codegen,
  * no UDFs) so they vectorize and push through Catalyst unchanged at 100 TB.
  */
object TextOps {

  /** Winnowing gram length (chars) and window (hashes). */
  private val WinK = 5
  private val WinW = 4

  /** Salt of the per-doc md5 draws of the sampling operators. */
  private val SampleSeed = "graft"

  /** Non-empty whitespace tokens. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  /** Scale-adaptive fan-out for CPU-heavy narrow chains (guide §2.5 "input
    * skew — one huge unsplittable file … repartition immediately after the
    * read"): a single small parquet file scans as ONE split, so a
    * tokenize/shingle/md5 chain runs on one core of the whole machine
    * (measured: the q34 chain's ~1.3 s of task time sat in single-task
    * stages at local[32]). Conditional on the actual split count vs the
    * cluster's default parallelism, so multi-split inputs at scale are
    * untouched — no constant tuned to one box. Applied only inside
    * operators whose downstream per-row work dwarfs one exchange of the
    * input (a blanket version on every table read was measured and
    * rejected: light queries paid more in exchange + task scheduling than
    * they gained). The split count is read off the physical plan without a
    * job; an input behind an exchange counts none and is fanned out.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (Plans.inputPartitions(df) * 2 >= want) df else df.repartition(want)
  }

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  /** BPE-ish pre-tokenizer regex (GPT-2 style, minus the `\s+(?!\S)`
    * lookahead RE2 lacks — pure whitespace is simply not counted):
    * contractions, space-prefixed letter runs, digit runs, punctuation
    * runs. Engine-portable (Java regex ≡ RE2 on this subset), so the
    * DuckDB oracle replays counts exactly.
    */
  val bpeTokenRegex: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Approximate LLM-token count: matches of the BPE-ish pre-tokenizer —
    * the usual cheap stand-in for a real BPE vocab when budgeting training
    * tokens at corpus scale (a true tokenizer would slot into the same
    * column with a mapPartitions seam). Codegen'd, no UDF.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenRegex), lit(0))).cast("long")

  /** Normalized fingerprint — md5 of lowercase, whitespace-collapsed text
    * (F7-style content identity generalized to documents).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Winnowing document fingerprints (Schleimer et al., the MOSS scheme):
    * hash every `WinK` = 5-char gram, slide a window of `WinW` = 4 hashes,
    * select each window's MINIMUM (rightmost position on ties) — any
    * substring of length >= WinW+WinK-1 shared by two documents then
    * contributes at least one shared fingerprint, which whole-document md5
    * (`fingerprint`) cannot offer. This is the portable variant: gram hash = first 6 md5 hex chars
    * (engine-replayable in SQL); `winnowRolling` below is the same
    * selection over a true O(1)-per-position Karp-Rabin rolling hash — the
    * scale path when md5-per-gram is too hot. Output: (doc_id, pos, fp)
    * rows, distinct, pos = 1-based gram position of the selected hash.
    * Pure Column expressions (gram hashing + window selection run inside
    * one narrow projection; the only shuffle is the final distinct).
    */
  def winnowingFingerprints(docs: DataFrame): DataFrame = {
    val (k, w) = (WinK, WinW)
    // CASE guards: Spark's sequence(1, 0) counts DOWN, so an unguarded
    // too-short text would fabricate grams/windows at invalid positions
    val hashesExpr =
      s"case when length(text) >= $k then " +
        s"transform(sequence(1, length(text) - ${k - 1}), " +
        s"i -> cast(conv(substring(md5(substring(text, i, $k)), 1, 6), 16, 10) as bigint)) " +
        s"else cast(array() as array<bigint>) end"
    docs
      .selectExpr("doc_id", s"$hashesExpr as hs") // materialize BEFORE the
      // window lambda below — HOF lambdas get no common-subexpression
      // elimination, so an inlined gram-hash array would re-hash per window
      .selectExpr("doc_id",
        s"""explode(case when size(hs) >= $w then
           transform(sequence(1, size(hs) - ${w - 1}), s ->
           named_struct(
             'pos', s + $w - cast(array_position(reverse(slice(hs, s, $w)), array_min(slice(hs, s, $w))) as int),
             'fp', array_min(slice(hs, s, $w))))
           else cast(array() as array<struct<pos:int,fp:bigint>>) end) as sel""")
      .select(col("doc_id"), col("sel.pos").as("pos"), col("sel.fp").as("fp"))
      .distinct()
  }

  /** Karp-Rabin winnowing (the scale twin of `winnowingFingerprints`,
    * wired as a DataFrame stage by `winnowingFingerprintsRolling`):
    * polynomial rolling hash (base 257 mod 2^61-1) computed in O(1) per
    * position, same rightmost-min window selection. Returns distinct
    * (pos, fp) pairs, pos 1-based.
    */
  def winnowRolling(text: String): Seq[(Int, Long)] = {
    val (k, w) = (WinK, WinW)
    if (text == null || text.length < k) return Nil
    val M = (1L << 61) - 1
    val B = 257L
    def mulmod(a: Long, b: Long): Long = {
      // 128-bit multiply mod 2^61-1 via Math.multiplyHigh
      val hi = Math.multiplyHigh(a, b)
      val lo = a * b
      val r = (lo & M) + ((hi << 3) | (lo >>> 61))
      if (r >= M) r - M else r
    }
    var pow = 1L
    for (_ <- 1 until k) pow = mulmod(pow, B)
    val n = text.length - k + 1
    val hs = new Array[Long](n)
    var h = 0L
    for (i <- 0 until k) h = (mulmod(h, B) + text.charAt(i)) % M
    hs(0) = h
    for (i <- 1 until n) {
      h = (h + M - mulmod(text.charAt(i - 1), pow) % M) % M
      h = (mulmod(h, B) + text.charAt(i + k - 1)) % M
      hs(i) = h
    }
    if (n < w) return Nil
    val out = scala.collection.mutable.LinkedHashSet.empty[(Int, Long)]
    for (s <- 0 to n - w) {
      var best = s
      for (j <- s + 1 until s + w) if (hs(j) <= hs(best)) best = j // rightmost min
      out += ((best + 1, hs(best)))
    }
    out.toSeq
  }

  /** Winnowing fingerprints as a mapPartitions stage over `winnowRolling` —
    * the 100 TB path: the Column variant's window lambda re-evaluates
    * `slice`/`array_min` ~3× per position (higher-order-function lambdas get
    * no common-subexpression elimination — the repo-wide no-CSE discipline),
    * and its md5-per-gram hashing is ~25 JVM calls per position, while the
    * rolling hash is O(1) arithmetic per position with one linear selection
    * pass. Same output shape (doc_id, pos, fp) and the same rightmost-min
    * selection semantics over its own hash family (Karp-Rabin instead of
    * md5-prefix, so fp VALUES differ between the twins by design — the MOSS
    * guarantee, selection rule, and density are identical; OpsSpec asserts
    * all three). Narrow (no shuffle at all — per-doc dedup happens inside
    * the flatMap); the Column variant stays wired for q47 because its md5
    * grams are engine-replayable by the SQL oracle.
    */
  def winnowingFingerprintsRolling(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        winnowRolling(text).map { case (pos, fp) => (id, pos, fp) }
      })
      .toDF("doc_id", "pos", "fp")
  }

  /** Occurrences of a token with word boundaries via padded substring count
    * (replace-based so the same non-overlapping semantics hold in any engine).
    */
  def tokenOccurrences(text: Column, token: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val needle = s" $token "
    ((length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(needle), ""))) /
      lit(needle.length)).cast("long")
  }

  /** Non-overlapping substring occurrence count (Python str.count semantics —
    * the reference's A8 keyword matching counts substrings, not tokens).
    */
  def substrOccurrences(text: Column, needle: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(needle), ""))) /
      lit(needle.length)).cast("long")

  /** Language-ID stopword vote tables (heuristic n-gram/stopword approach). */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "nicht", "das"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "que", "y", "en"))

  /** CJK character-class vote ranges (BMP, so `length` = codepoints in both
    * Spark and DuckDB): stopword lists can't separate space-free scripts, so
    * these languages vote per CHARACTER. Ranges as (lo, hi) codepoints; ja
    * votes on kana only (Han alone → zh; Han + kana → ja — the standard
    * script-mix heuristic).
    */
  val langCharClasses: Seq[(String, Seq[(Int, Int)])] = Seq(
    "zh" -> Seq(0x4e00 -> 0x9fff),                     // CJK Unified Ideographs
    "ja" -> Seq(0x3040 -> 0x309f, 0x30a0 -> 0x30ff),   // Hiragana + Katakana
    "ko" -> Seq(0xac00 -> 0xd7af))                     // Hangul syllables

  private def charClassRegex(ranges: Seq[(Int, Int)]): String =
    ranges.map { case (lo, hi) => f"\\x{$lo%04x}-\\x{$hi%04x}" }.mkString("[", "", "]")

  /** Per-language char-class votes = count of characters in the ranges. */
  def charClassVotes(text: Column): Seq[(String, Column)] =
    langCharClasses.map { case (lang, ranges) =>
      lang -> (length(text) - length(regexp_replace(text, charClassRegex(ranges), ""))).cast("long")
    }

  def langVotes(text: Column): Seq[(String, Column)] =
    langStopwords.map { case (lang, words) =>
      lang -> words.map(w => tokenOccurrences(text, w)).reduce(_ + _)
    } ++ charClassVotes(text)

  /** Guessed language: CJK script detection first (ko → ja → zh precedence:
    * Hangul is unambiguous, kana implies Japanese even with Han present, Han
    * alone is Chinese), then argmax of stopword votes with fixed precedence
    * (en > de > fr > es), "und" (undetermined) when all zero.
    */
  def langGuess(text: Column): Column =
    langGuessFromVotes(langVotes(text).toMap.apply)

  /** [[langGuess]] over ALREADY-COMPUTED vote columns (one per language in
    * [[langVotes]] order). Use this when the votes are also selected as
    * output columns: recomputing them inside the guess CASE doubles the
    * expression tree — on the full 7-language table that single projection
    * overflows Janino's 64 KB method limit, silently dropping the whole
    * stage out of codegen into interpreted eval. Materialize the votes in
    * one projection, then guess from the named columns (CollapseProject
    * keeps the stage boundary because the aliases are non-cheap and
    * multiply referenced).
    */
  def langGuessFromVotes(vote: String => Column): Column = {
    val sw = langStopwords.map { case (lang, _) => lang -> vote(lang) }
    val maxVote = greatest(sw.map(_._2): _*)
    val stopwordGuess = sw.foldRight(lit("und"): Column) { case ((lang, v), acc) =>
      when(maxVote > 0 && v === maxVote, lit(lang)).otherwise(acc)
    }
    when(vote("ko") > 0, lit("ko"))
      .when(vote("ja") > 0, lit("ja"))
      .when(vote("zh") > 0, lit("zh"))
      .otherwise(stopwordGuess)
  }

  /** Quality score ∈ [0,1]: 0.4·coverage(tokens/100) + 0.3·lexical diversity
    * + 0.3·(1 − punctuation ratio). Length/punct/diversity ratios as in
    * standard web-text quality filters.
    */
  def qualityScore(text: Column): Column = {
    val t = tokenCount(text).cast("double")
    val d = distinctTokenCount(text).cast("double")
    val c = length(text).cast("double")
    val p = length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double")
    round(
      lit(0.4) * least(t / 100.0, lit(1.0)) +
        lit(0.3) * when(t > 0, d / t).otherwise(0.0) +
        lit(0.3) * (lit(1.0) - when(c > 0, p / c).otherwise(0.0)), 6)
  }

  /** Gopher-style repetition/quality signals per document (Rae et al. 2021
    * §A1.1 — the standard webtext "repetitious text" filters): bigram count,
    * distinct-bigram ratio, top-bigram share (the mass of the single most
    * repeated 2-gram), and mean word length. One narrow bigram explode +
    * one (doc, bigram) count + one per-doc reduction — two shuffles total,
    * both keyed on (doc_id[, bigram]) so they are uniform at 100 TB; docs
    * without bigrams keep a row (left join, zeroed stats).
    */
  /** Context-window chunking — split each document into fixed-size token
    * windows with overlap, the packing step feeding LM training (window =
    * model context, stride < window → overlap keeps no boundary token
    * unseen). Window starts are 0, stride, 2·stride, … while start < n;
    * the final window may be partial. Emits (doc_id, win_idx, start_tok,
    * win_tokens, chunk_hash) — the hash (md5 over the space-joined slice)
    * stands in for the chunk payload so downstream exact-dedup of windows
    * needs no text column.
    *
    * 100 TB shape: tokens materialized ONCE per doc (no-CSE-in-lambdas
    * discipline), then a narrow posexplode over the start sequence — zero
    * shuffles, work ∝ output windows; slice/concat_ws/md5 all codegen'd.
    * Zero-token docs produce zero windows (documented; the oracle filters
    * identically).
    */
  def tokenWindows(docs: DataFrame, window: Int = 64, stride: Int = 48): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .where(col("n") > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), col("n") - 1, lit(stride))))
      .withColumnRenamed("pos", "win_idx").withColumnRenamed("col", "start_tok")
      .select(col("doc_id"), col("win_idx"), col("start_tok"),
        slice(col("toks"), col("start_tok") + 1, lit(window)).as("chunk"))
      .select(col("doc_id"), col("win_idx").cast("long").as("win_idx"),
        col("start_tok").cast("long").as("start_tok"),
        size(col("chunk")).cast("long").as("win_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  def repetitionStats(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        length(concat_ws("", col("toks"))).cast("long").as("tok_chars"),
        NearDup.shingleArr(col("toks"), 2).as("bi"))
    val counts = base.select(col("doc_id"), explode(col("bi")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
    val stats = counts.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_bigrams"),
      count(lit(1)).as("n_distinct_bigrams"),
      max(col("c")).as("top_c"))
    base.join(stats, Seq("doc_id"), "left").select(
      col("doc_id"),
      coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
      round(coalesce(col("n_distinct_bigrams").cast("double") / col("n_bigrams"), lit(0.0)), 6)
        .as("distinct_bigram_ratio"),
      round(coalesce(col("top_c").cast("double") / col("n_bigrams"), lit(0.0)), 6)
        .as("top_bigram_share"),
      round(when(col("n_tokens") > 0, col("tok_chars").cast("double") / col("n_tokens"))
        .otherwise(0.0), 6).as("mean_word_len"))
  }

  /** Exact dedup: canonical doc per identical text = min doc_id of the
    * md5(text) group (hash-groupBy; partial agg map-side, single shuffle
    * on the 32-byte hash — minimal exchange at 100 TB).
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    val h = docs.select(col("doc_id"), md5(col("text")).as("text_hash"))
    val groups = h.groupBy("text_hash")
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("group_size"))
    h.join(groups, Seq("text_hash"))
      .select(col("doc_id"), col("canonical_doc_id"),
        (col("doc_id") =!= col("canonical_doc_id")).as("is_duplicate"),
        col("group_size"))
  }

  /** C4-style exact span dedup (Raffel et al. 2020 §2.2 — C4 removed all
    * but one occurrence of any three-sentence span; this corpus has no
    * sentence boundaries, so the span unit is `span` consecutive tokens,
    * non-overlapping, trailing partial kept). First occurrence in corpus
    * order wins: the occurrence with the lexicographically smallest
    * (doc_id, chunk_idx) is canonical, every other identical span is a
    * duplicate. Output per document: total chunks, duplicate chunks, and
    * tokens a C4-style rewrite would remove. Docs with no tokens keep a
    * zeroed row.
    *
    * 100 TB shape: one narrow chunk projection (token array materialized
    * BEFORE the slice lambda — no-CSE discipline), one groupBy on the
    * 32-char chunk hash (uniform keys, map-side partial min), one join
    * back on the same hash, one per-doc aggregation.
    */
  def spanDedup(docs: DataFrame, span: Int = 10): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val chunks = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // guard: sequence(1, 0) counts DOWN — empty docs must not fabricate chunks
      .selectExpr("doc_id",
        s"""case when size(toks) >= 1 then
              transform(sequence(1, cast(ceil(size(toks) / $span.0) as int)),
                        i -> slice(toks, (i - 1) * $span + 1, $span))
            else cast(array() as array<array<string>>) end as chs""")
      .select(col("doc_id"), posexplode(col("chs")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("chunk_idx"),
        md5(concat_ws(" ", col("col"))).as("h"),
        size(col("col")).cast("long").as("n_toks"))
    val first = chunks.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
    val flagged = chunks.join(first, Seq("h"))
      .select(col("doc_id"), col("n_toks"),
        (!(col("doc_id") === col("f.doc_id") && col("chunk_idx") === col("f.chunk_idx")))
          .as("is_dup"))
    val agg = flagged.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
      sum(when(col("is_dup"), col("n_toks")).otherwise(0L)).as("n_tokens_removed"))
    ids.join(agg, Seq("doc_id"), "left").select(
      col("doc_id"),
      coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
      coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
      coalesce(col("n_tokens_removed"), lit(0L)).as("n_tokens_removed"))
  }

  /** Gopher document-level quality filters (Rae et al. 2021 §A1.1, the
    * doc-level companion of `repetitionStats`): token-count bounds, mean
    * word length bounds, minimum fraction of tokens containing an
    * alphabetic character, and the "contains at least 2 DISTINCT
    * stopwords" rule. Pure Column expressions (codegen, zero
    * shuffle); the stopword list is a parameter because Gopher's eight
    * English words are corpus-specific by design.
    */
  def gopherQualityFilters(docs: DataFrame,
                           stopwords: Seq[String],
                           minTokens: Long = 50, maxTokens: Long = 100000,
                           minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                           minAlphaFrac: Double = 0.8): DataFrame = {
    val swArr = array(stopwords.map(lit): _*)
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        length(concat_ws("", col("toks"))).cast("long").as("tok_chars"),
        size(filter(col("toks"), t => t.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
        size(array_intersect(array_distinct(col("toks")), swArr)).cast("long").as("n_stopwords"))
      .select(col("doc_id"), col("n_tokens"),
        round(when(col("n_tokens") > 0,
          col("tok_chars").cast("double") / col("n_tokens")).otherwise(0.0), 6)
          .as("mean_word_len"),
        round(when(col("n_tokens") > 0,
          col("n_alpha").cast("double") / col("n_tokens")).otherwise(0.0), 6)
          .as("alpha_frac"),
        col("n_stopwords"))
      .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
        col("alpha_frac"), col("n_stopwords"),
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens).as("tokens_ok"),
        (col("mean_word_len") >= minMeanWordLen && col("mean_word_len") <= maxMeanWordLen)
          .as("mwl_ok"),
        (col("alpha_frac") >= minAlphaFrac).as("alpha_ok"),
        (col("n_stopwords") >= 2).as("stop_ok"))
      .withColumn("keep",
        col("tokens_ok") && col("mwl_ok") && col("alpha_ok") && col("stop_ok"))
  }

  /** Per-group boilerplate span detection (the CCNet/RefinedWeb "strip
    * content repeated across a site" rule, re-expressed over token
    * bigram spans because this corpus has no line structure): a span is
    * boilerplate within its `source` (the site/domain) when it occurs in
    * at least 2 documents AND at least `minFrac` of the source's
    * documents. Output per document: distinct spans, boilerplate
    * spans, boilerplate fraction.
    *
    * 100 TB shape: per-doc-distinct spans via `array_distinct` INSIDE the
    * array (zero exchange — the measured MinhashProbe discipline), one
    * groupBy on (group, span) with uniform keys, the per-group doc-count
    * dimension broadcast (#groups ≪ corpus), one per-doc aggregation.
    */
  def boilerplateSpans(docs: DataFrame, minFrac: Double = 0.2): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val spans = docs
      .select(col("doc_id"), col("source").as("grp"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("grp"),
        explode(array_distinct(NearDup.shingleArr(col("toks"), 2))).as("s"))
    val groupSizes = docs.groupBy(col("source").as("grp"))
      .agg(count(lit(1)).as("n_docs"))
    val freq = spans.groupBy(col("grp"), col("s")).agg(count(lit(1)).as("c"))
    val boiler = freq.join(broadcast(groupSizes), Seq("grp"))
      .where(col("c") >= 2L &&
        col("c").cast("double") / col("n_docs") >= minFrac)
      .select(col("grp"), col("s"), lit(true).as("is_boiler"))
    val agg = spans.join(boiler, Seq("grp", "s"), "left")
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler_spans"))
    ids.join(agg, Seq("doc_id"), "left").select(
      col("doc_id"),
      coalesce(col("n_spans"), lit(0L)).as("n_spans"),
      coalesce(col("n_boiler_spans"), lit(0L)).as("n_boiler_spans"),
      round(coalesce(col("n_boiler_spans").cast("double") / col("n_spans"), lit(0.0)), 6)
        .as("boiler_frac"))
  }

  /** Per-document top-3 terms by TF-IDF (scikit-style smoothed idf:
    * ln((N+1)/(df+1)) + 1, so a term in every document still scores > 0).
    * Ties broken by token ascending — fully deterministic, and the score is
    * rounded to 6dp BEFORE ranking so both engines rank identical values.
    *
    * 100 TB shape: one (doc, token) count aggregation (uniform keys), one
    * token-keyed document-frequency aggregation reusing it, the 1-row
    * corpus size broadcast, and one doc-partitioned window for the top-k
    * (doc keys are uniform; the bound is a constant so the window is a
    * bounded per-partition heap under rank pushdown).
    */
  def tfidfTopK(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, Seq("tok")).crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        round(col("tf") * (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1.0), 6)
          .as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 3)
  }

  /** BM25 top-k retrieval (Robertson/Spärck Jones probabilistic ranking,
    * the Lucene/Elasticsearch default): for each query in `queries`
    * (query_id, qtext), the k highest-scoring documents under
    * score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl)),
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)), with the Lucene defaults
    * k1 = 1.2 and b = 0.75. Ties broken by doc_id asc.
    *
    * Determinism across engines: each per-term contribution is computed in
    * one fixed left-associated double expression, rounded to 6 dp and cast
    * to DECIMAL(18,6) BEFORE the per-(query,doc) sum — decimal addition is
    * exact and order-independent, so the final double score is bit-identical
    * regardless of aggregation order (the same discipline as q01's decimal
    * sums). avgdl is expressed as dl·N/Σdl to divide once.
    *
    * 100 TB shape: one token explode; (doc,term) tf and doc-length
    * aggregations; a vocabulary-sized df aggregation; the QUERY side —
    * tiny by construction — broadcast onto the tf table so the only big
    * shuffles are the tf/dl hash aggregations; corpus stats are a 1-row
    * broadcast. Top-k per query is a window over ≤ |matching docs| rows.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (k1, b) = (1.2, 0.75)
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    // doc length off the (doc, term) table, not a second corpus explode:
    // dl = Σ tf per doc exactly (one tokenize pass instead of two)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qt = queries.select(col("query_id"),
      explode(array_distinct(tokens(col("qtext")))).as("tok"))
    val contrib = round(
      log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        ((col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") * col("n_docs") / col("sum_dl")))),
      6).cast("decimal(18,6)")
    val scored = tf.join(dl, Seq("doc_id")).join(dfreq, Seq("tok"))
      .join(broadcast(qt), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), contrib.as("contrib"))
    val agg = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).cast("double").as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id").asc)
    agg.withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= k)
  }

  /** Corpus-unigram language-model quality score (the cheap stand-in for
    * KenLM perplexity filtering à la CCNet): p(tok) = corpus count / total
    * tokens, per-document score = mean log10 p over its tokens (higher =
    * more typical of the corpus). Deterministic — the model is the corpus
    * itself.
    *
    * 100 TB shape: one token explode, one vocabulary aggregation (token
    * keys, uniform; Heaps' law keeps the vocab ≪ corpus), the 1-row total
    * broadcast, one join back on token, one per-doc aggregation. Docs with
    * no tokens keep a row (null score).
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).as("t"))
    val scored = toks.join(vocab, Seq("tok")).crossJoin(broadcast(total))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log10(col("c").cast("double") / col("t"))), 6).as("avg_logprob"))
    ids.join(scored, Seq("doc_id"), "left").select(
      col("doc_id"),
      coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
      col("avg_logprob"))
  }

  /** Train/eval contamination check (GPT-3/PaLM-style benchmark-overlap
    * scan): for every training document, the number of its distinct token
    * n-grams that also appear in the eval corpus, how many distinct eval
    * docs are hit, and a contaminated flag at `threshold` overlap fraction.
    *
    * 100 TB shape: the eval side (a benchmark suite) is tiny next to the
    * training corpus, so its (gram, eval_doc) table is BROADCAST — the
    * training side streams through one map-side join, and the only shuffle
    * is the per-train-doc aggregation on uniform doc_id keys. Per-doc
    * distinct grams via array_distinct BEFORE the explode (zero exchange).
    * Docs with < n tokens keep a row (explode_outer) with n_grams = 0.
    */
  def contaminationCheck(train: DataFrame, eval: DataFrame, n: Int = 8,
                         threshold: Double = 0.2): DataFrame = {
    // tokens materialized in their OWN projection before the shingle
    // lambda: shingleArr's transform references the array 8× per position
    // and HOF lambdas get no CSE — inlining tokens() here re-tokenized
    // every doc hundreds of times (measured 17.8 s → ~1 s on q57 at sf0.1)
    def grams(df: DataFrame) =
      df.select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          array_distinct(NearDup.shingleArr(col("toks"), n)).as("grams"))
    val evalPairs = grams(eval)
      .select(explode(col("grams")).as("gram"), col("doc_id").as("eval_doc"))
    val tg = grams(train).select(col("doc_id"),
      size(col("grams")).cast("long").as("n_grams"),
      explode_outer(col("grams")).as("gram"))
    tg.join(broadcast(evalPairs), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        count_distinct(when(col("eval_doc").isNotNull, col("gram"))).as("n_overlap"),
        count_distinct(col("eval_doc")).as("n_eval_docs"))
      .select(col("doc_id"), col("n_grams"), col("n_overlap"), col("n_eval_docs"),
        when(col("n_grams") > 0,
          round(col("n_overlap").cast("double") / col("n_grams"), 6))
          .otherwise(0.0).as("overlap_frac"))
      .withColumn("contaminated", col("overlap_frac") >= threshold)
  }

  /** Deterministic stratified corpus sampling (training-mixture
    * construction): keep a document iff u < rate(stratum), where
    * u = first-32-bits-of-md5(seed:doc_id) / 2^32, seed = `SampleSeed` — a
    * pure, engine-portable per-doc uniform draw (no RNG state, identical on
    * re-run and on any engine). The stratum is `source`; unlisted strata
    * fall back to `defaultRate`.
    *
    * 100 TB shape: a pure narrow filter — zero shuffles, zero joins; the
    * rate table is a folded CASE expression (a handful of strata), and the
    * selection hash reuses the doc id already in hand, so the scan's column
    * pruning keeps only (id, stratum) + carried columns.
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
                       defaultRate: Double = 0.0): DataFrame = {
    val u = (conv(substring(md5(concat(lit(SampleSeed), lit(":"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)).as("u")
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(col("source") === lit(k), lit(v)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("source").as("stratum"),
        rate.as("rate"), u)
      .where(col("u") < col("rate"))
      .select(col("doc_id"), col("stratum"), col("rate"), round(col("u"), 6).as("u6"))
  }

  /** Deterministic EXACT-k per-stratum sample — the fixed-budget sibling of
    * `stratifiedSample` (that one keeps a RATE, this one keeps exactly
    * min(k, |stratum|) rows): rank rows inside each stratum by a portable
    * md5 draw (id tiebreak) and keep the k smallest. Equivalent to a
    * reservoir sample but order-independent and re-runnable — the same k
    * rows come back on every engine and every retry, which is what a
    * debugging/eval-set cut needs.
    *
    * 100 TB shape: one hash-partitioned sort per stratum (the window);
    * skew = the largest stratum's sort. When k/|stratum| is tiny, pre-
    * filtering by a draw threshold (stratifiedSample) before ranking
    * bounds the sort input — compose the two for mega-strata.
    */
  def stratumTopK(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val draw = md5(concat(lit(SampleSeed), lit(":k:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("stratum")).orderBy(col("draw").asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source").as("stratum"), draw.as("draw"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  /** WEIGHTED per-stratum sampling without replacement (Efraimidis &
    * Spirakis A-Res, deterministic): keep the k items with the largest
    * u^(1/w) keys per stratum — inclusion probability proportional to
    * weight, the scheme data-mixing pipelines use to over-sample long/
    * high-quality documents at a fixed per-source budget. Ranked on the
    * LOG key ln(u)/w — the same ordering (ln is monotone), but ln is the
    * one transcendental this repo has repeatedly verified bit-stable
    * across engines, where pow(x, 1/w) is not guaranteed correctly
    * rounded. The key is rounded to 6 dp BEFORE ranking (doc_id breaks
    * ties), so a last-ulp ln difference cannot reorder.
    *
    * 100 TB shape: the draw/key is one narrow codegen'd expression; the
    * only heavy op is the per-stratum rank window (same shape as
    * stratumTopK — pre-thin with stratifiedSample for mega-strata).
    */
  def weightedStratumSample(docs: DataFrame, k: Int, weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = conv(substring(md5(concat(lit(SampleSeed), lit(":ws:"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)
    val w = Window.partitionBy(col("stratum")).orderBy(col("skey").desc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source").as("stratum"),
        col(weightCol).cast("long").as("weight"),
        round(log(u) / col(weightCol), 6).as("skey"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  /** Positional phrase search over the corpus — exact "words in a row"
    * retrieval (the inverted-index-with-positions query class). Instead of
    * the classic per-term posting-list self-join (one join per phrase
    * word, skewed on common terms), each phrase of n words is matched as
    * ONE n-gram posting: the doc's n-gram stream equi-joined against the
    * broadcast phrase table — one narrow scan per distinct phrase LENGTH,
    * zero self-joins, overlapping occurrences counted naturally
    * ("table table table" contains "table table" twice). The DuckDB
    * oracle replays the CLASSIC positional-join formulation, so the two
    * independent algorithms must agree row-for-row.
    * Output: (phrase_id, doc_id, n_occurrences), rows only where > 0.
    */
  def phraseSearch(docs: DataFrame, phrases: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .localCheckpoint() // one tokenize, shared by every phrase-length pass
    val byLen = phrases.groupBy(_._2.trim.split("\\s+").length).toSeq.sortBy(_._1)
    byLen.map { case (n, ps) =>
      val pdf = ps.map { case (pid, txt) =>
        (pid, txt.trim.split("\\s+").mkString(" ")) }.toDF("phrase_id", "phrase")
      toks.select(col("doc_id"), explode(NearDup.shingleArr(col("toks"), n)).as("phrase"))
        .join(broadcast(pdf), Seq("phrase"))
        .groupBy(col("phrase_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_occurrences"))
    }.reduce(_ unionAll _)
  }

  /** Shannon entropy of the token distribution per `source` — the corpus-
    * diversity signal data-mixing pipelines track per source (a source
    * whose token entropy collapses is template spam; one whose entropy is
    * anomalously high is often binary junk). H = −Σ p·log2 p over the
    * group's token frequencies.
    *
    * Determinism: each term's −p·log2 p is computed in one fixed double
    * tree, rounded to 9 dp and cast to DECIMAL(18,9) BEFORE the sum —
    * decimal addition is exact and order-independent (the q74/BM25
    * discipline), so the entropy is engine-identical no matter how Spark
    * partitions the vocabulary.
    *
    * 100 TB shape: one (group, token) count aggregation (vocabulary-
    * bounded), one group-total aggregation joined back, one decimal sum.
    * Output: (source, n_tokens, n_distinct, entropy_bits).
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("source").as("grp"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("grp"), col("tok")).agg(count(lit(1)).as("c"))
    val totals = tf.groupBy(col("grp"))
      .agg(sum(col("c")).as("t"), count(lit(1)).as("n_distinct"))
    // log2 spelled as ln(p)/ln(2) in BOTH engines (a native log2 may round
    // differently from the ratio; ln itself is proven bit-stable here)
    val p = col("c") / col("t")
    val term = round(-p * (log(p) / log(lit(2.0))), 9).cast("decimal(18,9)")
    tf.join(totals, Seq("grp"))
      .select(col("grp"), col("t"), col("n_distinct"), term.as("h"))
      .groupBy(col("grp"), col("t"), col("n_distinct"))
      .agg(sum(col("h")).cast("double").as("entropy_bits"))
      .select(col("grp").as("source"), col("t").as("n_tokens"),
        col("n_distinct"), col("entropy_bits"))
  }

  /** Content-novelty rate — the dedup-adjacent contribution score: in
    * doc_id order, what fraction of a document's distinct shingles has
    * never appeared in ANY earlier document? Docs full of already-seen
    * content score near 0 (candidates for dropping even when no single
    * near-dup pair fires); the metric ranks a crawl by marginal value.
    *
    * 100 TB shape: one (gram → min doc_id) aggregation over the deduped
    * gram stream (first-seen owner, map-side partial min) joined back to
    * the per-doc grams — two shuffles on uniform gram keys; no ordering
    * or windowing over the corpus.
    * Output: (doc_id, n_grams, n_novel, novelty) — novelty = n_novel /
    * n_grams rounded 6dp; gramless docs keep a row with nulls.
    */
  def noveltyRate(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(array_distinct(NearDup.shingleArr(col("toks"), 3))).as("g"))
    val firstSeen = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    val scored = grams.join(firstSeen, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel") / col("n_grams"), 6))
    ids.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), col("n_novel"), col("novelty"))
  }

  /** PII detection + scrubbing (CCNet/Dolma-style pre-training hygiene):
    * count and replace emails, IPv4 addresses, and US-style phone numbers
    * with typed placeholder tags. Patterns are lookaround-free so Java
    * regex ≡ RE2 ≡ DuckDB — the scrubbed text itself is oracle-comparable.
    *
    * 100 TB shape: pure codegen'd Column expressions (regexp_count +
    * chained regexp_replace), zero shuffles — scales as a narrow map over
    * the scan. Order matters: emails are scrubbed BEFORE phones so a digit
    * run inside a local-part can't double-match.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"

  def piiScrub(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nEmail = size(regexp_extract_all(t, lit(emailRe), lit(0)))
    val nIp = size(regexp_extract_all(t, lit(ipv4Re), lit(0)))
    val nPhone = size(regexp_extract_all(t, lit(phoneRe), lit(0)))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(t, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")
    docs.select(col("doc_id"),
      nEmail.cast("long").as("n_emails"),
      nIp.cast("long").as("n_ips"),
      nPhone.cast("long").as("n_phones"),
      scrubbed.as("scrubbed"))
      .withColumn("pii_free", col("n_emails") + col("n_ips") + col("n_phones") === 0)
  }

  /** Pointwise mutual information of ADJACENT token bigrams over the whole
    * corpus — the collocation detector ("New York" scores high because the
    * pair beats its unigram independence baseline):
    *   pmi(x,y) = ln( (c_xy/B) / ((c_x/N)·(c_y/N)) )
    * with B = Σ bigrams, N = Σ tokens. `minCount` floors c_xy (rare pairs
    * have garbage PMI).
    *
    * 100 TB shape: tokens materialized ONCE (no-CSE lambda discipline),
    * narrow struct-pair explode, then two uniform-keyed count aggregates;
    * the 1-row B/N totals are crossJoin-broadcast back (never collected);
    * unigram joins broadcast when the vocab is small, shuffled-hash
    * otherwise — either way keyed on tokens, the same key space the counts
    * already shuffled on. Arithmetic is written in the exact tree shape
    * the oracle replays (double division/multiplication order) so the
    * rounded PMI is bit-identical.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val pairs = toks.select(explode(
      when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("x"),
            element_at(col("toks"), i + 1).as("y"))))
        .otherwise(array().cast("array<struct<x:string,y:string>>"))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val bi = pairs.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
    val totB = bi.agg(sum(col("c_xy")).as("bb"))
    val totN = uni.agg(sum(col("c")).as("nn"))
    bi.where(col("c_xy") >= minCount)
      .join(uni.select(col("tok").as("x"), col("c").as("c_x")), "x")
      .join(uni.select(col("tok").as("y"), col("c").as("c_y")), "y")
      .crossJoin(broadcast(totB)).crossJoin(broadcast(totN))
      .select(col("x"), col("y"), col("c_xy"),
        round(log((col("c_xy").cast("double") / col("bb").cast("double")) /
          ((col("c_x").cast("double") / col("nn").cast("double")) *
            (col("c_y").cast("double") / col("nn").cast("double")))), 6)
          .as("pmi"))
  }
}
