package graft.textanalysis

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators of the training-data pipeline — language ID,
 * quality scoring, token counting, fingerprinting — over `documents`-shaped
 * text columns.
 *
 * Everything here is a pure Column expression (whole-stage codegen, no UDFs),
 * deterministic, and mirrors 1:1 into portable ANSI-ish SQL so each operator
 * is oracle-checkable (see SparkEntry.oracleSql). Per-row only — no shuffles;
 * these run scan-side at 100 TB and cost one pass.
 */
object TextAnalysis {

  /**
   * Character-class language heuristic: script detection first (CJK → zh),
   * then diacritic marker classes for de/es/fr, default en. This is the
   * standard cheap first-stage filter of corpus pipelines (full n-gram models
   * are a broadcast-table upgrade of the same shape: per-class evidence
   * counts → argmax).
   */
  def langId(text: Column): Column =
    // rlike = single regex find with early exit — equivalent to "any match
    // exists" without materializing every match the way regexp_extract_all
    // would (which allocates one array element per matching char)
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(text.rlike("[äöüßÄÖÜ]"), "de")
      .when(text.rlike("[áíóúñ¿¡]"), "es")
      .when(text.rlike("[àâçêëîïôùûœ]"), "fr")
      .otherwise("en")

  /** Whitespace tokens (Python `str.split()` semantics: empty → []). For
    * multi-metric queries, materialize this ONCE as a real column and feed
    * the `...Of` component forms — inlining it into several metrics
    * re-evaluates the split per metric (interpreted HOF, no CSE across
    * lambda-bearing expressions). */
  def wsTokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Whitespace token count (Python `str.split()` semantics: empty → 0). */
  def wsTokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish subword count: runs of letters, runs of digits, and single
    * non-alnum glyphs — the standard pre-tokenizer regex shape. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Fraction of characters that are ASCII letters or space. Counted by
    * deleting the complement class and measuring what remains — one regex
    * pass, no per-match array allocation. */
  def alphaRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      length(regexp_replace(lower(text), "[^a-z ]", "")).cast("double") / length(text))

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", "")).cast("double") / length(text))

  /** English stopword-hit ratio over whitespace tokens (tiny embedded list —
    * a quality signal: natural prose has a stable stopword mass). */
  val stopwords: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")

  /** Stopword ratio over an already-materialized LOWERCASED token column. */
  def stopwordRatioOf(lowerToks: Column): Column = {
    val hits = size(filter(lowerToks, t => t.isin(stopwords.map(lit(_)): _*)))
    when(size(lowerToks) === 0, 0.0).otherwise(hits.cast("double") / size(lowerToks))
  }

  def stopwordRatio(text: Column): Column = stopwordRatioOf(wsTokens(lower(text)))

  /** Mean token length over an already-materialized token column. */
  def meanTokenLenOf(toks: Column): Column =
    when(size(toks) === 0, 0.0)
      .otherwise(aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / size(toks))

  /** Composite quality from already-computed components (see [[qualityScore]]). */
  def qualityFrom(nTokens: Column, alpha: Column, stopr: Column, punct: Column): Column = {
    val lenScore = least(nTokens.cast("double") / 100.0, lit(1.0))
    greatest(least(
      lenScore * 0.3 + alpha * 0.4 + stopr * 0.3 - punct * 0.5,
      lit(1.0)), lit(0.0))
  }

  /**
   * Composite quality score in [0, 1]: length band + alpha mass + stopword
   * presence − punctuation noise. Weights are the documented heuristic, not
   * learned; the operator shape (bounded per-row score for filter thresholds)
   * is what the pipeline needs. Multi-metric queries should materialize the
   * components and call [[qualityFrom]] instead (one evaluation each).
   */
  def qualityScore(text: Column): Column =
    qualityFrom(wsTokenCount(text), alphaRatio(text), stopwordRatio(text), punctRatio(text))

  /**
   * Native one-pass quality kernel: array of `[alpha_ratio, punct_ratio,
   * stopword_ratio, mean_token_len, quality, n_tokens]` — see
   * [[org.apache.spark.sql.graft.QualityKernel]]. Scan-side NARROW, one
   * codegen'd call instead of three interpreted HOF lambdas per row;
   * value-identical to the Column component family above (equivalence-tested
   * in TextAnalysisSpec). Null-in/null-out. Registration is idempotent.
   */
  def qualitySignals(spark: org.apache.spark.sql.SparkSession, text: Column): Column = {
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    call_function("quality_signals", text)
  }

  /** 128-bit content fingerprint (md5 hex of the normalized text) — exact
    * dedup / lineage key. */
  def contentFingerprint(text: Column): Column = graft.dedup.Dedup.fingerprint(text)

  /**
   * 31-bit polynomial rolling fingerprint over code points
   * (`h = h*131 + cp mod 2^31-1`) — the order-sensitive cousin of
   * [[contentFingerprint]] (detects reorderings md5-of-sorted-tokens misses;
   * the building block of winnowing-style near-dup fingerprinting). Pure
   * Column fold over the code-point array — no UDF. The modulus keeps
   * `h*131 + cp` far from Long overflow, so the fold is exact and portable.
   */
  def rollingFingerprint(text: Column): Column = {
    val mod = lit(2147483647L) // 2^31 - 1
    aggregate(
      transform(filter(split(text, ""), ch => length(ch) > 0), ch => ascii(ch).cast("long")),
      lit(0L),
      (h, cp) => pmod(h * 131L + cp, mod))
  }

  // ---- repetition / boilerplate signals (Gopher/MassiveText family) ----

  /**
   * Native one-pass repetition-signal kernel: array of
   * `[dup_token_ratio, top_bigram_char_frac, dup_bigram_frac]` — see
   * `org.apache.spark.sql.graft.RepetitionKernel`. Scan-side NARROW;
   * value-identical to [[repetitionSignalsRelational]]. Registration is
   * idempotent per session.
   */
  def repetitionSignals(spark: org.apache.spark.sql.SparkSession, text: Column): Column = {
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    call_function("repetition_signals", text)
  }

  /**
   * Relational restatement of [[repetitionSignals]]: exploded token and
   * bigram hash aggregations, deterministic top-bigram tie-break via
   * `min(struct(-freq, gram))` (max frequency, then smallest gram in binary
   * order). One row per input doc:
   * `(idCol, dup_token_ratio, top_bigram_char_frac, dup_bigram_frac)`.
   * Costs two exploded shuffles where the kernel form costs none — kept as
   * the oracle-shaped equivalence witness.
   */
  /**
   * Corpus-wide token n-gram counts — the statistic LM/tokenizer training
   * (BPE merges, n-gram LMs, stop-phrase lists) consumes. Grams are built
   * scan-side as a NARROW per-row array (no join against shifted copies of
   * the token table), then one hash aggregation keyed by the gram string —
   * map-side partial aggregation collapses repeats before the shuffle, so
   * the exchange carries one (gram, count) row per distinct gram per
   * partition, never per occurrence. `minCount` prunes the long tail AFTER
   * the aggregation (a frequency predicate, like the vocab HAVING); at
   * 100 TB pair it with a power-law-aware reserve: the distinct-gram space
   * is what bounds state, and AQE splits the inevitable hot-gram skew.
   *
   * Tokens are the dedup layer's canonical lowercased whitespace tokens, so
   * n-gram statistics, relevance, and dedup shingles share one tokenization.
   */
  /** Token n-gram array of the normalized text — the scan-side builder
    * shared by [[corpusNgramCounts]] and [[docNgrams]]. Round 7: the
    * native `token_ngrams` kernel (one codegen'd call per row) replaces
    * the interpreted per-gram `concat_ws`-over-`element_at` lambda —
    * bit-equal arrays (witness at [[ngramArrayColumns]], equivalence spec
    * in TextAnalysisSpec; null text yields null vs the witness's empty
    * array — identical through the explode every consumer applies).
    * Registration rides the active session (every caller is inside a
    * query build with one). */
  def ngramArray(textCol: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    org.apache.spark.sql.graft.NativeFunctions.register(org.apache.spark.sql.SparkSession.active)
    call_function("token_ngrams", textCol, lit(n))
  }

  /** Pure-Column witness of [[ngramArray]] (the pre-kernel form). */
  private[graft] def ngramArrayColumns(textCol: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val toks = filter(graft.dedup.Dedup.tokens(textCol), t => length(t) > 0)
    graft.dedup.Dedup.let(toks) { t =>
      when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", (0 until n).map(o => element_at(t, i + o + 1)): _*)))
        .otherwise(array().cast("array<string>"))
    }
  }

  /** Per-doc positioned n-grams `(idCol, pos, gram)`, pos 0-based. */
  def docNgrams(docs: org.apache.spark.sql.DataFrame, n: Int,
                idCol: String = "doc_id",
                textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol),
      posexplode(ngramArray(col(textCol), n)).as(Seq("pos", "gram")))

  def corpusNgramCounts(docs: org.apache.spark.sql.DataFrame, n: Int = 2,
                        minCount: Long = 1L,
                        textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(explode(ngramArray(col(textCol), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  def repetitionSignalsRelational(docs: org.apache.spark.sql.DataFrame,
                                  idCol: String = "doc_id",
                                  textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col(idCol),
      graft.dedup.Dedup.normalizeText(col(textCol)).as("nt"))
    val toksArr = filter(split(col("nt"), " "), t => length(t) > 0)
    val toks = base.select(col(idCol), explode(toksArr).as("tok"))
    val tokStats = toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("nt_total"), countDistinct(col("tok")).as("nt_distinct"))
    val bigramArr = graft.dedup.Dedup.let(toksArr) { t =>
      when(size(t) >= 2,
        transform(sequence(lit(0), size(t) - 2),
          i => concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2))))
        .otherwise(array().cast("array<string>"))
    }
    val bg = base.select(col(idCol), explode(bigramArr).as("g"))
    val bgCounts = bg.groupBy(col(idCol), col("g")).agg(count(lit(1)).as("f"))
    val bgStats = bgCounts.groupBy(col(idCol)).agg(
      sum(col("f")).as("nbg"),
      sum(when(col("f") >= 2, col("f")).otherwise(0L)).as("dup_occ"),
      min(struct((-col("f")).as("nf"), col("g").as("g"))).as("top"))
    // NULL text → NULL signals, matching the kernel's null-in/null-out
    // convention (nt is NULL exactly when the input text is)
    def nullThrough(c: Column): Column = when(col("nt").isNull, lit(null)).otherwise(c)
    base.join(tokStats, Seq(idCol), "left")
      .join(bgStats, Seq(idCol), "left")
      .select(col(idCol),
        nullThrough(when(col("nt_total") > 0,
          lit(1.0) - col("nt_distinct").cast("double") / col("nt_total").cast("double"))
          .otherwise(0.0)).as("dup_token_ratio"),
        nullThrough(when(col("nbg").isNotNull,
          ((-col("top.nf")) * length(col("top.g"))).cast("double") / length(col("nt")).cast("double"))
          .otherwise(0.0)).as("top_bigram_char_frac"),
        nullThrough(when(col("nbg").isNotNull,
          col("dup_occ").cast("double") / col("nbg").cast("double"))
          .otherwise(0.0)).as("dup_bigram_frac"))
  }

  // ---- Gopher quality rules (Rae et al. '21, Appendix A) ----

  /** The eight Gopher rule signals as the native one-pass kernel
    * ([[org.apache.spark.sql.graft.GopherKernel]]): `array<double>` of
    * [word_count, mean_word_len, symbol_ratio, alpha_word_frac,
    * bullet_line_frac, ellipsis_line_frac, stopword_hits, line_count].
    * Hot-path form; [[gopherSignalsColumns]] is the equivalence witness. */
  def gopherSignals(spark: org.apache.spark.sql.SparkSession, text: Column): Column = {
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    call_function("gopher_signals", text)
  }

  /** Pure-Column witness of [[gopherSignals]], value-identical by
    * construction: same ws-token discipline, non-overlapping `...` count
    * (replace length-difference), anchored line regexes equivalent to the
    * kernel's char scans. Five HOF lambdas + two regex filters per row —
    * keep for testing/oracles, route production through the kernel. */
  def gopherSignalsColumns(text: Column): Column = {
    val toks = wsTokens(text)
    val ltoks = wsTokens(lower(text))
    val lines = split(text, "\n", -1)
    val wc = size(toks)
    val wcD = wc.cast("double")
    def cnt(pat: String, w: Int): Column =
      (length(text) - length(replace(text, lit(pat), lit("")))).cast("double") / w.toDouble
    val symbols = cnt("...", 3) + cnt("#", 1) + cnt("…", 1)
    val stopArr = array(org.apache.spark.sql.graft.GopherKernel.Stopwords.map(lit): _*)
    array(
      wcD,
      meanTokenLenOf(toks),
      when(wc === 0, 0.0).otherwise(symbols / wcD),
      when(wc === 0, 0.0).otherwise(
        size(filter(toks, w => w.rlike("[a-zA-Z]"))).cast("double") / wcD),
      size(filter(lines, l => l.rlike("^[ \t]*[-*•‣]"))).cast("double") /
        size(lines).cast("double"),
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)[ \t]*$"))).cast("double") /
        size(lines).cast("double"),
      size(filter(stopArr, s => array_contains(ltoks, s))).cast("double"),
      size(lines).cast("double"))
  }

  /** Token frequency-of-frequencies spectrum: `(freq, n_types)` — how many
    * DISTINCT tokens occur exactly `freq` times. The Zipf/Good-Turing
    * statistic corpus health checks read (a healthy natural-language corpus
    * has a long hapax tail: n_types(1) dominating; boilerplate-flooded or
    * template corpora show a truncated tail), and the smoothing input of
    * Good-Turing LMs. Two hash aggs: token counts (vocabulary-sized, the
    * corpusNgramCounts shuffle), then counts-of-counts (≤ distinct
    * frequencies rows — tiny). All-integer, exact on any engine. */
  def tokenFrequencySpectrum(docs: org.apache.spark.sql.DataFrame, textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(explode(graft.dedup.Dedup.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .groupBy(col("freq")).agg(count(lit(1)).as("n_types"))

  /** Good-Turing adjusted counts over the frequency spectrum (Good 1953 —
    * the smoothing [[tokenFrequencySpectrum]] feeds): `r* = (r+1)·n_{r+1} /
    * n_r`, the frequency a count-r token SHOULD be credited once unseen
    * mass is discounted; `r*` is null where `n_{r+1} = 0` (the sparse high
    * tail — simple GT, the smoothed-spectrum variants are a driver-side
    * refinement over this same table). Identity (spec-asserted exactly):
    * `Σ r*·n_r over defined rows = N − n_1` — total mass minus the
    * unseen-probability mass `n_1/N` GT reserves. One self-join over the
    * ≤ distinct-frequencies spectrum — trivially bounded at any scale. */
  def goodTuringAdjusted(docs: org.apache.spark.sql.DataFrame,
                         textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val sp = tokenFrequencySpectrum(docs, textCol)
    sp.join(sp.select((col("freq") - 1).as("freq"), col("n_types").as("__n_next")),
        Seq("freq"), "left")
      .select(col("freq"), col("n_types"),
        ((col("freq") + 1) * col("__n_next") / col("n_types")).as("r_star"))
  }

  /** The Gopher keep decision over a signals array (either form), with the
    * paper's default thresholds. Word-count bounds are the knob real
    * curations tune per corpus — exposed as parameters. */
  def gopherKeep(sig: Column, minWords: Long = 50, maxWords: Long = 100000,
                 minMeanWord: Double = 3.0, maxMeanWord: Double = 10.0,
                 maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
                 maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                 minStopHits: Long = 2): Column =
    sig(0) >= minWords.toDouble && sig(0) <= maxWords.toDouble &&
      sig(1) >= minMeanWord && sig(1) <= maxMeanWord &&
      sig(2) <= maxSymbolRatio &&
      sig(3) >= minAlphaFrac &&
      sig(4) <= maxBulletFrac &&
      sig(5) <= maxEllipsisFrac &&
      sig(6) >= minStopHits.toDouble
}
