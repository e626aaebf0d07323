package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native document-quality kernel: one pass over the text computing the
 * quality-scoring family ([[graft.textanalysis.TextAnalysis]]):
 *
 *  - `[0]` alpha ratio: code points of `lower(text)` in `[a-z ]` / code
 *    points of `text` (0.0 for empty)
 *  - `[1]` punctuation ratio: code points in `.,;:!?'"()[]{}-` / code points
 *  - `[2]` stopword ratio: whitespace tokens of `lower(text)` in the
 *    embedded stopword list / token count (0.0 when no tokens)
 *  - `[3]` mean token length: Σ code points per whitespace token / token
 *    count (0.0 when no tokens)
 *  - `[4]` composite quality: `clamp(min(n_tokens/100, 1)·0.3 + alpha·0.4 +
 *    stopword·0.3 − punct·0.5, 0, 1)`
 *  - `[5]` whitespace token count (as double)
 *
 * Value-identical to the pure-Column component family
 * (`TextAnalysis.alphaRatio`/`punctRatio`/`stopwordRatioOf`/
 * `meanTokenLenOf`/`qualityFrom` over materialized token columns) and the
 * DuckDB oracle — equivalence-tested in TextAnalysisSpec. Identity holds
 * bit-for-bit: lowercasing is `UTF8String.toLowerCase` (the SAME routine
 * Spark's `lower()` runs), lengths are code-point counts (`length()`
 * semantics in both engines), tokenization is `trim(' ')` + Java `\s+`
 * (Spark's `trim`/`split` semantics), and the composite combines terms in
 * the exact `Column` association order `((ls·0.3 + a·0.4) + s·0.3) − p·0.5`.
 *
 * Same motivation as [[RepetitionKernel]]: the Column form evaluates three
 * interpreted HOF lambdas per row (two tokenizations + a stopword filter);
 * this kernel keeps all six signals NARROW in one codegen'd call — the shape
 * a 100 TB ingest gate needs (stateless scan-side map, no exchange).
 */
object QualityKernel {

  /** The embedded English stopword list — must stay identical to
    * [[graft.textanalysis.TextAnalysis.stopwords]] (asserted in
    * TextAnalysisSpec). */
  private val Stopwords = new java.util.HashSet[String](
    java.util.Arrays.asList(
      "the", "a", "an", "and", "of", "to", "in", "is", "on", "for"))

  private def chars(s: String): Int = s.codePointCount(0, s.length)

  /** Spark `trim` semantics: ASCII space only (String.trim would also strip
    * control chars, changing `\s+`-split boundaries for e.g. tab-framed
    * text — the token LIST is unchanged but byte-level fidelity matters for
    * the equivalence discipline). */
  private def trimSpaces(s: String): String = {
    var st = 0
    var en = s.length
    while (st < en && s.charAt(st) == ' ') st += 1
    while (en > st && s.charAt(en - 1) == ' ') en -= 1
    if (st == 0 && en == s.length) s else s.substring(st, en)
  }

  /** Whitespace tokens with Python `str.split()` semantics (empty → none). */
  private def wsTokens(s: String): Array[String] = {
    val t = trimSpaces(s)
    if (t.isEmpty) Array.empty[String]
    else t.split("\\s+", -1).filter(_.nonEmpty)
  }

  def signals(text: UTF8String): ArrayData = {
    val raw = text.toString
    val lower = text.toLowerCase.toString // Spark's own lower() routine
    val n = chars(raw)

    // single code-point pass for the two character-class ratios
    var alphaHits = 0
    var punctHits = 0
    var i = 0
    while (i < lower.length) {
      val cp = lower.codePointAt(i)
      if ((cp >= 'a' && cp <= 'z') || cp == ' ') alphaHits += 1
      i += Character.charCount(cp)
    }
    i = 0
    while (i < raw.length) {
      val cp = raw.codePointAt(i)
      if (cp < 128 && ".,;:!?'\"()[]{}-".indexOf(cp) >= 0) punctHits += 1
      i += Character.charCount(cp)
    }

    val toks = wsTokens(raw)
    val ltoks = wsTokens(lower)
    var stopHits = 0
    var sumLen = 0L
    var j = 0
    while (j < ltoks.length) {
      if (Stopwords.contains(ltoks(j))) stopHits += 1
      j += 1
    }
    j = 0
    while (j < toks.length) {
      sumLen += chars(toks(j))
      j += 1
    }

    val alpha = if (n == 0) 0.0 else alphaHits.toDouble / n.toDouble
    val punct = if (n == 0) 0.0 else punctHits.toDouble / n.toDouble
    val stopr = if (ltoks.isEmpty) 0.0 else stopHits.toDouble / ltoks.length.toDouble
    val mtl = if (toks.isEmpty) 0.0 else sumLen.toDouble / toks.length.toDouble
    // exact Column association order: ((ls*0.3 + a*0.4) + s*0.3) - p*0.5
    val lenScore = math.min(toks.length.toDouble / 100.0, 1.0)
    val quality =
      math.max(math.min(lenScore * 0.3 + alpha * 0.4 + stopr * 0.3 - punct * 0.5, 1.0), 0.0)

    new GenericArrayData(Array(alpha, punct, stopr, mtl, quality, toks.length.toDouble))
  }
}
