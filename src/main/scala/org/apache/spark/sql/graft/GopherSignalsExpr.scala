package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Gopher-rule kernel: one pass over the text computing the full
 * quality-heuristic signal family of Rae et al. '21 (Gopher, Appendix A —
 * the rule set RefinedWeb/Dolma-class web curation pipelines reuse), minus
 * the repetition rules which already live in [[RepetitionKernel]]:
 *
 *  - `[0]` word count (whitespace tokens, as double)
 *  - `[1]` mean word length: Σ code points per token / word count (0 if none)
 *  - `[2]` symbol-to-word ratio: (`#` + `…` + non-overlapping `...`) / words
 *  - `[3]` alpha-word fraction: words containing ≥1 `[a-zA-Z]` / words
 *  - `[4]` bullet-line fraction: lines starting (after `[ \t]*`) with one of
 *    `-` `*` `•` `‣` / lines
 *  - `[5]` ellipsis-line fraction: lines ending (before `[ \t]*$`) with
 *    `...` or `…` / lines
 *  - `[6]` distinct Gopher stopwords present (of the paper's 8: the, be, to,
 *    of, and, that, have, with), as double
 *  - `[7]` line count (split on `\n`, empty lines counted, as double)
 *
 * Value-identical to the pure-Column witness family
 * ([[graft.textanalysis.TextAnalysis.gopherSignalsColumns]]) and the DuckDB
 * oracle: tokenization is the engine's ws-token discipline (ASCII-space
 * trim + `\s+` split, QualityKernel's), lengths are code points, `...` is
 * counted non-overlapping left-to-right (Java `replace` = DuckDB `replace`
 * count-by-length-difference), and line predicates are plain char scans
 * equivalent to the anchored regexes the witness uses. One codegen'd call
 * keeps all eight signals NARROW scan-side — the 100 TB shape; the Column
 * form pays five interpreted HOF lambdas + two regex filters per row.
 */
object GopherKernel {

  /** The paper's stopword list (Gopher Appendix A) — deliberately distinct
    * from TextAnalysis.stopwords (the composite-quality list). */
  val Stopwords: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  private val StopSet = {
    val s = new java.util.HashSet[String]()
    Stopwords.foreach(s.add)
    s
  }

  private def chars(s: String): Int = s.codePointCount(0, s.length)

  private def trimSpaces(s: String): String = {
    var st = 0
    var en = s.length
    while (st < en && s.charAt(st) == ' ') st += 1
    while (en > st && s.charAt(en - 1) == ' ') en -= 1
    if (st == 0 && en == s.length) s else s.substring(st, en)
  }

  private def wsTokens(s: String): Array[String] = {
    val t = trimSpaces(s)
    if (t.isEmpty) Array.empty[String]
    else t.split("\\s+", -1).filter(_.nonEmpty)
  }

  /** Non-overlapping left-to-right `...` count — the count Java/DuckDB
    * `replace(s, '...', '')` removes. */
  private def tripleDotCount(s: String): Int = {
    var c = 0
    var i = s.indexOf("...")
    while (i >= 0) { c += 1; i = s.indexOf("...", i + 3) }
    c
  }

  private def isBulletLine(l: String): Boolean = {
    var i = 0
    while (i < l.length && (l.charAt(i) == ' ' || l.charAt(i) == '\t')) i += 1
    i < l.length && {
      val c = l.charAt(i)
      c == '-' || c == '*' || c == '•' || c == '‣'
    }
  }

  private def isEllipsisLine(l: String): Boolean = {
    var en = l.length
    while (en > 0 && (l.charAt(en - 1) == ' ' || l.charAt(en - 1) == '\t')) en -= 1
    (en >= 3 && l.charAt(en - 1) == '.' && l.charAt(en - 2) == '.' && l.charAt(en - 3) == '.') ||
      (en >= 1 && l.charAt(en - 1) == '…')
  }

  def signals(text: UTF8String): ArrayData = {
    val raw = text.toString
    val lower = text.toLowerCase.toString // Spark's own lower() routine

    val toks = wsTokens(raw)
    val ltoks = wsTokens(lower)
    val wc = toks.length

    var sumLen = 0L
    var alphaWords = 0
    var j = 0
    while (j < toks.length) {
      val w = toks(j)
      sumLen += chars(w)
      var hasAlpha = false
      var i = 0
      while (!hasAlpha && i < w.length) {
        val c = w.charAt(i)
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) hasAlpha = true
        i += 1
      }
      if (hasAlpha) alphaWords += 1
      j += 1
    }

    var symbols = tripleDotCount(raw)
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '#' || c == '…') symbols += 1
      i += 1
    }

    val lines = raw.split("\n", -1)
    var bulletLines = 0
    var ellipsisLines = 0
    j = 0
    while (j < lines.length) {
      if (isBulletLine(lines(j))) bulletLines += 1
      if (isEllipsisLine(lines(j))) ellipsisLines += 1
      j += 1
    }

    var stopHits = 0
    val seen = new java.util.HashSet[String]()
    j = 0
    while (j < ltoks.length) {
      val t = ltoks(j)
      if (StopSet.contains(t) && seen.add(t)) stopHits += 1
      j += 1
    }

    val mwl = if (wc == 0) 0.0 else sumLen.toDouble / wc.toDouble
    val symr = if (wc == 0) 0.0 else symbols.toDouble / wc.toDouble
    val alphaf = if (wc == 0) 0.0 else alphaWords.toDouble / wc.toDouble
    val nl = lines.length
    val bulletf = bulletLines.toDouble / nl.toDouble
    val ellipf = ellipsisLines.toDouble / nl.toDouble

    new GenericArrayData(Array(
      wc.toDouble, mwl, symr, alphaf, bulletf, ellipf, stopHits.toDouble, nl.toDouble))
  }
}
