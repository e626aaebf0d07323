package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native token n-gram builders.
 *
 *  - `token_ngrams(text, n)` — the scan-side form of
 *    `TextAnalysis.ngramArray`: whitespace tokens of the NORMALIZED text
 *    (`Dedup.tokens` + the empty-token filter), then space-joined windows of
 *    `n` consecutive tokens; fewer than `n` tokens yields an empty array. The
 *    relational form builds each gram with an interpreted `concat_ws` lambda
 *    over `n` `element_at` calls — one interpreter round trip per gram with
 *    O(n) list indexing inside; this kernel is one codegen'd call per row.
 *    Value-identical (equivalence spec in TextAnalysisSpec); null text yields
 *    null here vs an empty array relationally — identical after the
 *    explode/posexplode every consumer applies.
 *  - `array_ngrams(arr, n)` — the same over an ALREADY-TOKENIZED
 *    `array<string>` column, for callers that materialize the token array
 *    once and derive several gram orders from it (the LmScore single-pass
 *    shape). Tokens are used as given (no re-normalization, no empty-token
 *    filter), except that a null element is skipped as if absent:
 *    `array_ngrams(["a", null, "b"], 2)` is `["a b"]`.
 *  - `token_segments(text, width)` — consecutive NON-overlapping
 *    `width`-token segments of the normalized text (the
 *    [[graft.dedup.LineDedup]] unit builder): space-joined groups, last
 *    segment may be shorter. Tokens are `Dedup.tokens` semantics — the
 *    UNFILTERED split, so the empty doc yields one empty segment (matching
 *    `split('', ' ') = ['']`). Null yields null (callers coalesce to the
 *    witness's empty array).
 */
object NgramKernel {

  private def normalize(text: UTF8String): String = {
    val replaced = text.toLowerCase.toString.replaceAll("\\s+", " ")
    var st = 0
    var en = replaced.length
    while (st < en && replaced.charAt(st) == ' ') st += 1
    while (en > st && replaced.charAt(en - 1) == ' ') en -= 1
    replaced.substring(st, en)
  }

  private def grams(toks: Array[String], n: Int): GenericArrayData = {
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  def tokenNgrams(text: UTF8String, n: Int): GenericArrayData = {
    val toks0 = normalize(text).split(" ", -1)
    var nTok = 0
    var i = 0
    while (i < toks0.length) { if (toks0(i).nonEmpty) nTok += 1; i += 1 }
    val toks = new Array[String](nTok)
    i = 0
    var j = 0
    while (i < toks0.length) { if (toks0(i).nonEmpty) { toks(j) = toks0(i); j += 1 }; i += 1 }
    grams(toks, n)
  }

  def tokenSegments(text: UTF8String, width: Int): GenericArrayData = {
    val toks = normalize(text).split(" ", -1) // unfiltered: '' stays a token
    val nSeg = (toks.length + width - 1) / width
    val out = new Array[Any](nSeg)
    val sb = new java.lang.StringBuilder
    var s = 0
    while (s < nSeg) {
      sb.setLength(0)
      var j = s * width
      val e = math.min(toks.length, j + width)
      while (j < e) {
        if (j > s * width) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(s) = UTF8String.fromString(sb.toString)
      s += 1
    }
    new GenericArrayData(out)
  }

  def arrayNgrams(arr: ArrayData, n: Int): GenericArrayData = {
    val toks = Array.newBuilder[String]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) toks += arr.getUTF8String(i).toString
      i += 1
    }
    grams(toks.result(), n)
  }
}
