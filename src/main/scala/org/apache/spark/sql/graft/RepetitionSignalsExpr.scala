package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native repetition/boilerplate-signal kernel (the Gopher/MassiveText
 * document-quality family): one pass over the normalized text computing
 *
 *  - `[0]` duplicate-token ratio: `1 - distinct_tokens / tokens`
 *  - `[1]` top-bigram character fraction: `freq(g*) · chars(g*) /
 *    chars(norm_text)` where `g*` is the lexicographically-smallest
 *    most-frequent word bigram
 *  - `[2]` duplicate-bigram fraction: bigram occurrences whose bigram
 *    appears ≥ 2 times / total bigram occurrences
 *
 * (0.0 where undefined: empty docs, single-token docs.) Value-identical to
 * the relational explode+aggregate restatement
 * (`TextAnalysis.repetitionSignalsRelational`) and the DuckDB oracle —
 * equivalence-tested in TextAnalysisSpec.
 *
 * Same motivation as [[SimHashKernel]]: the relational form pays two exploded
 * hash aggregations (tokens + bigrams) per corpus pass; this kernel keeps
 * the three signals NARROW (scan-side map, no exchange).
 */
object RepetitionKernel {

  /** Unicode code points — the `length()` semantics of Spark AND DuckDB
    * (NOT `String.length`'s UTF-16 units). */
  private def chars(s: String): Int = s.codePointCount(0, s.length)

  def signals(text: UTF8String): ArrayData = {
    // normalization mirrors Dedup.normalizeText exactly (see MinHashKernel)
    val replaced = text.toLowerCase.toString.replaceAll("\\s+", " ")
    var st = 0
    var en = replaced.length
    while (st < en && replaced.charAt(st) == ' ') st += 1
    while (en > st && replaced.charAt(en - 1) == ' ') en -= 1
    val norm = replaced.substring(st, en)
    val toks = if (norm.isEmpty) Array.empty[String] else norm.split(" ", -1)

    val out = new Array[Double](3)
    if (toks.nonEmpty) {
      val distinct = new java.util.HashSet[String]()
      toks.foreach(distinct.add)
      out(0) = 1.0 - distinct.size.toDouble / toks.length.toDouble
    }
    if (toks.length >= 2) {
      val freq = new java.util.HashMap[String, Int]()
      var i = 0
      while (i < toks.length - 1) {
        freq.merge(toks(i) + " " + toks(i + 1), 1, Integer.sum _)
        i += 1
      }
      var topG: String = null
      var topF = 0
      var dupOcc = 0L
      val it = freq.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val f = e.getValue
        // tie-break in UTF-8 BYTE order (Spark's UTF8String / DuckDB BLOB
        // collation) — Java String.compareTo is UTF-16 order, which differs
        // for supplementary characters
        if (f > topF || (f == topF &&
            UTF8String.fromString(e.getKey).compareTo(UTF8String.fromString(topG)) < 0)) {
          topF = f; topG = e.getKey
        }
        if (f >= 2) dupOcc += f
      }
      val nBigrams = (toks.length - 1).toLong
      out(1) = (topF.toLong * chars(topG)).toDouble / chars(norm).toDouble
      out(2) = dupOcc.toDouble / nBigrams.toDouble
    }
    new GenericArrayData(out)
  }
}
