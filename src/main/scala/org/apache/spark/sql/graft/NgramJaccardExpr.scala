package org.apache.spark.sql.graft

import org.apache.spark.unsafe.types.UTF8String

/**
 * Native word-shingle Jaccard similarity of two texts — kernel twin of
 * `Dedup.ngramJaccardPairs`' column pipeline (normalize → tokens → distinct
 * k-shingles → |A∩B| / |A∪B|), which evaluates interpreted HOF
 * shingling + `array_intersect` per pair. Same semantics, one kernel call:
 *  - normalization identical to [[MinHashKernel]] (Spark `lower`, `\s+`
 *    collapse, space trim);
 *  - a doc with ≤ k tokens contributes its single full-join shingle, so two
 *    empty texts are both `{""}` → jaccard 1.0 (matching the column form);
 *  - distinct shingles (set semantics), double division.
 */
object NgramJaccardKernel {
  private def shingleSet(text: UTF8String, k: Int): java.util.HashSet[String] = {
    val replaced = text.toLowerCase.toString.replaceAll("\\s+", " ")
    var st = 0
    var en = replaced.length
    while (st < en && replaced.charAt(st) == ' ') st += 1
    while (en > st && replaced.charAt(en - 1) == ' ') en -= 1
    val normalized = replaced.substring(st, en)
    val toks = normalized.split(" ", -1)
    val set = new java.util.HashSet[String]()
    if (toks.length <= k) set.add(normalized)
    else {
      val sb = new java.lang.StringBuilder
      var s = 0
      while (s + k <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(s + j))
          j += 1
        }
        set.add(sb.toString)
        s += 1
      }
    }
    set
  }

  def jaccard(a: UTF8String, b: UTF8String, k: Int): Double = {
    val sa = shingleSet(a, k)
    val sb = shingleSet(b, k)
    var ni = 0
    val it = (if (sa.size() <= sb.size()) sa else sb).iterator()
    val other = if (sa.size() <= sb.size()) sb else sa
    while (it.hasNext) if (other.contains(it.next())) ni += 1
    ni.toDouble / (sa.size() + sb.size() - ni)
  }
}
