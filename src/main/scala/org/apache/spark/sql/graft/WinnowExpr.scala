package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native winnowing-fingerprint kernel (Schleimer-Wilkerson-Aiken SIGMOD'03):
 * rolling 31-bit polynomial k-gram hashes + monotonic-deque window minima
 * (rightmost tie-break) in ONE O(n) pass per document — the 100 TB form of
 * `graft.textanalysis.Winnowing.winnowColumn`, whose per-position HOF folds
 * are O(n·(k+w)). Returns `array<struct<pos int, h long>>`, ascending
 * 0-based k-gram positions, consecutive duplicate selections collapsed —
 * value-identical to the column form (equivalence-fuzzed) and the DuckDB
 * `q_winnow` oracle.
 *
 * `kgram_hashes(text, k)` exposes the pre-winnowing rolling-hash pass on its
 * own: `array<long>`, one 31-bit polynomial hash per 0-based k-gram position
 * of the normalized text, O(n) per doc. This is the scan kernel of exact
 * duplicate-substring detection ([[graft.textanalysis.SubstringDup]]):
 * per-position md5 of substrings costs O(n·k) digest work per doc; this
 * reuses each previous hash.
 */
object WinnowKernel {
  private val P31 = 2147483647L // 2^31 - 1

  /** Normalized (Dedup.normalizeText semantics) rolling 31-bit polynomial
    * k-gram hashes, one per 0-based k-gram position — the shared O(n) hash
    * pass of [[fingerprints]] and the `kgram_hashes` expression. Empty for
    * docs shorter than k. */
  def rollingHashes(text: UTF8String, k: Int): Array[Long] = {
    // normalization mirrors Dedup.normalizeText (see MinHashKernel)
    val replaced = text.toLowerCase.toString.replaceAll("\\s+", " ")
    var st = 0
    var en = replaced.length
    while (st < en && replaced.charAt(st) == ' ') st += 1
    while (en > st && replaced.charAt(en - 1) == ' ') en -= 1
    val cps = replaced.substring(st, en).codePoints().toArray

    val n = cps.length - k + 1 // k-gram count
    if (n <= 0) return Array.emptyLongArray

    // rolling hash: h_{i+1} = (h_i - cp_i·131^{k-1})·131 + cp_{i+k}  (mod p)
    var pow = 1L // 131^(k-1) mod p
    var e = 0
    while (e < k - 1) { pow = pow * 131L % P31; e += 1 }
    val hs = new Array[Long](n)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * 131L + cps(i)) % P31; i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = Math.floorMod(h - cps(i - 1) * pow % P31, P31)
      h = (h * 131L + cps(i + k - 1)) % P31
      hs(i) = h
      i += 1
    }
    hs
  }

  /** `kgram_hashes` entry: the full hash sequence as ArrayData. */
  def kgramHashes(text: UTF8String, k: Int): ArrayData = {
    require(k >= 1, "kgram_hashes expects k >= 1")
    new GenericArrayData(rollingHashes(text, k))
  }

  def fingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    require(k >= 1 && w >= 1, "winnow_fingerprints expects k >= 1 and w >= 1")
    val hs = rollingHashes(text, k)
    val n = hs.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])

    // monotonic deque of positions with strictly increasing hashes; popping
    // `>=` keeps the RIGHTMOST index among equal minima at the front
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    val out = new java.util.ArrayList[Any]()
    var lastSel = -1
    def push(p: Int): Unit = {
      while (tail > head && hs(deque(tail - 1)) >= hs(p)) tail -= 1
      deque(tail) = p; tail += 1
    }
    if (n < w) {
      var p = 0
      while (p < n) { push(p); p += 1 }
      out.add(new GenericInternalRow(Array[Any](deque(head), hs(deque(head)))))
    } else {
      var p = 0
      while (p < n) {
        push(p)
        val j = p - w + 1 // window start
        if (j >= 0) {
          while (deque(head) < j) head += 1
          val sel = deque(head)
          if (sel != lastSel) {
            out.add(new GenericInternalRow(Array[Any](sel, hs(sel))))
            lastSel = sel
          }
        }
        p += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}
