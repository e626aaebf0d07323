package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native MinHash signature kernel: normalize → whitespace tokens → word
 * `k`-shingles → one md5 per shingle → running minima of the affine family
 * `(a_i * base + b_i) mod (2^61-1)`, all in one codegen'd expression.
 *
 * Value-identical to the relational `Dedup.minHashSignatures` pipeline
 * (equivalence-tested in DedupSpec; the DuckDB oracle restates both):
 *  - normalization mirrors `trim(regexp_replace(lower(text), '\s+', ' '))`
 *    exactly — `UTF8String.toLowerCase` (Spark's `lower`), Java-regex `\s+`,
 *    ASCII-space trim;
 *  - a doc with ≤ k tokens contributes its single full-join shingle;
 *  - base hash = first 8 md5 hex chars as a 32-bit value, `>> 1` (31 bits),
 *    constants from `graft.dedup.Dedup.minHashA/minHashB`.
 *
 * Why it exists: the relational form explodes one row per shingle through a
 * partial/final hash aggregate — the shuffle is small (partial min), but the
 * explode materializes O(shingles) rows and the per-shingle expression chain
 * (md5 → substr → conv → n×pmod) runs through generic agg machinery. This
 * kernel keeps the whole signature NARROW (scan-side map, no exchange at
 * all), which also removes the only pre-banding aggregation from the LSH
 * pipeline.
 */
object MinHashKernel {
  /** Mersenne prime 2^61 - 1 (Dedup.MinHashP). */
  val P: Long = 2305843009213693951L

  // affine-family constants, cached per nHashes (same derivation as
  // Dedup.minHashA/minHashB — SplitMix64 of the function index); capped like
  // the sibling kernel caches so plan-literal cardinality can't grow the
  // executor-global map unboundedly (past the cap: derived per call)
  private val coeffCache = new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private val CacheCap = 64
  private def coeffs(n: Int): (Array[Long], Array[Long]) = {
    def build = (Array.tabulate(n)(graft.dedup.Dedup.minHashA),
                 Array.tabulate(n)(graft.dedup.Dedup.minHashB))
    val hit = coeffCache.get(n)
    if (hit != null) hit
    else if (coeffCache.size < CacheCap) coeffCache.computeIfAbsent(n, _ => build)
    else build
  }

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** First 4 md5 bytes as the 31-bit base hash: identical to
    * `conv(substring(md5(s), 1, 8), 16, 10) >> 1`. */
  private def baseHash(s: String): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(s.getBytes(StandardCharsets.UTF_8))
    (((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) | ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)) >>> 1
  }

  def signature(text: UTF8String, shingleK: Int, nHashes: Int): GenericArrayData = {
    // Spark's `lower` is UTF8String.toLowerCase — locale-independent, unlike
    // java.lang.String.toLowerCase (Turkish-I); normalize the same way.
    // Trim strips SPACES only (SQL trim semantics) — String.trim would also
    // strip non-\s control chars ≤ U+0020 that the regex left in place.
    val replaced = text.toLowerCase.toString.replaceAll("\\s+", " ")
    var st = 0
    var en = replaced.length
    while (st < en && replaced.charAt(st) == ' ') st += 1
    while (en > st && replaced.charAt(en - 1) == ' ') en -= 1
    val normalized = replaced.substring(st, en)
    val toks = normalized.split(" ", -1) // keep "" for the empty doc, like Spark split
    val (as, bs) = coeffs(nHashes)
    val mins = Array.fill(nHashes)(Long.MaxValue)
    def fold(shingle: String): Unit = {
      val hb = baseHash(shingle)
      var i = 0
      while (i < nHashes) {
        val v = Math.floorMod(hb * as(i) + bs(i), P)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    if (toks.length <= shingleK) fold(normalized)
    else {
      val sb = new java.lang.StringBuilder
      var s = 0
      while (s + shingleK <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < shingleK) {
          if (j > 0) sb.append(' ')
          sb.append(toks(s + j))
          j += 1
        }
        fold(sb.toString)
        s += 1
      }
    }
    new GenericArrayData(mins)
  }
}
