package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native distinct-shingle hash kernels — the scan-side form of the
 * verification / containment family's per-shingle md5 pipeline.
 *
 * Both kernels reproduce, bit for bit, the relational chain
 * `explode(array_distinct(tokenShingles(tokens(text), k)))` followed by
 * `conv(substring(md5(shingle), 1, 15), 16, 10)` (the 60-bit md5 key of
 * `Dedup.overlapVerify` — equivalence-tested in DedupSpec, restated by the
 * DuckDB oracle):
 *  - normalization mirrors `trim(regexp_replace(lower(text), '\s+', ' '))`
 *    (the MinHashKernel discipline: UTF8String.toLowerCase, Java-regex,
 *    ASCII-space trim);
 *  - a doc with ≤ k tokens contributes its single full-join shingle;
 *  - shingles are DEDUPLICATED ON THE STRING in first-occurrence order
 *    (array_distinct semantics), so two distinct shingles whose 60-bit
 *    hashes collide still contribute two (equal) hash entries;
 *  - hash = first 15 md5 hex chars as a long (top 60 bits of the digest).
 *
 * Why they exist: the relational form explodes one row per shingle through
 * Spark's md5 → substring → conv expression chain (conv alone is a
 * string-radix conversion per row) and, for the ensemble signature, a
 * 64-aggregate hash aggregation. These kernels keep the whole surface
 * NARROW — one codegen'd call per row, no explode, no exchange:
 *
 *  - `shingle_hashes(text, k)` → `array<long>` of distinct-shingle hashes
 *    (feeds the verification join after one posexplode);
 *  - `ensemble_minhash(text, k, n)` → `array<long>` of length n+1: the XOR
 *    minhash family `h_i = min over shingles of (base ⊕ mask_i)` with
 *    `Dedup.ensembleMask` masks, plus the distinct-shingle COUNT as the
 *    final element (the LSH-Ensemble size statistic — signature and size in
 *    one pass);
 *  - `hash_overlap_count(a, b)` → multiset overlap count of two SORTED
 *    `array<long>` columns: `Σ_v countA(v) · countB(v)` — exactly the row
 *    count of the equi-join of the two value lists (the `overlapVerify`
 *    intersection statistic, duplicate hash values included: two distinct
 *    shingles colliding on the 60-bit hash cross-join in the relational
 *    form, and this kernel reproduces that product). PRECONDITION: both
 *    inputs ascending-sorted (callers build them with `sort_array`).
 */
object ShingleHashKernel {

  /** Merge-count over two sorted long arrays: Σ runLenA(v) · runLenB(v). */
  def overlapCount(a: org.apache.spark.sql.catalyst.util.ArrayData,
                   b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var total = 0L
    while (i < na && j < nb) {
      val va = a.getLong(i)
      val vb = b.getLong(j)
      if (va < vb) i += 1
      else if (va > vb) j += 1
      else {
        var ca = 0L
        while (i < na && a.getLong(i) == va) { ca += 1; i += 1 }
        var cb = 0L
        while (j < nb && b.getLong(j) == va) { cb += 1; j += 1 }
        total += ca * cb
      }
    }
    total
  }

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  // ensemble masks cached per nHashes (the MinHashKernel coeff-cache rule:
  // bounded so plan-literal cardinality can't grow the executor-global map)
  private val maskCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private val CacheCap = 64
  private def masks(n: Int): Array[Long] = {
    def build = Array.tabulate(n)(graft.dedup.Dedup.ensembleMask)
    val hit = maskCache.get(n)
    if (hit != null) hit
    else if (maskCache.size < CacheCap) maskCache.computeIfAbsent(n, _ => build)
    else build
  }

  /** First 60 md5 bits as a long — identical to
    * `conv(substring(md5(s), 1, 15), 16, 10)`. */
  private def hash60(s: String): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(s.getBytes(StandardCharsets.UTF_8))
    val be = ((h(0) & 0xFFL) << 56) | ((h(1) & 0xFFL) << 48) | ((h(2) & 0xFFL) << 40) |
      ((h(3) & 0xFFL) << 32) | ((h(4) & 0xFFL) << 24) | ((h(5) & 0xFFL) << 16) |
      ((h(6) & 0xFFL) << 8) | (h(7) & 0xFFL)
    be >>> 4
  }

  /** Distinct word-k-shingles of the normalized text in first-occurrence
    * order (`array_distinct(tokenShingles(tokens(text), k))` semantics). */
  private def distinctShingles(text: UTF8String, shingleK: Int): java.util.LinkedHashSet[String] = {
    // normalization mirrors Dedup.normalizeText — see MinHashKernel for the
    // lower/trim caveats (UTF8String.toLowerCase; SQL trim strips spaces only)
    val replaced = text.toLowerCase.toString.replaceAll("\\s+", " ")
    var st = 0
    var en = replaced.length
    while (st < en && replaced.charAt(st) == ' ') st += 1
    while (en > st && replaced.charAt(en - 1) == ' ') en -= 1
    val normalized = replaced.substring(st, en)
    val toks = normalized.split(" ", -1) // keep "" for the empty doc, like Spark split
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length <= shingleK) out.add(normalized)
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
        out.add(sb.toString)
        s += 1
      }
    }
    out
  }

  def shingleHashes(text: UTF8String, shingleK: Int): GenericArrayData = {
    val sh = distinctShingles(text, shingleK)
    val out = new Array[Long](sh.size)
    val it = sh.iterator()
    var i = 0
    while (it.hasNext) { out(i) = hash60(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  def ensembleSignature(text: UTF8String, shingleK: Int, nHashes: Int): GenericArrayData = {
    val sh = distinctShingles(text, shingleK)
    val ms = masks(nHashes)
    val out = new Array[Long](nHashes + 1)
    java.util.Arrays.fill(out, 0, nHashes, Long.MaxValue)
    val it = sh.iterator()
    while (it.hasNext) {
      val b = hash60(it.next())
      var i = 0
      while (i < nHashes) {
        val v = b ^ ms(i)
        if (v < out(i)) out(i) = v
        i += 1
      }
    }
    out(nHashes) = sh.size.toLong
    new GenericArrayData(out)
  }
}
