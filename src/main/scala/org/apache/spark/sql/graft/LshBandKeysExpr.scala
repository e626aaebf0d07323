package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native random-hyperplane LSH band keys — kernel twin of
 * `Similarity.lshBandKeys`: project the vector on `nBands × bitsPerBand`
 * deterministic pseudo-hyperplanes (`Similarity.planeValue`, cached per
 * (planes, dim)), take sign bits, emit one `b<band>:<bits>` key per band.
 *
 * The Column form evaluates an interpreted `aggregate(zip_with(...))` fold
 * per plane per row — nPlanes × dim lambda calls for EVERY corpus row, the
 * scan-side cost of the LSH ANN and approximate near-dup paths. Semantics
 * replicated exactly (equivalence-tested): left-to-right summation,
 * zip_with padding to max(len, dim) with null→0 contributions (`coalesce`),
 * `proj >= 0` sign rule (NaN → 0 bit).
 */
object LshBandKernel {
  // (nPlanes, dim) come from plan literals — a handful per workload; the cap
  // bounds the executor-global map against hostile many-config plans (past
  // it, plane tables are derived per call — correct, just uncached)
  private val planeCache = new ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  private val CacheCap = 64
  private def planes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    def build = Array.tabulate(nPlanes, dim)((pl, i) => graft.similarity.Similarity.planeValue(pl, i))
    val key = (nPlanes, dim)
    val hit = planeCache.get(key)
    if (hit != null) hit
    else if (planeCache.size < CacheCap) planeCache.computeIfAbsent(key, _ => build)
    else build
  }

  def bandKeys(vec: ArrayData, nBands: Int, bitsPerBand: Int, dim: Int): GenericArrayData = {
    val nPlanes = nBands * bitsPerBand
    val w = planes(nPlanes, dim)
    val n = vec.numElements()
    val lim = math.min(n, dim) // beyond either length the padded product is 0
    val bits = new Array[Boolean](nPlanes)
    var p = 0
    while (p < nPlanes) {
      val wp = w(p)
      var s = 0.0
      var i = 0
      while (i < lim) {
        if (!vec.isNullAt(i)) s += vec.getDouble(i) * wp(i)
        i += 1
      }
      bits(p) = s >= 0.0 // NaN → false, like the `when(proj >= 0.0, 1)` form
      p += 1
    }
    val keys = new Array[AnyRef](nBands)
    val sb = new java.lang.StringBuilder
    var b = 0
    while (b < nBands) {
      sb.setLength(0)
      sb.append('b').append(b).append(':')
      var k = 0
      while (k < bitsPerBand) {
        sb.append(if (bits(b * bitsPerBand + k)) '1' else '0')
        k += 1
      }
      keys(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(keys)
  }
}
