package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Native cosine similarity over two `array<tinyint>` (int8-quantized)
 * vectors — the inner loop of SQ8 approximate ANN
 * ([[graft.similarity.Quantize]]). Kernel twin of `Quantize.sq8CosineHof`
 * (equivalence-tested in QuantizeSpec).
 *
 * The dot product and both norms accumulate in LONG — exact for any int8
 * vectors up to 2^47 dimensions (127² per element), so the only floating
 * point is the final `dot / sqrt(aa)·sqrt(bb)` — one division and two
 * correctly-rounded sqrts, bit-identical on any engine and partitioning.
 * Semantics mirror the double kernel: 0.0 when either norm is zero; null on
 * length mismatch or any null element.
 */
object Sq8Kernel {
  /** Sum of squares in exact integer arithmetic, or null for a null
    * element (null poisoning, like the HOF form). */
  private def sumSq(a: ArrayData): java.lang.Long = {
    var s = 0L
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = a.getByte(i).toLong
      s += x * x
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** Same decision order as the double kernel: zero denominator wins even
    * when the dot would be null (length mismatch); null element → null. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = sumSq(a)
    val nb = sumSq(b)
    val denom: java.lang.Double =
      if (na == null || nb == null) null
      else java.lang.Double.valueOf(
        math.sqrt(na.longValue().toDouble) * math.sqrt(nb.longValue().toDouble))
    if (denom != null && denom.doubleValue() == 0.0) return java.lang.Double.valueOf(0.0)
    val n = a.numElements()
    if (b.numElements() != n || denom == null) return null
    var dot = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    java.lang.Double.valueOf(dot.toDouble / denom.doubleValue())
  }
}
