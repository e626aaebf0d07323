package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Native cosine similarity over two `array<double>` columns (float arrays
 * arrive via the implicit cast) — kernel twin of `Similarity.cosine`, which
 * is an `aggregate(zip_with(...))` HOF tree evaluated INTERPRETED per
 * element per pair; for brute-force ANN that is the entire inner loop.
 *
 * Bit-identical semantics (equivalence-tested in SimilaritySpec):
 *  - strict left-to-right double summation for the dot product and both
 *    norms (the fold order the DuckDB oracle pins with `list_reduce`);
 *  - 0.0 when either norm is zero;
 *  - null on length mismatch or any null element (`zip_with` null padding /
 *    null poisoning in the HOF form).
 */
object CosineKernel {
  /** Sum of squares, or NaN marker (-1) for a null element — mirrors the
    * HOF form where a null element null-poisons the whole fold. */
  private def sumSq(a: ArrayData): java.lang.Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = a.getDouble(i)
      s += x * x
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Boxed Double, or null — ordered exactly like the Column form
    * `when(denom === 0.0, 0.0).otherwise(dot / denom)`: a ZERO denominator
    * wins even when the dot product would be null (length mismatch), and a
    * null denominator (null element) falls through to the null dot. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = sumSq(a)
    val nb = sumSq(b)
    val denom: java.lang.Double =
      if (na == null || nb == null) null
      else java.lang.Double.valueOf(math.sqrt(na.doubleValue()) * math.sqrt(nb.doubleValue()))
    if (denom != null && denom.doubleValue() == 0.0) return java.lang.Double.valueOf(0.0)
    val n = a.numElements()
    if (b.numElements() != n || denom == null) return null // zip_with pad / null poisoning
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(dot / denom.doubleValue())
  }
}
