package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * Pre-counted gram/token kernels — the scan-side form of the per-document
 * count aggregations behind the relevance / quality / language-ID
 * operators. Their relational shape was `explode(grams) → groupBy(id, key)
 * → count`, which pays a corpus-wide Exchange on `(id, key)` for an
 * aggregation whose groups NEVER cross rows (every key is scoped to its
 * document). These kernels do the count inside the row and emit
 * `(key, count)` structs, so the explode yields the aggregated rows
 * directly — the same row set with ZERO exchange.
 *
 *  - `hashed_gram_counts(text, dim, maxN)` — per-doc counts of the
 *    16-bit-md5 feature-hashed token grams (`hashed_grams` occurrences,
 *    run-length counted): `array<struct<f, c>>`, f-ascending.
 *  - `char_ngram_profile(text, n, k)` — the per-doc Cavnar-Trenkle rank
 *    profile in one call: top-k distinct padded character n-grams by
 *    (count DESC, gram ASC), ranks 1..k — the `char_ngrams` explode, the
 *    `(id, gram)` count AND the per-doc row_number window fused into the
 *    scan: `array<struct<gram, rank_d>>`.
 *
 * Both are row-set-identical to their relational witnesses after the
 * explode (equivalence specs in QualityClassifierSpec / DsirSpec /
 * LangProfileSpec). Tie-breaking and ordering use BINARY UTF-8
 * comparison (`UTF8String.compareTo`), exactly Spark's string ordering.
 *
 * A `token_tf(text)` sibling for the Relevance tf table was built and
 * MEASURED OUT (round 7): every variant — kernel alone, kernel + fan-out,
 * fan-out + relational agg — lost to the plain explode + groupBy at probe
 * scale (q_bm25 0.53 s relational vs 0.56–0.76 s; the per-doc token counts
 * are tiny, the native explode+agg is already cheap, and bm25's isin
 * filter pushes below the relational aggregation but must run AFTER a
 * count kernel).
 */
object TokenCountKernel {

  /** Sorted run-length count of UTF8String keys → (key, count) rows.
    * Binary UTF-8 sort = Spark's string ordering; equality on the sorted
    * neighbors = the groupBy's binary key equality. */
  private def rleStrings(keys: Array[UTF8String]): Array[(UTF8String, Long)] = {
    java.util.Arrays.sort(keys, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    val out = new scala.collection.mutable.ArrayBuffer[(UTF8String, Long)](keys.length)
    var i = 0
    while (i < keys.length) {
      var j = i + 1
      while (j < keys.length && keys(j).equals(keys(i))) j += 1
      out += ((keys(i), (j - i).toLong))
      i = j
    }
    out.toArray
  }

  private def rows2(a: Any, b: Any): InternalRow =
    new GenericInternalRow(Array[Any](a, b))

  def hashedGramCounts(text: UTF8String, dim: Int, maxN: Int): GenericArrayData = {
    val ids = TextGramKernel.hashedGrams(text, dim, maxN)
    val nIds = ids.numElements()
    val arr = new Array[Int](nIds)
    var i = 0
    while (i < nIds) { arr(i) = ids.getInt(i); i += 1 }
    java.util.Arrays.sort(arr)
    val out = new scala.collection.mutable.ArrayBuffer[Any](nIds)
    i = 0
    while (i < nIds) {
      var j = i + 1
      while (j < nIds && arr(j) == arr(i)) j += 1
      out += rows2(arr(i), (j - i).toLong)
      i = j
    }
    new GenericArrayData(out.toArray)
  }

  def charNgramProfile(text: UTF8String, n: Int, k: Int): GenericArrayData = {
    val grams = TextGramKernel.charNgrams(text, n)
    val nG = grams.numElements()
    val keys = new Array[UTF8String](nG)
    var i = 0
    while (i < nG) { keys(i) = grams.getUTF8String(i); i += 1 }
    val rle = rleStrings(keys)
    // (count DESC, gram ASC) — exactly the docProfiles row_number ordering
    java.util.Arrays.sort(rle, (a: (UTF8String, Long), b: (UTF8String, Long)) => {
      if (a._2 != b._2) java.lang.Long.compare(b._2, a._2) else a._1.compareTo(b._1)
    })
    val take = math.min(k, rle.length)
    val out = new Array[Any](take)
    i = 0
    while (i < take) { out(i) = rows2(rle(i)._1, (i + 1).toLong); i += 1 }
    new GenericArrayData(out)
  }
}
