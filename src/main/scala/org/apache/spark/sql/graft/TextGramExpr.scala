package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native gram-construction kernels for the scan side of the profile /
 * feature-hashing operators. Higher-order-function lambdas
 * (`transform(sequence(...), i => ...)`) evaluate INTERPRETED per element
 * in Spark, so per-character and per-token gram builders pay an
 * interpreter round trip per gram; these kernels build the same arrays in
 * one codegen'd call per row.
 *
 *  - `char_ngrams(text, n)` — character n-grams of the PADDED normalized
 *    text (`' ' + normalize(text) + ' '`, the Cavnar-Trenkle word-boundary
 *    padding of `LangProfile.grams`), windows of n consecutive CODE POINTS
 *    (Spark `substring` semantics). Texts whose padded form is shorter
 *    than n yield an empty array; null yields null (the relational form
 *    yields an empty array on null, but both explode to zero rows — the
 *    only way the operators consume it).
 *  - `hashed_grams(text, dim, maxN)` — feature-hashed token-gram ids of
 *    the normalized text: one `int` per gram OCCURRENCE, unigrams first,
 *    then bigrams (maxN = 2), hashed with the 16-bit-md5 feature map
 *    `conv(substring(md5(gram), 1, 4), 16, 10) % dim`
 *    (`QualityClassifier.featureId`). maxN = 1 is the classifier's
 *    unigram table, maxN = 2 the DSIR unigram+bigram table.
 *
 * Both are value-identical to their Column restatements (equivalence
 * specs in LangProfileSpec / DsirSpec).
 */
object TextGramKernel {

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** Dedup.normalizeText semantics (see MinHashKernel for the lower/trim
    * caveats). */
  private[graft] def normalize(text: UTF8String): String = {
    val replaced = text.toLowerCase.toString.replaceAll("\\s+", " ")
    var st = 0
    var en = replaced.length
    while (st < en && replaced.charAt(st) == ' ') st += 1
    while (en > st && replaced.charAt(en - 1) == ' ') en -= 1
    replaced.substring(st, en)
  }

  def charNgrams(text: UTF8String, n: Int): GenericArrayData = {
    val padded = " " + normalize(text) + " "
    // code-point offsets (Spark substring counts code points)
    val len = padded.length
    var cps = 0
    var i = 0
    while (i < len) { i += Character.charCount(padded.codePointAt(i)); cps += 1 }
    if (cps < n) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](cps + 1)
    i = 0
    var c = 0
    while (i < len) { offs(c) = i; i += Character.charCount(padded.codePointAt(i)); c += 1 }
    offs(cps) = len
    val out = new Array[Any](cps - n + 1)
    var g = 0
    while (g + n <= cps) {
      out(g) = UTF8String.fromString(padded.substring(offs(g), offs(g + n)))
      g += 1
    }
    new GenericArrayData(out)
  }

  /** First 16 md5 bits mod dim — identical to
    * `conv(substring(md5(s), 1, 4), 16, 10) % dim` (QualityClassifier
    * featureId; both operands non-negative, so % and pmod agree). */
  private def featureId(s: String, dim: Int): Int = {
    val d = md5.get()
    d.reset()
    val h = d.digest(s.getBytes(StandardCharsets.UTF_8))
    ((((h(0) & 0xFF) << 8) | (h(1) & 0xFF)) % dim)
  }

  def hashedGrams(text: UTF8String, dim: Int, maxN: Int): GenericArrayData = {
    val toks0 = normalize(text).split(" ", -1)
    // drop empty tokens (the filter(length > 0) of both callers)
    var nTok = 0
    var i = 0
    while (i < toks0.length) { if (toks0(i).nonEmpty) nTok += 1; i += 1 }
    val toks = new Array[String](nTok)
    i = 0
    var j = 0
    while (i < toks0.length) { if (toks0(i).nonEmpty) { toks(j) = toks0(i); j += 1 }; i += 1 }
    val nBi = if (maxN >= 2 && nTok >= 2) nTok - 1 else 0
    val out = new Array[Int](nTok + nBi)
    i = 0
    while (i < nTok) { out(i) = featureId(toks(i), dim); i += 1 }
    var b = 0
    while (b < nBi) {
      out(nTok + b) = featureId(toks(b) + " " + toks(b + 1), dim)
      b += 1
    }
    new GenericArrayData(out)
  }
}
