package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native kernels for the F8/F9 alphabet codec
 * (`/root/reference/src/util/data_functions.py:31-39`,
 * `src/model/neural_corrector.py:107-126`): char → index encode and
 * index → char decode with stop-at-INT_EMPTY.
 *
 * The portable forms in `graft.text.TextFunctions` are higher-order-function
 * Column trees; Spark evaluates HOF lambdas INTERPRETED, one closure call
 * per character, which dominates the wall time of the encode/decode queries.
 * `alphabet_encode`/`alphabet_decode` run the whole codec as one static JVM
 * kernel per row and stay inside whole-stage codegen. Equivalence with the
 * HOF forms is property-tested (TextFunctionsSpec).
 */
object AlphabetCodec {
  /** Per-alphabet lookup tables, built once per executor JVM. */
  private final class Tables(alphabet: String) {
    val cps: Array[Int] = alphabet.codePoints().toArray
    val n: Int = cps.length
    val index: java.util.HashMap[Integer, Integer] = {
      val m = new java.util.HashMap[Integer, Integer](n * 2)
      var i = 0
      while (i < n) { m.putIfAbsent(cps(i), i); i += 1 }
      m
    }
  }
  // alphabets are plan literals, so cardinality is tiny in practice; the cap
  // keeps a hostile many-distinct-alphabets workload from growing the
  // executor-global map unboundedly (past it, tables are built per call —
  // correct, just uncached)
  private val cache = new ConcurrentHashMap[String, Tables]()
  private val CacheCap = 64
  private def tables(alphabet: String): Tables = {
    val hit = cache.get(alphabet)
    if (hit != null) hit
    else if (cache.size < CacheCap) cache.computeIfAbsent(alphabet, new Tables(_))
    else new Tables(alphabet)
  }

  val IntEmpty: Long = -1L

  /** Code points of `s` to alphabet indices; miss → unk = |alphabet|.
    * Kernel twin of `TextFunctions.encode` (locate over distinct chars). */
  def encode(s: UTF8String, alphabet: String): ArrayData = {
    val t = tables(alphabet)
    val str = s.toString
    val out = new Array[Long](str.codePointCount(0, str.length))
    var i = 0
    var k = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val idx = t.index.get(cp)
      out(k) = if (idx == null) t.n.toLong else idx.toLong
      k += 1
      i += Character.charCount(cp)
    }
    new GenericArrayData(out)
  }

  /** Indices to chars, stopping at the first [[IntEmpty]]; out-of-alphabet
    * maps to U+FFFD. Replicates the HOF form's `try_element_at(alpha, i+1)`
    * exactly, including its SQL negative-index semantics (k in [-n, -1]
    * counts from the end) so the two forms are interchangeable. */
  def decode(a: ArrayData, alphabet: String): UTF8String = {
    val t = tables(alphabet)
    val sb = new java.lang.StringBuilder
    val len = a.numElements()
    var i = 0
    var stopped = false
    while (i < len && !stopped) {
      if (a.isNullAt(i)) {
        // HOF form: try_element_at(alpha, null) → null → coalesce → U+FFFD;
        // a null slot is not the stop sentinel (array_position skips nulls).
        // getLong on a null slot would silently unbox to 0 = alphabet(0).
        sb.append('�')
        i += 1
      } else {
        val v = a.getLong(i)
        if (v == IntEmpty) stopped = true
        else {
          val k = v + 1 // 1-based try_element_at position
          if (k >= 1 && k <= t.n) sb.appendCodePoint(t.cps((k - 1).toInt))
          else if (k <= -1 && k >= -t.n) sb.appendCodePoint(t.cps((t.n + k).toInt))
          else sb.append('�')
          i += 1
        }
      }
    }
    UTF8String.fromString(sb.toString)
  }
}
