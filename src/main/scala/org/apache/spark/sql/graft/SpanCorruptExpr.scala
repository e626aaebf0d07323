package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native T5 span-corruption kernel — the whole
 * [[graft.pipeline.SpanCorruption.corrupt]] per-document pipeline (token
 * split, md5 start/length gates, span union, maximal-run islands, sentinel
 * numbering, input/target reassembly) as ONE codegen'd call per row:
 * `span_corrupt(id_string, text, cutoff, maxLen)` →
 * `struct<input_text, target_text>`.
 *
 * Every step of the operator is a pure function of the single document
 * (the gates key on `(id, position)`), so the former relational shape —
 * token posexplode, bounded span explode + distinct, two per-doc windows
 * (islands + first-of-run), a (id, pos) join and a sorted-collect
 * reassembly aggregation — computed a per-row function through five
 * exchanges. This kernel is value-identical (the relational form is kept
 * as [[graft.pipeline.SpanCorruption.corruptRelational]], the equivalence
 * witness; the splice-back invariant spec and the `q_span_corrupt` oracle
 * pin the bytes) and runs scan-side with no exchange at all.
 *
 * Gate semantics, exactly [[graft.pipeline.Sampling.gate16]]:
 * `conv(substring(md5(key), 1, 4), 16, 10)` — the first 16 md5 bits of
 * the key string; start key `"<id>:<pos>"`, length key `"<id>#<pos>"`,
 * positions 0-based over the normalized non-empty tokens. Null text (no
 * token rows relationally) yields `("", "<extra_id_0>")`.
 */
object SpanCorruptKernel {

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** First 16 md5 bits of the key string (Sampling.gate16). */
  private def gate16(key: String): Int = {
    val d = md5.get()
    d.reset()
    val h = d.digest(key.getBytes(StandardCharsets.UTF_8))
    ((h(0) & 0xFF) << 8) | (h(1) & 0xFF)
  }

  def emptyResult: GenericInternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(""), UTF8String.fromString("<extra_id_0>")))

  def corrupt(id: UTF8String, text: UTF8String, cutoff: Int, maxLen: Int): GenericInternalRow = {
    // Dedup.normalizeText + split(" ") + empty filter (see MinHashKernel)
    val replaced = text.toLowerCase.toString.replaceAll("\\s+", " ")
    var st = 0
    var en = replaced.length
    while (st < en && replaced.charAt(st) == ' ') st += 1
    while (en > st && replaced.charAt(en - 1) == ' ') en -= 1
    val normalized = replaced.substring(st, en)
    if (normalized.isEmpty) return emptyResult
    val toks = normalized.split(" ", -1)
    val n = toks.length
    val idStr = id.toString

    // masked = union of [s, e) spans from the two md5 gates (positions past
    // the end clip harmlessly — they extend no real run)
    val masked = new Array[Boolean](n)
    var p = 0
    while (p < n) {
      if (gate16(idStr + ":" + p) < cutoff) {
        val len = 1 + gate16(idStr + "#" + p) % maxLen
        var q = p
        val e = math.min(n, p + len)
        while (q < e) { masked(q) = true; q += 1 }
      }
      p += 1
    }

    // maximal masked runs left to right: run ordinal k per position
    val input = new java.lang.StringBuilder
    val target = new java.lang.StringBuilder
    var k = 0
    p = 0
    while (p < n) {
      if (!masked(p)) {
        if (input.length > 0) input.append(' ')
        input.append(toks(p))
        p += 1
      } else {
        if (input.length > 0) input.append(' ')
        input.append("<extra_id_").append(k).append('>')
        if (target.length > 0) target.append(' ')
        target.append("<extra_id_").append(k).append('>')
        while (p < n && masked(p)) {
          target.append(' ').append(toks(p))
          p += 1
        }
        k += 1
      }
    }
    if (target.length > 0) target.append(' ')
    target.append("<extra_id_").append(k).append('>')
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(input.toString), UTF8String.fromString(target.toString)))
  }
}
