package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.unsafe.types.UTF8String

/**
 * Native 32-bit SimHash kernel: normalize → whitespace tokens → one md5 per
 * token occurrence → ±1 votes per bit lane → sign bits, in one codegen'd
 * expression. Value-identical to both restatements in `graft.dedup.Dedup`
 * (`simHash32` HOF fold, `simHash32RelationalExploded` explode+agg) and to
 * the DuckDB oracle — equivalence-tested in DedupSpec.
 *
 * Same motivation as [[MinHashKernel]]: the relational form pays an
 * O(tokens) explode through a 32-lane hash aggregate; this kernel keeps the
 * signature NARROW (scan-side map, no exchange), so the banded near-dup
 * pipeline's only wide op is the band-key self-join itself.
 */
object SimHashKernel {
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** First 4 md5 bytes as an unsigned 32-bit value — identical to
    * `conv(substring(md5(tok), 1, 8), 16, 10)`. */
  private def tokenHash(s: String): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(s.getBytes(StandardCharsets.UTF_8))
    ((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) | ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)
  }

  def signature(text: UTF8String): Long = {
    // normalization mirrors Dedup.normalizeText exactly (see MinHashKernel)
    val replaced = text.toLowerCase.toString.replaceAll("\\s+", " ")
    var st = 0
    var en = replaced.length
    while (st < en && replaced.charAt(st) == ' ') st += 1
    while (en > st && replaced.charAt(en - 1) == ' ') en -= 1
    val toks = replaced.substring(st, en).split(" ", -1)
    val lanes = new Array[Int](32)
    var t = 0
    while (t < toks.length) {
      val hv = tokenHash(toks(t))
      var b = 0
      while (b < 32) {
        if ((hv & (1L << b)) != 0) lanes(b) += 1 else lanes(b) -= 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 32) {
      if (lanes(b) >= 0) sig |= 1L << b
      b += 1
    }
    sig
  }
}
