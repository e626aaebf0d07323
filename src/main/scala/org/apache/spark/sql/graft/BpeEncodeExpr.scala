package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native BPE word-encoding kernel: apply a WHOLE learned merge table to one
 * word in a single codegen'd call — the encode-side sibling of
 * `Bpe.trainMergesLocal` (round-6 verdict item). The relational
 * `encodeWordsFold` applies merges as one `mergeFold` column per merge,
 * localCheckpointing every 16 — bounded expression depth, but a 32k-merge
 * production vocabulary is ~2,000 sequential materializations of the
 * distinct-word table. This kernel is ONE narrow pass at any merge count.
 *
 * Semantics, bit-equal to the fold chain (fuzz-asserted in BpeSpec at
 * 1/16/1k merges):
 *  - initial symbols = the word's code points as single-character strings
 *    plus the `</w>` terminal (`concat(split(word, ''), ['</w>'])` — the
 *    empty word yields just `["</w>"]`, matching Spark's empty-regex split
 *    of the empty string);
 *  - merges apply IN RANK ORDER, each as one leftmost-first non-overlapping
 *    rewrite pass (a pass never re-merges the symbol it just built — the
 *    `mergeFold` pending-buffer semantics);
 *  - a rank-k pass whose `l`/`r` symbols cannot BOTH be present is skipped
 *    via a grow-only symbol-presence set (initial symbols + every concat a
 *    pass actually produced) — a pure no-op elision, so a 32k-entry table
 *    costs ~32k hash probes per word plus one rewrite pass per merge that
 *    actually fires.
 *
 * The merge table rides into the expression as two foldable
 * `array<string>` literals (one plan object each, NOT one expression node
 * per merge) and is decoded to JVM arrays once per expression instance.
 * Precondition shared with `mergeFold`: merge symbols are never empty
 * strings (trained tables satisfy this by construction — pairs are counted
 * over non-empty symbols).
 */
case class BpeEncode(child: Expression, ls: Seq[String], rs: Seq[String])
  extends UnaryExpression with ImplicitCastInputTypes {

  require(ls.length == rs.length, "bpe_encode: |l| must equal |r|")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  @transient private lazy val table = new BpeMergeTable(ls.toArray, rs.toArray)

  override def nullSafeEval(s: Any): Any =
    table.encode(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMergeTable", table, classOf[BpeMergeTable].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encode($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The decoded merge table + encoder. One instance per expression, shipped
  * to executors inside the codegen references array. */
class BpeMergeTable(ls: Array[String], rs: Array[String]) extends Serializable {

  def encode(word: UTF8String): ArrayData = {
    val w = word.toString
    // initial symbols: per code point (Java 8+ empty-regex split semantics —
    // Spark's split(word, '') does not cut surrogate pairs and yields an
    // EMPTY array for the empty word), terminal marker last
    val syms = new java.util.ArrayList[String](w.length + 1)
    var ci = 0
    while (ci < w.length) {
      val cp = w.codePointAt(ci)
      val n = Character.charCount(cp)
      syms.add(w.substring(ci, ci + n))
      ci += n
    }
    syms.add(graft.textanalysis.Bpe.EndOfWord)

    val present = new java.util.HashSet[String](syms.size * 2)
    var i = 0
    while (i < syms.size) { present.add(syms.get(i)); i += 1 }

    var m = 0
    while (m < ls.length && syms.size >= 2) {
      val a = ls(m)
      val b = rs(m)
      if (present.contains(a) && present.contains(b)) {
        // one leftmost-first non-overlapping pass (mergeFold semantics)
        var r = 0
        var wr = 0
        var fired = false
        val n = syms.size
        while (r < n) {
          if (r + 1 < n && syms.get(r) == a && syms.get(r + 1) == b) {
            syms.set(wr, a + b); r += 2; fired = true
          } else {
            syms.set(wr, syms.get(r)); r += 1
          }
          wr += 1
        }
        var drop = n
        while (drop > wr) { drop -= 1; syms.remove(drop) }
        if (fired) present.add(a + b)
      }
      m += 1
    }

    val out = new Array[Any](syms.size)
    i = 0
    while (i < syms.size) { out(i) = UTF8String.fromString(syms.get(i)); i += 1 }
    new GenericArrayData(out)
  }
}
