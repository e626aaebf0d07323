package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, ByteType, DataType, DoubleType, IntegerType}

/**
 * Native PQ kernels — the encode/score inner loops of [[graft.similarity.Pq]],
 * whose HOF restatements (`transform` + `aggregate` + `zip_with` folds)
 * evaluate INTERPRETED per element per row.
 *
 *  - `pq_encode(vec, cbFlat, m, ksub)` — the whole m-byte PQ code array in
 *    one call: per subspace j, argmin_c of the left-to-right fold
 *    `Σ_i (x_i − cb[j][c][i])²`, ties to the LOWEST code (the
 *    `array_position(d2s, array_min(d2s))` rule — first minimum under
 *    Spark's nan-safe double ordering). The codebook rides as ONE flat
 *    `array<double>` literal in `[(j·ksub + c)·subDim + i]` layout.
 *    Replaces the `posexplode(subvecs) → interpreted argmin → groupBy(id)
 *    sorted-collect` chain — the per-row folds AND the corpus-wide regroup
 *    Exchange. A subspace whose element range is missing or null (short
 *    vector, null element) yields a NULL code at that position — the
 *    zip_with null-padding / null-poisoning path of the witness; the
 *    NULL-VECTOR row (array of m null codes in the witness, via
 *    posexplode of null slices) is restored by the caller with
 *    `coalesce(kernel, <m nulls literal>)` so the kernel itself stays
 *    null-safe.
 *  - `pq_adc_sim(codes, lut, n2Flat, qn, ksub)` — the unrounded
 *    asymmetric cosine per candidate row: `dot = Σ_j lut[j·ksub+code_j]`,
 *    `cn2 = Σ_j n2[j·ksub+code_j]` (both left-to-right in subspace
 *    order), then `denom = qn·√cn2`; 0.0 when denom == 0.0 — even when
 *    the dot side would be null, the lazy `when(denom === 0.0, 0.0)`
 *    branch wins — and null when any input the evaluated chain touches is
 *    null. Rounding stays a Column op outside (`Portable.roundAt`).
 *
 * Both are value-identical to their HOF witnesses (`encodeExplodedHof` /
 * `adcScoreRankHof`, equivalence-compared in PqSpec incl. tie, null and
 * short-vector edges; the q_pq_topk / q_ivf_pq oracles pin the bytes).
 */
case class PqEncodeCodes(child: Expression, cbFlat: Array[Double], m: Int, ksub: Int)
  extends UnaryExpression with ImplicitCastInputTypes {

  require(m >= 1 && ksub >= 1 && cbFlat.length % (m * ksub) == 0,
    s"pq_encode: |cb| (${cbFlat.length}) must be m*ksub*subDim (m=$m, ksub=$ksub)")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(ByteType, containsNull = true)
  override def prettyName: String = "pq_encode"

  @transient private lazy val kernel =
    new PqEncodeKernel(cbFlat, m, ksub, cbFlat.length / (m * ksub))

  override def nullSafeEval(v: Any): Any =
    kernel.encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncodeKernel", kernel, classOf[PqEncodeKernel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encode($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Flat-codebook PQ encoder, shipped to executors via the codegen
  * references array. */
class PqEncodeKernel(cbFlat: Array[Double], m: Int, ksub: Int, subDim: Int)
  extends Serializable {

  /** Spark's nan-safe double ordering: NaN sorts larger than everything,
    * NaN == NaN, and ±0.0 compare equal (primitive `<`/`>`) — the ordering
    * `array_min` uses. `a < b` in that ordering. */
  private def nanSafeLt(a: Double, b: Double): Boolean =
    if (a < b) true
    else if (a > b) false
    else !java.lang.Double.isNaN(a) && java.lang.Double.isNaN(b)

  def encode(vec: ArrayData): ArrayData = {
    val out = new Array[Any](m)
    val n = vec.numElements()
    var j = 0
    while (j < m) {
      val base = j * subDim
      // the whole subspace range must be present and non-null, else the
      // zip_with pad / null poisoning nulls this code in the witness
      var ok = base + subDim <= n
      var i = 0
      while (ok && i < subDim) {
        if (vec.isNullAt(base + i)) ok = false
        i += 1
      }
      if (ok) {
        var best = 0
        var bestD2 = 0.0
        var c = 0
        while (c < ksub) {
          val cb0 = (j * ksub + c) * subDim
          var d2 = 0.0
          i = 0
          while (i < subDim) {
            val d = vec.getDouble(base + i) - cbFlat(cb0 + i)
            d2 += d * d
            i += 1
          }
          // first minimum under nan-safe ordering (NaN sorts largest):
          // strictly-less keeps the LOWEST code on ties
          if (c == 0) { bestD2 = d2 }
          else if (nanSafeLt(d2, bestD2)) { bestD2 = d2; best = c }
          c += 1
        }
        out(j) = java.lang.Byte.valueOf(best.toByte)
      }
      j += 1
    }
    new GenericArrayData(out)
  }
}

case class PqAdcSim(codes: Expression, lut: Expression,
                    n2Flat: Array[Double], qnExpr: Expression, ksub: Int)
  extends Expression with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(codes, lut, qnExpr)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ByteType), ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_sim"

  @transient private lazy val kernel = new PqAdcKernel(n2Flat, ksub)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val c = codes.eval(input)
    val l = lut.eval(input)
    val q = qnExpr.eval(input)
    kernel.sim(
      if (c == null) null else c.asInstanceOf[ArrayData],
      if (l == null) null else l.asInstanceOf[ArrayData],
      if (q == null) null else java.lang.Double.valueOf(q.asInstanceOf[Double]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcKernel", kernel, classOf[PqAdcKernel].getName)
    val cCode = codes.genCode(ctx)
    val lCode = lut.genCode(ctx)
    val qCode = qnExpr.genCode(ctx)
    val boxed = ctx.freshName("adcSim")
    ev.copy(code =
      code"""
        ${cCode.code}
        ${lCode.code}
        ${qCode.code}
        java.lang.Double $boxed = $ref.sim(
          ${cCode.isNull} ? null : ${cCode.value},
          ${lCode.isNull} ? null : ${lCode.value},
          ${qCode.isNull} ? null : java.lang.Double.valueOf(${qCode.value}));
        boolean ${ev.isNull} = ($boxed == null);
        double ${ev.value} = ${ev.isNull} ? 0.0 : $boxed.doubleValue();
      """)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(codes = newChildren(0), lut = newChildren(1), qnExpr = newChildren(2))
}

/** ADC scorer with the query-independent n2 LUT baked in. */
class PqAdcKernel(n2Flat: Array[Double], ksub: Int) extends Serializable {

  /** Boxed sim or null — the exact when/otherwise order of the HOF form:
    * a zero denominator returns 0.0 BEFORE the (possibly null) dot side is
    * consulted; any null the evaluated chain touches otherwise nulls the
    * result. A LUT index out of range (codes from a codebook with another
    * `m` or `ksub`) is such a null, as the witness's out-of-range lookup
    * gives, instead of an exception. */
  def sim(codes: ArrayData, lut: ArrayData, qn: java.lang.Double): java.lang.Double = {
    // cn2: null codes null-poison the fold (transform → aggregate acc+null)
    var cn2 = 0.0
    var cn2Null = codes == null
    if (!cn2Null) {
      val m = codes.numElements()
      var j = 0
      while (j < m && !cn2Null) {
        val idx = if (codes.isNullAt(j)) -1 else j * ksub + codes.getByte(j).toInt
        if (idx < 0 || idx >= n2Flat.length) cn2Null = true
        else cn2 += n2Flat(idx)
        j += 1
      }
    }
    // denom = qn * sqrt(cn2); when(denom === 0.0, 0.0) fires only on a
    // NON-NULL zero denominator
    if (qn == null || cn2Null) return null
    val denom = qn.doubleValue() * math.sqrt(cn2)
    if (denom == 0.0) return java.lang.Double.valueOf(0.0)
    if (lut == null) return null
    var dot = 0.0
    val m = codes.numElements()
    var j = 0
    while (j < m) {
      val idx = j * ksub + codes.getByte(j).toInt
      if (idx >= lut.numElements() || lut.isNullAt(idx)) return null
      dot += lut.getDouble(idx)
      j += 1
    }
    java.lang.Double.valueOf(dot / denom)
  }
}

object PqAdcExpr {
  private def intLit(name: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(s"$name expects foldable integer literals")
  }

  private def doubleArrayLit(name: String, e: Expression): Array[Double] = e match {
    case Literal(a: ArrayData, ArrayType(DoubleType, _)) => a.toDoubleArray()
    case _ => throw new IllegalArgumentException(
      s"$name expects a foldable array<double> literal")
  }

  /** Idempotent per-session registration: `pq_encode(vec, cbFlat, m, ksub)`
    * and `pq_adc_sim(codes, lut, n2Flat, qn, ksub)`. */
  def register(spark: SparkSession): Unit = {
    val eid = FunctionIdentifier("pq_encode")
    if (!spark.sessionState.functionRegistry.functionExists(eid)) {
      spark.sessionState.functionRegistry.registerFunction(
        eid,
        new ExpressionInfo(classOf[PqEncodeCodes].getName, null, "pq_encode",
          "PQ byte codes of a vector against a flat codebook literal", "", "", "", "misc_funcs", "4.0.0", "", "built-in"),
        (children: Seq[Expression]) => {
          require(children.length == 4, "pq_encode expects (vec, cbFlat, m, ksub)")
          PqEncodeCodes(children(0), doubleArrayLit("pq_encode", children(1)),
            intLit("pq_encode", children(2)), intLit("pq_encode", children(3)))
        })
    }
    val aid = FunctionIdentifier("pq_adc_sim")
    if (!spark.sessionState.functionRegistry.functionExists(aid)) {
      spark.sessionState.functionRegistry.registerFunction(
        aid,
        new ExpressionInfo(classOf[PqAdcSim].getName, null, "pq_adc_sim",
          "asymmetric-cosine ADC score from PQ codes and a query LUT", "", "", "", "misc_funcs", "4.0.0", "", "built-in"),
        (children: Seq[Expression]) => {
          require(children.length == 5, "pq_adc_sim expects (codes, lut, n2Flat, qn, ksub)")
          PqAdcSim(children(0), children(1),
            doubleArrayLit("pq_adc_sim", children(2)), children(3),
            intLit("pq_adc_sim", children(4)))
        })
    }
  }
}
