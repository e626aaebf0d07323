package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.text.DamerauLevenshtein

/**
 * Native Catalyst expression for Damerau-Levenshtein distance — the U1
 * upgrade path of SURVEY.md §2.10: Spark's built-in `levenshtein` has no
 * transposition, so reference CER semantics need a custom kernel; as an
 * `Expression` with real `doGenCode` it stays inside whole-stage codegen
 * (a scala UDF would break the codegen span and pay serde per row).
 *
 * Lives under `org.apache.spark.sql.graft` because the input-type contract
 * (`AbstractDataType`) is `private[sql]` — the standard placement for
 * third-party Catalyst expressions.
 *
 * `variant`: 0 = banded OSA (reference semantics, `edit_distance.py:61-123`),
 * 1 = full OSA, 2 = unrestricted/true DL (matches DuckDB
 * `damerau_levenshtein`, used by oracle-checked queries).
 */
case class DamerauLevenshteinExpr(left: Expression, right: Expression, variant: Int)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = variant match {
    case 0 => "dl_distance"
    case 1 => "dl_distance_full"
    case _ => "dl_distance_true"
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshteinExpr.compute(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], variant)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.DamerauLevenshteinExpr.compute($a, $b, $variant)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DamerauLevenshteinExpr {
  /** Static kernel entry shared by interpreted eval and generated code. */
  def compute(a: UTF8String, b: UTF8String, variant: Int): Int = variant match {
    case 0 => DamerauLevenshtein.distanceBanded(a.toString, b.toString)
    case 1 => DamerauLevenshtein.distance(a.toString, b.toString)
    case _ => DamerauLevenshtein.distanceUnrestricted(a.toString, b.toString)
  }

  /** Registers every graft SQL function ([[NativeFunctions.register]]). */
  def register(spark: SparkSession): Unit = NativeFunctions.register(spark)
}
