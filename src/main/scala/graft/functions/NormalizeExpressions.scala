package graft.functions

import graft.text.ArabicNormalizer
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for Arabic normalization (the "(b)
  * custom Expression beats a UDF" tier): ONE pass over the string via
  * `doGenCode` instead of the four chained regex/translate passes of
  * the built-in-function form — and unlike a Scala UDF they stay
  * inside whole-stage codegen with no extra serialization boundary.
  *
  * Semantics are byte-identical to ArabicNormalizer.normalizeBasic /
  * normalizeEnhanced (reference: scripts/all-pdf-to-json-smart.py:
  * 187-203 and all-pdf-to-json-smart-structured.py:324-345); the
  * equivalence of all three twin forms (Scala regex, Scala
  * single-pass, native expression) is property-tested.
  */
abstract class NormalizeArabicExpr extends UnaryExpression {
  override def dataType: DataType = StringType
  // Python semantics: null/empty -> "" (never null)
  override def nullable: Boolean = false

  /** fully-qualified static method implementing the single pass */
  protected def staticMethod: String
  protected def normalize(s: String): String

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    UTF8String.fromString(normalize(if (v == null) "" else v.toString))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        UTF8String ${ev.value} = UTF8String.fromString($staticMethod(
          ${childGen.isNull} ? "" : ${childGen.value}.toString()));
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
}

case class NormalizeArabicBasic(child: Expression) extends NormalizeArabicExpr {
  override protected def staticMethod: String = "graft.text.ArabicNormalizer.normalizeBasicFast"
  override protected def normalize(s: String): String = ArabicNormalizer.normalizeBasicFast(s)
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
  override def prettyName: String = "normalize_arabic_basic"
}

case class NormalizeArabicEnhanced(child: Expression) extends NormalizeArabicExpr {
  override protected def staticMethod: String = "graft.text.ArabicNormalizer.normalizeEnhancedFast"
  override protected def normalize(s: String): String = ArabicNormalizer.normalizeEnhancedFast(s)
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
  override def prettyName: String = "normalize_arabic_enhanced"
}

object GraftFunctions {
  import org.apache.spark.sql.graft.ColumnBridge

  def normalizeArabicBasic(c: Column): Column =
    ColumnBridge.column(NormalizeArabicBasic(ColumnBridge.expression(c)))
  def normalizeArabicEnhanced(c: Column): Column =
    ColumnBridge.column(NormalizeArabicEnhanced(ColumnBridge.expression(c)))

  /** Register the SQL surface: `SELECT normalize_arabic_basic(text) ...` */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "normalize_arabic_basic", exprs => NormalizeArabicBasic(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "normalize_arabic_enhanced", exprs => NormalizeArabicEnhanced(exprs.head), "scala_udf")
  }
}
