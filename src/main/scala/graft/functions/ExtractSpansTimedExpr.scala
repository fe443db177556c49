package graft.functions

import graft.extract.Extract

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `extract_spans` plus the lineage wall time: the `ExtractSpansExpr`
  * struct with a trailing `wall_ms` field, the task-side time of
  * `ExtractSpansExpr.evalStatic` for this document.
  *
  * Never null: a null `spans` array yields empty spans with status
  * `Extract.NullSpansStatus`, so the metrics table records the document
  * as not ok instead of committing a null status that every resume
  * would silently reprocess.
  *
  * Nondeterministic because `wall_ms` is a measurement; that also keeps
  * CollapseProject from inlining the extraction into each field access.
  */
case class ExtractSpansTimedExpr(child: Expression, useSplitHeuristic: Boolean,
    useMidpoint: Boolean)
    extends UnaryExpression {

  override def prettyName: String = "extract_spans_timed"

  override lazy val deterministic: Boolean = false

  override def nullable: Boolean = false

  override def dataType: DataType = ExtractSpansTimedExpr.OutputType

  override def checkInputDataTypes(): TypeCheckResult =
    ExtractSpansExpr(child, useSplitHeuristic, useMidpoint).checkInputDataTypes()

  override def eval(input: InternalRow): Any =
    ExtractSpansTimedExpr.evalTimed(
      child.eval(input).asInstanceOf[ArrayData], useSplitHeuristic, useMidpoint)

  /** A static call, as in `ExtractSpansExpr.doGenCode`, so the Project
    * stays inside whole-stage codegen.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.ExtractSpansTimedExpr.evalTimed(
          ${c.isNull} ? null : ${c.value}, $useSplitHeuristic, $useMidpoint);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractSpansTimedExpr =
    copy(child = newChild)
}

object ExtractSpansTimedExpr {

  val OutputType: StructType =
    ExtractSpansExpr.OutputType.add(StructField("wall_ms", LongType, nullable = false))

  private val NullSpansStatus = UTF8String.fromString(Extract.NullSpansStatus)
  private val NoSpans = new GenericArrayData(Array.empty[Any])

  def evalTimed(arr: ArrayData, useSplitHeuristic: Boolean, useMidpoint: Boolean): InternalRow = {
    if (arr == null)
      return new GenericInternalRow(Array[Any](NoSpans, 0, 0, NullSpansStatus, 0L))
    val t0 = System.nanoTime()
    val r = ExtractSpansExpr.evalStatic(arr, useSplitHeuristic, useMidpoint)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    new GenericInternalRow(
      Array[Any](r.getArray(0), r.getInt(1), r.getInt(2), r.getUTF8String(3), wallMs))
  }
}
