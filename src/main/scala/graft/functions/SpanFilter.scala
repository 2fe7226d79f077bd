package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Codegen'd span-coverage filter for exact-substring dedup
  * (`CorpusMining.removeRepeatedSpans` / q83): given a token array and the
  * ASCENDING-SORTED 1-based start positions of duplicated length-`n`
  * spans, return the tokens NOT covered by any span.
  *
  * Replaces the HOF formulation `filter(t, (tok, j) -> NOT exists(ds, ...))`
  * — interpreted lambdas cost O(tokens × starts) per document (DEVNOTES
  * rule 10); this expression is a two-pointer sweep, O(tokens + starts),
  * inside WholeStageCodegen.
  *
  * Contract: `starts` must be sorted ascending (q83 feeds
  * `sort_array(collect_list(...))`); with unsorted input coverage from a
  * not-yet-reached earlier start would be missed.
  */
case class SpanFilter(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  require(n >= 1, "span length must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_span_filter expects (array<string>, array<long>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = ArrayType(StringType,
    containsNull = left.dataType.asInstanceOf[ArrayType].containsNull)

  override def nullSafeEval(tokens: Any, starts: Any): Any =
    SpanFilter.kernel(tokens.asInstanceOf[ArrayData], starts.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s) => s"graft.functions.SpanFilter.kernel($t, $s, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SpanFilter =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_span_filter"
}

object SpanFilter {

  /** The tokens of `t` not covered by any length-`n` span starting at the
    * ascending 1-based positions `s` — the one implementation behind both
    * `eval` and the generated code. */
  def kernel(t: ArrayData, s: ArrayData, n: Int): ArrayData = {
    val nt = t.numElements()
    val ns = s.numElements()
    val kept = new java.util.ArrayList[AnyRef](nt)
    var p = 0
    var maxEnd = 0L
    var j = 1
    while (j <= nt) {
      while (p < ns && s.getLong(p) <= j) {
        val e = s.getLong(p) + n - 1
        if (e > maxEnd) maxEnd = e
        p += 1
      }
      if (j > maxEnd)
        kept.add(if (t.isNullAt(j - 1)) null else t.getUTF8String(j - 1))
      j += 1
    }
    new GenericArrayData(kept.toArray)
  }
}
