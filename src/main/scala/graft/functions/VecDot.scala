package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.vectorized.ColumnarArray

/** Codegen'd dot product over two float/double array columns.
  *
  * Numeric contract: a LEFT-TO-RIGHT double fold over the element products
  * (each element widened to double first) — bit-identical to
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,x) -> acc+x)` and to the
  * DuckDB oracle's list-comprehension sum, but without the per-element
  * Column machinery: one tight primitive loop inside WholeStageCodegen.
  * This is the hot kernel of the similarity operators (SURVEY.md §2.4); on
  * the O(n^2) near-dup scan it replaces ~130M boxed lambda invocations per
  * million pairs with a vectorizable loop.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_vec_dot expects array<float>/array<double>, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    VecDot.kernel(l.asInstanceOf[ArrayData], elemIsFloat(left),
      r.asInstanceOf[ArrayData], elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.VecDot.kernel($l, ${elemIsFloat(left)}, $r, ${elemIsFloat(right)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_vec_dot"
}

object VecDot {

  /** The left-to-right double fold of the element products, each element
    * widened to double first — the one implementation behind both `eval`
    * and the generated code. */
  def kernel(l: ArrayData, lFloat: Boolean, r: ArrayData, rFloat: Boolean): Double = {
    val n = math.min(l.numElements(), r.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += element(l, lFloat, i) * element(r, rFloat, i)
      i += 1
    }
    acc
  }

  /** Element `i` of a float/double array, widened to double. A kernel's
    * code is shared by every call site, so a plain `ArrayData` read in it
    * sees every array class (unsafe, columnar, generic) and the JIT cannot
    * inline it; the class tests name the two final classes that scans and
    * exchanges deliver, so their reads inline. */
  private[functions] def element(a: ArrayData, isFloat: Boolean, i: Int): Double = a match {
    case u: UnsafeArrayData => if (isFloat) u.getFloat(i) else u.getDouble(i)
    case c: ColumnarArray => if (isFloat) c.getFloat(i) else c.getDouble(i)
    case _ => if (isFloat) a.getFloat(i) else a.getDouble(i)
  }
}

/** Session extension registering the engine's native functions — the
  * `SparkSessionExtensions` integration point (enable with
  * `spark.sql.extensions=graft.functions.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Extract an Int from a foldable literal argument — shared by every
    * parameterized function registration below. */
  private def intLit(e: Expression, fn: String, what: String): Int = e match {
    case lit if lit.foldable => lit.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an int literal, got $other")
    }
    case _ => throw new IllegalArgumentException(s"$fn: $what must be a literal")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "graft_vec_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_vec_dot takes exactly 2 arguments")
        VecDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_rhp_sig"),
      new ExpressionInfo(classOf[RhpSig].getName, "graft_rhp_sig"),
      (children: Seq[Expression]) => {
        require(children.size == 3 || children.size == 4,
          "graft_rhp_sig takes (vec, tables, bits[, dim])")
        RhpSig(children.head,
          intLit(children(1), "graft_rhp_sig", "tables"),
          intLit(children(2), "graft_rhp_sig", "bits"),
          if (children.size == 4) intLit(children(3), "graft_rhp_sig", "dim")
          else RhpSig.DefaultDim)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_minhash takes (hashed_shingles, num_hashes)")
        MinhashSig(children.head, intLit(children(1), "graft_minhash", "num_hashes"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashSig].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_simhash takes (tokens, bits)")
        SimhashSig(children.head, intLit(children(1), "graft_simhash", "bits"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_sig_agree"),
      new ExpressionInfo(classOf[SigAgree].getName, "graft_sig_agree"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_sig_agree takes exactly 2 arguments")
        SigAgree(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_span_filter"),
      new ExpressionInfo(classOf[SpanFilter].getName, "graft_span_filter"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_span_filter takes (tokens, sorted_starts, span_len)")
        SpanFilter(children.head, children(1),
          intLit(children(2), "graft_span_filter", "span_len"))
      }))
  }
}
