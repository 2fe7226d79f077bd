package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Codegen'd multi-table random-hyperplane LSH signature over an embedding
  * column: `tables` independent `bits`-bit signatures, one long per table.
  *
  * Bit `j` of table `t` is set iff `dot(vec, plane(t*bits+j)) > 0`, where
  * plane components are deterministic +-1 drawn from splitmix64 — no stored
  * model, identical on every executor, and (because the signs are plain
  * literals) exactly reproducible by any other engine, which is what lets
  * the DuckDB oracle replicate bucket assignments bit-for-bit.
  *
  * Numeric contract: each dot is a LEFT-TO-RIGHT double fold of
  * `(+-1) * (double) vec[i]` — multiplication by +-1 and the fold order are
  * IEEE-exact, so Spark and the oracle agree on every sign decision.
  *
  * This replaces a nested higher-order-function formulation
  * (O(tables*bits*dim) Column-machinery invocations with per-element
  * xxhash64 calls per row) with one tight primitive loop inside
  * WholeStageCodegen — the [[VecDot]] pattern applied to signatures.
  */
case class RhpSig(child: Expression, tables: Int, bits: Int, dim: Int)
    extends UnaryExpression {

  require(tables > 0 && bits > 0 && bits <= 63, "tables > 0, 0 < bits <= 63 required")
  require(dim > 0 && tables * bits * dim <= (1 << 24), "plane matrix too large")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_rhp_sig expects array<float>/array<double>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // +-1 plane signs, computed once on the driver and shipped as a reference
  // object; ~tables*bits*dim bytes.
  @transient private lazy val planes: Array[Array[Byte]] = RhpSig.planes(tables, bits, dim)

  override def nullSafeEval(input: Any): Any =
    RhpSig.kernel(input.asInstanceOf[ArrayData], elemIsFloat, planes, tables, bits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("rhpPlanes", planes, "byte[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RhpSig.kernel($c, $elemIsFloat, $p, $tables, $bits, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): RhpSig =
    copy(child = newChild)

  override def prettyName: String = "graft_rhp_sig"
}

object RhpSig {

  /** Default plane dimensionality; vectors longer than this need an explicit
    * `dim` argument. */
  val DefaultDim = 1024

  /** splitmix64 — the standard 64-bit finalizer (public domain, Steele et
    * al., "Fast splittable pseudorandom number generators"). */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic +-1 component `i` of hyperplane `p` — the single source
    * of truth shared by the expression, the plain-Scala cross-check, and
    * the DuckDB oracle SQL generator (which interpolates these as
    * literals). */
  def planeSign(p: Int, i: Int): Int =
    if ((splitmix64(p.toLong * 1000003L + i) & 1L) == 1L) 1 else -1

  def planes(tables: Int, bits: Int, dim: Int): Array[Array[Byte]] =
    Array.tabulate(tables * bits, dim)((p, i) => planeSign(p, i).toByte)

  /** The signatures of one vector against precomputed `planes` — the one
    * implementation behind both `eval` and the generated code. */
  def kernel(vec: ArrayData, isFloat: Boolean, planes: Array[Array[Byte]],
      tables: Int, bits: Int, dim: Int): ArrayData = {
    val n = vec.numElements()
    if (n > dim) throw new IllegalArgumentException(
      s"graft_rhp_sig: vector has $n elements, plane dim is $dim")
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var j = 0
      while (j < bits) {
        val plane = planes(t * bits + j)
        var acc = 0.0
        var i = 0
        while (i < n) {
          acc += plane(i) * VecDot.element(vec, isFloat, i)
          i += 1
        }
        if (acc > 0) sig |= 1L << j
        j += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Reference (plain Scala) signature computation, independent of
    * [[kernel]] and [[planes]], for cross-checking the expression in tests. */
  def signaturesOf(vec: Array[Float], tables: Int, bits: Int): Array[Long] =
    Array.tabulate(tables) { t =>
      (0 until bits).foldLeft(0L) { (sig, j) =>
        var acc = 0.0
        var i = 0
        while (i < vec.length) { acc += planeSign(t * bits + j, i) * vec(i).toDouble; i += 1 }
        if (acc > 0) sig | (1L << j) else sig
      }
    }
}
