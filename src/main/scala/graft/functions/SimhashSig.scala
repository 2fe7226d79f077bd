package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd N-bit SimHash over a token array: one tight primitive loop —
  * per token ONE portable 60-bit hash (the md5-derived value every other
  * portable-hash operator uses, `conv(substring(md5(t),1,15),16,10)`),
  * then `bits` integer votes; bit j of the result is set iff the votes for
  * j are positive.
  *
  * Replaces the interpreted higher-order-function formulation
  * (`TextAnalysis.simhashNHof`): HOF lambdas run on Column machinery with a
  * `bits`-wide zip_with allocation per token, so a corpus pass costs
  * O(tokens × bits) interpreter dispatches — this expression does the same
  * arithmetic inside WholeStageCodegen (the [[RhpSig]] pattern applied to
  * text signatures). Same portability contract: the DuckDB oracle
  * replicates the hash from md5 hex and the integer votes exactly.
  */
case class SimhashSig(child: Expression, bits: Int) extends UnaryExpression {

  require(bits >= 1 && bits <= 60, s"graft_simhash bits must be in [1,60], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SimhashSig.kernel(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashSig.kernel($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash"
}

object SimhashSig {

  /** The `bits`-bit SimHash of one token array — the one implementation
    * behind both `eval` and the generated code. */
  def kernel(arr: ArrayData, bits: Int): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = hash60(arr.getUTF8String(i))
        var j = 0
        while (j < bits) {
          votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) { if (votes(j) > 0) sig |= 1L << j; j += 1 }
    sig
  }

  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** The portable 60-bit hash: numeric value of the first 15 hex chars of
    * md5 — bit-identical to `conv(substring(md5(t),1,15),16,10)` and to
    * DuckDB's `CAST(('0x' || substring(md5(t),1,15)) AS BIGINT)`. Bytes
    * 0..6 contribute full shifts (hex char c of byte b is nibble 2b+c);
    * the 15th hex char is byte 7's high nibble. */
  def hash60(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val b = d.digest(s.getBytes)
    ((b(0) & 0xFFL) << 52) | ((b(1) & 0xFFL) << 44) | ((b(2) & 0xFFL) << 36) |
      ((b(3) & 0xFFL) << 28) | ((b(4) & 0xFFL) << 20) | ((b(5) & 0xFFL) << 12) |
      ((b(6) & 0xFFL) << 4) | ((b(7) & 0xF0L) >>> 4)
  }
}
