package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd MinHash signature over a hashed-shingle set (array<long>):
  * `numHashes` permutation minima in ONE primitive pass, entirely map-side.
  *
  * Replaces the explode + N-min-aggregates formulation: that shape shuffles
  * every (doc, shingle) row to compute per-doc minima, so signature cost at
  * 100 TB includes a corpus-sized exchange. As a scalar expression the
  * signature needs NO shuffle at all — each row computes its own sig inside
  * WholeStageCodegen and only the 8×N-byte signature ever moves.
  *
  * Hash family: two xxhash64-style mixes of each element combined as
  * h1 XOR rotl64(h2, j) — the same two-base-hash construction the explode
  * formulation used (engine-internal; candidates are exactly verified
  * downstream, so the family never leaks into results). Mixing is bitwise
  * (ANSI-safe) and collision behavior matches the standard MinHash
  * independence argument.
  */
case class MinhashSig(child: Expression, numHashes: Int) extends UnaryExpression {

  require(numHashes >= 1 && numHashes <= 1024, "numHashes must be in [1,1024]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects array<long>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinhashSig.kernel(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashSig.kernel($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash"
}

object MinhashSig {

  /** The signature of one shingle set — the one implementation behind both
    * `eval` and the generated code. */
  def kernel(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    val blocks = (numHashes + 63) / 64
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = arr.getLong(i)
        // rotl has period 64: re-seed the base mixes per 64-position block
        // so positions >= 64 stay independent of their j-64 mirrors
        var b = 0
        while (b < blocks) {
          val h1 = mix64(v, 0x9E3779B97F4A7C15L + b)
          val h2 = mix64(v, 0xC2B2AE3D27D4EB4FL + b)
          var j = b * 64
          val end = math.min(j + 64, numHashes)
          while (j < end) {
            val m = h1 ^ java.lang.Long.rotateLeft(h2, j)
            if (m < out(j)) out(j) = m
            j += 1
          }
          b += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** splitmix64-style finalizer seeded per base hash — a full-avalanche
    * 64-bit mix (Steele et al.). JVM long multiplication wraps (ANSI mode
    * governs SQL expressions, not Expression-internal Java). */
  private def mix64(v: Long, seed: Long): Long = {
    var z = v ^ seed
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
