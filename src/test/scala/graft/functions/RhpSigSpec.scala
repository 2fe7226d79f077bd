package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ext.Similarity

/** The RHP-LSH signature expression: codegen vs plain-Scala cross-check
  * (the VecDot pattern), plus the measured quality gates for the
  * approximate operators built on it. */
class RhpSigSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def emb(sf: String) =
    spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")

  test("codegen signatures equal the plain-Scala reference computation") {
    import spark.implicits._
    val df = emb("sf0.001")
    val got = df
      .select(col("vec_id"), Similarity.rhpSig(col("embedding"), 8, 6).as("sig"))
      .as[(Long, Seq[Long])].collect()
    val vecs = df.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    assert(got.nonEmpty)
    // one bound expression, so its planes are built once for all vectors
    val viaEvalExpr = RhpSig(BoundReference(0, ArrayType(FloatType), nullable = false),
      8, 6, RhpSig.DefaultDim)
    got.foreach { case (id, sig) =>
      val ref = RhpSig.signaturesOf(vecs(id).toArray, tables = 8, bits = 6)
      assert(sig == ref.toSeq, s"signature mismatch for vec $id")
      val viaEval = viaEvalExpr.eval(InternalRow(ArrayData.toArrayData(vecs(id).toArray)))
        .asInstanceOf[ArrayData].toLongArray().toSeq
      assert(viaEval == ref.toSeq, s"eval signature mismatch for vec $id")
    }
  }

  test("LSH near-dup pairs: exact-verified subset of the exact pair set, full recall at sf0.01") {
    val e = emb("sf0.01")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.cosineNearDupPairsExact(e, "embedding", "vec_id", 0.4))
    val lsh = pairSet(Similarity.cosineNearDupPairsLsh(e, "embedding", "vec_id", 0.4, 32, 5))
    assert(lsh.subsetOf(exact), "within-bucket verification must never emit a false pair")
    assert(lsh == exact, s"recall ${lsh.size}/${exact.size}: expected 1.0 at sf0.01 with T=32,b=5")
  }

  test("annTopK recall@5 >= 0.9 vs bruteForceTopK at sf0.01 (q30 quality gate)") {
    val e = emb("sf0.01")
    val queries = e.where(col("vec_id") < 50)
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = topSet(Similarity.bruteForceTopK(e, queries, "embedding", "vec_id", 5))
    val ann = topSet(Similarity.annTopK(e, queries, "embedding", "vec_id", 5))
    val recall = (ann intersect brute).size.toDouble / brute.size
    info(f"annTopK recall@5 = $recall%.3f (${(ann intersect brute).size}/${brute.size})")
    assert(recall >= 0.9, f"recall@5 $recall%.3f below the 0.9 gate")
  }
}
