package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ext.Dedup

/** graft_sig_agree must agree with the interpreted HOF formulation it
  * replaced, element for element, including degenerate inputs. */
class SigAgreeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def hofAgree(sa: org.apache.spark.sql.Column, sb: org.apache.spark.sql.Column) =
    aggregate(zip_with(sa, sb, (a, b) => when(a === b, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)

  test("matches the HOF zip_with/aggregate form on real signatures") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val sigs = Dedup.minhashSignatures(
      Dedup.hashedShingleSets(docs, "text", "doc_id"))
    val pairs = sigs.select(col("doc_id").as("a_id"), col("sig").as("sa"))
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sb")),
        col("a_id") === col("b_id") - 1) // adjacent ids: a deterministic pair sample
    val diff = pairs.select(
      (call_function("graft_sig_agree", col("sa"), col("sb")) -
        hofAgree(col("sa"), col("sb"))).as("d"))
      .where(col("d") =!= 0L).count()
    assert(pairs.count() > 100, "need a meaningful sample")
    assert(diff == 0L)
  }

  test("property: random long arrays, including ties and length mismatches") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val arrGen = for {
      n <- Gen.chooseNum(0, 80)
      xs <- Gen.listOfN(n, Gen.chooseNum(0L, 6L)) // small domain forces ties
    } yield xs
    val cases = (0 until 200).flatMap { i =>
      Gen.zip(arrGen, arrGen).apply(Gen.Parameters.default, Seed(i.toLong))
    }
    val df = cases.toDF("sa", "sb")
    val got = df.select(call_function("graft_sig_agree", col("sa"), col("sb")))
      .collect().map(_.getLong(0)).toSeq
    val want = cases.map { case (sa, sb) =>
      sa.zip(sb).count { case (a, b) => a == b }.toLong
    }
    assert(got == want)
    val viaEval = cases.map { case (sa, sb) =>
      SigAgree(Literal.create(sa, ArrayType(LongType)), Literal.create(sb, ArrayType(LongType)))
        .eval(null)
    }
    assert(viaEval == want)
  }

  test("null propagation and empty arrays") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L), Seq(1L, 3L))).toDF("sa", "sb")
    assert(df.select(call_function("graft_sig_agree", col("sa"), col("sb")))
      .head.getLong(0) == 1L)
    assert(df.select(call_function("graft_sig_agree",
      lit(null).cast("array<bigint>"), col("sb"))).head.isNullAt(0))
    assert(df.select(call_function("graft_sig_agree",
      typedLit(Seq.empty[Long]), col("sb"))).head.getLong(0) == 0L)
  }
}
