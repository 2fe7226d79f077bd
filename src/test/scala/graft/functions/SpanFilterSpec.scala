package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** `graft_span_filter` (q83's rebuild kernel): hand cases + random
  * agreement with the interpreted HOF formulation (the VecDot
  * cross-check pattern). */
class SpanFilterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def run(tokens: Seq[String], starts: Seq[Long], n: Int): Seq[String] = {
    import spark.implicits._
    Seq((tokens, starts)).toDF("t", "ds")
      .select(expr(s"graft_span_filter(t, ds, $n)").as("k"))
      .collect()(0).getSeq[String](0)
  }

  test("hand cases: coverage, overlap merge, empty starts, full removal") {
    assert(run(Seq("a", "b", "c", "d", "e"), Seq(2L), 3) == Seq("a", "e"))
    // overlapping spans merge: starts 1 and 3 with n=3 cover 1..5
    assert(run(Seq("a", "b", "c", "d", "e", "f"), Seq(1L, 3L), 3) == Seq("f"))
    assert(run(Seq("a", "b"), Seq.empty, 3) == Seq("a", "b"))
    assert(run(Seq("a", "b", "c"), Seq(1L), 3) == Seq.empty)
  }

  test("property: expression == interpreted HOF on random (tokens, sorted starts)") {
    import spark.implicits._
    val gen = for {
      nt <- Gen.chooseNum(0, 40)
      toks <- Gen.listOfN(nt, Gen.oneOf("a", "b", "c", "dd"))
      span <- Gen.chooseNum(1, 6)
      starts <- Gen.listOf(Gen.chooseNum(1L, math.max(1L, nt.toLong)))
    } yield (toks, starts.sorted, span)
    (0 until 40).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { case (toks, starts, n) =>
        val df = Seq((toks, starts)).toDF("t", "ds")
        val got = df.select(expr(s"graft_span_filter(t, ds, $n)")).collect()(0).getSeq[String](0)
        val want = df.select(graft.ext.CorpusMining.spanFilterHof("t", "ds", n))
          .collect()(0).getSeq[String](0)
        assert(got == want, s"toks=$toks starts=$starts n=$n")
        val viaEval = SpanFilter(Literal.create(toks, ArrayType(StringType)),
          Literal.create(starts, ArrayType(LongType)), n).eval(null).asInstanceOf[ArrayData]
        assert(viaEval.toSeq[AnyRef](StringType).map(_.toString) == want,
          s"eval: toks=$toks starts=$starts n=$n")
      }
    }
  }
}
