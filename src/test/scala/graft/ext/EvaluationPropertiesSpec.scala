package graft.ext

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Property-based invariants for the evaluation kernels over random
  * inputs: the streaming/batch z² JVM mirror against an exact BigInt
  * rational reference, and rank-sum AUC against brute pairwise counting
  * on random labeled frames. (Direct Gen sampling — see
  * CorpusMiningPropertiesSpec for why; Spark-touching runs are few.) */
class EvaluationPropertiesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def forAll[A](gen: Gen[A], runs: Int)(f: A => Unit): Unit =
    (0 until runs).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val contingencyGen: Gen[(Long, Long, Long, Long)] = for {
    n1 <- Gen.chooseNum(0L, 5000L)
    c1 <- Gen.chooseNum(0L, n1)
    n2 <- Gen.chooseNum(0L, 5000L)
    c2 <- Gen.chooseNum(0L, n2)
  } yield (n1, c1, n2, c2)

  test("property: z2Ppm equals the exact BigInt rational, and is assignment-symmetric") {
    import graft.ext.Evaluation.{z2PpmJvm => z2Ppm}
    forAll(contingencyGen, runs = 400) { case (n1, c1, n2, c2) =>
      val got = z2Ppm(n1, c1, n2, c2)
      val C = c1 + c2; val N = n1 + n2
      if (C == 0 || C == N || n1 == 0 || n2 == 0) assert(got.isEmpty)
      else {
        val d = BigInt(c1) * n2 - BigInt(c2) * n1
        val want = BigInt(N) * d * d * 1000000 / (BigInt(C) * (N - C) * n1 * n2)
        assert(got.contains(want.toLong))
        // swapping the arms cannot change z² (d flips sign, d² doesn't)
        assert(z2Ppm(n2, c2, n1, c1) == got)
        assert(want >= 0)
      }
    }
  }

  test("property: rankSumAuc equals brute pairwise counting on random labeled frames") {
    import spark.implicits._
    val frameGen: Gen[List[(Long, Int)]] =
      Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 8L), Gen.oneOf(0, 1)))
    forAll(frameGen, runs = 5) { rows =>
      val pos = rows.filter(_._2 == 1).map(_._1)
      val neg = rows.filter(_._2 == 0).map(_._1)
      val out = Evaluation.rankSumAuc(
        rows.map { case (sc, p) => ("g", sc, p) }.toDF("grp", "score", "pos"))
        .collect()(0)
      if (pos.isEmpty || neg.isEmpty) assert(out.isNullAt(5))
      else {
        val num = (for (p <- pos; n <- neg)
          yield if (p > n) 2L else if (p == n) 1L else 0L).sum
        assert(out.getAs[Long]("auc_num") == num)
        assert(out.getAs[Long]("auc_den") == 2L * pos.size * neg.size)
        // complement identity: flipping labels reflects AUC around 1/2
        val flipped = Evaluation.rankSumAuc(
          rows.map { case (sc, p) => ("g", sc, 1 - p) }.toDF("grp", "score", "pos"))
          .collect()(0)
        assert(flipped.getAs[Long]("auc_num") + num == out.getAs[Long]("auc_den"))
      }
    }
  }

  test("property: covSigns sign matches BigInt moments; shifting x by a constant never changes it") {
    import spark.implicits._
    val g: Gen[List[(Long, Long)]] =
      Gen.listOfN(25, Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(-1000L, 1000L)))
    forAll(g, runs = 5) { pts =>
      val df = pts.map { case (x, y) => ("g", x, y) }.toDF("grp", "x", "y")
      val out = Evaluation.covSigns(df, Seq("grp")).collect()(0)
      val n = BigInt(pts.size)
      val cov = n * pts.map(p => BigInt(p._1) * p._2).sum -
        BigInt(pts.map(_._1).sum) * BigInt(pts.map(_._2).sum)
      assert(out.getAs[Long]("sgn") == cov.signum.toLong)
      val shifted = Evaluation.covSigns(
        pts.map { case (x, y) => ("g", x + 37L, y) }.toDF("grp", "x", "y"), Seq("grp"))
        .collect()(0)
      assert(shifted.getAs[Long]("sgn") == out.getAs[Long]("sgn"))
      assert(shifted.getAs[Long]("cov_pp") == out.getAs[Long]("cov_pp"))
    }
  }
}
