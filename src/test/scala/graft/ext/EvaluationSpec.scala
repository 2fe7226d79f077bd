package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDir}

/** The q278–q283 evaluation statistics against brute-force and closed-form
  * ground truth on hand-built frames. */
class EvaluationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("rankSumAuc equals brute pairwise counting (wins + half-ties), with ties") {
    import spark.implicits._
    // one group; scores with a tie straddling the classes
    val rows = Seq( // (score, pos)
      (1L, 0), (2L, 0), (2L, 1), (3L, 0), (5L, 1), (5L, 0), (7L, 1))
    val df = rows.map { case (sc, p) => ("g", sc, p) }.toDF("grp", "score", "pos")
    val out = Evaluation.rankSumAuc(df).collect()(0)
    // brute: over all (pos, neg) pairs count pos>neg as 2, ties as 1
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1)
    val num = (for (p <- pos; n <- neg)
      yield if (p > n) 2L else if (p == n) 1L else 0L).sum
    assert(out.getAs[Long]("auc_num") == num)
    assert(out.getAs[Long]("auc_den") == 2L * pos.size * neg.size)
    assert(out.getAs[Long]("auc_ppm") == num * 1000000L / (2L * pos.size * neg.size))
  }

  test("rankSumAuc: perfect separation gives 1.0, reversed gives 0.0, one-class gives null") {
    import spark.implicits._
    val df = Seq(
      ("sep", 1L, 0), ("sep", 2L, 0), ("sep", 3L, 1), ("sep", 4L, 1),
      ("rev", 1L, 1), ("rev", 2L, 1), ("rev", 3L, 0), ("rev", 4L, 0),
      ("one", 1L, 1), ("one", 2L, 1)).toDF("grp", "score", "pos")
    val m = Evaluation.rankSumAuc(df).collect()
      .map(r => r.getString(0) -> Option(r.get(5)).map(_.asInstanceOf[Long])).toMap
    assert(m("sep").contains(1000000L))
    assert(m("rev").contains(0L))
    assert(m("one").isEmpty)
  }

  test("withZ2Ppm matches the closed form and flags a planted effect only") {
    import spark.implicits._
    val df = Seq(
      // A/A-ish: nearly equal shares -> not flagged
      ("calm", 500L, 50L, 500L, 55L),
      // planted: 30% vs 10% on 200-per-arm -> hugely significant
      ("effect", 200L, 60L, 200L, 20L),
      // degenerate: zero conversions -> null, not flagged
      ("dead", 100L, 0L, 100L, 0L))
      .toDF("grp", "n1", "c1", "n2", "c2")
    val out = Evaluation.withZ2Ppm(df).collect()
      .map(r => r.getString(0) -> (Option(r.get(5)), r.getBoolean(6))).toMap
    def closed(n1: Long, c1: Long, n2: Long, c2: Long): Long = {
      val N = BigInt(n1 + n2); val C = BigInt(c1 + c2)
      val d = BigInt(c1) * n2 - BigInt(c2) * n1
      (N * d * d * 1000000 / (C * (N - C) * n1 * n2)).toLong
    }
    assert(out("calm")._1.contains(closed(500, 50, 500, 55)))
    assert(!out("calm")._2)
    assert(out("effect")._1.contains(closed(200, 60, 200, 20)))
    assert(out("effect")._2)
    assert(out("dead")._1.isEmpty && !out("dead")._2)
  }

  test("covSigns detects a hand-built Simpson flip and matches BigInt moments") {
    import spark.implicits._
    // classic construction: within each group y decreases in x, but group B
    // sits at both higher x and higher y, so pooled cov is positive
    val rows = Seq(
      ("A", 0L, 10L), ("A", 1L, 9L), ("A", 2L, 8L),
      ("B", 10L, 30L), ("B", 11L, 29L), ("B", 12L, 28L))
    val df = rows.toDF("grp", "x", "y")
    val per = Evaluation.covSigns(df, Seq("grp")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("sgn")).toMap
    assert(per("A") == -1L && per("B") == -1L)
    val pooled = Evaluation.covSigns(df, Seq.empty).collect()(0)
    assert(pooled.getAs[Long]("sgn") == 1L)
    // exact magnitude check on the pooled frame
    val n = BigInt(rows.size)
    val sx = BigInt(rows.map(_._2).sum); val sy = BigInt(rows.map(_._3).sum)
    val sxy = rows.map(r => BigInt(r._2) * r._3).sum
    val cov = n * sxy - sx * sy
    assert(pooled.getAs[Long]("cov_pp") == (cov.signum * (cov.abs / (n * n))).toLong)
  }

  test("benfordAudit: exact-Benford counts pass, uniform digits fail") {
    import spark.implicits._
    // frame A: n_d exactly proportional to the ppm table (N = 1e6 scaled
    // down x100 -> use ppm/100 rounded is NOT exact; instead replicate each
    // digit e_d times with N = 1_000_000 / 1000 = too big for a unit test,
    // so use the ppm values themselves as counts: N = 1_000_000 exactly)
    // -> build digit counts directly instead of 1M rows: 100 rows per ppm%10000
    val benford = Evaluation.BenfordPpm
    // counts proportional: digit d appears BenfordPpm(d)/1000 times (rounded)
    // gives a small chi2; uniform counts give a huge one
    val a = benford.zipWithIndex.flatMap { case (ppm, i) =>
      Seq.fill((ppm / 1000).toInt)(("benfordish", (i + 1).toString + "23"))
    }
    val b = (1 to 9).flatMap(d => Seq.fill(100)(("uniform", d.toString + "23")))
    val df = (a ++ b).toDF("grp", "centsStr")
      .select(col("grp"), col("centsStr").cast("long").as("cents"))
    val out = Evaluation.benfordAudit(df).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("chi2_e6"), r.getAs[Boolean]("benford_ok"))).toMap
    assert(out("benfordish")._2, s"expected pass, chi2_e6=${out("benfordish")._1}")
    assert(!out("uniform")._2, s"expected fail, chi2_e6=${out("uniform")._1}")
    // and the digit-1 count survives the densified grid
    assert(out("benfordish")._1 < out("uniform")._1)
  }

  test("q285 decision stump matches a driver-side brute force over all thresholds") {
    val dir = "/root/testdata/sf0.001"
    val q = graft.SparkEntry.queries("q285_decision_stump")
    val out = q(spark, dir).collect()(0)
    // brute force: same quantized impurity, every distinct threshold
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("n_chars"), (col("lang") === "en").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = rows.length.toLong; val p = rows.map(_._2).sum
    def impE6(nn: Long, pp: Long): Long =
      (BigInt(nn) * nn - BigInt(pp) * pp - BigInt(nn - pp) * (nn - pp)) * 1000000 / (BigInt(nn) * nn) match { case v => v.toLong }
    val cands = rows.map(_._1).distinct.sorted.flatMap { t =>
      val left = rows.filter(_._1 <= t)
      val nl = left.length.toLong; val pl = left.map(_._2).sum
      if (nl < n) Some((t, (nl * impE6(nl, pl) + (n - nl) * impE6(n - nl, p - pl)) / n))
      else None
    }
    val best = cands.minBy { case (t, s) => (s, t) }
    assert(out.getAs[Long]("best_threshold") == best._1)
    assert(out.getAs[Long]("split_ppm") == best._2)
    assert(out.getAs[Long]("base_ppm") == impE6(n, p))
  }

  test("q286 Kaplan-Meier: risk sets conserve users and survival matches the ordered fold") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q286_kaplan_meier")(spark, dir)
      .collect().sortBy(_.getAs[Long]("t"))
    // risk set at the earliest t = every included user; each step shrinks
    // by exactly the previous step's d + c
    val n0 = out.head.getAs[Long]("n_t")
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_t") ==
        a.getAs[Long]("n_t") - a.getAs[Long]("d") - a.getAs[Long]("c"))
    case _ => ()
    }
    assert(n0 == out.map(r => r.getAs[Long]("d") + r.getAs[Long]("c")).sum)
    // survival = prefix fold in t order, exact IEEE sequence
    var acc = 1.0
    out.foreach { r =>
      acc = acc * ((r.getAs[Long]("n_t").toDouble - r.getAs[Long]("d").toDouble) / r.getAs[Long]("n_t").toDouble)
      assert(r.getAs[Double]("survival") == acc)
    }
    // monotone non-increasing, within [0, 1]
    assert(out.map(_.getAs[Double]("survival")).sliding(2).forall {
      case Array(a, b) => b <= a; case _ => true })
  }

  test("q289 CDC chunking is shift-invariant: a shared passage dedups across different offsets") { TempDir("cdc") { dir =>
    import spark.implicits._
    // a long shared passage behind two different-length prefixes: interior
    // chunk boundaries depend only on content, so the shared chunks must
    // fingerprint identically at both offsets (the property fixed-stride
    // chunking lacks)
    val shared = (1 to 120).map(i => s"w${i % 37}tok$i").mkString(" ")
    val doc1 = "alpha beta " + shared
    val doc2 = "gamma delta epsilon zeta eta theta iota " + shared
    val ctrl = (1 to 120).map(i => s"u${i}x").mkString(" ") // no repeats
    Seq((1L, doc1, "en", "shifted", doc1.length.toLong),
        (2L, doc2, "en", "shifted", doc2.length.toLong),
        (3L, ctrl, "en", "control", ctrl.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("q289_cdc_chunks")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_distinct"))).toMap
    val (n, distinct) = out("shifted")
    assert(n - distinct >= 2, s"expected >=2 duplicate shared chunks, got n=$n distinct=$distinct")
    val (nc, dc) = out("control")
    assert(nc == dc, "control source with unique tokens must have no duplicate chunks")
  }}

  test("q290 snake sharding matches the hand rule and balances counts within one doc") { TempDir("snake") { dir =>
    import spark.implicits._
    val docs = (0 until 37).map(i =>
      (i.toLong, s"t$i", "en", "s", (1000 - i * 7).toLong))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("q290_snake_shards")(spark, dir)
      .collect().map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("weight"))).toMap
    // hand rule: rank by weight desc (weights strictly decreasing by id)
    val hand = docs.sortBy(d => (-d._5, d._1)).zipWithIndex
      .map { case (d, r) =>
        val s = if ((r / 8) % 2 == 0) r % 8 else 7 - (r % 8)
        (s.toLong, d._5)
      }
    val handAgg = hand.groupBy(_._1).map { case (s, xs) =>
      s -> ((xs.size.toLong, xs.map(_._2).sum)) }
    assert(out == handAgg)
    // count balance: every shard holds floor or ceil of N/8
    val sizes = out.valuesIterator.map(_._1).toSeq
    assert(sizes.max - sizes.min <= 1)
  }}

  test("q292 isotonic fit is monotone and equals the classic PAV stack algorithm") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q292_isotonic_calibration")(spark, dir)
      .collect().sortBy(_.getAs[Long]("bin"))
    val iso = out.map(_.getAs[Long]("iso_ppm"))
    assert(iso.sliding(2).forall { case Array(a, b) => a <= b; case _ => true },
      s"not monotone: ${iso.mkString(",")}")
    // classic PAV: pool adjacent violators on (n, n_pos), exact rationals
    case class Pool(n: BigInt, p: BigInt)
    val stack = scala.collection.mutable.Stack[Pool]()
    out.foreach { r =>
      var cur = Pool(BigInt(r.getAs[Long]("n")), BigInt(r.getAs[Long]("n_pos")))
      // violator iff rate(top) > rate(cur): p1/n1 > p2/n2 <=> p1*n2 > p2*n1
      while (stack.nonEmpty && stack.top.p * cur.n > cur.p * stack.top.n) {
        val t = stack.pop(); cur = Pool(t.n + cur.n, t.p + cur.p)
      }
      stack.push(cur)
    }
    val pav = stack.toSeq.reverse.flatMap(p =>
      Seq.fill((p.n).toInt)((p.p * 1000000 / p.n).toLong))
    // expand per-bin by n and compare bin-level values
    val expanded = out.zip(out.scanLeft(0L)((acc, r) => acc + r.getAs[Long]("n")).init)
      .map { case (r, off) => pav(off.toInt) } // value at the bin's first unit
    assert(iso.toSeq == expanded.toSeq,
      s"minimax ${iso.mkString(",")} != PAV ${expanded.mkString(",")}")
  }

  test("benfordAudit densifies missing digits (zero counts contribute n*e_d ppm each)") {
    import spark.implicits._
    // only digit 1 present: every other digit contributes its full
    // expectation term; chi2 must be far beyond the gate
    val df = Seq.fill(50)(("onedigit", 123L)).toDF("grp", "cents")
    val out = Evaluation.benfordAudit(df).collect()(0)
    assert(out.getAs[Long]("n_rows") == 50L)
    assert(out.getAs[Long]("n_digit1") == 50L)
    assert(!out.getAs[Boolean]("benford_ok"))
  }
}
