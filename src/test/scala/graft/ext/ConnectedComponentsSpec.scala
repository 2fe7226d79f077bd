package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Connected-components units (q44's clustering engine). Min-label
  * propagation must converge across MULTI-HOP structures — one round of
  * neighbor-min is not enough for a chain, so these pin the iteration. */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def cc(edges: (Long, Long)*): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a chain collapses to the minimum id regardless of edge direction") {
    // 2-1, 2-3, 3-4, 4-5 — label 1 must travel four hops.
    val labels = cc((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("disjoint components keep distinct roots") {
    val labels = cc((1L, 2L), (10L, 11L), (11L, 12L), (20L, 21L))
    assert(labels(1L) == 1L && labels(2L) == 1L)
    assert(Set(10L, 11L, 12L).map(labels) == Set(10L))
    assert(Set(20L, 21L).map(labels) == Set(20L))
  }

  test("a cycle converges (no infinite loop) to one root") {
    val labels = cc((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
    assert(labels.values.toSet == Set(1L))
  }

  test("property: agrees with driver-side union-find on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val edgeGen = Gen.listOfN(25, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))
      .map(_.filter { case (a, b) => a != b })
      .suchThat(_.nonEmpty)
    (0 until 12).foreach { i =>
      edgeGen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { edges =>
        // reference: plain union-find with path compression
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // canonicalise to min-id per component
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val want = nodes.groupBy(find).flatMap { case (_, ns) =>
          val root = ns.min; ns.map(_ -> root)
        }.toMap
        assert(cc(edges: _*) == want, s"seed $i, edges $edges")
      }
    }
  }

  test("convergence detection rides the checkpoint job (no per-round count action)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a 9-hop chain forces many propagation rounds, amplifying per-round cost
    val edges = (1L to 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")

    def countJobs(body: => Unit): Long =
      graft.audit.TaskBudgetListener.measure(spark)(body)._2.jobs

    val jobsNew = countJobs {
      assert(Dedup.connectedComponents(edges).collect()
        .forall(_.getLong(1) == 1L))
    }

    // the round-3 formulation: an extra join+count action per round
    val jobsOld = countJobs {
      val sym = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
        .distinct().localCheckpoint(true)
      var labels = sym.select(col("src").as("id")).distinct()
        .withColumn("root", col("id")).localCheckpoint(true)
      var changed = 1L
      while (changed > 0) {
        val neighborMin = sym
          .join(labels.select(col("id").as("dst"), col("root").as("nroot")), "dst")
          .groupBy(col("src").as("id")).agg(min(col("nroot")).as("min_n"))
        val updated = labels.join(neighborMin, Seq("id"), "left_outer")
          .select(col("id"),
            least(col("root"), coalesce(col("min_n"), col("root"))).as("root"))
          .localCheckpoint(true)
        changed = updated.join(labels.withColumnRenamed("root", "old"), "id")
          .where(col("root") =!= col("old")).count()
        labels = updated
      }
      assert(labels.collect().forall(_.getLong(1) == 1L))
    }

    info(s"jobs: observed-metric impl $jobsNew vs per-round-count impl $jobsOld")
    // the count action was itself a multi-stage join job under AQE; folding
    // it into the checkpoint's observed metrics must cut total jobs hard
    assert(jobsNew < jobsOld,
      s"expected fewer jobs than the per-round-count formulation ($jobsNew vs $jobsOld)")
    assert(jobsNew <= jobsOld * 3 / 4, s"expected a substantial cut ($jobsNew vs $jobsOld)")
  }

  test("nearDupClusters groups transitively, not pairwise") {
    import spark.implicits._
    // 3-shingle Jaccard: doc1~doc2 = 6/10 = 0.60, doc2~doc3 = 5/11 = 0.45,
    // doc1~doc3 = 3/13 = 0.23. At threshold 0.4 the edges form a chain
    // 1-2-3 with no 1-3 edge — pairwise dropping would be ambiguous;
    // components put all three in one cluster of size 3.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "P Q c d e f g h i j"),
      (3L, "P Q c d e f g T U V"),
      (9L, "totally different words here entirely")).toDF("doc_id", "text")
    val clusters = Dedup.nearDupClusters(docs, "text", "doc_id", 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.keySet == Set(1L))
    assert(clusters(1L) == 3L)
  }
}
