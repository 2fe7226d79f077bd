package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Incremental k-core peeling must be INDISTINGUISHABLE from batch
  * re-computation over the accumulated edge set — the incremental-family
  * contract (IncrementalCc/Lpa/PageRank/TrianglesSpec) applied to
  * [[Graphs.incrementalKCorePeel]]. "Identical" covers BOTH the survivor
  * degree table and the surviving EDGE set (the state a maintenance loop
  * carries forward).
  *
  * Coverage: random waves vs one-shot batch (two seeds, far-component
  * verbatim pass-through of surviving edges); a rescue CASCADE chain (one
  * delta edge flips peel decisions R−1 hops away — the case that breaks
  * any ball radius short of the analysis'); new-node deltas; dag-cycle
  * maintenance chaining the edge state through the engine loop. */
class IncrementalKCoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val K = 2

  private def degs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def edgeSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def norm(a: Long, b: Long): (Long, Long) = (a min b, a max b)

  test("random waves reconcile bit-identically with one-shot batch peel (two seeds)") {
    val R = 3
    for (seed <- Seq(23, 59)) {
      val rnd = new scala.util.Random(seed)
      // far component: a triangle chain that survives k=2 peeling intact
      val farTri = Seq(norm(200L, 201L), norm(201L, 202L), norm(200L, 202L))
      val random = Seq.fill(220)((rnd.nextInt(55).toLong, rnd.nextInt(55).toLong))
        .filter(e => e._1 != e._2).map(e => norm(e._1, e._2))
        .distinct.filterNot(farTri.toSet)
      val chunks = random.grouped((random.size + 2) / 3).toSeq
      var seen = farTri ++ chunks.head
      var surv = Graphs.kCorePeelEdges(seen.toDF("a", "b"), K, R)
      for (w <- chunks.tail) {
        surv = Graphs.incrementalKCorePeelEdges(surv, seen.toDF("a", "b"),
          w.toDF("a", "b"), K, R)
        seen = seen ++ w
        assert(edgeSet(surv) ==
          edgeSet(Graphs.kCorePeelEdges(seen.toDF("a", "b"), K, R)),
          s"seed $seed edge set diverged after wave of ${w.size} edges")
        assert(farTri.toSet.subsetOf(edgeSet(surv)), "far triangle must survive")
      }
      assert(degs(Graphs.incrementalKCorePeel(
          Graphs.kCorePeelEdges(seen.dropRight(5).toDF("a", "b"), K, R),
          seen.dropRight(5).toDF("a", "b"), seen.takeRight(5).toDF("a", "b"), K, R))
        == degs(Graphs.kCorePeel(seen.toDF("a", "b"), K, R)))
    }
  }

  test("rescue cascade: one delta edge flips peel decisions hops away") {
    // chain 1-2-3-4-5 hanging off triangle {5,6,7}: at k=2 the chain
    // peels from the free end, one node per round. Delta (1,8)+(8,2)
    // closes a cycle at the far end, rescuing the whole chain — every
    // chain node's survival flips, R-1 hops from the delta. Any ball
    // radius short of the analysis' 2R truncates the cascade.
    val R = 5
    val chain = Seq(norm(1L, 2L), norm(2L, 3L), norm(3L, 4L), norm(4L, 5L))
    val tri = Seq(norm(5L, 6L), norm(6L, 7L), norm(5L, 7L))
    val base = chain ++ tri
    val delta = Seq(norm(1L, 8L), norm(2L, 8L))
    val prev = Graphs.kCorePeelEdges(base.toDF("a", "b"), K, R)
    // sanity: the batch base run peels the whole chain (only tri survives)
    assert(edgeSet(prev) == tri.toSet)
    val got = Graphs.incrementalKCorePeel(prev, base.toDF("a", "b"),
      delta.toDF("a", "b"), K, R)
    assert(degs(got) == degs(Graphs.kCorePeel((base ++ delta).toDF("a", "b"), K, R)))
    // and the rescue genuinely happened: node 3 (mid-chain) now survives
    assert(degs(got).exists(_._1 == 3L))
  }

  test("brand-new nodes and a fresh disjoint component") {
    val R = 3
    val base = Seq(norm(1L, 2L), norm(2L, 3L), norm(1L, 3L), norm(3L, 4L))
    val delta = Seq(norm(20L, 21L), norm(21L, 22L), norm(20L, 22L))
    val prev = Graphs.kCorePeelEdges(base.toDF("a", "b"), K, R)
    val got = degs(Graphs.incrementalKCorePeel(prev, base.toDF("a", "b"),
      delta.toDF("a", "b"), K, R))
    assert(got == degs(Graphs.kCorePeel((base ++ delta).toDF("a", "b"), K, R)))
    assert(got.exists(_._1 == 21L))
  }

  test("dag-cycle maintenance: per-cycle deltas, edge state equals one-shot peel") {
    import graft.core.Dag
    import graft.replay.SparkBatch
    val R = 3
    val rnd = new scala.util.Random(67)
    val random = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).map(e => norm(e._1, e._2)).distinct
    val waves = random.grouped((random.size + 3) / 4).toSeq
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "edges")
    var pairsSoFar: Seq[(Long, Long)] = Nil
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val state = graft.tables.TableOps.foldState(dag, source) { df =>
      pairsSoFar = pairs(df)
      Graphs.kCorePeelEdges(pairsSoFar.toDF("a", "b"), K, R)
    } { (held, df) =>
      val wave = pairs(df)
      val before = pairsSoFar.toDF("a", "b")
      pairsSoFar = pairsSoFar ++ wave
      Graphs.incrementalKCorePeelEdges(held, before, wave.toDF("a", "b"), K, R)
    }
    dag.sink("kcore", state)
    for (w <- waves) {
      source.setStream(SparkBatch(w.toDF("a", "b"), 1))
      dag.execute()
    }
    assert(edgeSet(state.getValue) ==
      edgeSet(Graphs.kCorePeelEdges(pairsSoFar.toDF("a", "b"), K, R)))
  }
}
