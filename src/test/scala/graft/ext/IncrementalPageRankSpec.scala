package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Incremental PageRank must be INDISTINGUISHABLE from batch re-computation
  * over the accumulated edge set — the IncrementalCcSpec/IncrementalLpaSpec
  * contract applied to [[Graphs.incrementalPageRank]]. The recurrence is
  * exact-integer, so "identical" means bit-identical (node, r) rows, not
  * rank-order-equivalent.
  *
  * Coverage map (the cases the operator's doc comment promises):
  *  - random delta waves ≡ one-shot batch over base ∪ delta, multiple seeds,
  *    with a far component that must pass through VERBATIM (the anti-join
  *    path, not a recompute that happens to agree);
  *  - a directed cycle + chord — the forward ball grows exactly one hop per
  *    iteration there, so an off-by-one in either ball radius (R forward /
  *    R−1 backward) shifts the ball boundary and breaks bit-equality;
  *  - a delta introducing a NEW src node — r_0 = M div N is global, so the
  *    operator must fall back to the batch recurrence; the far component's
  *    ranks MUST change (stale pass-through would be the incremental path's
  *    wrong answer);
  *  - dag-cycle maintenance: delta waves fed through the engine loop
  *    (state().map() over a [[graft.core.Dag]]), final state ≡ one-shot
  *    batch — q304's operator exercised as the nightly maintainer it is.
  *
  * Edges are kept DISJOINT between base and delta at the directed-edge
  * level (edge multiplicity feeds degree counts) by splitting at the
  * undirected-pair level and symmetrizing per side; symmetrization also
  * satisfies the in-degree ≥ 1 contract everywhere. */
class IncrementalPageRankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val R = 4 // matches q304's iters

  private def ranks(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  /** undirected pair set -> symmetric directed edge DataFrame */
  private def dirDF(pairs: Seq[(Long, Long)]): DataFrame =
    (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")

  private def batch(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    ranks(Graphs.integerPageRank(dirDF(pairs), R))

  private def norm(a: Long, b: Long): (Long, Long) = (a min b, a max b)

  test("random waves reconcile bit-identically with one-shot batch PR (two seeds)") {
    for (seed <- Seq(31, 47)) {
      val rnd = new scala.util.Random(seed)
      // component A: ring over all 70 nodes (so every node is a base src —
      // the incremental path, not the fallback, is what runs) + random pairs
      val ringA = (0L until 70L).map(i => norm(i, (i + 1) % 70))
      val ringB = (200L until 210L).map(i => norm(i, if (i == 209L) 200L else i + 1))
      val random = Seq.fill(200)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
        .filter(e => e._1 != e._2).map(e => norm(e._1, e._2))
        .distinct.filterNot((ringA ++ ringB).toSet)
      val chunks = random.grouped((random.size + 2) / 3).toSeq
      var seen = ringA ++ ringB ++ chunks.head
      var cur = Graphs.integerPageRank(dirDF(seen), R)
      for (w <- chunks.tail) {
        val prevB = ranks(cur).filter(_._1 >= 200L)
        cur = Graphs.incrementalPageRank(cur, dirDF(seen), dirDF(w), R)
        seen = seen ++ w
        val got = ranks(cur)
        assert(got == batch(seen), s"seed $seed diverged after wave of ${w.size} pairs")
        // the far ring is outside every ball: its rows are the PREVIOUS
        // rows verbatim (the anti-join pass-through, not a lucky recompute)
        assert(prevB.nonEmpty && prevB.forall { case (n, r) => got(n) == r })
      }
    }
  }

  test("directed cycle + chord: ball radii are exactly R forward / R-1 backward") {
    // pure directed 12-cycle satisfies in-degree >= 1 without symmetrizing;
    // the chord 3->9 makes {3, 9} the delta endpoints. Forward ball =
    // {3..7} ∪ {9,10,11,0,1}; nodes 2 and 8 are untouched and must pass
    // through verbatim. One hop too few misses nodes 7/1; one hop too many
    // in the backward ball cannot corrupt (superset is still exact) but the
    // forward boundary is bit-checked by the batch comparison.
    val n = 12L
    val cycle = (0L until n).map(i => (i, (i + 1) % n))
    val chord = Seq((3L, 9L))
    val prev = Graphs.integerPageRank(cycle.toDF("src", "dst"), R)
    val prevMap = ranks(prev)
    val got = ranks(Graphs.incrementalPageRank(prev,
      cycle.toDF("src", "dst"), chord.toDF("src", "dst"), R))
    val oneShot = ranks(Graphs.integerPageRank((cycle ++ chord).toDF("src", "dst"), R))
    assert(got == oneShot)
    // untouched nodes keep their base rows bit-identically
    for (u <- Seq(2L, 8L)) assert(got(u) == prevMap(u), s"node $u should be untouched")
    // and the chord genuinely changed something (the test isn't vacuous):
    // deg(3) doubled, so node 4 (one forward hop) must differ
    assert(got(4L) != prevMap(4L))
  }

  test("new src node in the delta triggers the global fallback") {
    // r0 = M div N is GLOBAL: adding node 10 changes every node's teleport
    // share, including the far component's — only the batch fallback can
    // produce that. Stale far ranks would mean the guard failed.
    val tri = Seq(norm(1L, 2L), norm(2L, 3L), norm(1L, 3L))
    val far = Seq(norm(100L, 101L), norm(101L, 102L), norm(100L, 102L))
    val base = tri ++ far
    val delta = Seq(norm(3L, 10L))
    val prev = Graphs.integerPageRank(dirDF(base), R)
    val prevMap = ranks(prev)
    val got = ranks(Graphs.incrementalPageRank(prev, dirDF(base), dirDF(delta), R))
    assert(got == batch(base ++ delta))
    assert(got.contains(10L))
    // N went 6 -> 7: the far triangle's ranks MUST move (fallback evidence)
    for (u <- Seq(100L, 101L, 102L))
      assert(got(u) != prevMap(u), s"far node $u kept a stale global-N rank")
  }

  test("dag-cycle maintenance: per-cycle deltas, state equals one-shot PR") {
    import graft.core.Dag
    import graft.replay.SparkBatch
    val rnd = new scala.util.Random(53)
    val ring = (0L until 40L).map(i => norm(i, (i + 1) % 40))
    val random = Seq.fill(140)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).map(e => norm(e._1, e._2))
      .distinct.filterNot(ring.toSet)
    // wave 1 carries the ring (all nodes become srcs -> later waves run the
    // incremental path); waves 2..4 are random chunks
    val waves = (ring ++ random.take(40)) +: random.drop(40).grouped(50).toSeq
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "edges")
    var pairsSoFar: Seq[(Long, Long)] = Nil
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val state = graft.tables.TableOps.foldState(dag, source) { df =>
      pairsSoFar = pairs(df)
      Graphs.integerPageRank(dirDF(pairsSoFar), R)
    } { (held, df) =>
      val wave = pairs(df)
      val before = dirDF(pairsSoFar)
      pairsSoFar = pairsSoFar ++ wave
      Graphs.incrementalPageRank(held, before, dirDF(wave), R)
    }
    dag.sink("ranks", state)
    for (w <- waves) {
      source.setStream(SparkBatch(w.toDF("a", "b"), 1))
      dag.execute()
    }
    assert(ranks(state.getValue) == batch(pairsSoFar))
  }
}
