package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Incremental HITS must be INDISTINGUISHABLE from batch re-computation
  * over the accumulated edge set — the IncrementalPageRankSpec contract
  * applied to [[Graphs.incrementalHits]]. The recurrence is exact-integer,
  * so "identical" means bit-identical (node, hub, auth) rows.
  *
  * Coverage map (the cases the operator's doc comment promises, written
  * WITH the operator per the r10 verdict):
  *  - random delta waves ≡ one-shot batch over base ∪ delta, multiple
  *    seeds, with a far max-anchor component that must pass through
  *    VERBATIM (the anti-join path, not a recompute that happens to
  *    agree) — the anchor also pins every half-step's global max OUTSIDE
  *    the ball, so the incremental path (not the fallback) is what runs;
  *  - a directed path + chord with the anchor pinning the maxes — the
  *    influence ball grows one UNDIRECTED hop per half-step, so nodes at
  *    distance ≥ 2R from the delta endpoints keep base rows verbatim and
  *    an off-by-one in either radius breaks bit-equality vs batch;
  *  - a delta that RAISES a half-step's global max — every node's divisor
  *    shifts, locality dies, and the guard must take the batch fallback:
  *    far-component values MUST change (stale pass-through would be the
  *    incremental path's wrong answer);
  *  - dag-cycle maintenance: waves fed through the engine loop
  *    (state().map() over a [[graft.core.Dag]]), final state AND final
  *    maintained trace ≡ one-shot [[Graphs.integerHitsTrace]]. */
class IncrementalHitsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val R = 2 // small radius keeps the boundary probe sharp

  private def ranks(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** 30×30 directed bipartite block far from every test's delta: each of
    * srcs 220..249 points at every dst 260..289, so the raw auth max
    * (30·S) and raw hub max are attained ONLY there at every half-step —
    * no main-component node (< 30 in/out-degree) can reach them. */
  private val anchor: Seq[(Long, Long)] =
    for (s <- 220L until 250L; d <- 260L until 290L) yield (s, d)

  private def batch(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    ranks(Graphs.integerHits(edges.toDF("src", "dst"), R))

  test("random waves reconcile bit-identically with one-shot batch HITS (two seeds)") {
    for (seed <- Seq(19, 83)) {
      val rnd = new scala.util.Random(seed)
      val random = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2).distinct
      val chunks = random.grouped((random.size + 2) / 3).toSeq
      var seen = anchor ++ chunks.head
      var (cur, trace) = Graphs.integerHitsTrace(seen.toDF("src", "dst"), R)
      // the trace variant is bit-identical to the plain batch operator
      assert(ranks(cur) == batch(seen))
      for (w <- chunks.tail) {
        val prevFar = ranks(cur).filter(_._1 >= 220L)
        val (nxt, nxtTrace) = Graphs.incrementalHitsTrace(cur, trace,
          seen.toDF("src", "dst"), w.toDF("src", "dst"), R)
        cur = nxt; trace = nxtTrace
        seen = seen ++ w
        val got = ranks(cur)
        assert(got == batch(seen), s"seed $seed diverged after wave of ${w.size} edges")
        // the anchor is outside every ball: its rows are the PREVIOUS rows
        // verbatim (anti-join pass-through, not a lucky recompute)
        assert(prevFar.nonEmpty && prevFar.forall { case (n, v) => got(n) == v })
        // and the maintained trace matches a from-scratch trace
        assert(trace == Graphs.integerHitsTrace(seen.toDF("src", "dst"), R)._2)
      }
    }
  }

  test("directed path + chord: untouched nodes at distance >= 2R pass through verbatim") {
    // path 0→1→…→15 plus the anchor; chord 5→9. Undirected influence ball
    // radius 2R−1 = 3 around {5, 9} = nodes 2..12; nodes 0, 1, 13, 14, 15
    // must keep base rows bit-identically, and the chord must genuinely
    // change something inside the ball (non-vacuity).
    val path = (0L until 15L).map(i => (i, i + 1))
    val base = path ++ anchor
    val chord = Seq((5L, 9L))
    val (prev, trace) = Graphs.integerHitsTrace(base.toDF("src", "dst"), R)
    val prevMap = ranks(prev)
    val got = ranks(Graphs.incrementalHits(prev, trace,
      base.toDF("src", "dst"), chord.toDF("src", "dst"), R))
    assert(got == batch(base ++ chord))
    for (u <- Seq(0L, 1L, 13L, 14L, 15L))
      assert(got(u) == prevMap(u), s"node $u is outside the ball and must not move")
    // node 9 gained an in-edge: its auth must move
    assert(got(9L)._2 != prevMap(9L)._2, "chord target's auth should change")
  }

  test("delta that raises a global rescale max triggers the batch fallback") {
    // no anchor: path 0→…→11 (all raw sums = S, max = S everywhere) plus a
    // far 6-cycle. The chord 3→7 makes node 7's raw auth 2S > S: a NEW
    // global max. Only the batch fallback can rescale the far cycle's
    // values — stale pass-through would be the incremental path's wrong
    // answer, exactly like q304's new-src globality.
    val path = (0L until 11L).map(i => (i, i + 1))
    val cycle = (100L to 105L).map(i => (i, if (i == 105L) 100L else i + 1))
    val base = path ++ cycle
    val delta = Seq((3L, 7L))
    val (prev, trace) = Graphs.integerHitsTrace(base.toDF("src", "dst"), R)
    val prevMap = ranks(prev)
    val got = ranks(Graphs.incrementalHits(prev, trace,
      base.toDF("src", "dst"), delta.toDF("src", "dst"), R))
    assert(got == batch(base ++ delta))
    // the far cycle's values MUST move (divisor doubled: fallback evidence)
    val moved = (100L to 105L).count(u => got(u) != prevMap(u))
    assert(moved > 0, "far cycle kept stale values under a shifted global max")
  }

  test("dag-cycle maintenance: per-cycle deltas, state AND trace equal one-shot") {
    import graft.core.Dag
    import graft.replay.SparkBatch
    val rnd = new scala.util.Random(67)
    val random = Seq.fill(150)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).distinct
    val waves = (anchor ++ random.take(50)) +: random.drop(50).grouped(50).toSeq
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "edges")
    var edgesSoFar: Seq[(Long, Long)] = Nil
    var trace: Seq[Graphs.HitsMax] = Nil
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val state = graft.tables.TableOps.foldState(dag, source) { df =>
      edgesSoFar = pairs(df)
      val (ranks, tr) = Graphs.integerHitsTrace(edgesSoFar.toDF("src", "dst"), R)
      trace = tr
      ranks
    } { (held, df) =>
      val wave = pairs(df)
      val (ranks, tr) = Graphs.incrementalHitsTrace(held, trace,
        edgesSoFar.toDF("src", "dst"), wave.toDF("src", "dst"), R)
      trace = tr
      edgesSoFar = edgesSoFar ++ wave
      ranks
    }
    dag.sink("hits", state)
    for (w <- waves) {
      source.setStream(SparkBatch(w.toDF("a", "b"), 1))
      dag.execute()
    }
    val (oneShot, oneShotTrace) =
      Graphs.integerHitsTrace(edgesSoFar.toDF("src", "dst"), R)
    assert(ranks(state.getValue) == ranks(oneShot))
    assert(trace == oneShotTrace)
  }
}
