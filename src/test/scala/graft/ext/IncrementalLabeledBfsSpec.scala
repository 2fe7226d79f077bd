package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Incremental labeled BFS must be INDISTINGUISHABLE from re-running
  * [[Graphs.labeledBfs]] over the accumulated edge set with the same
  * seeds — the incremental-family contract (IncrementalPageRankSpec,
  * IncrementalHitsSpec) applied to the distance tier. Distances are exact
  * integers, so "identical" means set-identical (seed, node, d) rows.
  *
  * Coverage map:
  *  - random delta waves ≡ one-shot batch over base ∪ delta, multiple
  *    seeds, with a far ring whose rows must pass through VERBATIM (the
  *    anti-join path — its pairs never improve);
  *  - shortcut cascade: one delta edge improves a whole downstream
  *    suffix, several hops past the injection point (the loop must
  *    propagate improvements, not just inject), and pulls previously
  *    out-of-bound pairs inside the hop budget;
  *  - chained deltas in ONE wave: the second delta edge can only be
  *    relaxed after the first one's improvement reaches it (injection
  *    from base state alone cannot see it — base distance is ∞ there);
  *  - dag-cycle maintenance: waves fed through the engine loop
  *    (state().map() over a [[graft.core.Dag]]), final settled state ≡
  *    one-shot labeled BFS. */
class IncrementalLabeledBfsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def batch(edges: Seq[(Long, Long)], seeds: Seq[Long],
      rounds: Int): Set[(Long, Long, Long)] =
    rows(Graphs.labeledBfs(edges.toDF("src", "dst"), seeds.toDF("seed"), rounds))

  test("random waves reconcile set-identically with one-shot labeled BFS (two seeds)") {
    for (rndSeed <- Seq(23, 71)) {
      val rnd = new scala.util.Random(rndSeed)
      val ring = (200L until 210L).map(i => (i, if (i == 209L) 200L else i + 1))
      val random = Seq.fill(150)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2).distinct
      val seeds = Seq(0L, 7L, 23L, 200L)
      val chunks = random.grouped((random.size + 2) / 3).toSeq
      var seen = ring ++ chunks.head
      var cur = Graphs.labeledBfs(seen.toDF("src", "dst"), seeds.toDF("seed"), 4)
      for (w <- chunks.tail) {
        val prevRing = rows(cur).filter(t => t._1 == 200L || t._2 >= 200L)
        cur = Graphs.incrementalLabeledBfs(cur,
          seen.toDF("src", "dst"), w.toDF("src", "dst"), 4)
        seen = seen ++ w
        val got = rows(cur)
        assert(got == batch(seen, seeds, 4),
          s"seed $rndSeed diverged after wave of ${w.size} edges")
        // the far ring never gains an improving path: verbatim pass-through
        assert(prevRing.nonEmpty && prevRing.subsetOf(got))
      }
    }
  }

  test("shortcut cascade: one delta edge improves a multi-hop downstream suffix") {
    val path = (0L until 20L).map(i => (i, i + 1))
    val seeds = Seq(0L)
    val prev = Graphs.labeledBfs(path.toDF("src", "dst"), seeds.toDF("seed"), 6)
    val prevSet = rows(prev)
    // base reaches only 0..6; 10..20 are beyond the hop budget
    assert(prevSet.map(_._2).max == 6L)
    val delta = Seq((0L, 10L))
    val got = rows(Graphs.incrementalLabeledBfs(prev,
      path.toDF("src", "dst"), delta.toDF("src", "dst"), 6))
    assert(got == batch(path ++ delta, seeds, 6))
    // the whole suffix 10..15 entered at d = 1..6 (a 5-hop cascade past
    // the injection point); 16+ stays out of budget
    for (k <- 10L to 15L) assert(got.contains((0L, k, k - 9L)), s"node $k")
    assert(!got.exists(_._2 == 16L))
    // pairs on the old prefix keep their base distances verbatim
    for (k <- 1L to 6L) assert(got.contains((0L, k, k)))
  }

  test("chained deltas in one wave: second edge relaxes only via the first's improvement") {
    val path = (0L until 20L).map(i => (i, i + 1))
    val seeds = Seq(0L)
    val prev = Graphs.labeledBfs(path.toDF("src", "dst"), seeds.toDF("seed"), 6)
    // node 8 is unreachable in base (d would be 8 > 6): injection cannot
    // relax 8→14 from base state; it must wait for 2→8's improvement
    assert(!rows(prev).exists(_._2 == 8L))
    val delta = Seq((2L, 8L), (8L, 14L))
    val got = rows(Graphs.incrementalLabeledBfs(prev,
      path.toDF("src", "dst"), delta.toDF("src", "dst"), 6))
    assert(got == batch(path ++ delta, seeds, 6))
    assert(got.contains((0L, 8L, 3L)) && got.contains((0L, 14L, 4L)))
    assert(got.contains((0L, 16L, 6L)) && !got.exists(_._2 == 17L))
  }

  test("dag-cycle maintenance: per-cycle deltas, settled state equals one-shot") {
    import graft.core.Dag
    import graft.replay.SparkBatch
    val rnd = new scala.util.Random(41)
    val random = Seq.fill(160)((rnd.nextInt(35).toLong, rnd.nextInt(35).toLong))
      .filter(e => e._1 != e._2).distinct
    val seeds = Seq(0L, 11L, 29L)
    val waves = random.grouped((random.size + 3) / 4).toSeq
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "edges")
    var edgesSoFar: Seq[(Long, Long)] = Nil
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val state = graft.tables.TableOps.foldState(dag, source) { df =>
      edgesSoFar = pairs(df)
      Graphs.labeledBfs(edgesSoFar.toDF("src", "dst"), seeds.toDF("seed"), 4)
    } { (held, df) =>
      val wave = pairs(df)
      val before = edgesSoFar.toDF("src", "dst")
      edgesSoFar = edgesSoFar ++ wave
      Graphs.incrementalLabeledBfs(held, before, wave.toDF("src", "dst"), 4)
    }
    dag.sink("dist", state)
    for (w <- waves) {
      source.setStream(SparkBatch(w.toDF("a", "b"), 1))
      dag.execute()
    }
    assert(rows(state.getValue) == batch(edgesSoFar, seeds, 4))
  }
}
