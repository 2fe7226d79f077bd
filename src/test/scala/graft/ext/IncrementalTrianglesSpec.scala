package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Incremental triangle counts must be INDISTINGUISHABLE from batch
  * re-computation over the accumulated edge set — the IncrementalCcSpec/
  * IncrementalLpaSpec/IncrementalPageRankSpec contract applied to
  * [[Graphs.incrementalTriangleCounts]]. "Identical" means bit-identical
  * (node, deg, tri, lcc_ppm) rows (integer ppm — no tolerance).
  *
  * Coverage: random waves vs one-shot batch (two seeds, far-component
  * verbatim pass-through); the wedge-close delta (the minimal case where a
  * NON-endpoint node's tri must change while its deg must not); a delta
  * introducing brand-new nodes; dag-cycle maintenance in the engine loop. */
class IncrementalTrianglesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def norm(a: Long, b: Long): (Long, Long) = (a min b, a max b)

  private def batch(pairs: Seq[(Long, Long)]): Set[(Long, Long, Long, Long)] =
    rows(Graphs.triangleCounts(pairs.toDF("a", "b")))

  test("random waves reconcile bit-identically with one-shot batch (two seeds)") {
    for (seed <- Seq(19, 43)) {
      val rnd = new scala.util.Random(seed)
      val ringB = (200L until 208L).map(i => norm(i, if (i == 207L) 200L else i + 1))
      val random = Seq.fill(260)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(e => e._1 != e._2).map(e => norm(e._1, e._2))
        .distinct.filterNot(ringB.toSet)
      val chunks = random.grouped((random.size + 2) / 3).toSeq
      var seen = ringB ++ chunks.head
      var cur = Graphs.triangleCounts(seen.toDF("a", "b"))
      for (w <- chunks.tail) {
        val prevB = rows(cur).filter(_._1 >= 200L)
        cur = Graphs.incrementalTriangleCounts(cur, seen.toDF("a", "b"),
          w.toDF("a", "b"))
        seen = seen ++ w
        val got = rows(cur)
        assert(got == batch(seen), s"seed $seed diverged after wave of ${w.size} edges")
        // the far ring is outside every affected region: rows pass through
        // from the PREVIOUS output verbatim (the anti-join path)
        assert(prevB.nonEmpty && prevB.subsetOf(got))
      }
    }
  }

  test("wedge close: common neighbor's tri changes while its deg does not") {
    // path 1-2-3 plus far edge 4-5; delta (1,3) closes the triangle.
    // Node 2 is NOT a delta endpoint but IS a common neighbor: deg stays
    // 2, tri goes 0 -> 1 — the case a naive endpoints-only recompute gets
    // wrong. Nodes 4, 5 pass through verbatim.
    val base = Seq((1L, 2L), (2L, 3L), (4L, 5L))
    val delta = Seq((1L, 3L))
    val prev = Graphs.triangleCounts(base.toDF("a", "b"))
    val prevRows = rows(prev)
    val got = rows(Graphs.incrementalTriangleCounts(prev,
      base.toDF("a", "b"), delta.toDF("a", "b")))
    assert(got == batch(base ++ delta))
    assert(got.contains((2L, 2L, 1L, 1000000L)), "node 2: deg 2 kept, tri 0->1, lcc=1")
    assert(prevRows.filter(r => r._1 == 4L || r._1 == 5L).subsetOf(got))
  }

  test("brand-new nodes and a fresh disjoint triangle in the delta") {
    val base = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val delta = Seq((10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val prev = Graphs.triangleCounts(base.toDF("a", "b"))
    val got = rows(Graphs.incrementalTriangleCounts(prev,
      base.toDF("a", "b"), delta.toDF("a", "b")))
    assert(got == batch(base ++ delta))
    assert(got.exists(_._1 == 11L) && got.exists(_._1 == 12L))
  }

  test("dag-cycle maintenance: per-cycle deltas, state equals one-shot counts") {
    import graft.core.Dag
    import graft.replay.SparkBatch
    val rnd = new scala.util.Random(61)
    val random = Seq.fill(200)((rnd.nextInt(45).toLong, rnd.nextInt(45).toLong))
      .filter(e => e._1 != e._2).map(e => norm(e._1, e._2)).distinct
    val waves = random.grouped((random.size + 3) / 4).toSeq
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "edges")
    var pairsSoFar: Seq[(Long, Long)] = Nil
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val state = graft.tables.TableOps.foldState(dag, source) { df =>
      pairsSoFar = pairs(df)
      Graphs.triangleCounts(pairsSoFar.toDF("a", "b"))
    } { (held, df) =>
      val wave = pairs(df)
      val before = pairsSoFar.toDF("a", "b")
      pairsSoFar = pairsSoFar ++ wave
      Graphs.incrementalTriangleCounts(held, before, wave.toDF("a", "b"))
    }
    dag.sink("triangles", state)
    for (w <- waves) {
      source.setStream(SparkBatch(w.toDF("a", "b"), 1))
      dag.execute()
    }
    assert(rows(state.getValue) == batch(pairsSoFar))
  }
}
