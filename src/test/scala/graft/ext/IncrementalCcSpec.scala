package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Incremental connected components must be INDISTINGUISHABLE from batch
  * re-computation over the accumulated edge set — the q160 incremental-
  * vs-one-shot discipline applied to the dup graph. */
class IncrementalCcSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def labels(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def batch(edges: Seq[(Long, Long)]): Set[(Long, Long)] =
    labels(Dedup.connectedComponents(edges.toDF("a_id", "b_id")))

  test("three random waves reconcile with one-shot batch CC after every wave") {
    val rnd = new scala.util.Random(23)
    val all = Seq.fill(260)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2).distinct
    val waves = all.grouped((all.size + 2) / 3).toSeq
    var roots = Dedup.connectedComponents(waves.head.toDF("a_id", "b_id"))
    var seen = waves.head
    for (w <- waves.tail) {
      roots = Dedup.incrementalConnectedComponents(roots, w.toDF("a_id", "b_id"))
      seen = seen ++ w
      assert(labels(roots) == batch(seen), s"diverged after wave of ${w.size} edges")
    }
  }

  test("delta merging two old components relabels both to the global min root") {
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val roots = Dedup.connectedComponents(base.toDF("a_id", "b_id"))
    val got = labels(Dedup.incrementalConnectedComponents(
      roots, Seq((3L, 10L)).toDF("a_id", "b_id")))
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 1L), (11L, 1L)))
  }

  test("brand-new nodes and untouched components: only the touched part recomputes") {
    val base = Seq((1L, 2L), (5L, 6L), (6L, 7L))
    val roots = Dedup.connectedComponents(base.toDF("a_id", "b_id"))
    // delta: a fresh disjoint component (20-21) and a new node 8 joining 5's
    val got = labels(Dedup.incrementalConnectedComponents(
      roots, Seq((20L, 21L), (7L, 8L)).toDF("a_id", "b_id")))
    assert(got == Set((1L, 1L), (2L, 1L), // untouched, passed through
      (5L, 5L), (6L, 5L), (7L, 5L), (8L, 5L), (20L, 20L), (21L, 20L)))
  }

  test("dag-cycle maintenance (q160 pattern): per-cycle deltas, state equals one-shot CC") {
    import graft.core.Dag
    import graft.replay.SparkBatch
    val rnd = new scala.util.Random(29)
    val all = Seq.fill(200)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2).distinct
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "edges")
    val state = graft.tables.TableOps.foldState(dag, source)(Dedup.connectedComponents)(
      Dedup.incrementalConnectedComponents)
    dag.sink("roots", state)
    for (w <- all.grouped(50)) {
      source.setStream(SparkBatch(w.toDF("a_id", "b_id"), 1))
      dag.execute()
    }
    assert(labels(state.getValue) == batch(all))
  }
}
