package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Incremental label propagation must be INDISTINGUISHABLE from batch
  * re-computation over the accumulated edge set — IncrementalCcSpec's
  * contract applied to communities (synchronous fixed-round LPA, so
  * "identical" means bit-identical labels, not community-isomorphic). */
class IncrementalLpaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val R = 3

  private def labels(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def batch(edges: Seq[(Long, Long)]): Set[(Long, Long)] =
    labels(Graphs.labelPropagation(edges.toDF("a", "b"), R))

  test("random waves reconcile with one-shot batch LPA after every wave") {
    val rnd = new scala.util.Random(31)
    val all = Seq.fill(240)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
      .filter(e => e._1 != e._2).distinct
    val waves = all.grouped((all.size + 2) / 3).toSeq
    var seen = waves.head
    var lab = Graphs.labelPropagation(seen.toDF("a", "b"), R)
    for (w <- waves.tail) {
      lab = Graphs.incrementalLabelPropagation(lab, seen.toDF("a", "b"),
        w.toDF("a", "b"), R)
      seen = seen ++ w
      assert(labels(lab) == batch(seen), s"diverged after wave of ${w.size} edges")
    }
  }

  test("a delta bridge between two communities relabels exactly as the batch run does") {
    // two triangles joined by a delta bridge; plus a FAR component the
    // delta cannot reach in 2R-1 hops — its labels must pass through
    val base = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
      (100L, 101L), (101L, 102L))
    val delta = Seq((3L, 10L))
    val prev = Graphs.labelPropagation(base.toDF("a", "b"), R)
    val got = labels(Graphs.incrementalLabelPropagation(prev,
      base.toDF("a", "b"), delta.toDF("a", "b"), R))
    assert(got == batch(base ++ delta))
    // the far chain's rows must be the base rows verbatim (untouched path)
    val baseFar = labels(prev).filter(_._1 >= 100L)
    assert(baseFar.nonEmpty && baseFar.subsetOf(got))
  }

  test("brand-new nodes and a fresh disjoint component") {
    val base = Seq((1L, 2L), (2L, 3L))
    val delta = Seq((20L, 21L), (3L, 4L))
    val prev = Graphs.labelPropagation(base.toDF("a", "b"), R)
    val got = labels(Graphs.incrementalLabelPropagation(prev,
      base.toDF("a", "b"), delta.toDF("a", "b"), R))
    assert(got == batch(base ++ delta))
    assert(got.exists(_._1 == 20L) && got.exists(_._1 == 4L))
  }

  test("dag-cycle maintenance: per-cycle deltas, state equals one-shot LPA") {
    import graft.core.Dag
    import graft.replay.SparkBatch
    val rnd = new scala.util.Random(37)
    val all = Seq.fill(180)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2).distinct
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "edges")
    var pairsSoFar: Seq[(Long, Long)] = Nil
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val state = graft.tables.TableOps.foldState(dag, source) { df =>
      pairsSoFar = pairs(df)
      Graphs.labelPropagation(df, R)
    } { (held, df) =>
      val before = pairsSoFar.toDF("a", "b")
      pairsSoFar = pairsSoFar ++ pairs(df)
      Graphs.incrementalLabelPropagation(held, before, df, R)
    }
    dag.sink("communities", state)
    for (w <- all.grouped(45)) {
      source.setStream(SparkBatch(w.toDF("a", "b"), 1))
      dag.execute()
    }
    assert(labels(state.getValue) == batch(all))
  }
}
