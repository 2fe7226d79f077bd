package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Dag, Node, StateUnchanged}
import graft.replay.SparkBatch

/** The typed-table convenience layer: Spark-first re-expression of the
  * reference's Arrow/Polars wrappers (W1-W9 in SURVEY.md §2.2;
  * reference `beavers/pyarrow_wrapper.py`, `beavers/polars_wrapper.py`).
  *
  * Everything here is a declarative `DataFrame => DataFrame` transform so
  * Catalyst keeps predicate pushdown / column pruning / codegen. At 100 TB
  * the interesting op is [[TableOps.lastByKeys]]: a full shuffle on the key
  * columns with map-side partial aggregation (`max_by` pre-aggregates per
  * partition before the exchange), so state per key — not input rows —
  * bounds memory.
  */
object TableOps {

  /** Latest-row-per-key upsert — THE stream→table operator
    * (reference `_get_last_by`/`last_by_keys`, `beavers/pyarrow_wrapper.py:23-30,127-133`;
    * polars twin `beavers/polars_wrapper.py:17-28`).
    *
    * The reference tags rows with a monotonic index and takes `max(index)`
    * per key. Spark-first equivalent: `max_by(struct(all columns), ordering)`
    * as a hash aggregate — ONE shuffle keyed by `keys`, partial agg map-side,
    * no window sort. Prefer this over `row_number` windows for large inputs:
    * a window needs a full sort per partition; `max_by` is O(n) with a
    * constant-size accumulator per key.
    *
    * @param ordering columns whose lexicographic max picks the surviving row
    *                 (must be totally ordered for determinism — include a
    *                 unique tiebreaker like an event id).
    */
  def lastByKeys(df: DataFrame, keys: Seq[String], ordering: Seq[String]): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    val ord = struct(ordering.map(col).toIndexedSeq: _*)
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(max_by(payload, ord).as("_last"))
      .select(df.columns.map(c => col(s"_last.$c")).toIndexedSeq: _*)
  }

  /** THE DataFrame state node: a table held across dag cycles, folded from
    * a [[SparkBatch]] stream. On the first non-empty batch the held table is
    * `seed(batch)`; on each later one it is `merge(held, batch)`. Every
    * cycle that folds ends in one eager `localCheckpoint`, so the held
    * table's lineage stays one level deep however many cycles run — the
    * checkpoint cadence of every DataFrame state node is decided here.
    * Empty batches leave the node unchanged (a state node also runs on the
    * dag's first cycle, when its source may hold no batch yet).
    *
    * W4 (reference `last_by_keys`/`_LastByKey`,
    * `beavers/pyarrow_wrapper.py:82-91,127-133`) is `foldState` over
    * `lastByKeys(prev ∪ batch)`:
    * {{{
    * val last = (df: DataFrame) => lastByKeys(df, keys, ordering)
    * foldState(dag, batches)(last)((held, df) => last(held.unionByName(df)))
    * }}}
    */
  def foldState(dag: Dag, input: Node[SparkBatch])(seed: DataFrame => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): Node[DataFrame] = {
    var held: Option[DataFrame] = None
    dag.stateAdv(input) { b: SparkBatch =>
      if (b.count == 0) StateUnchanged
      else {
        val next = held.fold(seed(b.df))(merge(_, b.df)).localCheckpoint(eager = true)
        held = Some(next)
        next
      }
    }
  }

  /** Skew-resistant [[lastByKeys]]: two-stage aggregation over a salted key.
    * Stage 1 shuffles on (keys, salt) so a hot key spreads over
    * `saltBuckets` reducers; stage 2 merges the per-salt survivors (tiny:
    * saltBuckets rows per hot key). `max_by` is associative, so the result
    * is identical to the unsalted aggregate. Use when a key can dominate a
    * partition at scale (the salting-for-skew pattern; AQE skew-join handles
    * joins, this handles aggregations). */
  def lastByKeysSalted(df: DataFrame, keys: Seq[String], ordering: Seq[String],
      saltBuckets: Int = 16): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    val ord = struct(ordering.map(col).toIndexedSeq: _*)
    val salted = df
      .withColumn("_salt", pmod(hash(ordering.map(col).toIndexedSeq: _*), lit(saltBuckets)))
      .groupBy((keys.map(col) :+ col("_salt")).toIndexedSeq: _*)
      .agg(max_by(payload, ord).as("_last"), max(ord).as("_ord"))
    salted.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(max_by(col("_last"), col("_ord")).as("_last"))
      .select(df.columns.map(c => col(s"_last.$c")).toIndexedSeq: _*)
  }

  /** Window-based variant of [[lastByKeys]] — used when the full surviving
    * row AND its rank context are needed; otherwise prefer the `max_by`
    * aggregate (cheaper at scale). */
  def lastByKeysWindow(df: DataFrame, keys: Seq[String], ordering: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(ordering.map(c => col(c).desc).toIndexedSeq: _*)
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** Filter by arbitrary predicate columns, conjunction semantics
    * (reference `filter_stream`, `beavers/pyarrow_wrapper.py:112-125`,
    * `beavers/polars_wrapper.py:47-54` — the Spark `Column` DSL is the
    * direct analog of `pl.col` expressions). */
  def filterStream(df: DataFrame, predicates: Column*): DataFrame =
    predicates.foldLeft(df)((d, p) => d.filter(p))

  /** Project one column (reference `get_column`/`get_series`,
    * `beavers/pyarrow_wrapper.py:135-141`, `beavers/polars_wrapper.py:97-103`). */
  def getColumn(df: DataFrame, name: String): DataFrame = df.select(col(name))

  /** Union N streams, schemas checked by name (reference `concat_arrays` /
    * `concat_series`, `beavers/pyarrow_wrapper.py:143-158`,
    * `beavers/polars_wrapper.py:105-113`). */
  def concatStreams(dfs: DataFrame*): DataFrame =
    dfs.reduce(_.unionByName(_))

  /** The perspective view's filter comparators as a typed ADT, compiled to
    * Catalyst columns (reference `perspective_wrapper.py:22-36` lists the 13
    * supported comparators). */
  sealed trait ViewFilter { def toColumn: Column }
  object ViewFilter {
    final case class Eq(c: String, v: Any) extends ViewFilter { def toColumn = col(c) === v }
    final case class Ne(c: String, v: Any) extends ViewFilter { def toColumn = col(c) =!= v }
    final case class Lt(c: String, v: Any) extends ViewFilter { def toColumn = col(c) < v }
    final case class Gt(c: String, v: Any) extends ViewFilter { def toColumn = col(c) > v }
    final case class Le(c: String, v: Any) extends ViewFilter { def toColumn = col(c) <= v }
    final case class Ge(c: String, v: Any) extends ViewFilter { def toColumn = col(c) >= v }
    final case class IsNull(c: String) extends ViewFilter { def toColumn = col(c).isNull }
    final case class NotNull(c: String) extends ViewFilter { def toColumn = col(c).isNotNull }
    final case class In(c: String, vs: Seq[Any]) extends ViewFilter { def toColumn = col(c).isin(vs: _*) }
    final case class NotIn(c: String, vs: Seq[Any]) extends ViewFilter { def toColumn = !col(c).isin(vs: _*) }
    final case class BeginsWith(c: String, v: String) extends ViewFilter { def toColumn = col(c).startsWith(v) }
    final case class Contains(c: String, v: String) extends ViewFilter { def toColumn = col(c).contains(v) }
    final case class EndsWith(c: String, v: String) extends ViewFilter { def toColumn = col(c).endsWith(v) }
  }

  /** Declarative live-view spec — sort + filters + limit — re-expressing the
    * perspective table definition (reference
    * `beavers/perspective_wrapper.py:43-77`). In Spark the "view" is just a
    * derived DataFrame; `index`/upsert-key semantics come from
    * [[lastByKeys]]. */
  final case class ViewSpec(
      sortBy: Seq[(String, Boolean)] = Nil, // (column, ascending)
      filters: Seq[Column] = Nil,
      viewFilters: Seq[ViewFilter] = Nil,
      limit: Option[Int] = None,
  )

  def applyView(df: DataFrame, spec: ViewSpec): DataFrame = {
    val allFilters = spec.filters ++ spec.viewFilters.map(_.toColumn)
    val filtered = allFilters.foldLeft(df)((d, p) => d.filter(p))
    val sorted =
      if (spec.sortBy.isEmpty) filtered
      else filtered.orderBy(spec.sortBy.map { case (c, asc) =>
        if (asc) col(c).asc else col(c).desc
      }.toIndexedSeq: _*)
    spec.limit.fold(sorted)(sorted.limit)
  }
}
