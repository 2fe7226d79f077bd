package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Scalable AS-OF join — "each left row picks the latest right row with
  * right.ts <= left.ts per key" — the canonical time-series enrichment
  * (trade -> prevailing quote) that Spark has no native operator for.
  *
  * Formulation: UNION both sides tagged (right=0, left=1), ONE shuffle
  * keyed by the join key, ONE per-key sort on (ts, side), then
  * `last(value, ignoreNulls)` over an unbounded-preceding row window
  * carries each right value forward to every later left row. At equal
  * timestamps the right row sorts first, so matches are inclusive
  * (ts_right <= ts_left). Left rows with no prior right row keep NULL —
  * left-join semantics.
  *
  * Scale: cost is exactly a sort-merge join's — shuffle both inputs once
  * by key, sort within key. No per-row range probe, no broadcast, no
  * O(left × right) expansion; skewed keys behave like any sort-merge key
  * (AQE skew handling applies). This beats the naive
  * `left JOIN right ON key AND r.ts <= l.ts` + max-filter, which
  * materialises every (left, earlier-right) pair.
  *
  * Right rows duplicated at the same (key, ts) are resolved BEFORE the
  * union (keep the one with the highest tiebreaker), making the match
  * deterministic — the same convention DuckDB's native ASOF JOIN needs to
  * be well-defined, which is what the oracle uses. */
object AsofJoin {

  /** @param left       probe side (e.g. trades)
    * @param right      reference side (e.g. quotes)
    * @param keyCol     equi-join key
    * @param tsCol      ordering column (any integral/comparable type)
    * @param valueCol   right-side column carried to left rows
    * @param tieCol     right-side tiebreaker for duplicate (key, ts)
    * @return left rows + `asof_<valueCol>` (+ `asof_ts` of the match) */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, valueCol: String, tieCol: String): DataFrame = {
    val (unioned, _) = tagAndUnion(left, right, keyCol, tsCol, valueCol, tieCol)
    readout(unioned
      .withColumn("r_in", last(col("r_in"), ignoreNulls = true).over(carry(keyCol, col(tsCol))))
      .where(col("side") === 1), left.columns, valueCol)
  }

  /** FORWARD as-of: each left row picks the EARLIEST right row with
    * right.ts >= left.ts per key — "next event after" enrichment
    * (error → next deploy, signup → first purchase). Identical plan to
    * [[asofJoin]] (one union, one shuffle, one per-key sort window), just
    * traversed in descending time so the carried struct is the nearest
    * FUTURE right row; equal timestamps still match (the right row sorts
    * first at its ts in the descending order too). Same
    * dedup-right-by-(key, ts) determinism contract. */
  def asofJoinForward(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, valueCol: String, tieCol: String): DataFrame = {
    val (unioned, _) = tagAndUnion(left, right, keyCol, tsCol, valueCol, tieCol)
    readout(unioned
      .withColumn("r_in", last(col("r_in"), ignoreNulls = true)
        .over(carry(keyCol, col(tsCol).desc)))
      .where(col("side") === 1), left.columns, valueCol)
  }

  /** NEAREST as-of (pandas `merge_asof direction='nearest'`): each left
    * row matches the right row with the CLOSEST timestamp on its key —
    * the past match winning exact-distance ties (pandas semantics) —
    * and any match farther than `toleranceNs` dropped to NULL (both
    * sides, like pandas' `tolerance`). Same union construction as
    * [[asofJoin]]; ONE partition exchange feeds two sorted window
    * passes (ascending backward carry + descending forward carry — the
    * second pass re-sorts, it does not re-shuffle), then a per-row
    * branchless pick. Numeric timestamps (the repo's long-nanos events
    * contract) — distance is plain integer subtraction. Same
    * dedup-right-by-(key, ts) determinism contract. */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, valueCol: String, tieCol: String,
      toleranceNs: Long = Long.MaxValue): DataFrame = {
    require(toleranceNs >= 0, "toleranceNs >= 0")
    val (unioned, rInType) =
      tagAndUnion(left, right, keyCol, tsCol, valueCol, tieCol, Seq("b_in", "f_in"))
    val bd = col(tsCol) - col("b_in.r_ts")   // >= 0 when b_in matched
    val fd = col("f_in.r_ts") - col(tsCol)   // >= 0 when f_in matched
    val bOk = col("b_in").isNotNull && bd <= toleranceNs
    val fOk = col("f_in").isNotNull && fd <= toleranceNs
    val chosen = when(bOk && (!fOk || bd <= fd), col("b_in"))
      .when(fOk, col("f_in"))
      .otherwise(lit(null).cast(rInType))
    readout(unioned
      .withColumn("b_in", last(col("r_in"), ignoreNulls = true).over(carry(keyCol, col(tsCol))))
      .withColumn("f_in", last(col("r_in"), ignoreNulls = true)
        .over(carry(keyCol, col(tsCol).desc)))
      .where(col("side") === 1)
      .withColumn("r_in", chosen), left.columns, valueCol)
  }

  /** The union every as-of join reads: left rows tagged `side = 1` with a
    * NULL `r_in`, and right rows deduplicated per (key, ts) tagged
    * `side = 0` with `r_in = struct(r_ts, r_val)`. Returns it with the type
    * of `r_in`. `internal` names the caller's extra working columns, which
    * the left input must not contain either. */
  private def tagAndUnion(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, valueCol: String, tieCol: String,
      internal: Seq[String] = Nil): (DataFrame, StructType) = {
    val leftCols = left.columns
    val reserved = Seq("side", "r_in") ++ internal ++ Seq("asof_ts", s"asof_$valueCol")
    require(!leftCols.exists(reserved.contains),
      s"left input must not contain operator-internal columns ${reserved.mkString(", ")}")
    val dedupRight = right
      .groupBy(col(keyCol), col(tsCol).as("r_ts"))
      .agg(max_by(col(valueCol), col(tieCol)).as("r_val"))
    // The matched (ts, value) pair rides in ONE struct through ONE
    // last(ignoreNulls) window, so both always come from the same matched
    // right row — a right row with a NULL value still matches and yields
    // (its ts, NULL), exactly DuckDB ASOF JOIN semantics. Two independent
    // last() windows would pair the newest ts with an older non-null value.
    val rInType = new StructType()
      .add("r_ts", dedupRight.schema("r_ts").dataType)
      .add("r_val", dedupRight.schema("r_val").dataType)
    val taggedLeft = left
      .withColumn("side", lit(1))
      .withColumn("r_in", lit(null).cast(rInType))
    val taggedRight = dedupRight
      .select(Seq(col(keyCol), col("r_ts").as(tsCol), lit(0).as("side"),
        struct(col("r_ts"), col("r_val")).as("r_in")) ++
        leftCols.filterNot(c => c == keyCol || c == tsCol)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    (taggedLeft.unionByName(taggedRight), rInType)
  }

  /** Per-key running window in `tsOrder`, right rows first at equal ts. */
  private def carry(keyCol: String, tsOrder: Column): WindowSpec =
    Window.partitionBy(col(keyCol))
      .orderBy(tsOrder, col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** The left columns plus the matched `asof_ts` and `asof_<valueCol>`. */
  private def readout(matched: DataFrame, leftCols: Array[String], valueCol: String): DataFrame =
    matched.select(leftCols.map(col) :+
      col("r_in.r_ts").as("asof_ts") :+
      col("r_in.r_val").as(s"asof_$valueCol"): _*)
}
