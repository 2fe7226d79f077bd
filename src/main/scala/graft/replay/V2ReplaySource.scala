package graft.replay

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.Time
import graft.core.Time.Nanos
import graft.sources.v2.ReplayDataSource

/** Replay cursor over the `graft-replay` DataSourceV2 connector — the
  * preferred scale path: each footer is read ONCE (cached driver-side by
  * the connector), `readTo` lists the files once per step, `getNext` is
  * pure in-memory math over that step's index, and every
  * cycle's slice plans O(overlapping row groups) input partitions with the
  * ts bounds pushed into the scan (visible as `graft-replay ... tsRange=`
  * in the plan). The cursor runs off parquet footer statistics only:
  * `getNext` is the min over row groups not yet passed (conservative — a
  * scheduled cycle may find 0 rows when the range is sparse inside a row
  * group), emptiness is exact (a limit-1 probe when only partially
  * overlapping groups remain) and counts are upper bounds for
  * partially-overlapping groups — see [[DataSource.length]]. */
final class V2ReplaySource(
    spark: SparkSession, path: String, tsCol: String,
) extends DataSource[SparkBatch] {

  // The index as of the last readTo (or construction): readTo takes one
  // fresh snapshot, so files appended meanwhile join at the next readTo;
  // getNext and the bounds reuse it without listing again.
  private var groups = ReplayDataSource.index(path, tsCol).groups

  // The cursor's exhaustion test (getNext) and slice counts are driven by
  // row-group stats; a stat-less group would be scanned by the connector
  // (it keeps such groups) but never scheduled by the cursor. Fail fast at
  // construction instead.
  require(groups.forall(g => g.tsMin.isDefined && g.tsMax.isDefined),
    s"V2ReplaySource requires $tsCol min/max statistics in every row group " +
      s"under $path; rewrite the files with stats or use SparkTableDataSource")

  private val df: DataFrame =
    spark.read.format("graft-replay").option("tsCol", tsCol).load(path)

  private var prevTs: Nanos = Long.MinValue

  def minTimestamp: Nanos = groups.iterator.flatMap(_.tsMin).min
  def maxTimestamp: Nanos = groups.iterator.flatMap(_.tsMax).max

  override def readTo(timestamp: Nanos): SparkBatch = {
    groups = ReplayDataSource.index(path, tsCol).groups
    val from = prevTs
    val overlapping = groups.filter(g =>
      g.tsMax.forall(_ > from) && g.tsMin.forall(_ <= timestamp))
    val (full, partial) = overlapping.partition(g =>
      g.tsMin.exists(_ > from) && g.tsMax.exists(_ <= timestamp))
    val sliced = df.where(col(tsCol) > from && col(tsCol) <= timestamp)
    val exactFull = full.map(_.rows).sum
    val count =
      if (exactFull > 0) exactFull + partial.map(_.rows).sum
      else if (partial.nonEmpty && !sliced.isEmpty) partial.map(_.rows).sum
      else 0L
    prevTs = timestamp
    SparkBatch(sliced, count)
  }

  override def getNext: Nanos = {
    val remaining = groups.filter(_.tsMax.exists(_ > prevTs))
    if (remaining.isEmpty) Time.UtcMax
    else remaining.iterator.map(g => math.max(g.tsMin.getOrElse(Long.MinValue), prevTs + 1)).min
  }

  override def length(data: SparkBatch): Int = data.length
}
