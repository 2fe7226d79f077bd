package graft.replay

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Time
import graft.core.Time.Nanos

/** Spark-backed replay sources/sinks (the `ArrowTableDataSource` /
  * `ArrowTableDataSink` roles, reference `beavers/pyarrow_replay.py:11-56`).
  *
  * Scale design: `readTo` returns a LAZY DataFrame slice — the timestamp
  * predicate lands on the parquet scan (min/max row-group pruning), nothing
  * is collected — as a [[SparkBatch]] carrying the slice's exact row count.
  * The cursor/`getNext` bookkeeping and that count run off a one-time read
  * of the (tiny) timestamp column only — at cluster scale this would come
  * from parquet footer statistics instead ([[V2ReplaySource]]); the
  * protocol is unchanged.
  */
final class SparkTableDataSource(
    df: DataFrame,
    tsCol: String,
    tsToNanos: org.apache.spark.sql.Column => org.apache.spark.sql.Column = identity,
) extends DataSource[SparkBatch] {

  // One job, single long column: the sorted event-time index.
  private val timestamps: Array[Long] =
    df.select(tsToNanos(col(tsCol)).cast("long")).orderBy(col(tsCol))
      .collect().map(_.getLong(0))
  private var pos = 0
  private var prevTs: Nanos = Long.MinValue

  /** The count comes from the index — no Spark job per cycle. */
  override def readTo(timestamp: Nanos): SparkBatch = {
    val from = prevTs
    val start = pos
    while (pos < timestamps.length && timestamps(pos) <= timestamp) pos += 1
    prevTs = timestamp
    SparkBatch(df.where(tsToNanos(col(tsCol)).cast("long") > from &&
      tsToNanos(col(tsCol)).cast("long") <= timestamp), (pos - start).toLong)
  }

  override def getNext: Nanos =
    if (pos >= timestamps.length) Time.UtcMax else timestamps(pos)

  override def length(data: SparkBatch): Int = data.length
}

object SparkTableDataSource {
  /** Parquet-file replay source; `tsCol` surfaces as long nanos whatever
    * the file's timestamp encoding ([[TsNanos.normalize]]). */
  def parquet(spark: SparkSession, path: String, tsCol: String): SparkTableDataSource =
    new SparkTableDataSource(TsNanos.normalize(spark.read.parquet(path), tsCol), tsCol)

  /** CSV replay source with an explicit schema (reference CSV replay,
    * `examples/replay_concepts.py:78-91`); `tsCol` is a TimestampType column
    * converted to nanos (µs precision at the boundary). */
  def csv(spark: SparkSession, path: String, schemaDdl: String, tsCol: String): SparkTableDataSource =
    new SparkTableDataSource(
      spark.read.schema(schemaDdl).option("header", "true").csv(path),
      tsCol,
      c => unix_micros(c) * 1000L)
}

/** A replayed micro-batch: a lazy DataFrame slice plus its known row count,
  * so dag emptiness checks (`HasLength`) never trigger a Spark job. This is
  * the one value type for DataFrame-carrying dag streams: `graft.core` has
  * no `HasLength` for a raw `Dataset`, so such a stream does not compile.
  * Exposes the wrapped schema so duplicate source-name registration can
  * compare structure at build time (every SparkBatch shares one runtime
  * class regardless of schema). */
final case class SparkBatch(df: DataFrame, count: Long) extends graft.core.HasSourceSchema {
  override def sourceSchema: Any = df.schema
  /** `count` clamped to `Int` (the `HasLength`/`DataSource.length` width). */
  def length: Int = math.min(count, Int.MaxValue).toInt
}

object SparkBatch {
  implicit val hasLength: graft.core.HasLength[SparkBatch] = (b: SparkBatch) => b.length
}

/** Buffers per-cycle DataFrame batches, concatenates and saves on close
  * (reference `ArrowTableDataSink`, `beavers/pyarrow_replay.py:45-56`).
  * The union stays lazy; one write job at close. */
final class SparkParquetDataSink(path: String) extends DataSink[DataFrame] {
  private val batches = mutable.ArrayBuffer.empty[DataFrame]
  override def append(timestamp: Nanos, data: DataFrame): Unit = batches += data
  override def close(): Unit =
    if (batches.nonEmpty)
      batches.reduce(_.unionByName(_)).write.mode("overwrite").parquet(path)
}

/** Per-cycle append sink on the `graft-replay` V2 write path: every cycle's
  * batch lands as its own task-committed parquet slice, immediately visible
  * to (and row-group-prunable by) a downstream replay reader cursoring the
  * same directory — the replay-LOG shape, where [[SparkParquetDataSink]] is
  * the replay-SNAPSHOT shape (one write at close, reference semantics).
  * Use this one when cycles are many or the run may be interrupted: no
  * driver-side batch buffer, nothing lost on a crash mid-run. */
final class ReplayAppendDataSink(path: String) extends DataSink[DataFrame] {
  override def append(timestamp: Nanos, data: DataFrame): Unit =
    data.write.format("graft-replay").mode("append").save(path)
  override def close(): Unit = ()
}

/** CSV sink twin (reference CSV sink, `examples/replay_concepts.py:94-108`). */
final class SparkCsvDataSink(path: String) extends DataSink[DataFrame] {
  private val batches = mutable.ArrayBuffer.empty[DataFrame]
  override def append(timestamp: Nanos, data: DataFrame): Unit = batches += data
  override def close(): Unit =
    if (batches.nonEmpty)
      batches.reduce(_.unionByName(_)).coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(path)
}
