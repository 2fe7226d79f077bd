package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.core.{Dag, Node, Time}
import graft.replay.SparkBatch

/** Drives a [[Dag]] from a Structured Streaming query: each micro-batch is
  * one synchronous dag cycle (`foreachBatch(batchDF, batchId)` body =
  * `Dag.execute`, SURVEY.md §3 entry point 1/2 mapping; reference
  * `beavers/dag.py:663-677` cycle ids <-> batch ids).
  *
  * The batch DataFrame is injected as a [[SparkBatch]] (count from
  * `batchDF.count()` — one cheap job over the already-materialized
  * micro-batch, which also pins it before reuse across nodes). Virtual time
  * comes from `clock`, never the wall clock, so replayed streams keep
  * event-time semantics.
  */
final class StreamingDagDriver(
    dag: Dag,
    source: Node[SparkBatch],
    clock: (DataFrame, Long) => Time.Nanos,
) {
  @volatile private var cycles = 0L

  def cycleCount: Long = cycles

  /** The foreachBatch body — also usable standalone in tests. */
  def onBatch(batchDf: DataFrame, batchId: Long): Unit = {
    val pinned = batchDf.persist()
    try {
      val n = pinned.count()
      val now = clock(pinned, batchId)
      if (n > 0 || dag.getNextTimer <= now) {
        if (n > 0) source.setStream(SparkBatch(pinned, n))
        dag.execute(now)
        cycles += 1
      }
    } finally { pinned.unpersist(); () }
  }

  /** Attach to a streaming DataFrame and start the query. */
  def start(stream: DataFrame, configure: DataStreamWriter[Row] => DataStreamWriter[Row] = identity): StreamingQuery =
    configure(stream.writeStream
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch((df: DataFrame, id: Long) => onBatch(df, id)))
      .start()
}
