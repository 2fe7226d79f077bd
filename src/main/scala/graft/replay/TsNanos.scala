package graft.replay

import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Engine-wide event-time convention: `ts` is a LONG of epoch NANOS
  * (DEVNOTES #2 — the dag's virtual clock, cutoffs, and replay cursors all
  * compare longs). The driver's parquet has shipped the column as both
  * TIMESTAMP(NANOS) (which Spark surfaces as long under `nanosAsLong`) and
  * TIMESTAMP(MICROS) (which Spark surfaces as timestamp_ntz) — these
  * helpers normalize either encoding to long nanos at the read boundary so
  * everything downstream keeps the one convention.
  */
object TsNanos {

  /** Rewrite a timestamp-typed `tsCol` to long epoch nanos; long columns
    * (TIMESTAMP(NANOS) under `nanosAsLong`, or already-normalized output)
    * pass through untouched. The NTZ cast runs under the session's UTC
    * zone (SparkEntry.configure), so wall time == instant. */
  def normalize(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema.find(_.name == tsCol).map(_.dataType) match {
      case Some(TimestampNTZType) | Some(TimestampType) =>
        df.withColumn(tsCol, unix_micros(col(tsCol).cast(TimestampType)) * 1000L)
      case _ => df
    }

  /** Raw-footer-value → nanos multiplier for a primitive column, from its
    * parquet logical annotation: TIMESTAMP(NANOS) stats are already nanos,
    * TIMESTAMP(MICROS)/(MILLIS) need scaling; unannotated INT64 is assumed
    * to already follow the long-nanos convention (the engine's own write
    * path). */
  def unitMultiplier(schema: MessageType, colName: String): Long = {
    if (!schema.containsField(colName)) return 1L
    val t = (schema: org.apache.parquet.schema.GroupType).getType(colName)
    if (!t.isPrimitive) return 1L
    t.asPrimitiveType().getLogicalTypeAnnotation match {
      case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => 1000L
          case _ => 1L // NANOS
        }
      case _ => 1L
    }
  }
}
