package graft.sources.v2

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapred.JobConf
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{GroupType, MessageType, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** `graft-replay` — a DataSourceV2 batch connector purpose-built for the
  * replay cursor pattern (reference `replay.py:47-83` read_to/get_next over
  * historic files): a driver that advances a time cursor issues one bounded
  * time-slice scan per cycle, hundreds of times per run.
  *
  * Why not just `spark.read.parquet(...).where(...)` (which the other replay
  * sources use)? The built-in source re-lists files and re-reads footers on
  * every cycle's plan. This connector keeps a (file, row-group, tsMin,
  * tsMax, rows) index in the driver and reads each file's footer ONCE,
  * cached per file under (name, mtime, length): a cycle's planning costs
  * one directory listing, plus the footers of files new since the last
  * listing (an appended-to sink reads only what the append added), and
  * `planInputPartitions` is a pure in-memory filter of the index by the
  * pushed timestamp bounds — O(overlapping row groups) per cycle instead of
  * O(files) footer IO. At 100 TB / 1000 cycles that is the difference
  * between per-cycle planning being free and being a storage-metadata storm.
  * The session's Hadoop conf is built once and shared by the footer reads
  * and, broadcast once when the first reader or writer factory needs it
  * ([[ReplayDataSource.sessionConf]]), by every reader and writer task,
  * instead of being rebuilt per call and shipped whole in every task.
  *
  * Pushdown contract: timestamp-column range predicates
  * (>, >=, <, <=, =) prune row groups via the cached footer stats; ALL
  * filters are also returned as residual so Spark re-evaluates them
  * row-by-row — pruning is a performance fast path, never a correctness
  * dependency. Column pruning is honored by reading only the requested
  * parquet columns (`ColumnIOFactory` projection). Row-group row counts
  * feed `estimateStatistics`.
  *
  * Supported schemas: flat columns of BOOLEAN / INT32 / INT64 (incl.
  * TIMESTAMP(NANOS), surfaced as plain LongType nanos — the engine-wide
  * convention, DEVNOTES #2) / FLOAT / DOUBLE / BINARY(String). Nested
  * fields fail fast at `inferSchema`.
  *
  * Materialization is COLUMNAR by default: each row-group partition is
  * decoded by Spark's own `VectorizedParquetRecordReader` into
  * `ColumnarBatch`es (see [[ReplayReaderFactory]]), so a full-corpus scan
  * through the connector costs the same decode as the built-in parquet
  * source while keeping the cached-index planning (measured ~20-45%
  * faster than the row path on a 20M-row scan-heavy aggregate, and at
  * parity-or-better with the built-in source). `option("vectorized",
  * "false")` selects the row-by-row Group-assembly path, kept as the
  * independent reference implementation the columnar path is tested
  * against.
  */
final class ReplayDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-replay"

  /** Writes to a fresh path carry their schema from the DataFrame; reads
    * and appends to existing paths still infer from the footers. */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReplayDataSource.sparkSchema(
      ReplayDataSource.index(ReplayDataSource.pathOf(options),
        ReplayDataSource.tsColOf(options)).schema)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new ReplayTable(ReplayDataSource.pathOf(opts), ReplayDataSource.tsColOf(opts), schema)
  }
}

object ReplayDataSource {

  final case class RowGroupMeta(
      file: String, startPos: Long, compressedBytes: Long, rows: Long,
      tsMin: Option[Long], tsMax: Option[Long])

  /** The metadata of a path, or of one of its files: parquet schema +
    * per-row-group footer index. */
  final case class PathIndex(schema: MessageType, groups: Array[RowGroupMeta])

  /** What a footer is cached under: (file, mtime, length). */
  private type FileKey = (String, Long, Long)

  private def keyOf(f: FileStatus): FileKey =
    (f.getPath.toString, f.getModificationTime, f.getLen)

  /** The index of one `(path, tsCol)` and the footers it was built from,
    * in listing order. */
  private final case class Cached(footers: Seq[(FileKey, PathIndex)], idx: PathIndex)

  private val cache = new ConcurrentHashMap[(String, String), Cached]()

  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-replay requires a path option")
    p
  }

  def tsColOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("tscol")).getOrElse("ts")

  /** What `newHadoopConf` is built from: the context (a new one after a
    * stop is a different object), its `hadoopConfiguration` and the
    * session's SQL conf. */
  private final case class ConfInputs(
      sc: SparkContext, hadoop: util.Map[String, String], sql: Map[String, String])

  /** The session's Hadoop conf built from `inputs`, and its broadcast, made
    * only when a reader or writer factory first needs one. */
  private final class SessionConf(val inputs: ConfInputs, val conf: Configuration) {
    lazy val broadcast: Broadcast[SerializableConfiguration] =
      inputs.sc.broadcast(new SerializableConfiguration(conf))
  }

  private var shared: SessionConf = _ // guarded by this

  /** The session's Hadoop conf (`sessionState.newHadoopConf()`, so the
    * session's `spark.hadoop.*` settings, S3/HDFS credentials etc. apply),
    * built ONCE: every driver-side metadata read and every reader and writer
    * task of the session uses this one value, and never mutates it (a task
    * sets its own keys on a copy, [[taskConf]]). Rebuilt only when one of
    * its inputs changed since the last call: comparing them costs a map copy
    * of each, where building the conf copies ~1,000 entries. */
  private def current(session: SparkSession): SessionConf = {
    val sc = session.sparkContext
    val hadoop = new util.HashMap[String, String]()
    sc.hadoopConfiguration.forEach(e => hadoop.put(e.getKey, e.getValue))
    val inputs = ConfInputs(sc, hadoop, session.conf.getAll)
    synchronized {
      if (shared == null || shared.inputs != inputs)
        shared = new SessionConf(inputs, session.sessionState.newHadoopConf())
      shared
    }
  }

  /** The session conf as tasks see it: broadcast once per conf (shipping it
    * whole costs a serialization per stage and a deserialization per task).
    * Driver-only reads ([[hadoopConf]]) never create the broadcast. */
  private[v2] def sessionConf(session: SparkSession): Broadcast[SerializableConfiguration] =
    current(session).broadcast

  /** The active session's conf for driver-side reads; bare defaults only
    * when no session exists. */
  private def hadoopConf(): Configuration =
    SparkSession.getActiveSession.map(current(_).conf).getOrElse(new Configuration())

  /** A task's own conf: a copy of the broadcast session conf with `keys`
    * set. A `JobConf`, so `TaskAttemptContextImpl` takes it without another
    * copy. */
  private[v2] def taskConf(conf: Broadcast[SerializableConfiguration],
      keys: Map[String, String]): JobConf = {
    val c = new JobConf(conf.value.value)
    keys.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def listParquetFiles(path: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
    else Seq(st)
  }

  private def readFooter(file: FileStatus, tsCol: String, conf: Configuration): PathIndex = {
    // options built from the shared conf: without them parquet builds a
    // fresh Configuration per open, re-parsing the XML defaults
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf, file.getPath).build())
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      // stats scale to the engine's long-nanos convention by the ts
      // column's timestamp unit (TIMESTAMP(MICROS) footers hold micros)
      val mult = graft.replay.TsNanos.unitMultiplier(schema, tsCol)
      PathIndex(schema, footer.getBlocks.asScala.map { block =>
        val stats = block.getColumns.asScala
          .find(_.getPath.toDotString == tsCol)
          .map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
        RowGroupMeta(file.getPath.toString, block.getStartingPos, block.getCompressedSize,
          block.getRowCount,
          stats.map(_.genericGetMin.asInstanceOf[Number].longValue() * mult),
          stats.map(_.genericGetMax.asInstanceOf[Number].longValue() * mult))
      }.toArray)
    } finally reader.close()
  }

  /** Footer index for `(path, tsCol)`: one listing, plus a footer read for
    * each file not seen before under the same (name, mtime, length). An
    * unchanged file set returns the same `PathIndex` object; an append
    * reads only the new files' footers; the footers of files no longer
    * listed are dropped. A same-length same-mtime in-place rewrite is
    * indistinguishable without reading content (as with Spark's own file
    * index). Keyed by tsCol too: the stored min/max stats are that
    * column's. */
  def index(path: String, tsCol: String = "ts"): PathIndex = {
    val conf = hadoopConf()
    val files = listParquetFiles(path, conf)
    require(files.nonEmpty, s"No parquet files under $path")
    val keys = files.map(keyOf)
    val prev = Option(cache.get((path, tsCol)))
    prev.filter(_.footers.map(_._1) == keys) match {
      case Some(c) => c.idx
      case None =>
        val seen = prev.map(_.footers.toMap).getOrElse(Map.empty[FileKey, PathIndex])
        val footers = files.zip(keys).map { case (f, k) =>
          k -> seen.getOrElse(k, readFooter(f, tsCol, conf))
        }
        val idx = PathIndex(footers.head._2.schema, footers.flatMap(_._2.groups).toArray)
        cache.put((path, tsCol), Cached(footers, idx))
        idx
    }
  }

  def sparkSchema(schema: MessageType): StructType = StructType(
    schema.getFields.asScala.map { f =>
      require(f.isPrimitive,
        s"graft-replay supports flat primitive schemas only; got ${f.getName}")
      val p = f.asPrimitiveType()
      val dt = p.getPrimitiveTypeName match {
        case BOOLEAN => BooleanType
        case INT32 => IntegerType
        // incl. TIMESTAMP(any unit): long nanos by convention — values are
        // scaled to nanos by the readers (TsNanos.unitMultiplier)
        case INT64 => LongType
        case FLOAT => FloatType
        case DOUBLE => DoubleType
        case BINARY if p.getLogicalTypeAnnotation != null &&
          p.getLogicalTypeAnnotation.toString == "STRING" => StringType
        case other =>
          throw new IllegalArgumentException(s"Unsupported parquet type $other (${f.getName})")
      }
      StructField(f.getName, dt, nullable = true)
    }.toSeq)
}

final class ReplayTable(path: String, tsCol: String,
    externalSchema: StructType = new StructType())
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private lazy val idx = ReplayDataSource.index(path, tsCol)

  override def name(): String = s"graft-replay($path)"

  /** Footer schema when the path exists; otherwise the schema Spark passed
    * (a fresh path being created by a write). Only the two MISSING-path
    * shapes fall back — a nonexistent path (FileNotFoundException) or a
    * listed-but-empty one ("No parquet files"). Footer-parse/IO errors on an
    * existing path rethrow here rather than silently reporting the external
    * schema and deferring a confusing failure to scan planning. */
  override def schema(): StructType =
    try ReplayDataSource.sparkSchema(idx.schema)
    catch {
      case _: java.io.FileNotFoundException if externalSchema.fields.nonEmpty =>
        externalSchema
      case e: IllegalArgumentException
          if externalSchema.fields.nonEmpty &&
            e.getMessage != null && e.getMessage.startsWith("No parquet files") =>
        externalSchema
    }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ReplayScanBuilder(path, tsCol, schema(),
      vectorized = Option(options.get("vectorized")).forall(_.toBoolean))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new ReplayWriteBuilder(path, info.schema())
}

/** Extracts timestamp bounds from pushed filters; everything stays residual
  * (see connector doc — pruning is a fast path, not a correctness
  * dependency). */
final class ReplayScanBuilder(path: String, tsCol: String, fullSchema: StructType,
    vectorized: Boolean = true)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var accepted: Array[Filter] = Array.empty
  private var lower: Long = Long.MinValue // exclusive
  private var upper: Long = Long.MaxValue // inclusive
  private var pushedAgg: Option[
    org.apache.spark.sql.connector.expressions.aggregate.Aggregation] = None

  // ---- aggregate pushdown: COUNT(*) / MIN(ts) / MAX(ts) from footers ----
  //
  // An ungrouped count/min/max over the replay log never needs to touch a
  // data page: row counts and the ts column's min/max are already in the
  // row-group footers the cursor index caches. At 100 TB this turns the
  // "how big is the log / what's its time span" probe every replay driver
  // issues from a full scan into a metadata lookup. Only pushed when NO
  // filters were pushed (Spark won't offer aggregates past residual
  // filters, and our filters are always residual — the two paths can't
  // mix) and only for stats that are PROVABLY exact: CountStar from row
  // counts (null-safe by definition), min/max of the indexed ts column
  // when every row group carries stats (a stats-less group refuses the
  // pushdown rather than risking a wrong extreme).

  private def minMaxCol(
      f: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
      : Option[String] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Max, Min}
    f match {
      case m: Min => m.column match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
      case m: Max => m.column match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
      case _ => None
    }
  }

  private def canPushAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (agg.groupByExpressions.nonEmpty) return false
    if (accepted.nonEmpty || lower != Long.MinValue || upper != Long.MaxValue)
      return false
    val groups = ReplayDataSource.index(path, tsCol).groups
    if (groups.isEmpty) return false
    agg.aggregateExpressions.forall {
      case _: CountStar => true
      case f @ (_: Min | _: Max) =>
        minMaxCol(f).contains(tsCol) &&
          groups.forall(g => g.tsMin.isDefined && g.tsMax.isDefined)
      case _ => false
    }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = canPushAgg(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    if (canPushAgg(agg)) { pushedAgg = Some(agg); true } else false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.flatMap(collectBounds)
    filters // all residual: Spark re-applies every predicate row-wise
  }

  private def collectBounds(f: Filter): Option[Filter] = f match {
    case GreaterThan(c, v: Long) if c == tsCol =>
      lower = math.max(lower, v); Some(f)
    case GreaterThanOrEqual(c, v: Long) if c == tsCol =>
      if (v != Long.MinValue) lower = math.max(lower, v - 1); Some(f)
    case LessThan(c, v: Long) if c == tsCol =>
      upper = math.min(upper, v - 1); Some(f)
    case LessThanOrEqual(c, v: Long) if c == tsCol =>
      upper = math.min(upper, v); Some(f)
    case EqualTo(c, v: Long) if c == tsCol =>
      // v - 1 underflows at Long.MinValue (would prune every group)
      if (v != Long.MinValue) lower = math.max(lower, v - 1)
      upper = math.min(upper, v); Some(f)
    case And(l, r) =>
      val hit = Seq(collectBounds(l), collectBounds(r)).flatten
      if (hit.nonEmpty) Some(f) else None
    case _ => None
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = pushedAgg match {
    case Some(agg) => new ReplayAggScan(path, tsCol, agg)
    case None =>
      new ReplayScan(path, tsCol, required, lower, upper, accepted.length,
        vectorized)
  }
}

/** Metadata-only scan for a completely-pushed ungrouped aggregation: the
  * answer is computed on the DRIVER from the cached footer index and
  * shipped as one single-row partition — zero data pages read, zero
  * shuffle. `supportCompletePushDown` returned true, so Spark consumes
  * these values as final results. */
final class ReplayAggScan(path: String, tsCol: String,
    agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    extends Scan with Batch {

  import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}

  private lazy val groups = ReplayDataSource.index(path, tsCol).groups

  private lazy val values: Array[Long] = agg.aggregateExpressions.map {
    case _: CountStar => groups.map(_.rows).sum
    case _: Min => groups.flatMap(_.tsMin).min
    case _: Max => groups.flatMap(_.tsMax).max
    case f => throw new IllegalStateException(s"unpushable aggregate $f")
  }

  override def readSchema(): StructType =
    StructType(agg.aggregateExpressions.zipWithIndex.map {
      case (_: CountStar, i) =>
        org.apache.spark.sql.types.StructField(s"count_star_$i",
          org.apache.spark.sql.types.LongType, nullable = false)
      case (_, i) =>
        org.apache.spark.sql.types.StructField(s"agg_${tsCol}_$i",
          org.apache.spark.sql.types.LongType, nullable = false)
    })

  override def description(): String =
    s"graft-replay-agg $path METADATA-ONLY aggs=${agg.aggregateExpressions.length} " +
      s"rowGroups=${groups.length}"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(AggResultPartition(values))

  override def createReaderFactory(): PartitionReaderFactory =
    new AggResultReaderFactory
}

final case class AggResultPartition(values: Array[Long]) extends InputPartition

final class AggResultReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val vs = partition.asInstanceOf[AggResultPartition].values
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          vs.map(_.asInstanceOf[Any]))
      override def close(): Unit = {}
    }
  }
}

final class ReplayScan(path: String, tsCol: String, required: StructType,
    lower: Long, upper: Long, nPushed: Int, vectorized: Boolean = true)
    extends Scan with Batch with SupportsReportStatistics {

  // one index snapshot per plan: pruning and the reader factory agree
  private lazy val idx = ReplayDataSource.index(path, tsCol)

  private lazy val pruned: Array[ReplayDataSource.RowGroupMeta] =
    idx.groups.filter { g =>
      // keep a group unless its stats PROVE it lies outside (lower, upper];
      // groups without stats are always kept
      (g.tsMax, g.tsMin) match {
        case (Some(mx), Some(mn)) => mx > lower && mn <= upper
        case _ => true
      }
    }

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-replay $path tsRange=($lower,$upper] pushed=$nPushed " +
      s"rowGroups=${pruned.length}"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    pruned.map(g => RowGroupPartition(g.file, g.startPos, g.compressedBytes, g.rows)
      .asInstanceOf[InputPartition])

  override def createReaderFactory(): PartitionReaderFactory = {
    // The vectorized reader resolves the projection and type mapping from
    // the same conf keys Spark's own parquet scan sets (ParquetReadSupport
    // contract): the requested catalyst schema as JSON plus the schema-
    // converter flags. Every key ParquetToSparkSchemaConverter(conf) reads
    // must be present (it does a raw conf.get(...).toBoolean for several) —
    // mirror the session's values via the compiled SQLConf entries so names
    // can't drift, forcing nanosAsLong (the engine-wide ts convention).
    // Each task sets these on its own copy of the broadcast session conf.
    val scanKeys = {
      val sc = org.apache.spark.sql.internal.SQLConf.get
      import org.apache.spark.sql.internal.SQLConf._
      Map(
        "parquet.read.support.class" ->
          "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport",
        PARQUET_BINARY_AS_STRING.key -> sc.isParquetBinaryAsString.toString,
        PARQUET_INT96_AS_TIMESTAMP.key -> sc.isParquetINT96AsTimestamp.toString,
        CASE_SENSITIVE.key -> sc.caseSensitiveAnalysis.toString,
        PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key -> sc.parquetInferTimestampNTZEnabled.toString,
        LEGACY_PARQUET_NANOS_AS_LONG.key -> "true",
        PARQUET_FIELD_ID_READ_ENABLED.key -> sc.parquetFieldIdReadEnabled.toString,
        "org.apache.spark.sql.parquet.row.requested_schema" -> required.json)
    }
    // Columns with a timestamp unit (TIMESTAMP(MICROS/MILLIS)) surface as
    // long NANOS via the ROW path's per-field unit multipliers — Spark's
    // vectorized reader can't hand back a long vector for an annotated
    // timestamp column (and its dictionary decode path NPEs when driven
    // outside its own scan exec), so external timestamp-unit parquet takes
    // Group assembly. The engine's own write path emits plain INT64, so
    // replay-log scans — the hot cursor workload this connector exists
    // for — keep the full columnar path; external corpora are normalized
    // into engine logs at ingest anyway (ReplayAppendDataSink).
    val anyScaled = required.fields.exists(f =>
      graft.replay.TsNanos.unitMultiplier(idx.schema, f.name) != 1L)
    new ReplayReaderFactory(required.fields.map(_.name), required,
      ReplayDataSource.sessionConf(SparkSession.active), scanKeys,
      // zero-column projections (bare count(*)) stay on the row path —
      // the Group assembly handles them; a zero-column vectorized batch
      // has no value anyway
      vectorized && required.fields.nonEmpty && !anyScaled)
  }

  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = pruned.map(_.rows).sum
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(pruned.map(_.compressedBytes).sum)
    override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
  }
}

final case class RowGroupPartition(file: String, startPos: Long,
    compressedBytes: Long, rows: Long) extends InputPartition

/** Reads exactly one row group. Two paths:
  *
  *   - **Columnar (default)**: Spark's own `VectorizedParquetRecordReader`
  *     over a `FileSplit` spanning the row group's compressed extent —
  *     real vectorized page decode into `ColumnarBatch`es that
  *     whole-stage codegen consumes directly. This is the full-scan /
  *     wide-slice path: per-value virtual calls disappear and decode cost
  *     drops to Spark's native parquet scan's.
  *   - **Row** (`vectorized=false` option, or a zero-column projection):
  *     parquet example Group assembly, row-by-row. Kept as the fallback
  *     and as the independent implementation the columnar path is
  *     property-tested against.
  */
final class ReplayReaderFactory(requiredCols: Array[String], required: StructType,
    val conf: Broadcast[SerializableConfiguration], scanKeys: Map[String, String],
    columnar: Boolean)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[RowGroupPartition]
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      // the old-API split class: Spark's reader base downcasts to it
      import org.apache.hadoop.mapred.FileSplit
      import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
      import org.apache.hadoop.mapreduce.TaskAttemptID
      import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader

      // The split range spans the block's compressed extent — parquet
      // selects row groups by byte midpoint, same contract as the row path.
      private val reader = {
        val r = new VectorizedParquetRecordReader(
          null, "CORRECTED", "UTC", "CORRECTED", "UTC",
          /* useOffHeap = */ false, /* capacity = */ 4096)
        val split = new FileSplit(new Path(p.file), p.startPos, p.compressedBytes,
          Array.empty[String])
        r.initialize(split, new TaskAttemptContextImpl(
          ReplayDataSource.taskConf(conf, scanKeys), new TaskAttemptID()))
        r.initBatch(new StructType(), InternalRow.empty)
        r.enableReturningBatches()
        r
      }

      override def next(): Boolean = reader.nextBatch()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
        reader.getCurrentValue.asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
      override def close(): Unit = reader.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RowGroupPartition]
    new PartitionReader[InternalRow] {
      private val file = new Path(p.file)
      private val hadoopConf = ReplayDataSource.taskConf(conf, scanKeys)
      // parquet selects row groups whose byte MIDPOINT falls in the range,
      // so the range must span this block's compressed extent
      private val options = HadoopReadOptions.builder(hadoopConf, file)
        .withRange(p.startPos, p.startPos + p.compressedBytes)
        .build()
      private val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(file, hadoopConf), options)
      private val fileSchema = reader.getFooter.getFileMetaData.getSchema
      private val projection: MessageType = new MessageType(
        fileSchema.getName,
        requiredCols.map(c => (fileSchema: GroupType).getType(c)): _*)
      private val pages = reader.readNextRowGroup()
      require(pages != null, s"Row group at ${p.startPos} not found in ${p.file}")
      private val recordReader = new ColumnIOFactory()
        .getColumnIO(projection, fileSchema)
        .getRecordReader(pages, new GroupRecordConverter(projection))
      private val total = pages.getRowCount
      private var read = 0L
      private var current: InternalRow = _

      // precomputed per-field extraction metadata
      private val fieldTypes: Array[PrimitiveType.PrimitiveTypeName] =
        requiredCols.map(c =>
          (fileSchema: GroupType).getType(c).asPrimitiveType().getPrimitiveTypeName)
      // raw-value → nanos unit multipliers (1 for non-timestamp columns)
      private val fieldMults: Array[Long] =
        requiredCols.map(c => graft.replay.TsNanos.unitMultiplier(fileSchema, c))

      override def next(): Boolean = {
        if (read >= total) return false
        val g: Group = recordReader.read()
        read += 1
        val row = new GenericInternalRow(requiredCols.length)
        var i = 0
        while (i < requiredCols.length) {
          if (g.getFieldRepetitionCount(i) == 0) row.setNullAt(i)
          else fieldTypes(i) match {
            case BOOLEAN => row.setBoolean(i, g.getBoolean(i, 0))
            case INT32 => row.setInt(i, g.getInteger(i, 0))
            case INT64 => row.setLong(i, g.getLong(i, 0) * fieldMults(i))
            case FLOAT => row.setFloat(i, g.getFloat(i, 0))
            case DOUBLE => row.setDouble(i, g.getDouble(i, 0))
            case _ => row.update(i, UTF8String.fromBytes(g.getBinary(i, 0).getBytes))
          }
          i += 1
        }
        current = row
        true
      }

      override def get(): InternalRow = current
      override def close(): Unit = reader.close()
    }
  }
}
