package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Dag
import graft.core.Time.Nanos
import graft.replay._
import graft.sources.v2.ReplayDataSource
import graft.tables.TableOps

/** `dag_replay`: the engine on Spark. Seeded events (Zipf users, quiet
  * nights the time warp skips) are written as parquet with many row groups,
  * replayed through `V2ReplaySource` and `ReplayDriver` at a 6 h cadence
  * into a state node (`lastByKeys` upsert + `localCheckpoint`), and each
  * cycle's per-user changes go to `ReplayAppendDataSink`, so writes happen
  * beside reads. Per-cycle Spark coordination dominates this workload. */
final class DagReplay(spark: SparkSession, probe: SparkProbe, seed: Long, work: Path) {
  import DagReplay._

  val eventsPath: String = work.resolve("events").toString
  private var passNo = 0

  /** Writes the seeded events; returns the exact row count. */
  def generate(): Long = {
    val dayNs = 86400L * 1000000000L
    val perDay = Rows / Days
    val u = (c: Int) => xxhash64(col("id"), lit(seed), lit(c)).bitwiseAND(lit(0xFFFFFFFFFFFFFL)) /
      lit(4503599627370496.0)
    val day = col("id") / perDay
    val inDay = col("id") % perDay
    spark.range(0, Rows, 1, 1).select(
      col("id").as("event_id"),
      (lit(Start + 1) + day.cast("long") * dayNs +
        (inDay * lit(ActiveHours * 3600 * 1000000000L) / perDay).cast("long")).as("ts"),
      floor(pow(u(1), 3) * Users).cast("long").as("user_id"),
      element_at(array(EventTypes.map(lit): _*),
        (floor(u(2) * EventTypes.size) + 1).cast("int")).as("event_type"),
      round(u(3) * 1000, 2).as("value"))
      .write.mode("overwrite").option("parquet.block.size", RowGroupBytes.toString)
      .parquet(eventsPath)
    Rows
  }

  /** Builds the V2 footer index cold; returns its wall time in ns. */
  def buildIndex(): Long = {
    val s = System.nanoTime()
    val groups = ReplayDataSource.index(eventsPath, "ts").groups.length
    require(groups > 1, s"expected many row groups, got $groups")
    System.nanoTime() - s
  }

  final class PassStats {
    val cycleNs = new LongBuffer
    var wallNs = 0L
    var readNs = 0L
    var getNextNs = 0L
    var sinkNs = 0L
    var nodeNs = 0L
    var lengthSum = 0L
    var cycles = 0L
    val ops = mutable.ArrayBuffer.empty[(Long, Long)]
    var state: DataFrame = _
    var sinkPath: String = _
    var group: String = _
    val cycleTimes = mutable.ArrayBuffer.empty[Nanos]
  }

  /** `DataSource` wrapper timing each call into the replay layer. */
  private final class TimedSource(inner: V2ReplaySource, st: PassStats, group: String)
      extends DataSource[SparkBatch] {
    override def readTo(ts: Nanos): SparkBatch = {
      spark.sparkContext.setJobGroup(s"$group:read", "readTo")
      val s = System.nanoTime()
      val b = Trace.span("readTo", "graft.replay")(inner.readTo(ts))
      st.readNs += System.nanoTime() - s
      b
    }
    override def getNext: Nanos = {
      val s = System.nanoTime()
      val n = Trace.span("getNext", "graft.replay")(inner.getNext)
      st.getNextNs += System.nanoTime() - s
      n
    }
    override def length(data: SparkBatch): Int = {
      val n = inner.length(data)
      st.lengthSum += n
      n
    }
  }

  private final class TimedSink(inner: ReplayAppendDataSink, st: PassStats, group: String)
      extends DataSink[SparkBatch] {
    override def append(ts: Nanos, data: SparkBatch): Unit = {
      spark.sparkContext.setJobGroup(s"$group:sink", "append")
      val s = System.nanoTime()
      Trace.span("append", "graft.sources.v2")(inner.append(ts, data.df))
      st.sinkNs += System.nanoTime() - s
    }
    override def close(): Unit = inner.close()
  }

  /** One full replay of the events file. */
  def pass(label: String): PassStats = {
    passNo += 1
    val st = new PassStats
    val group = s"bench:dag_replay:$label$passNo"
    st.group = group
    st.sinkPath = work.resolve(s"changes-$passNo").toString
    val dag = new Dag
    val empty = SparkBatch(spark.emptyDataFrame, 0)
    val events = dag.sourceStream(empty, name = "events")
    var stateDf: DataFrame = null
    dag.state(events) { b: SparkBatch =>
      spark.sparkContext.setJobGroup(s"$group:node", "state")
      val s = System.nanoTime()
      Trace.span("node", "bench.node") {
        val all = if (stateDf == null) b.df else stateDf.unionByName(b.df)
        stateDf = TableOps.lastByKeys(all, Keys, Ordering).localCheckpoint(eager = true)
      }
      st.nodeNs += System.nanoTime() - s
      stateDf
    }
    val changes = dag.stream(events)(empty) { b =>
      SparkBatch(TableOps.lastByKeys(b.df, Keys, Ordering), b.count)
    }
    dag.sink("changes", changes)
    val src = new V2ReplaySource(spark, eventsPath, "ts")
    val ctx = ReplayContext(ReplayDriver.ceil(src.minTimestamp, Cadence) - Cadence,
      src.maxTimestamp + Cadence, Cadence)
    val driver = ReplayDriver.create(dag, ctx,
      Map("events" -> (_ => new TimedSource(src, st, group))),
      Map("changes" -> (_ => new TimedSink(new ReplayAppendDataSink(st.sinkPath), st, group))))
    val start = System.nanoTime()
    while (!driver.isDone) {
      val s = System.nanoTime()
      val s0 = System.currentTimeMillis()
      val m = Trace.span("cycle", "graft.replay")(driver.runCycle())
      if (m.isDefined) {
        st.cycleNs.add(System.nanoTime() - s)
        st.ops += ((s0, System.currentTimeMillis()))
        st.cycles += 1
        st.cycleTimes += m.get.timestamp
      }
    }
    st.wallNs = System.nanoTime() - start
    st.state = stateDf
    spark.sparkContext.clearJobGroup()
    st
  }

  /** Writes what the result check needs (final state, cycle times) and
    * returns the check's description for `run.py`. */
  def dumpForCheck(st: PassStats): String = {
    import Report.jsonString
    val state = work.resolve("state").toString
    val cycles = work.resolve("cycles.txt")
    st.state.write.mode("overwrite").parquet(state)
    Files.writeString(cycles, st.cycleTimes.mkString("\n"))
    s"""{"kind":"dag_replay","events":${jsonString(eventsPath)},"state":${jsonString(state)},""" +
      s""""changes":${jsonString(st.sinkPath)},"cycles":${jsonString(cycles.toString)}}"""
  }

  /** Full replays for `seconds` (at least two); `label` names their job groups. */
  def run(seconds: Double, report: Report, layers: Report, rows: Long,
      label: String): Seq[PassStats] = {
    val passes = mutable.ArrayBuffer.empty[PassStats]
    System.gc()
    val t0 = System.nanoTime()
    while (passes.size < 2 || System.nanoTime() - t0 < seconds * 1e9) {
      passes += pass(label)
      Anchor.sample()
    }
    passes.foreach(p => System.err.println(
      f"pass ${p.wallNs / 1e9}%.3f s cycles ${p.cycleNs.toArray.map(_ / 1000000).mkString(" ")}"))
    val passS = Stats.median(passes.map(_.wallNs / 1e9).toSeq)
    val cycleMs = Stats.nsToMs(passes.flatMap(_.cycleNs.toArray).toArray)
    report.put("throughput_rps", rows / passS, "1/s")
    report.putCycleTimes(cycleMs, layers)
    report.put("pass_s", passS, "s")
    report.attempted += passes.map(_.cycles).sum

    val cycles = passes.map(_.cycles).sum.toDouble
    def perCycleMs(f: PassStats => Long) = passes.map(f).sum / 1e6 / cycles
    layers.put("replay.read_ms", perCycleMs(_.readNs), "ms")
    layers.put("replay.getnext_ms", perCycleMs(_.getNextNs), "ms")
    layers.put("replay.sink_ms", perCycleMs(_.sinkNs), "ms")
    layers.put("replay.node_ms", perCycleMs(_.nodeNs), "ms")
    layers.put("replay.count_ratio", passes.map(_.lengthSum).sum.toDouble / (rows * passes.size), "ratio")
    probe.drain()
    val sinkJobs = passes.map(p => probe.totals(s"${p.group}:sink", Nil))
    layers.put("v2.read_amplification",
      sinkJobs.map(_.recordsRead).sum.toDouble / (rows * passes.size), "ratio")
    layers.put("v2.write_ms", sinkJobs.map(_.jobMs).sum / cycles, "ms")
    passes.toSeq
  }
}

object DagReplay {
  val Rows = 120000L
  val Days = 2
  /** Events fill 00:00-18:00 each day: three equally full cycles, then a
    * quiet evening the time warp skips. */
  val ActiveHours = 18L
  val Users = 5000
  val RowGroupBytes = 262144L
  val Cadence: Nanos = 6L * 3600 * 1000000000L
  val Start: Nanos = 1704067200L * 1000000000L // 2024-01-01T00:00Z
  val Keys = Seq("user_id")
  val Ordering = Seq("ts", "event_id")
  val EventTypes = Seq("view", "click", "purchase", "signup", "error")
}
