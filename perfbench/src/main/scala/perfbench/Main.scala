package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

import Report.jsonString

/** The benchmark's JVM side: one workload per process.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * --data <dir> --launch-ms <epoch ms>`; `run.py` builds the classpath and
  * supplies `--work` (the run's working directory), `--data` (the fixed
  * query tables) and `--launch-ms` (when the benchmark process started, so
  * set-up time includes JVM start). The last stdout line is
  * `PERFBENCH <json>` with the metrics and the checks made here; `run.py`
  * adds the DuckDB checks and prints the final result. */
object Main {
  val Cores = 4
  /** Untimed passes before a Spark workload measures: after one, pass
    * times still fall by ~20% over the next few passes. */
  val WarmUpPasses = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: String, launchMs: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")), m("data"), m("launch-ms").toLong)
  }

  def session(master: String, work: Path): SparkSession = {
    val s = SparkEntry.configure(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Per-layer metric names every workload reports with `--trace 1`; a
    * layer the workload does not use reads 0. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "core.exec_ms" -> "ms", "core.update_ratio" -> "ratio",
    "kafka.poll_ms" -> "ms", "kafka.deser_ms" -> "ms", "kafka.ser_ms" -> "ms",
    "kafka.msgs_per_cycle" -> "count", "kafka.held_max" -> "count", "kafka.pause_calls" -> "count",
    "broker.backlog_max" -> "count", "broker.lag_p99_ms" -> "ms", "broker.empty_poll_ratio" -> "ratio",
    "live.lat_p50_ms" -> "ms", "live.lat_p90_ms" -> "ms", "live.lat_p99_ms" -> "ms",
    "live.max_rate_ok" -> "1/s",
    "replay.read_ms" -> "ms", "replay.getnext_ms" -> "ms", "replay.sink_ms" -> "ms",
    "replay.node_ms" -> "ms", "replay.count_ratio" -> "ratio",
    "v2.index_ms" -> "ms", "v2.read_amplification" -> "ratio", "v2.write_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.ckpt_jobs" -> "count", "spark.busy" -> "ratio", "spark.sched_wait_s" -> "s",
    "spark.driver_gap_s" -> "s", "spark.shuffle_mb" -> "MiB", "spark.spill_mb" -> "MiB",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.failed_tasks" -> "count",
    "spark.core_scaling" -> "ratio",
    "self.kafka_ms" -> "ms", "self.broker_ms" -> "ms", "self.core_ms" -> "ms",
    "self.replay_ms" -> "ms", "self.v2_ms" -> "ms", "self.node_ms" -> "ms",
    "self.spark_sched_ms" -> "ms", "self.spark_exec_ms" -> "ms", "self.query_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.overhead_ratio" -> "ratio",
    "tail.cycle_p90_ms" -> "ms", "tail.cycle_p99_ms" -> "ms",
    "host.loadavg" -> "load", "host.anchor_ms" -> "ms", "jvm.gc_ms" -> "ms",
  ) ++ QueryPasses.GraphLadders.flatMap { q =>
    val id = q.takeWhile(_ != '_')
    Seq(s"query.${id}_s" -> "s", s"query.${id}_jobs" -> "count")
  }

  /** Span layer -> self-time metric. */
  val SelfMetric: Map[String, String] = Map(
    "graft.kafka" -> "self.kafka_ms", "broker" -> "self.broker_ms", "graft.core" -> "self.core_ms",
    "graft.replay" -> "self.replay_ms", "graft.sources.v2" -> "self.v2_ms",
    "bench.node" -> "self.node_ms", "spark.scheduler" -> "self.spark_sched_ms",
    "spark.executor" -> "self.spark_exec_ms", "graft.queries" -> "self.query_ms")


  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    Anchor.warmUp()
    Anchor.sample()
    val report = new Report
    val layers = new Report
    val checks = args.workload match {
      case "etf_kafka" => runEtf(args, report, layers)
      case "dag_replay" => runReplay(args, report, layers)
      case "graph_ladders" => runQueries(args, QueryPasses.GraphLadders, report, layers)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(args.work.resolve("checks.json"), checks)
    if (args.trace) {
      report.metrics.clear()
      LayerUnits.foreach { case (k, u) => report.put(k, layers.metrics.get(k).fold(0.0)(_._1), u) }
    } else {
      val slow = Anchor.slowdown
      System.err.println(f"anchor ${Anchor.medianMs}%.3f ms, slowdown $slow%.3f")
      report.metrics.mapValuesInPlace { case (_, (v, u)) =>
        u match {
          case "1/s" => (v * slow, u)
          case "ms" | "s" => (v / slow, u)
          case _ => (v, u)
        }
      }
    }
    println("PERFBENCH " + report.toJson)
  }

  private def setupDone(args: Args, report: Report): Unit = {
    report.put("setup_s", (System.currentTimeMillis() - args.launchMs) / 1000.0, "s")
    Anchor.sample()
  }

  /** Runs the measurement: `seconds` untraced, or with `--trace 1` half
    * untraced (counters) and half traced (spans). `run` gets the seconds,
    * the reports to fill and a label for the job groups. Returns the
    * untraced result and the traced one. */
  private def measure[R](args: Args, report: Report, layers: Report)(
      run: (Double, Report, Report, String) => R): (R, Option[R]) = {
    val gc0 = Host.gcMs()
    val seconds = if (args.trace) args.seconds / 2 else args.seconds
    val untraced = run(seconds, report, layers, "p")
    val traced = if (!args.trace) None else {
      val t = new Report
      Trace.start()
      val r = run(seconds, t, new Report, "t")
      Trace.stop()
      val (u, tp) = (report.metrics("pass_s")._1, t.metrics("pass_s")._1)
      layers.put("trace.overhead_ms", (tp - u) * 1000, "ms")
      layers.put("trace.overhead_ratio", (tp - u) / u, "ratio")
      report.attempted += t.attempted
      report.failed += t.failed
      report.notes ++= t.notes
      Some(r)
    }
    report.put("peak_rss_mb", Host.peakRssMb(), "MiB")
    layers.put("host.loadavg", Host.loadAvg1m(), "load")
    layers.put("jvm.gc_ms", Host.gcMs() - gc0, "ms")
    layers.put("host.anchor_ms", Anchor.medianMs, "ms")
    (untraced, traced)
  }

  /** Self time per layer and operation from the traced half's spans. */
  private def putSelfTimes(spans: Seq[Span], ops: Int, layers: Report, args: Args): Unit = {
    Trace.write(args.work.resolve(s"spans-${args.workload}.jsonl"), spans)
    Trace.selfNsByLayer(spans).foreach { case (layer, ns) =>
      SelfMetric.get(layer).foreach(m => layers.put(m, ns / 1e6 / ops, "ms"))
    }
  }

  private def runEtf(args: Args, report: Report, layers: Report): String = {
    val w = new EtfKafka(args.seed)
    w.warmUp()
    setupDone(args, report)
    val (_, traced) = measure(args, report, layers)((s, r, l, _) => w.run(s, r, l))
    traced.foreach { _ =>
      val spans = Trace.snapshot
      putSelfTimes(spans, spans.count(_.name == "cycle"), layers, args)
    }
    "{}"
  }

  /** Spark-scheduler metrics per operation for the jobs under `prefix`. */
  private def putSpark(probe: SparkProbe, prefix: String, ops: Seq[(Long, Long)],
      layers: Report): Unit = {
    probe.drain()
    val t = probe.totals(prefix, ops)
    val n = ops.size.toDouble
    val wallMs = ops.map { case (s, e) => e - s }.sum.toDouble
    layers.put("spark.jobs", t.jobs / n, "count")
    layers.put("spark.stages", t.stages / n, "count")
    layers.put("spark.tasks", t.tasks / n, "count")
    layers.put("spark.ckpt_jobs", t.ckptJobs / n, "count")
    layers.put("spark.busy", t.runMs / (wallMs * Cores), "ratio")
    layers.put("spark.sched_wait_s", t.schedWaitMs / 1000.0 / n, "s")
    layers.put("spark.driver_gap_s", t.driverGapMs / 1000.0 / n, "s")
    layers.put("spark.shuffle_mb", t.shuffleBytes / 1048576.0 / n, "MiB")
    layers.put("spark.spill_mb", t.spillBytes / 1048576.0 / n, "MiB")
    layers.put("spark.task_cpu_s", t.cpuNs / 1e9 / n, "s")
    layers.put("spark.gc_s", t.gcMs / 1000.0 / n, "s")
    layers.put("spark.failed_tasks", t.failedTasks.toDouble, "count")
  }

  /** Spans of the traced half: the benchmark's own plus the Spark jobs,
    * stages and tasks of its job groups. */
  private def tracedSpans(probe: SparkProbe, args: Args): Seq[Span] = {
    probe.drain()
    Trace.snapshot ++ probe.spans(s"bench:${args.workload}:t")
  }

  /** One pass on `local[1]` over the median `local[4]` pass: the
    * single-thread baseline. Stops `spark` first. */
  private def coreScaling(args: Args, spark: SparkSession, report: Report, layers: Report)(
      onePassNs: SparkSession => Long): Unit = {
    spark.stop()
    val single = session("local[1]", args.work)
    try layers.put("spark.core_scaling",
      onePassNs(single) / 1e9 / report.metrics("pass_s")._1, "ratio")
    finally single.stop()
  }

  private def runReplay(args: Args, report: Report, layers: Report): String = {
    val spark = session(s"local[$Cores]", args.work)
    val probe = new SparkProbe(spark.sparkContext)
    val w = new DagReplay(spark, probe, args.seed, args.work)
    val rows = w.generate()
    layers.put("v2.index_ms", w.buildIndex() / 1e6, "ms")
    for (_ <- 0 until WarmUpPasses) w.pass("w")
    setupDone(args, report)
    val (passes, traced) = measure(args, report, layers)(w.run(_, _, _, rows, _))
    putSpark(probe, "bench:dag_replay:p", passes.flatMap(_.ops), layers)
    traced.foreach(tp => putSelfTimes(tracedSpans(probe, args), tp.map(_.cycles).sum.toInt, layers, args))
    val checks = w.dumpForCheck(passes.last)
    if (args.trace)
      coreScaling(args, spark, report, layers)(s =>
        new DagReplay(s, new SparkProbe(s.sparkContext), args.seed, args.work).pass("single").wallNs)
    else spark.stop()
    checks
  }

  private def runQueries(args: Args, queries: Seq[String], report: Report, layers: Report): String = {
    val spark = session(s"local[$Cores]", args.work)
    val probe = new SparkProbe(spark.sparkContext)
    val w = new QueryPasses(spark, probe, args.workload, queries, args.data, args.seed)
    val results = args.work.resolve("results")
    w.pass("w", Some(results))
    for (_ <- 1 until WarmUpPasses) w.pass("w")
    setupDone(args, report)
    val (passes, traced) = measure(args, report, layers)(w.run)
    putSpark(probe, s"bench:${args.workload}:p", passes.flatMap(_.ops), layers)
    traced.foreach(tp => putSelfTimes(tracedSpans(probe, args), tp.map(_.ops.size).sum, layers, args))
    if (args.trace)
      coreScaling(args, spark, report, layers)(s =>
        new QueryPasses(s, new SparkProbe(s.sparkContext), args.workload, queries, args.data,
          args.seed).pass("single").wallNs)
    else spark.stop()
    val oracle = SparkEntry.oracleSql
    val entries = queries.map(q => s"${jsonString(q)}:${jsonString(oracle.getOrElse(q, ""))}")
    s"""{"kind":"queries","results":${jsonString(results.toString)},""" +
      s""""data":${jsonString(args.data)},"oracle":${entries.mkString("{", ",", "}")}}"""
  }
}
