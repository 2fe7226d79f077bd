package perfbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolation quantile (numpy's default); NaN when empty. */
  def quantile(xs: Array[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs.toArray, 0.5)
  def nsToMs(xs: Array[Long]): Array[Double] = xs.map(_ / 1e6)
}

/** Metrics of one run, printed by `Main` as one JSON object. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Closed-loop operation times: the median end to end, the tails per
    * layer. On a shared host a run's tail is set by how many collector
    * pauses and preemptions land in it: the p99 swings several-fold
    * between identical runs, and the p90 spread 20-23% over ten seeds on
    * etf_kafka and graph_ladders, too close to the largest bound. */
  def putCycleTimes(cycleMs: Array[Double], layers: Report): Unit = {
    put("cycle_p50_ms", Stats.quantile(cycleMs, 0.5), "ms")
    layers.put("tail.cycle_p90_ms", Stats.quantile(cycleMs, 0.9), "ms")
    layers.put("tail.cycle_p99_ms", Stats.quantile(cycleMs, 0.99), "ms")
  }

  /** Record one result check; a failed one is counted and explained. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += what }
  }

  def toJson: String = {
    import Report.jsonString
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${jsonString(k)}:{"value":${num(v)},"unit":${jsonString(u)}}""" }
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""notes":${notes.map(jsonString).mkString("[", ",", "]")},""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}"""
  }
}

object Report {
  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
}

/** Host speed anchor: a fixed kernel of integer work and random reads over
  * a 32 KiB array, timed between the benchmark's passes. The array fits in
  * the first-level cache: over an array larger than the caches, the kernel's
  * median time differed by up to 2x between JVMs started a minute apart
  * (where each process's pages happened to land), and that noise went into
  * every metric it scaled; over a cached array it varied by ~5%.
  *
  * The benchmark runs on shared hosts whose speed drifts: between windows
  * minutes apart, the same build ran 2.5x slower, JVM start-up included.
  * End-to-end times are reported at the reference speed: divided by
  * (median anchor time / [[ReferenceMs]]), rates multiplied by it. A
  * change to the program cannot move the anchor, which is the benchmark's
  * own code. */
object Anchor {
  val ReferenceMs = 10.0
  private val data = Array.tabulate(1 << 12)(i => i * 0x9E3779B97F4A7C15L)
  private val samples = mutable.ArrayBuffer.empty[Double]
  @volatile private var sink = 0L

  /** Wall ms of one kernel run. */
  def timeMs(): Double = {
    val s = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 4000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += data((x & 0xFFF).toInt)
      i += 1
    }
    sink = acc
    (System.nanoTime() - s) / 1e6
  }

  /** Compiles the kernel; call once before sampling. */
  def warmUp(): Unit = for (_ <- 0 until 30) timeMs()

  def sample(n: Int = 3): Unit = samples.synchronized { for (_ <- 0 until n) samples += timeMs() }

  def medianMs: Double = samples.synchronized(Stats.median(samples.toSeq))

  /** How much slower than the reference the host ran during this run. */
  def slowdown: Double = medianMs / ReferenceMs
}

/** Process-level readings for every workload. */
object Host {

  /** Peak resident set (VmHWM) of this JVM, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def loadAvg1m(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split(' ')(0).toDouble finally src.close()
  }

  /** Total collector time of this JVM so far, in ms. */
  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }
}
