package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are epoch nanoseconds so
  * driver spans and Spark listener events (epoch milliseconds) share a
  * clock. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run.
  *
  * Spans are opened only from the benchmark's own code, around each call
  * into a library layer. The innermost open span of the calling thread is
  * also published as a Spark local property, so the jobs a span triggers
  * (including those of worker threads it spawns, which inherit local
  * properties) name it as their parent. Off, `span` is a plain call. */
object Trace {
  @volatile private var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  @volatile var onSpanChange: Option[Long] => Unit = _ => ()

  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()

  /** Epoch nanoseconds from the monotonic clock. */
  def nowNs(): Long = epochBase + (System.nanoTime() - nanoBase)

  def enabled: Boolean = on
  def start(): Unit = { spans.synchronized(spans.clear()); on = true }
  def stop(): Unit = on = false

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      stack.set(id :: outer)
      onSpanChange(Some(id))
      val s = nowNs()
      try body
      finally {
        add(Span(id, outer.headOption.getOrElse(0L), name, layer, s, nowNs()))
        stack.set(outer)
        onSpanChange(outer.headOption)
      }
    }

  /** Innermost open span of this thread, 0 if none. */
  def current: Long = stack.get().headOption.getOrElse(0L)

  def newId(): Long = nextId.getAndIncrement()

  def add(s: Span): Unit = if (on) spans.synchronized(spans += s)

  def snapshot: Vector[Span] = spans.synchronized(spans.toVector)

  /** Self time per layer: each span's duration minus the part of it its
    * children cover (children clipped to the parent, overlaps merged). */
  def selfNsByLayer(all: Seq[Span]): Map[String, Long] = {
    val children = all.groupBy(_.parent)
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (s <- all) {
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      for ((a, b) <- kids) {
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      out(s.layer) += math.max(0L, (s.endNs - s.startNs) - covered)
    }
    out.toMap
  }

  def write(path: Path, all: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try all.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}
