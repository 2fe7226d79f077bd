package graft.core

import scala.collection.mutable
import graft.core.Time.Nanos

/** Stream values must expose an emptiness check: a stream node that produces
  * an "empty" value is considered NOT updated and downstream nodes are not
  * notified (reference `beavers/dag.py:344-350`, `_check_empty`
  * `beavers/dag.py:761-788`). The reference requires `__len__`; this is the
  * Scala typeclass equivalent.
  */
trait HasLength[T] {
  def length(value: T): Int
  /** What the dag asks of a stream value; O(1) where `length` is not. */
  def nonEmpty(value: T): Boolean = length(value) > 0
}

/** Optional marker for source-stream value types that carry a schema:
  * lets [[Dag.sourceStream]]'s duplicate-name check compare STRUCTURE for
  * wrapper types (e.g. a DataFrame-carrying batch) whose runtime class is
  * the same for every schema. */
trait HasSourceSchema { def sourceSchema: Any }

object HasLength {
  implicit def iterableHasLength[T <: Iterable[_]]: HasLength[T] = new HasLength[T] {
    def length(value: T): Int = value.size
    override def nonEmpty(value: T): Boolean = value.nonEmpty
  }
  implicit def arrayHasLength[E]: HasLength[Array[E]] = (value: Array[E]) => value.length
  implicit val stringHasLength: HasLength[String] = (value: String) => value.length
  implicit def optionHasLength[E]: HasLength[Option[E]] = (value: Option[E]) => value.size
}

/** Wrap a state-node result to update the value WITHOUT notifying downstream
  * (reference `SilentUpdate`, `beavers/dag.py:157-165`). */
final case class SilentUpdate[+T](value: T)

/** State-node result meaning "keep the previous value, don't notify"
  * (reference `_STATE_UNCHANGED`, `beavers/dag.py:44`). */
case object StateUnchanged

/** Per-node wakeup scheduling. A timer of `Time.UtcMax` means "no timer";
  * each TimerManager serves exactly one node
  * (reference `TimerManager`, `beavers/dag.py:95-141`). */
final class TimerManager private[core] () {
  private var _nextTimer: Nanos = Time.UtcMax
  private var _justTriggered: Boolean = false

  def hasNextTimer: Boolean = _nextTimer != Time.UtcMax
  def justTriggered: Boolean = _justTriggered
  def getNextTimer: Nanos = _nextTimer
  def setNextTimer(timer: Nanos): Unit = _nextTimer = timer
  def clearNextTimer(): Unit = _nextTimer = Time.UtcMax

  private[core] def flush(now: Nanos): Boolean =
    if (_nextTimer <= now) { clearNextTimer(); _justTriggered = true; true }
    else { _justTriggered = false; false }
}

/** Execution metrics, flushed via [[Dag.flushMetrics]]
  * (reference `DagMetrics`, `beavers/dag.py:381-388`). */
final case class DagMetrics(
    notificationCount: Long = 0L,
    updatedNodeCount: Long = 0L,
    cycleCount: Long = 0L,
    nodeCount: Long = 0L,
)

/** A vertex of the [[Dag]]: processing function, inputs, observers, last
  * value and last-update cycle id (reference `Node`, `beavers/dag.py:223-360`).
  *
  * Nodes are built through the `Dag` factory methods; read results through
  * sinks (or `getValue` in tests).
  */
final class Node[T] private[core] (
    private[core] val function: Seq[Any] => Any,
    private[core] val inputs: Seq[Node[_]],
    private[core] val emptyFactory: Option[() => T],
    private[core] var value: Any,
    private[core] var notifications: Int,
    private[core] val buildSite: Array[StackTraceElement],
    private[core] val kind: Node.Kind,
) {
  private[core] val observers = mutable.ArrayBuffer.empty[Node[_]]
  private[core] var cycleId: Long = 0L
  private[core] var nonEmpty: Any => Boolean = _ => true

  /** Value of the node as of its last update. */
  def getValue: T =
    if (value.asInstanceOf[AnyRef] eq Node.ValueEmpty) emptyFactory.get.apply()
    else value.asInstanceOf[T]

  /** Id of the cycle at which this node last updated
    * (reference `beavers/dag.py:271-273`). */
  def getCycleId: Long = cycleId

  /** Inject a value into a source-stream node; it is consumed on the next
    * cycle then self-clears (reference `set_stream`, `beavers/dag.py:275-280`,
    * `_SourceStreamFunction` `beavers/dag.py:54-66`). */
  def setStream(newValue: T): Unit = kind match {
    case src: Node.SourceStream[T @unchecked] => src.pending = newValue; stain()
    case _ => throw new IllegalArgumentException("Only source-stream nodes can be set")
  }

  /** Read a sink's captured value (reference `get_sink_value`,
    * `beavers/dag.py:282-286`). */
  def getSinkValue: Any = kind match {
    case s: Node.Sink => s.captured
    case _ => throw new IllegalArgumentException("Only sink nodes can be read")
  }

  private[core] def isStream: Boolean = emptyFactory.isDefined
  private[core] def stain(): Unit = notifications += 1

  private[core] def clean(cycle: Long): Boolean =
    if (notifications != 0) { recalculate(cycle); true }
    else {
      if (isStream) { value = Node.ValueEmpty; notifications = 0 }
      false
    }

  private[core] def recalculate(cycle: Long): Unit = {
    val inputValues = inputs.map(_.getValue)
    val result =
      try function(inputValues)
      catch {
        case e: Throwable if buildSite.nonEmpty =>
          val err = new RuntimeException(
            s"Unable to run node built at ${buildSite.headOption.getOrElse("?")}", e)
          err.setStackTrace(buildSite)
          throw err
      }
    val updated = processUpdatedValue(result)
    if (updated) { cycleId = cycle; observers.foreach(_.stain()) }
    notifications = 0
  }

  /** Update rules (reference `_process_updated_value`,
    * `beavers/dag.py:334-350`): state nodes honour `SilentUpdate` /
    * `StateUnchanged`; stream nodes are updated iff the result is non-empty.
    */
  private def processUpdatedValue(result: Any): Boolean = result match {
    case SilentUpdate(v) => value = v; false
    case StateUnchanged if !isStream => false
    case v if !isStream => value = v; true
    case v => value = v; nonEmpty(v)
  }
}

private[core] object Node {
  private[core] object ValueEmpty
  sealed trait Kind
  case object Plain extends Kind
  final class SourceStream[T](val name: String, val emptyFactory: () => T) extends Kind {
    var pending: Any = ValueEmpty
  }
  final class Sink(val name: String) extends Kind { var captured: Any = null }
  case object NowSource extends Kind
  case object Timer extends Kind
}

/** Incremental dataflow DAG: build nodes, inject source values, then run
  * synchronous cycles with [[execute]]. Re-expresses the reference engine
  * (`beavers/dag.py:391-758`) in plain Scala; the heavy per-node work is
  * expected to be delegated to Spark DataFrames (see `graft.tables`).
  *
  * Propagation contract (heavily tested in the reference):
  *  - notify-any: a node recomputes once per cycle if >=1 input updated;
  *  - empty stream output => not updated, value resets to empty;
  *  - `getCycleId == dag.getCycleId` is the "updated this cycle" test;
  *  - diamond inputs are evaluated once per cycle.
  */
object Dag {
  /** Typed positional extractor for [[Dag.streamN]]/[[Dag.stateN]] input
    * values (the Scala face of the reference's `_NodeInputs`). */
  final class Inputs private[core] (vs: Seq[Any]) {
    def size: Int = vs.size
    def as[A](i: Int): A = vs(i).asInstanceOf[A]
  }
}

final class Dag {
  import Node.{Kind, Plain, Sink, SourceStream, NowSource, Timer, ValueEmpty}

  private var nodes = mutable.ArrayBuffer.empty[Node[_]]
  private val sources = mutable.LinkedHashMap.empty[String, Node[_]]
  private var timerManagerNodes = mutable.ArrayBuffer.empty[Node[TimerManager]]
  private var _cycleId: Long = 0L
  // DagMetrics counts since the last flush; nodeCount is read at the flush
  private var notificationCount = 0L
  private var updatedNodeCount = 0L
  private var cycleCount = 0L

  /** DAG-wide virtual clock (nanos), set by `execute(timestamp)`; silent so
    * time changes alone never trigger recomputation
    * (reference `beavers/dag.py:399-402,541-550`, `_SourceState`). */
  private var nowNanos: Nanos = Time.UtcEpoch
  private val nowSource: Node[Nanos] = addNode(new Node[Nanos](
    function = _ => nowNanos, inputs = Nil, emptyFactory = None,
    value = Time.UtcEpoch, notifications = 1, buildSite = Array.empty, kind = NowSource))
  private val silentNow: Node[Nanos] = silence(nowSource)

  /** The virtual-time node — never wall clock (replay overrides it). */
  def now(): Node[Nanos] = silentNow

  def getCycleId: Long = _cycleId

  /** Constant-value node (reference `beavers/dag.py:407-424`). */
  def const[T](constValue: T): Node[T] =
    addNode(new Node[T](_ => StateUnchanged, Nil, None, constValue, 0, callSite(), Plain))

  /** Named injectable source stream; clears itself after each read
    * (reference `beavers/dag.py:426-463`). Registering an existing name
    * returns the existing node only when the empty values are COMPATIBLE:
    * same runtime class (both are length-0 by construction), and for
    * [[HasSourceSchema]] values also the same schema; otherwise it throws,
    * matching the reference's "Duplicate source" error
    * (`beavers/dag.py:448-453`) instead of silently reusing a node of a
    * different type. */
  def sourceStream[T](empty: => T, name: String = "")(implicit hl: HasLength[T]): Node[T] = {
    val factory = () => checkEmpty(empty)(hl)
    if (name.nonEmpty && sources.contains(name)) {
      val existing = sources(name)
      val existingEmpty = existing.kind.asInstanceOf[SourceStream[_]].emptyFactory()
      val newEmpty = factory()
      // Two empties of the same runtime class are equivalent registrations
      // even under reference equality (Array.empty): checkEmpty already
      // proved both have length 0, so same-class empties are the same source
      // type — the reference compares empty factories, not values
      // (dag.py:448-453). [[HasSourceSchema]] wrappers (a DataFrame-carrying
      // batch) additionally compare SCHEMAS: they share a runtime class for
      // every schema, and silently reusing the node would surface as a
      // distant analysis error instead of a build-site one.
      val compatible = (existingEmpty, newEmpty) match {
        case (a: HasSourceSchema, b: HasSourceSchema) =>
          a.getClass == b.getClass && a.sourceSchema == b.sourceSchema
        case (a, b) => a.getClass == b.getClass
      }
      if (!compatible)
        throw new IllegalArgumentException(s"Duplicate source: $name")
      existing.asInstanceOf[Node[T]]
    } else {
      val kind = new SourceStream[T](name, factory)
      val fn: Seq[Any] => Any = { _ =>
        val out = if (kind.pending.asInstanceOf[AnyRef] eq ValueEmpty) factory() else kind.pending
        kind.pending = ValueEmpty
        out
      }
      val node = addStream(fn, Nil, factory, callSite(), kind)(hl)
      if (name.nonEmpty) sources(name) = node
      node
    }
  }

  /** Stateless micro-batch transforms; empty result => "not updated"
    * (reference `Dag.stream().map()`, `beavers/dag.py:465-499`). */
  def stream[A, T: HasLength](a: Node[A])(empty: => T)(f: A => T): Node[T] =
    addStream(vs => f(vs(0).asInstanceOf[A]), Seq(a), () => empty, callSite(), Plain)

  def stream2[A, B, T: HasLength](a: Node[A], b: Node[B])(empty: => T)(f: (A, B) => T): Node[T] =
    addStream(vs => f(vs(0).asInstanceOf[A], vs(1).asInstanceOf[B]), Seq(a, b), () => empty, callSite(), Plain)

  def stream3[A, B, C, T: HasLength](a: Node[A], b: Node[B], c: Node[C])(empty: => T)(
      f: (A, B, C) => T): Node[T] =
    addStream(vs => f(vs(0).asInstanceOf[A], vs(1).asInstanceOf[B], vs(2).asInstanceOf[C]),
      Seq(a, b, c), () => empty, callSite(), Plain)

  def stream4[A, B, C, D, T: HasLength](a: Node[A], b: Node[B], c: Node[C], d: Node[D])(
      empty: => T)(f: (A, B, C, D) => T): Node[T] =
    addStream(vs => f(vs(0).asInstanceOf[A], vs(1).asInstanceOf[B], vs(2).asInstanceOf[C],
      vs(3).asInstanceOf[D]), Seq(a, b, c, d), () => empty, callSite(), Plain)

  /** Arbitrary-arity stream transform over a Seq of input nodes — covers the
    * reference's `map(*nodes, **nodes)` call shapes beyond arity 4
    * (reference `_NodeInputs`, `beavers/dag.py:179-205`; kwargs wiring
    * `dag.py:363-374`). Python's keyword wiring maps to Scala named
    * arguments at the call site; inside the function, read inputs through
    * the typed [[Dag.Inputs]] extractor. Duplicate input nodes are
    * deduplicated for notification like every other arity. */
  def streamN[T: HasLength](inputs: Seq[Node[_]])(empty: => T)(f: Dag.Inputs => T): Node[T] = {
    require(inputs.nonEmpty, "streamN needs at least one input")
    addStream(vs => f(new Dag.Inputs(vs)), inputs, () => empty, callSite(), Plain)
  }

  /** Arbitrary-arity state transform; the function may also return
    * `SilentUpdate` / `StateUnchanged` (see [[stateAdv]]). */
  def stateN[T](inputs: Seq[Node[_]])(f: Dag.Inputs => Any): Node[T] = {
    require(inputs.nonEmpty, "stateN needs at least one input")
    addState[T](vs => f(new Dag.Inputs(vs)), inputs, callSite())
  }

  /** Stateful transforms: value persists across cycles; the function (usually
    * a stateful closure/class) returns the node's new value
    * (reference `Dag.state().map()`, `beavers/dag.py:501-518`). */
  def state[A, T](a: Node[A])(f: A => T): Node[T] =
    addState(vs => f(vs(0).asInstanceOf[A]), Seq(a), callSite())

  def state2[A, B, T](a: Node[A], b: Node[B])(f: (A, B) => T): Node[T] =
    addState(vs => f(vs(0).asInstanceOf[A], vs(1).asInstanceOf[B]), Seq(a, b), callSite())

  def state3[A, B, C, T](a: Node[A], b: Node[B], c: Node[C])(f: (A, B, C) => T): Node[T] =
    addState(vs => f(vs(0).asInstanceOf[A], vs(1).asInstanceOf[B], vs(2).asInstanceOf[C]),
      Seq(a, b, c), callSite())

  def state4[A, B, C, D, T](a: Node[A], b: Node[B], c: Node[C], d: Node[D])(
      f: (A, B, C, D) => T): Node[T] =
    addState(vs => f(vs(0).asInstanceOf[A], vs(1).asInstanceOf[B], vs(2).asInstanceOf[C],
      vs(3).asInstanceOf[D]), Seq(a, b, c, d), callSite())

  /** A state variant whose function may return `SilentUpdate` / `StateUnchanged`
    * directly (they are honoured for any node kind, as in the reference). */
  def stateAdv[A, T](a: Node[A])(f: A => Any): Node[T] =
    addState[T](vs => f(vs(0).asInstanceOf[A]), Seq(a), callSite())

  /** Named terminal capture; multiple sinks may share a name
    * (reference `beavers/dag.py:520-539`). */
  def sink[T](name: String, input: Node[T]): Node[Unit] = {
    val kind = new Sink(name)
    addNode(new Node[Unit](
      vs => { kind.captured = vs(0); () }, Seq(input), None, null, 0, callSite(), kind))
  }

  /** A fresh `TimerManager` node; connect it to the one node that must wake
    * on the timer (reference `beavers/dag.py:552-570`). */
  def timerManager(): Node[TimerManager] = {
    val tm = new TimerManager
    val node = addNode(new Node[TimerManager](
      _ => tm, Nil, None, tm, 1, callSite(), Timer))
    timerManagerNodes += node
    node
  }

  /** Suppress downstream propagation while the value is unchanged per the
    * comparator (reference `Dag.cutoff`, `beavers/dag.py:572-594`,
    * `_ValueCutOff` `beavers/dag.py:82-92`). */
  def cutoff[T](node: Node[T], comparator: (T, T) => Boolean = (a: T, b: T) => a == b): Node[T] = {
    var prev: Option[T] = None
    addState[T]({ vs =>
      val v = vs(0).asInstanceOf[T]
      if (prev.isEmpty || !comparator(v, prev.get)) { prev = Some(v); v }
      else StateUnchanged
    }, Seq(node), callSite())
  }

  /** Value propagates but downstream is NOT notified
    * (reference `Dag.silence`, `beavers/dag.py:596-606`). */
  def silence[T](node: Node[T]): Node[T] = {
    val n = new Node[T](vs => SilentUpdate(vs(0)), Seq(node),
      node.emptyFactory, node.value, 1, callSite(), Plain)
    n.nonEmpty = node.nonEmpty
    addNode(n)
  }

  /** Remove nodes not transitively feeding a sink; returns the removed nodes
    * (reference `Dag.prune`, `beavers/dag.py:608-638`). */
  def prune(): Seq[Node[_]] = {
    val toRemove = mutable.ArrayBuffer.empty[Node[_]]
    val removed = mutable.Set.empty[Node[_]]
    for (node <- nodes.reverseIterator) {
      val keepAlways = node.kind.isInstanceOf[Sink] ||
        (node eq nowSource) || (node eq silentNow)
      if (!keepAlways) {
        val live = node.observers.filterNot(removed.contains)
        if (live.isEmpty) { toRemove += node; removed += node }
        else { node.observers.clear(); node.observers ++= live }
      }
    }
    if (toRemove.nonEmpty) {
      nodes = nodes.filterNot(removed.contains)
      sources.filterInPlace { case (_, n) => !removed.contains(n) }
      timerManagerNodes = timerManagerNodes.filterNot(removed.contains)
    }
    toRemove.toSeq
  }

  def getSources: Map[String, Node[_]] = sources.toMap

  def getSinks: Map[String, Seq[Node[_]]] =
    nodes.iterator.collect { case n if n.kind.isInstanceOf[Sink] =>
      n.kind.asInstanceOf[Sink].name -> n
    }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** Earliest pending timer across all timer managers, `Time.UtcMax` if none.
    * Drivers use it to decide whether an empty cycle must still fire
    * (reference `beavers/dag.py:718-723`, `replay.py:230`, `kafka.py:574`). */
  def getNextTimer: Nanos =
    timerManagerNodes.foldLeft(Time.UtcMax)((acc, n) => math.min(acc, n.getValue.getNextTimer))

  /** One synchronous cycle without a clock update. */
  def execute(): Unit = { _cycleId += 1; runNodes() }

  /** One synchronous cycle at virtual time `timestamp` (nanos): bump cycle id,
    * set now, flush due timers, then a single pass over nodes in topological
    * (insertion) order (reference `Dag.execute`, `beavers/dag.py:663-677`). */
  def execute(timestamp: Nanos): Unit = {
    _cycleId += 1
    nowNanos = timestamp
    nowSource.stain()
    flushTimers(timestamp)
    runNodes()
  }

  private def runNodes(): Unit = {
    var i = 0
    while (i < nodes.length) {
      val node = nodes(i)
      notificationCount += node.notifications
      if (node.clean(_cycleId)) updatedNodeCount += 1
      i += 1
    }
    cycleCount += 1
  }

  def flushMetrics(): DagMetrics = {
    val out = DagMetrics(notificationCount, updatedNodeCount, cycleCount, nodes.size.toLong)
    notificationCount = 0L; updatedNodeCount = 0L; cycleCount = 0L
    out
  }

  private def flushTimers(nowNanos: Nanos): Int =
    timerManagerNodes.count { node =>
      val fired = node.getValue.flush(nowNanos)
      if (fired) node.stain()
      fired
    }


  // New stream/state nodes start stained (notifications=1) so they compute on
  // their first cycle — matches the reference default (`Node._create`,
  // `beavers/dag.py:238-251`); const and sink nodes start clean.
  private def addStream[T](fn: Seq[Any] => Any, inputs: Seq[Node[_]], factory: () => T,
      site: Array[StackTraceElement], kind: Kind)(implicit hl: HasLength[T]): Node[T] = {
    val node = new Node[T](fn, inputs, Some(factory), factory(), 1, site, kind)
    node.nonEmpty = (v: Any) => hl.nonEmpty(v.asInstanceOf[T])
    addNode(node)
  }

  private def addState[T](fn: Seq[Any] => Any, inputs: Seq[Node[_]],
      site: Array[StackTraceElement]): Node[T] =
    addNode(new Node[T](fn, inputs, None, null, 1, site, Plain))

  private def addNode[T](node: Node[T]): Node[T] = {
    for (input <- node.inputs.distinct) {
      if (!nodes.contains(input))
        throw new IllegalArgumentException("Input node not in dag")
      input.observers += node
    }
    nodes += node
    node
  }

  private def checkEmpty[T](empty: T)(implicit hl: HasLength[T]): T = {
    require(hl.length(empty) == 0, "`empty` should have length 0")
    empty
  }

  private def callSite(): Array[StackTraceElement] =
    Thread.currentThread().getStackTrace.drop(3).take(8)
}
