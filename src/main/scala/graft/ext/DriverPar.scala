package graft.ext

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, ThreadFactory, TimeoutException, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** Driver-side CONCURRENT construction of independent eagerly-materialized
  * frames (optimization-guide §2.6 "overlap independent jobs"): Spark's
  * scheduler happily runs several jobs at once inside one application —
  * the per-cutoff connected-components ladders of q264/q305 were only
  * sequential because the query builder called their eager
  * `localCheckpoint(true)` actions one after another, leaving most cores
  * idle during each tiny ladder round (the measured 32-core anti-scaling
  * tier: KB-size exchanges, fixed scheduling cost per round).
  *
  * Results are unchanged — the SAME frames are built, only their driver
  * threads overlap; FIFO scheduling back-fills executors freed by one
  * ladder's tail with the next ladder's tasks.
  *
  * Each worker thread sets the ACTIVE session first: `SparkSession`'s
  * active-session is a thread-local, and plan nodes created on a thread
  * without one can carry a null session into eager checkpoint
  * materialization (the Spark-internal `resetMetrics` NPE the r14 gate
  * hit). Workers are daemon threads created by the calling thread, so they
  * inherit its Spark local properties — the caller's job group and job
  * tags included, which attribution by group (perfbench's `SparkProbe`)
  * and by tag (`TaskBudgetListener.measure`) rely on. Every branch job also
  * carries one per-call job TAG: on the first branch failure the pool is
  * interrupted, the sibling branches' Spark jobs are cancelled by that tag,
  * and the first error propagates (unwrapped) to the caller. The whole call
  * waits at most [[Bound]]: past it the branches are cancelled the same
  * way and a `TimeoutException` naming the tag is thrown. */
private[ext] object DriverPar {
  private val calls = new AtomicLong()

  /** Far beyond any fan-out the queries run (the heaviest ladder query
    * takes seconds at sf0.1); it exists so a hung branch fails the call
    * instead of stalling it forever. */
  val Bound: FiniteDuration = 30.minutes

  def map[A, B](spark: SparkSession, items: Seq[A], maxConc: Int = 4,
      bound: FiniteDuration = Bound)(f: A => B): Seq[B] = {
    if (items.size <= 1) return items.map(f)
    val sc = spark.sparkContext
    val tag = s"graft-driverpar-${calls.incrementAndGet()}"
    val threads = new AtomicLong()
    val pool = Executors.newFixedThreadPool(math.min(maxConc, items.size),
      new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"$tag-${threads.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
    val done = new ExecutorCompletionService[B](pool)
    try {
      val futs = items.map { a =>
        done.submit(new Callable[B] {
          def call(): B = {
            SparkSession.setActiveSession(spark)
            sc.addJobTag(tag)
            f(a)
          }
        })
      }
      def cancelBranches(): Unit = {
        pool.shutdownNow()
        sc.cancelJobsWithTag(tag)
        // a sibling may submit one more job before its interrupt lands;
        // once the workers are gone, no job with the tag can start
        pool.awaitTermination(30, TimeUnit.SECONDS)
        sc.cancelJobsWithTag(tag)
      }
      val deadline = System.nanoTime() + bound.toNanos
      // completion order: the first failure is seen as soon as it happens,
      // not after the siblings queued ahead of it finish
      for (i <- items.indices) {
        val next = done.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
        if (next == null) {
          cancelBranches()
          throw new TimeoutException(
            s"$tag: ${items.size - i} of ${items.size} branches unfinished after $bound")
        }
        try next.get()
        catch {
          case e: ExecutionException =>
            cancelBranches()
            throw Option(e.getCause).getOrElse(e)
        }
      }
      futs.map(_.get())
    } finally pool.shutdown()
  }
}
