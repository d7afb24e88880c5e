package org.apache.spark.sql

import java.util.concurrent.{CompletableFuture, Executors, ThreadFactory}

import org.apache.spark.SparkContext

/** Bridge into `private[sql]` SQLExecution.withThreadLocalCaptured —
  * the SAME mechanism Spark's own BroadcastExchangeExec uses to run
  * build-side work on a helper thread while keeping the submitting
  * query's execution id, job group, and artifact state on the jobs it
  * launches. Used by [[graft.plans.BroadcastIntervalJoinExec]] to
  * start its CollectLeft build at `doPrepare()` time, so the several
  * interval builds of a multi-probe query overlap instead of running
  * serially inside each `doExecute()`. Also the one listener-bus
  * drain ([[drainListenerBus]]) probes, builds and specs wait on. */
object GraftExecBridge {
  private lazy val pool = Executors.newFixedThreadPool(8, new ThreadFactory {
    private val n = new java.util.concurrent.atomic.AtomicInteger()
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-interval-build-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  def async[T](body: => T): CompletableFuture[T] = {
    val session = SparkSession.active.asInstanceOf[classic.SparkSession]
    execution.SQLExecution.withThreadLocalCaptured(session, pool)(body)
  }

  /** Await, unwrapping the executor's ExecutionException so callers
    * see the original failure. */
  def await[T](f: CompletableFuture[T]): T =
    try f.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    }

  /** Blocks until every event posted so far has reached the listeners
    * (task metrics, query-execution callbacks) through
    * `private[spark]` SparkContext.listenerBus — zero wait when the bus
    * is already empty. Throws java.util.concurrent.TimeoutException if
    * it is still busy after `timeoutMs`. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 20000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
