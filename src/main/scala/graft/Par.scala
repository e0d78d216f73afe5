package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

/** The one way the driver runs independent Spark branches at once.
  *
  * Each branch runs on a thread this call creates. Spark's local properties
  * are inheritable, so that thread starts with the caller's job group, job
  * description, job tags and interrupt-on-cancel flag as they are at the
  * call, plus one tag unique to the call. (A pooled thread would keep the
  * properties of whichever thread first started it: jobs would carry a
  * stale group, and a cancel of the caller's group would miss them.)
  *
  * The first failure, or an elapsed budget, cancels every branch's jobs by
  * the call's tag. Cancelling repeats until all branch threads have ended,
  * since a driver loop between two jobs outlives a single cancel; the wait
  * is bounded by [[CancelWaitSec]]. The call then rethrows the first
  * failure, or throws [[BudgetElapsed]]. A branch thread still alive after
  * the bounded wait is recorded as a suppressed exception on what is thrown.
  * The caller's job group is never cancelled: callers reuse group names.
  */
object Par {

  /** How long a failed or timed-out call waits for its branches to end. */
  val CancelWaitSec = 120L

  /** The budget of an [[all]] call elapsed before every branch returned. */
  final class BudgetElapsed(budgetSec: Long)
    extends TimeoutException(s"budget of ${budgetSec}s elapsed")

  /** Runs `branches` concurrently and returns their results in branch
    * order. `timeoutSec > 0` is a wall-clock budget for the whole call.
    */
  def all[A](spark: SparkSession, timeoutSec: Long = 0)(branches: (() => A)*): Seq[A] = {
    val sc = spark.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID}"
    val results = new Array[Any](branches.size)
    // one entry per finished branch: None on success, Some(error) on failure
    val finished = new LinkedBlockingQueue[Option[Throwable]]()
    val threads = branches.zipWithIndex.map { case (branch, i) =>
      val t = new Thread(() => {
        val outcome =
          try { sc.addJobTag(tag); results(i) = branch(); None }
          catch { case e: Throwable => Some(e) }
        finished.put(outcome)
      }, s"graft-par-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(timeoutSec)
    var failure: Option[Throwable] = None
    try {
      var left = threads.size
      while (left > 0 && failure.isEmpty) {
        val next =
          if (timeoutSec <= 0) finished.take()
          else finished.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
        if (next == null) failure = Some(new BudgetElapsed(timeoutSec))
        else { failure = next; left -= 1 }
      }
    } catch { case e: Throwable => failure = Some(e) }
    failure.foreach { e =>
      val stop = System.nanoTime() + TimeUnit.SECONDS.toNanos(CancelWaitSec)
      while (threads.exists(_.isAlive) && System.nanoTime() < stop) {
        if (!sc.isStopped) sc.cancelJobsWithTag(tag)
        threads.find(_.isAlive).foreach(_.join(50))
      }
      val alive = threads.count(_.isAlive)
      if (alive > 0) e.addSuppressed(new IllegalStateException(
        s"$alive branch thread(s) still running ${CancelWaitSec}s after cancellation"))
      throw e
    }
    results.toSeq.asInstanceOf[Seq[A]]
  }
}
