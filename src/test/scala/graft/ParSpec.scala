package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** [[Par.all]]: results in branch order; branches carry the caller's job
  * properties; a failure or an elapsed budget leaves no branch thread and
  * no job running, and the caller's own job group is left usable.
  */
class ParSpec extends GraftSuite {
  private def sc = spark.sparkContext

  /** A job whose tasks sleep, so it is still running when a sibling fails. */
  private def sleepingJob(taskMs: Long): Long =
    sc.parallelize(1 to 2, 2).map { x => Thread.sleep(taskMs); x }.count()

  /** Runs `body` under a fresh job group that interrupts tasks on cancel. */
  private def underGroup[A](body: String => A): A = {
    val group = s"par-spec-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group, interruptOnCancel = true)
    try body(group) finally sc.clearJobGroup()
  }

  private def started(t: AtomicReference[Thread]): Unit = t.set(Thread.currentThread())

  // the status tracker is fed by the listener bus, which runs behind the
  // scheduler; a job left running would stay active for its tasks' 30 s
  private def assertNoActiveJobs(): Unit = eventually(timeout(10.seconds)) {
    org.apache.spark.ListenerBusAccess.drain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
  }

  test("results come back in branch order; each branch starts with the caller's job properties") {
    underGroup { group =>
      sc.addJobTag("par-spec-caller")
      try {
        def props(i: Int) = (i, sc.getLocalProperty("spark.jobGroup.id"),
          sc.getLocalProperty("spark.job.description"), sc.getJobTags())
        val got = Par.all(spark)(
          () => { Thread.sleep(300); props(0) }, () => props(1), () => props(2))
        assert(got.map(_._1) == Seq(0, 1, 2))
        assert(got.forall { case (_, g, d, _) => g == group && d == group })
        val callTags = got.map(_._4 - "par-spec-caller")
        assert(got.forall(_._4.contains("par-spec-caller")))
        assert(callTags.distinct.size == 1 && callTags.head.size == 1, callTags)
        assert(sc.getJobTags() == Set("par-spec-caller"))
      } finally sc.removeJobTag("par-spec-caller")
    }
  }

  test("a failing branch cancels its running sibling and the call rethrows that failure") {
    val sibling = new AtomicReference[Thread]
    underGroup { _ =>
      val e = intercept[IllegalStateException] {
        Par.all(spark)(
          () => { started(sibling); sleepingJob(30000) },
          () => {
            eventually(timeout(30.seconds)) { assert(sc.statusTracker.getActiveJobIds.nonEmpty) }
            throw new IllegalStateException("branch failed")
          })
      }
      assert(e.getMessage == "branch failed")
      assert(e.getSuppressed.isEmpty)
      assert(!sibling.get.isAlive)
      assertNoActiveJobs()
      // the caller's group is not marked cancelled: its next job runs
      assert(sc.parallelize(1 to 3, 1).count() == 3)
    }
  }

  test("an elapsed budget cancels every branch, including a driver loop between jobs") {
    val sleeper, looper = new AtomicReference[Thread]
    underGroup { _ =>
      val t0 = System.nanoTime()
      intercept[Par.BudgetElapsed] {
        Par.all(spark, timeoutSec = 1)(
          () => { started(sleeper); sleepingJob(30000) },
          () => {
            started(looper)
            while (true) { Thread.sleep(300); sleepingJob(200) }
            0L
          })
      }
      assert((System.nanoTime() - t0) / 1e9 < 20)
      assert(!sleeper.get.isAlive && !looper.get.isAlive)
      assertNoActiveJobs()
      assert(sc.parallelize(1 to 3, 1).count() == 3)
    }
  }

  // Bench's two Executors pools are the one exception: the canary pool
  // spins CPU and starts no Spark job, and the warm-up pool swallows each
  // failure on purpose (the timed passes report it) instead of cancelling
  // its siblings, so neither follows Par's policy.
  test("src/main runs concurrent work only through Par") {
    val banned = """scala\.concurrent|ExecutionContext\.global|Implicits\.global|Duration\.Inf|new Thread\b|Executors\.""".r
    val hits = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Par.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
          banned.findAllIn(line).map(m => (p.getFileName.toString, i + 1, m))
        }
      }.toSeq
    val (bench, rest) = hits.partition { case (f, _, m) => f == "Bench.scala" && m == "Executors." }
    assert(bench.size == 2, s"expected Bench's two Executors pools, found $bench")
    assert(rest.isEmpty, s"concurrency outside Par: $rest")
  }
}
