package graft.util

import graft.SparkSpec
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The driver overlap helper: job-group and session inheritance, input
  * order, join-before-rethrow, and the single-task shortcut. */
class OverlapSpec extends SparkSpec {

  test("a job started inside a task carries the caller's job group and " +
    "sees the caller's active session") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        groups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
        ()
      }
    }
    sc.addSparkListener(listener)
    SparkSession.setActiveSession(spark)
    try {
      sc.setJobGroup("overlap-spec-tasks", "overlap spec",
        interruptOnCancel = false)
      val sessions =
        try Overlap.all(Seq.fill(3)(() => {
          sc.parallelize(1 to 4, 2).count()
          SparkSession.getActiveSession.contains(spark)
        }))
        finally sc.clearJobGroup()
      assert(sessions == Seq(true, true, true),
        "a task did not see the caller's active session")
      // The listener bus is async but FIFO: once the sentinel job's event
      // has arrived, every task job's event has too.
      sc.setJobGroup("overlap-spec-sentinel", "sentinel",
        interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!groups.contains("overlap-spec-sentinel") &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
      val seen = groups.asScala.toSeq
      assert(seen.contains("overlap-spec-sentinel"), "sentinel never seen")
      val taskJobs = seen.takeWhile(_ != "overlap-spec-sentinel")
      assert(taskJobs.count(_ == "overlap-spec-tasks") == 3,
        s"task jobs ran under groups $taskJobs")
    } finally sc.removeSparkListener(listener)
  }

  test("results come back in input order, whatever order tasks finish in") {
    val out = Overlap.all((0 until 4).map { i =>
      () => { Thread.sleep((3 - i) * 60L); i }
    })
    assert(out == Seq(0, 1, 2, 3))
  }

  test("a failed task is rethrown only after a slower sibling finished") {
    val siblingDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("task 0 failed")
    val thrown = intercept[IllegalStateException] {
      Overlap.all(Seq(
        () => throw boom,
        () => { Thread.sleep(300); siblingDone.set(true) }))
    }
    assert(thrown eq boom, "the failed task's own error is rethrown")
    assert(siblingDone.get, "the call returned before its sibling finished")
  }

  test("a single task runs on the caller's thread; several do not") {
    val caller = Thread.currentThread()
    assert(Overlap.all(Seq(() => Thread.currentThread())) == Seq(caller))
    val many = Overlap.all(Seq.fill(2)(() => Thread.currentThread()))
    assert(!many.contains(caller) && many.distinct.size == 2)
  }

  test("driver threads start only in Overlap and TempDirs' shutdown hook") {
    // `Executors` as a bare word: a call split across lines
    // (`Executors` then `.newSingleThreadExecutor` below it) still counts
    val sites = graft.SourceAudit.calls("""new\s+Thread\s*\(|\bExecutors\b""".r)
    assert(sites == Map("util/Overlap.scala" -> 1, "util/TempDirs.scala" -> 1),
      s"threads or executors started outside Overlap: $sites")
  }
}
