package graftbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch milliseconds (listener
  * events carry the same clock) plus nanoTime for the duration. */
final class Span(val id: Int, val name: String, val parent: Int,
    val req: Long, val startMs: Long, val startNs: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  def wallS: Double = (endNs - startNs) / 1e9
  def group: String = s"graftbench-span-$id"
}

/** Work Spark did for one job group (= one span). */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, inBytes, outBytes = 0L
  var inRecords, outRecords = 0L
  val jobIntervals = mutable.Buffer[(Long, Long)]()
}

/** What one finished SQL execution reported through
  * QueryExecutionListener: Catalyst phase times, the files and rows its
  * scans read, and the files and rows its writes produced. */
final case class QueryStats(startMs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, filesRead: Long, rowsRead: Long,
    writes: Seq[(String, Long, Long)])

private object PlanWalk extends AdaptiveSparkPlanHelper

/** Records spans around the benchmark's calls into the program and
  * attributes Spark's work to them.
  *
  * Spans are kept in memory. With tracing on, entering a span sets a Spark
  * job group on the benchmark thread, so every job the call starts (and
  * its stages and tasks) is attributed to that span by a SparkListener;
  * Catalyst phases reported through QueryExecutionListener are attributed
  * to the innermost span that was open when analysis started. Listener
  * events are read only after `SparkSession.stop()`, which drains the
  * listener bus. Until `startTracing`, spans cost one branch and the only
  * hook is the storage listener behind `exec.peak_storage_mb`. */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile var traced = false
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  val byGroup = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  val queries = mutable.ArrayBuffer[QueryStats]()

  // block-manager storage of RDD blocks (cache and checkpoint)
  private val blocks = mutable.Map[String, Long]()
  @volatile private var storageBytes = 0L
  @volatile var peakStorageBytes = 0L

  private def groupOf(p: Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("graftbench-span-"))

  sc.addSparkListener(new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) blocks.synchronized {
        val size = if (info.storageLevel.isValid)
          info.memSize + info.diskSize else 0L
        val prev = blocks.getOrElse(info.blockId.name, 0L)
        if (size > 0) blocks(info.blockId.name) = size
        else blocks.remove(info.blockId.name)
        storageBytes += size - prev
        if (storageBytes > peakStorageBytes) peakStorageBytes = storageBytes
      }
    }
  })

  /** Attach the tracing hooks; spans opened from now on are recorded
    * while `traced` stays set. */
  def startTracing(): Unit = {
    traced = true
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        groupOf(e.properties).foreach { g =>
          jobGroup(e.jobId) = g
          jobStart(e.jobId) = e.time
          byGroup.getOrElseUpdate(g, new Counters).jobs += 1
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobGroup.get(e.jobId).foreach { g =>
          byGroup(g).jobIntervals += ((jobStart(e.jobId), e.time))
        }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        synchronized {
          groupOf(e.properties).foreach { g =>
            stageGroup(e.stageInfo.stageId) = g
            byGroup.getOrElseUpdate(g, new Counters).stages += 1
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
          val c = byGroup.getOrElseUpdate(g, new Counters)
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          c.inBytes += m.inputMetrics.bytesRead
          c.inRecords += m.inputMetrics.recordsRead
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRecords += m.outputMetrics.recordsWritten
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = record(qe)
    })
  }

  /** Catalyst phases and scan/write SQL metrics of one execution. */
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
      .getOrElse(System.currentTimeMillis())
    val plan: SparkPlan = qe.executedPlan
    val scans = PlanWalk.collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s
    }
    def metric(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    val writes = PlanWalk.collect(plan) {
      case d: DataWritingCommandExec => d.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          Some((i.outputPath.getName, d.cmd.metrics.get("numOutputRows")
            .map(_.value).getOrElse(0L),
            d.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)))
        case _ => None
      }
    }.flatten
    val s = QueryStats(start, ms("analysis"), ms("optimization"),
      ms("planning"), scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numOutputRows")).sum, writes)
    synchronized { queries += s }
  }

  /** Run `body` as a span named `name`; `req` groups the spans of one
    * operation (a day or a request); children inherit it. */
  def span[T](name: String, req: Long = -1L)(body: => T): T = {
    if (!traced) return body
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      if (req >= 0) req else parent.map(_.req).getOrElse(-1L),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack.push(s)
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Bytes of RDD blocks (cache and checkpoint) the block manager holds
    * now, asked synchronously. */
  def storedBytes(): Long =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def children(s: Span): Seq[Span] = spans.toSeq.filter(_.parent == s.id)

  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum

  def counters(s: Span): Counters = byGroup.getOrElse(s.group, new Counters)

  /** Wall time of `s` not covered by any of its own jobs. */
  def driverGapS(s: Span): Double = {
    val iv = counters(s).jobIntervals.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, selfS(s) - covered / 1e3)
  }

  /** Innermost span open at epoch-ms `t` (the latest opened, as children
    * open after their parents). */
  def spanAt(t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).lastOption

  /** Catalyst time attributed to a span, in seconds. */
  def planS(s: Span): Double = queriesOf(s)
    .map(q => q.analysisMs + q.optimizationMs + q.planningMs).sum / 1e3

  private lazy val queryOwner: Map[Int, Seq[QueryStats]] =
    queries.toSeq.flatMap(q => spanAt(q.startMs).map(_.id -> q))
      .groupMap(_._1)(_._2)

  def queriesOf(s: Span): Seq[QueryStats] = queryOwner.getOrElse(s.id, Nil)
}
