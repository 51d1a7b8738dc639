package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did while one span was the innermost open span. */
final class Counters {
  var jobs, stages, tasks, scans, broadcastJoins, smjJoins = 0L
  var cpuNs, runMs, shuffleWrite, spill, peakMem = 0L
  var planMs, compileNs, compiles, gcMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; scans += o.scans
    broadcastJoins += o.broadcastJoins; smjJoins += o.smjJoins
    cpuNs += o.cpuNs; runMs += o.runMs; shuffleWrite += o.shuffleWrite
    spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
    planMs += o.planMs; compileNs += o.compileNs; compiles += o.compiles
    gcMs += o.gcMs
  }
}

/** One layer boundary: name, start, end (ns) and the span that opened it.
  * `self` holds only what happened while no child span was open.
  */
final class Span(val id: Int, val name: String, val parent: Option[Span],
    val startNs: Long) {
  var endNs = 0L
  val self = new Counters
  val children = mutable.ArrayBuffer.empty[Span]
  def wallNs: Long = endNs - startNs
  def selfNs: Long = wallNs - children.map(_.wallNs).sum
  def total: Counters = {
    val c = new Counters
    c.add(self)
    children.foreach(ch => c.add(ch.total))
    c
  }
}

/** In-memory span recorder fed by a [[SparkListener]] and a
  * [[QueryExecutionListener]]. Spark events are attributed to the innermost
  * open span; at every span boundary the listener bus is drained first, so
  * asynchronous task-end and query-end events land in the span whose work
  * produced them. JVM-wide counters (codegen compile time and count, GC
  * time) are attributed by their delta across the boundary.
  */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var current: Option[Span] = None
  private var nextId = 0
  private var lastCompileNs = 0L
  private var lastCompiles = 0L
  private var lastGcMs = 0L
  /** Every task end seen, whichever span was open: the check that spans
    * account for all of a job's tasks.
    */
  @volatile var tasksSeen = 0L

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def into(f: Counters => Unit): Unit = synchronized {
    current.foreach(s => f(s.self))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = into(_.jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      into(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasksSeen += 1
      val m = e.taskMetrics
      if (m != null) into { c =>
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      } else into(_.tasks += 1)
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val plan = qe.executedPlan
      val nodes = Plans.collectWithSubqueries(plan) { case p => p }
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      into { c =>
        c.planMs += planMs
        c.scans += nodes.count(_.isInstanceOf[FileSourceScanExec])
        c.broadcastJoins += nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
        c.smjJoins += nodes.count(_.isInstanceOf[SortMergeJoinExec])
      }
    }
  })

  /** Drains the bus, then charges the JVM-wide deltas to the current span. */
  private def boundary(): Unit = {
    Bus.drain(sc)
    val compileNs = CodeGenerator.compileTime
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val gc = gcMs
    into { c =>
      c.compileNs += compileNs - lastCompileNs
      c.compiles += compiles - lastCompiles
      c.gcMs += gc - lastGcMs
    }
    lastCompileNs = compileNs; lastCompiles = compiles; lastGcMs = gc
  }

  /** Runs `body` inside a span named `name`, labelling its Spark jobs. */
  def span[T](name: String)(body: => T): (T, Span) = {
    boundary()
    val s = synchronized {
      val s = new Span(nextId, name, current, System.nanoTime())
      nextId += 1
      current.foreach(_.children += s)
      current = Some(s)
      s
    }
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"perfbench:$name")
    try (body, s)
    finally {
      boundary()
      synchronized {
        s.endNs = System.nanoTime()
        current = s.parent
      }
      sc.setJobDescription(prevDesc)
    }
  }
}
