package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What one traced public call cost, read from outside the engine: the
  * Spark jobs and tasks that ran under the call's job tag, and the
  * query executions (with their Catalyst phase times and executed plans)
  * delivered while it ran. */
final class CallCost {
  var jobs = 0
  var jobWallMs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var peakExecMem = 0L
  val executions = mutable.ArrayBuffer.empty[Tracer.Execution]

  def analysisMs: Double = executions.map(_.phaseMs("analysis")).sum
  def optimizationMs: Double = executions.map(_.phaseMs("optimization")).sum
  def planningMs: Double = executions.map(_.phaseMs("planning")).sum
  def filesRead: Long = executions.map(_.filesRead).sum
  def rowsRead: Long = executions.map(_.rowsRead).sum
  def filesWritten: Long = executions.map(_.filesWritten).sum
}

/** A timed region around one public call; times are System.nanoTime. */
final case class Span(id: Long, name: String, parent: Long, trace: Long,
                      startNs: Long, endNs: Long)

/** Outside-in tracer: a SparkListener and a QueryExecutionListener
  * registered from the benchmark, job tags set on the calling thread, and
  * spans kept in memory. Nothing inside the engine is instrumented.
  *
  * Attribution relies on the benchmark's closed loop: one client thread
  * makes one public call at a time, and [[call]] drains the listener bus
  * before it returns, so every event delivered during a call is that
  * call's. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val stageTag = TrieMap.empty[Int, String]
  private val jobInfo = TrieMap.empty[Int, (String, Long)]
  private val costs = TrieMap.empty[String, CallCost]
  private val pendingExecutions = new ConcurrentLinkedQueue[Execution]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 1L
  private var traceId = 0L

  /** The innermost span's tag: a parent's tag stays set on the thread
    * while a child runs, and span ids grow with nesting. */
  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.startsWith(TagPrefix)))
      .filter(_.nonEmpty)
      .map(_.maxBy(_.stripPrefix(TagPrefix).toLong))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      tagOf(e.properties).foreach { tag =>
        jobInfo.put(e.jobId, (tag, e.time))
        e.stageIds.foreach(s => stageTag.put(s, tag))
        costs.get(tag).foreach(c => c.synchronized { c.jobs += 1 })
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobInfo.remove(e.jobId).foreach { case (tag, start) =>
        costs.get(tag).foreach(c => c.synchronized { c.jobWallMs += e.time - start })
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (tag <- stageTag.get(e.stageId); c <- costs.get(tag);
           m <- Option(e.taskMetrics)) c.synchronized {
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pendingExecutions.add(Execution.of(funcName, qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      pendingExecutions.add(Execution.of(funcName, qe))
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    BusAccess.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Begin a new trace (one top-level operation and its children). */
  def newTrace(): Unit = traceId += 1

  /** Run `body` as a span named `name`; its jobs carry a job tag unique to
    * the span, and its cost is read once the listener bus is drained. */
  def call[T](name: String)(body: => T): (T, CallCost, Span) = {
    val id = nextId
    nextId += 1
    val tag = TagPrefix + id
    val cost = new CallCost
    costs.put(tag, cost)
    val parent = stack.headOption.getOrElse(0L)
    stack.push(id)
    sc.addJobTag(tag)
    val s = System.nanoTime()
    try {
      val out = body
      val e = System.nanoTime()
      BusAccess.drain(sc)
      var x = pendingExecutions.poll()
      while (x != null) { cost.executions += x; x = pendingExecutions.poll() }
      val span = Span(id, name, parent, traceId, s, e)
      spans += span
      (out, cost, span)
    } finally {
      sc.removeJobTag(tag)
      stack.pop()
      costs.remove(tag)
    }
  }

  def spanSeq: Seq[Span] = spans.toSeq

  /** Spans as JSON lines (name, start, end, parent, trace id); times in ms
    * since the tracer was created. */
  def writeSpans(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""trace":${s.trace},"start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6}}""")
    } finally out.close()
  }
}

object Tracer {
  val TagPrefix = "perfbench-span-"

  /** One delivered query execution, reduced to what the metrics need. */
  final case class Execution(funcName: String, phases: Map[String, Double],
                             rules: Map[String, Double], scanPaths: Seq[String],
                             filesRead: Long, rowsRead: Long, filesWritten: Long) {
    def phaseMs(p: String): Double = phases.getOrElse(p, 0.0)
  }

  object Execution {
    def of(funcName: String, qe: QueryExecution): Execution = {
      val t = qe.tracker
      val phases = t.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      val rules = t.topRulesByTime(5).map { case (k, v) => k -> v.totalTimeNs / 1e6 }.toMap
      val paths = mutable.ArrayBuffer.empty[String]
      var filesRead, rowsRead, filesWritten = 0L
      def metric(p: SparkPlan, m: String): Long =
        p.metrics.get(m).map(_.value).getOrElse(0L)
      // `counted` is false inside a cached relation: its scan ran when the
      // cache was built, and its metrics would repeat on every read
      def walk(p: SparkPlan, counted: Boolean): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, counted)
          case q: QueryStageExec => walk(q.plan, counted)
          case m: InMemoryTableScanExec => walk(m.relation.cachedPlan, counted = false)
          case f: FileSourceScanExec =>
            paths ++= f.relation.location.rootPaths.map(_.toString)
            if (counted) {
              filesRead += metric(f, "numFiles")
              rowsRead += metric(f, "numOutputRows")
            }
          case w: DataWritingCommandExec =>
            filesWritten += metric(w, "numFiles")
          case _ => ()
        }
        p.children.foreach(walk(_, counted))
        p.subqueries.foreach(walk(_, counted))
      }
      try walk(qe.executedPlan, counted = true) catch { case _: Exception => () }
      Execution(funcName, phases, rules, paths.toSeq, filesRead, rowsRead, filesWritten)
    }
  }

  /** Route of one query, from the paths its executed plans scanned:
    * `hit` when nothing was scanned (a local relation from the result
    * cache), else the layout part the scan read. */
  def route(execs: Seq[Execution]): String = {
    val paths = execs.flatMap(_.scanPaths)
    if (paths.exists(_.contains("/aggregates/"))) "rollup"
    else if (paths.exists(_.contains("/zorder/"))) "zorder"
    else if (paths.exists(_.contains("/events"))) "scan"
    else "hit"
  }
}
