package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters behind the end-to-end metrics, installed in every run:
  * shuffle bytes written by tasks, and the bytes held by cached or
  * checkpointed RDD blocks (from block-update events). */
final class EngineCounters extends SparkListener {
  private val shuffleWritten = new AtomicLong
  private val blocks = mutable.HashMap.empty[String, Long]
  private var held = 0L
  private var peak = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      shuffleWritten.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      held += size - blocks.getOrElse(id, 0L)
      if (size > 0) blocks(id) = size else blocks.remove(id)
      peak = math.max(peak, held)
    }
  }

  def shuffleBytes: Long = shuffleWritten.get
  def heldBytes: Long = synchronized(held)
  /** Start a new peak window at the bytes held now. */
  def resetPeak(): Unit = synchronized { peak = held }
  def peakBytes: Long = synchronized(peak)
}

/** One Spark action of a traced pass (a root SQL execution): its call
  * site, the QueryExecutionListener function name and output path and
  * planning phases where the listener reported them, and the jobs, tasks,
  * bytes and Janino compiles of it and its nested executions. */
final case class ActionRecord(executionId: Long, description: String,
    wallMs: Long, var kind: String = "", var path: String = "",
    var phasesMs: Map[String, Long] = Map.empty,
    var jobs: Int = 0, var stages: Int = 0, var tasks: Int = 0,
    var taskMs: Long = 0L, var shuffleWriteBytes: Long = 0L,
    var compiles: Long = 0L)

/** What the QueryExecutionListener reported for one action. */
final case class ListenedQuery(kind: String, path: String,
    phasesMs: Map[String, Long])

/** Everything the traced run records about one pass. */
final case class PassTrace(wallMs: Double, jobs: Int, stages: Int, tasks: Int,
    taskMs: Double, taskCpuMs: Double, taskSpanMs: Double,
    coordinatorMs: Double, planMs: Double, shuffleReadBytes: Long,
    spillBytes: Long, inputBytes: Long, outputBytes: Long,
    actions: Seq[ActionRecord])

/** The traced run's engine listener: jobs, stages, task metrics and SQL
  * executions from the SparkListener bus, plus each action's planning
  * phases from its QueryPlanningTracker. Only registered with --trace 1. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final case class TaskRec(stageId: Int, launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, input: Long, output: Long)

  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val jobExec = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var stagesDone = 0
  private val queries = mutable.ArrayBuffer.empty[ListenedQuery]
  // execution id -> (root id, description, start ms, compiles at start)
  private val execStart = mutable.LinkedHashMap.empty[Long, (Long, String, Long, Long)]
  // execution id -> (end ms, compiles during it)
  private val execEnd = mutable.HashMap.empty[Long, (Long, Long)]

  def reset(): Unit = synchronized {
    tasks.clear(); jobExec.clear(); stageJob.clear(); stagesDone = 0
    queries.clear(); execStart.clear(); execEnd.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(s => Try(s.toLong).toOption).getOrElse(-1L)
    jobExec(e.jobId) = exec
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stagesDone += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(s.executionId)
        execStart(s.executionId) = (root, s.description, s.time, Trace.compiles())
      case s: SparkListenerSQLExecutionEnd =>
        execStart.get(s.executionId).foreach { case (_, _, _, c) =>
          execEnd(s.executionId) = (s.time, Trace.compiles() - c) }
      case _ =>
    }
  }

  private def record(kind: String, qe: QueryExecution): Unit = {
    val plans = Seq(Try(qe.logical), Try(qe.commandExecuted)).flatMap(_.toOption)
    val path = plans.iterator.flatMap(_.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }).nextOption().getOrElse("")
    val phases = Try(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
      .getOrElse(Map.empty[String, Long])
    synchronized { queries += ListenedQuery(kind, path, phases) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  /** Summarize everything recorded since [[reset]] for a pass that ran
    * from `startMs` to `endMs` (wall clock). */
  def summarize(startMs: Long, endMs: Long): PassTrace = synchronized {
    val wall = (endMs - startMs).toDouble
    // time with at least one task running: union of task intervals
    val iv = tasks.map(t => (math.max(t.launch, startMs), math.min(t.finish, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) busy += curE - curS
    val rootOf = execStart.map { case (id, (root, _, _, _)) => id -> root }
    val actions = execStart.collect { case (id, (root, desc, start, _)) if id == root =>
      id -> ActionRecord(id, desc, execEnd.get(id).map(_._1 - start).getOrElse(-1L))
    }
    def actionOf(ex: Long): Option[ActionRecord] = rootOf.get(ex).flatMap(actions.get)
    execEnd.foreach { case (ex, (_, c)) => if (rootOf.get(ex).contains(ex)) actionOf(ex).foreach(_.compiles = c) }
    // listener callbacks arrive once per root execution, in the order the
    // (sequential) executions ran; QueryExecution.id is not the execution id
    if (queries.size == actions.size)
      actions.values.zip(queries).foreach { case (a, q) =>
        a.kind = q.kind; a.path = q.path; a.phasesMs = q.phasesMs }
    jobExec.foreach { case (_, ex) => actionOf(ex).foreach(_.jobs += 1) }
    val stageExec = stageJob.map { case (s, j) => s -> jobExec.getOrElse(j, -1L) }
    stageExec.foreach { case (_, ex) => actionOf(ex).foreach(_.stages += 1) }
    tasks.foreach { t =>
      stageExec.get(t.stageId).flatMap(actionOf).foreach { a =>
        a.tasks += 1; a.taskMs += t.runMs; a.shuffleWriteBytes += t.shuffleWrite
      }
    }
    PassTrace(wall, jobExec.size, stagesDone, tasks.size,
      tasks.map(_.runMs).sum.toDouble, tasks.map(_.cpuNs).sum / 1e6,
      tasks.map(t => (t.finish - t.launch).toDouble).sum,
      wall - busy, queries.map(_.phasesMs.values.sum).sum.toDouble,
      tasks.map(_.shuffleRead).sum, tasks.map(_.spill).sum,
      tasks.map(_.input).sum, tasks.map(_.output).sum,
      actions.values.toList)
  }
}

/** Benchmark-side spans around calls into graft's layers. A span's self
  * time is its duration minus the time its child spans cover. */
final class Spans {
  private final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def apply[T](name: String)(f: => T): T = {
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val s = System.nanoTime()
    try f finally {
      done += Span(id, parent, name, s, System.nanoTime())
      stack = stack.tail
    }
  }

  def selfSeconds: Map[String, Double] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def toJson: String = Json.arr(done.map(s => Json.obj(
    "name" -> Json.str(s.name), "id" -> s.id.toString,
    "parent" -> s.parent.toString,
    "start_ms" -> f"${s.startNs / 1e6}%.3f",
    "end_ms" -> f"${s.endNs / 1e6}%.3f")).toSeq)
}

object Trace {
  /** Janino compilations so far in this JVM. */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Nanoseconds spent in Janino compilation so far in this JVM. */
  def compileNanos(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Collection time of every JVM garbage collector so far, ms. */
  def gcMillis(): Long = {
    var sum = 0L
    val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
    while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) sum += t }
    sum
  }
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').result()
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
