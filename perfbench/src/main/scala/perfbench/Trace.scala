package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `parent` is the id of the enclosing span (-1 at the
  * root); all spans of one run share `runId`. Times are epoch ms, the clock
  * Spark's listener events use, plus nanoTime for durations. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      runId: String, startMs: Long, endMs: Long,
                      startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

final case class TaskRec(stageId: Int, attempt: Int, launchMs: Long,
                         ok: Boolean, cpuNs: Long, peakMem: Long,
                         spillMem: Long, spillDisk: Long, shuffleWrite: Long,
                         shuffleRead: Long)

final case class StageRec(stageId: Int, attempt: Int, submitMs: Long,
                          doneMs: Long, tasks: Int)

/** Spans from the benchmark's own calls into each layer, plus the Spark
  * events that fall inside them: stage and task metrics from a
  * SparkListener and planning phases from a QueryExecutionListener. Events
  * are attributed to the innermost span open at their start time (the
  * traced run has one client thread). Everything stays in memory until
  * [[write]]. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, String, Long, Long)]
  private var nextId = 0

  /** Rows each layer's traced calls produced. */
  val rowsOut = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  def addRows(layer: String, n: Long): Unit = rowsOut(layer) += n

  val tasks = ArrayBuffer.empty[TaskRec]
  val stages = ArrayBuffer.empty[StageRec]
  val jobStarts = ArrayBuffer.empty[Long]
  /** (phase name, start ms, duration ms, executed-plan operator counts). */
  val phases = ArrayBuffer.empty[(String, Long, Long, Map[String, Int])]
  /** Per file-scan operator of each executed plan: (the files' root
    * paths, the operator's output rows). */
  val scans = ArrayBuffer.empty[(Seq[String], Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobStarts += e.time }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Tracer.this.synchronized {
        stages += StageRec(i.stageId, i.attemptNumber(),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          i.numTasks)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val rec =
        if (m == null) TaskRec(e.stageId, e.stageAttemptId, e.taskInfo.launchTime,
          ok = false, 0, 0, 0, 0, 0, 0)
        else TaskRec(e.stageId, e.stageAttemptId, e.taskInfo.launchTime,
          e.reason == TaskSuccess, m.executorCpuTime, m.peakExecutionMemory,
          m.memoryBytesSpilled, m.diskBytesSpilled,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead)
      Tracer.this.synchronized { tasks += rec }
    }
  }

  /** Record `qe`'s planning phases and its executed plan's operators. */
  def addPhases(qe: QueryExecution): Unit = {
    val ops = Tracer.plans.collect(qe.executedPlan) { case p => p.nodeName }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val ps = qe.tracker.phases.toSeq.map { case (name, p) =>
      (name, p.startTimeMs, p.durationMs, ops)
    }
    val fileScans = Tracer.plans.collect(qe.executedPlan) { case f: FileSourceScanExec =>
      (f.relation.location.rootPaths.map(_.toString),
        f.metrics.get("numOutputRows").fold(0L)(_.value))
    }
    synchronized { phases ++= ps; scans ++= fileScans }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = addPhases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = addPhases(qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until every event posted so far has been recorded. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Wait for the listener bus, then detach. */
  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def span[A](name: String, layer: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, layer, System.currentTimeMillis(), System.nanoTime()) :: open
    try body
    finally {
      val (_, n, l, sMs, sNs) = open.head
      open = open.tail
      spans += Span(id, n, l, parent, runId, sMs, System.currentTimeMillis(),
        sNs, System.nanoTime())
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** The innermost span open at `ms`. */
  def spanAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => (-s.startNs, s.endNs)).headOption

  /** Seconds of `s` not covered by its children. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var until = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, until)
      if (b > from) { covered += b - from; until = b }
    }
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** Spans (with self time), stages and planning phases as JSON lines. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val pw = new PrintWriter(file, "UTF-8")
    try {
      spans.sortBy(_.id).foreach { s =>
        pw.println(s"""{"type":"span","run":"${s.runId}","id":${s.id},"name":"${s.name}",""" +
          s""""layer":"${s.layer}","parent":${s.parent},"start_ms":${s.startMs},""" +
          s""""end_ms":${s.endMs},"dur_s":${s.durS},"self_s":${selfS(s)}}""")
      }
      stages.foreach { st =>
        pw.println(s"""{"type":"stage","run":"$runId","stage":${st.stageId},""" +
          s""""attempt":${st.attempt},"submit_ms":${st.submitMs},""" +
          s""""done_ms":${st.doneMs},"tasks":${st.tasks}}""")
      }
      phases.foreach { case (name, startMs, durMs, ops) =>
        val opsJson = ops.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        pw.println(s"""{"type":"phase","run":"$runId","phase":"$name",""" +
          s""""start_ms":$startMs,"dur_ms":$durMs,"operators":{$opsJson}}""")
      }
    } finally pw.close()
  }
}

object Tracer {
  /** Plan traversal that descends into adaptive plans and query stages. */
  object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
}
