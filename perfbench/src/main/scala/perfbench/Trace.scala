package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans the benchmark records around the calls it makes into each layer:
  * name, start, end, parent span and operation id, kept in memory and
  * written as JSON lines when the run ends. Driver-thread only. */
final class Spans {
  import Spans.Span

  private val all = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[T](name: String, op: Int)(body: => T): T = {
    val s = Span(all.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
      System.currentTimeMillis())
    all += s; stack = s :: stack
    try body finally { s.endMs = System.currentTimeMillis(); stack = stack.tail }
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq
  def seconds(name: String): Double = named(name).map(s => s.endMs - s.startMs).sum / 1e3
  def windows(name: String): Seq[(Long, Long)] = named(name).map(s => (s.startMs, s.endMs))

  def write(path: String): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startMs: Long, var endMs: Long = -1L)
}

/** Passive Spark counters: every job, stage, task and SQL execution the
  * run causes, with timestamps, so the benchmark can sum them over the
  * windows of its traced operations afterwards. Adds no action. */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val sqlExecs = new ConcurrentLinkedQueue[SqlExec]()

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    val site = ev.stageInfos.headOption.map(s => Option(s.details).getOrElse("")).getOrElse("")
    jobStarts.put(ev.jobId, Job(ev.jobId, ev.time, -1L, site))
  }
  override def onJobEnd(ev: SparkListenerJobEnd): Unit = {
    val j = jobStarts.remove(ev.jobId)
    if (j != null) { j.endMs = ev.time; jobs.add(j) }
  }
  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
    stages.add(Stage(ev.stageInfo.stageId, ev.stageInfo.completionTime.getOrElse(-1L)))
  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val m = ev.taskMetrics
    val info = ev.taskInfo
    val failed = ev.reason != org.apache.spark.Success
    if (m == null) tasks.add(Task(ev.stageId, info.finishTime, info.duration, 0, 0, 0, 0, 0, 0, 0, failed))
    else tasks.add(Task(ev.stageId, info.finishTime, info.duration, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.peakExecutionMemory, failed))
  }
  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case e: SparkListenerSQLExecutionStart => sqlExecs.add(SqlExec(e.time, e.physicalPlanDescription))
    case _ => ()
  }

  private def inAny(t: Long, ws: Seq[(Long, Long)]) = ws.exists { case (a, b) => t >= a && t <= b }

  def jobsIn(ws: Seq[(Long, Long)]): Seq[Job] = jobs.asScala.filter(j => inAny(j.startMs, ws)).toSeq
  def tasksIn(ws: Seq[(Long, Long)]): Seq[Task] = tasks.asScala.filter(t => inAny(t.endMs, ws)).toSeq
  def stagesIn(ws: Seq[(Long, Long)]): Seq[Stage] = stages.asScala.filter(s => inAny(s.doneMs, ws)).toSeq
  def sqlIn(ws: Seq[(Long, Long)]): Seq[SqlExec] = sqlExecs.asScala.filter(e => inAny(e.timeMs, ws)).toSeq

  /** Seconds of the windows covered by at least one job. */
  def jobSeconds(ws: Seq[(Long, Long)], only: Job => Boolean = _ => true): Double =
    ws.map { case (a, b) =>
      Stats.unionLength(Stats.clip(jobs.asScala.filter(only).map(j => (j.startMs, j.endMs)).toSeq, a, b))
    }.sum / 1e3

  /** The Spark-execution layer's metrics over the given windows. */
  def executionMetrics(ws: Seq[(Long, Long)]): Seq[(String, Double, String)] = {
    val ts = tasksIn(ws)
    val wall = ws.map { case (a, b) => b - a }.sum / 1e3
    val jobS = jobSeconds(ws)
    val mb = (b: Long) => b / 1048576.0
    Seq(
      ("spark.jobs", jobsIn(ws).size.toDouble, "count"),
      ("spark.stages", stagesIn(ws).size.toDouble, "count"),
      ("spark.tasks", ts.size.toDouble, "count"),
      ("spark.job_s", jobS, "s"),
      ("spark.driver_gap_s", math.max(0.0, wall - jobS), "s"),
      ("spark.executor_run_s", ts.map(_.runMs).sum / 1e3, "s"),
      ("spark.executor_cpu_s", ts.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.gc_s", ts.map(_.gcMs).sum / 1e3, "s"),
      ("spark.shuffle_read_mb", mb(ts.map(_.shReadB).sum), "MB"),
      ("spark.shuffle_write_mb", mb(ts.map(_.shWriteB).sum), "MB"),
      ("spark.spill_mb", mb(ts.map(_.spillB).sum), "MB"),
      ("spark.peak_exec_mem_mb", mb(if (ts.isEmpty) 0L else ts.map(_.peakB).max), "MB"),
      ("spark.task_skew", Stats.worstSkew(ts.groupBy(_.stage).values.map(_.map(_.durMs.toDouble))), "ratio"),
      ("spark.failed_tasks", ts.count(_.failed).toDouble, "count"))
  }
}

object SparkCounters {
  final case class Job(id: Int, startMs: Long, var endMs: Long, callSite: String)
  final case class Task(stage: Int, endMs: Long, durMs: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, shReadB: Long, shWriteB: Long, spillB: Long,
                        peakB: Long, failed: Boolean)
  final case class Stage(id: Int, doneMs: Long)
  final case class SqlExec(timeMs: Long, plan: String)
}

/** Passive streaming counters: one record per micro-batch progress. */
final class IngestCounters extends StreamingQueryListener {
  import StreamingQueryListener._
  import IngestCounters.Batch
  val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(ev: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(ev: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(ev: QueryProgressEvent): Unit = {
    val p = ev.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val t = java.time.Instant.parse(p.timestamp).toEpochMilli
    batches.add(Batch(t, p.numInputRows, ms("latestOffset"), ms("addBatch")))
  }

  def in(ws: Seq[(Long, Long)]): Seq[Batch] =
    batches.asScala.filter(b => ws.exists { case (a, e) => b.timeMs >= a && b.timeMs <= e }).toSeq
}

object IngestCounters {
  final case class Batch(timeMs: Long, rows: Long, listMs: Long, addMs: Long)
}

/** Passive Catalyst counters: the planning phases of every action that
  * completes while registered (analysis, optimization, planning in ms). */
final class PhaseCounters extends org.apache.spark.sql.util.QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[Map[String, Long]]()

  override def onSuccess(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit =
    phases.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs }.toMap)
  override def onFailure(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()

  /** Seconds per phase over every action seen, and clears the record. */
  def drain(): Seq[(String, Double)] = {
    val all = phases.asScala.toSeq
    phases.clear()
    Seq("analysis", "optimization", "planning").map(p =>
      s"catalyst.${p}_s" -> all.map(_.getOrElse(p, 0L)).sum / 1e3)
  }
}

/** Fixed pure-JVM kernel timed at the start and end of a traced run, so a
  * slower host reads as a slower sentinel rather than a slower program. */
object Sentinel {
  @volatile private var sink = 0.0
  def seconds(): Double = {
    val n = 1024; val dim = 192
    var seed = 0x2545f4914f6cdd1dL
    val vs = Array.fill(n, dim) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 40) & 0xffff) / 65536.0
    }
    val t0 = System.nanoTime()
    var acc = 0.0
    var a = 0
    while (a < n) {
      var best = -1.0; var b = 0
      while (b < n) {
        if (b != a) {
          var dot = 0.0; var d = 0
          while (d < dim) { dot += vs(a)(d) * vs(b)(d); d += 1 }
          if (dot > best) best = dot
        }
        b += 1
      }
      acc += best; a += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e9
  }
  def best(n: Int = 3): Double = (1 to n).map(_ => seconds()).min
}
