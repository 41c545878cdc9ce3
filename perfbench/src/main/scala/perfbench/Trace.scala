package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.telemetry.Spans

/** Spark-layer counters for the traced iterations: jobs, stages, tasks,
  * driver planning (the QueryExecution tracker phases), the scheduling
  * floor (job wall time no running task covers), shuffle and spill
  * bytes, task CPU/run/GC time, and the peak execution memory of any
  * one task (a max, never a sum). Attached only while a traced
  * iteration runs; the bus is drained before every read. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private final case class Job(start: Long, stages: Seq[Int], var end: Long = -1L)
  private val jobs = mutable.Map[Int, Job]()
  private val taskSpans = mutable.Map[Int, mutable.ArrayBuffer[(Long, Long)]]()
  var stages, tasks = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var cpuNs, runMs, gcMs = 0L
  var peakExecMem = 0L
  var planMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val i = e.taskInfo
    taskSpans.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
      (i.launchTime -> i.finishTime)
    Option(e.taskMetrics).foreach { m =>
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def jobCount: Long = synchronized(jobs.size.toLong)

  /** Sum over finished jobs of (job wall − union of its task intervals). */
  def floorMs: Long = synchronized {
    jobs.values.filter(_.end >= 0).map { j =>
      val spans = j.stages.flatMap(s => taskSpans.getOrElse(s, Nil)).sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      spans.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      math.max(0L, (j.end - j.start) - covered)
    }.sum
  }
}

/** The traced run's recorder: spans around every call the benchmark
  * makes into a layer (through the program's own `telemetry.Spans`
  * with an exporter that stamps the run id), kept in memory and
  * written as JSON lines when the run ends. */
final class Tracer(spark: SparkSession, val runId: String) {
  final case class Rec(name: String, parent: Option[String], start: Long,
      end: Long, error: Option[String])
  private val recs = new ConcurrentLinkedQueue[Rec]()
  Spans.setExporter(s =>
    recs.add(Rec(s.name, s.parent, s.startNanos, s.endNanos, s.error)))

  def span[A](name: String)(body: => A): A = Spans.withSpan(name)(body)

  /** Run `body` with a fresh counter set attached; returns both. */
  def counted[A](body: => A): (A, SparkCounters) = {
    val c = new SparkCounters
    val sc = spark.sparkContext
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
    try {
      val a = body
      org.apache.spark.perfbench.BusDrain(sc)
      (a, c)
    } finally {
      spark.listenerManager.unregister(c)
      sc.removeSparkListener(c)
    }
  }

  def spanCount: Int = recs.size

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = recs.asScala.map { r =>
      "{" + Json.fields(Seq(
        "run_id" -> Json.str(runId), "name" -> Json.str(r.name),
        "parent" -> r.parent.map(Json.str).getOrElse("null"),
        "start_ns" -> r.start.toString, "end_ns" -> r.end.toString,
        "error" -> r.error.map(Json.str).getOrElse("null"))) + "}"
    }
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
  }
}

/** Minimal JSON rendering for the result lines (numbers and strings only). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def fields(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString(", ")
}
