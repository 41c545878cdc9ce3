package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed call into the program. */
final case class OpRec(name: String, seconds: Double, ok: Boolean)

/** One pipeline iteration: the ops it ran, and (on the warm-up
  * iteration) the correctness checks made between them. An op that
  * throws or lands fewer rows than it was sent fails the iteration;
  * the remaining ops are not attempted and none of its times count. */
final class Iter(val index: Int, val warmup: Boolean,
    tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer[OpRec]()
  val checkFailures = mutable.ArrayBuffer[String]()
  val checksRun = mutable.ArrayBuffer[String]()
  private var aborted = false

  def ok: Boolean = !aborted
  def wall: Double = ops.map(_.seconds).sum

  def span[A](name: String)(body: => A): A =
    tracer.fold(body)(_.span(name)(body))

  /** Time `body`; `landed` is evaluated after the timer stops. */
  def op(name: String)(body: => Unit)(landed: => Boolean): Unit =
    if (!aborted) {
      val t0 = System.nanoTime()
      val err =
        try { span(name)(body); None }
        catch { case e: Throwable => Some(e.toString) }
      val dt = (System.nanoTime() - t0) / 1e9
      val why = err.orElse(
        try { if (landed) None else Some("landed fewer rows than it was sent") }
        catch { case e: Throwable => Some(s"row check threw $e") })
      why.foreach { w =>
        System.err.println(s"perfbench: FAILED op '$name' (iteration $index): $w")
        aborted = true
      }
      ops += OpRec(name, dt, why.isEmpty)
    }

  /** A correctness check; only the warm-up iteration runs them. */
  def check(name: String)(cond: => Boolean): Unit =
    if (warmup && !aborted) {
      checksRun += name
      val pass =
        try cond
        catch { case e: Throwable =>
          System.err.println(s"perfbench: check '$name' threw $e"); false }
      if (!pass) {
        System.err.println(s"perfbench: FAILED check '$name'")
        checkFailures += name
      }
    }
}

/** A workload: seeded inputs, a pipeline iteration over them, and
  * (traced run only) direct probes of the layers it stresses. */
trait Workload {
  /** Input rows one iteration processes. */
  def rows: Long
  /** Generate this workload's inputs from the seed under `dir`. */
  def setup(dir: Path): Unit
  def iteration(it: Iter): Unit
  /** Per-layer leg throughputs: metric name → op name. */
  def legs: Seq[(String, String)] = Nil
  /** Traced run only: direct timed calls into single layers. */
  def layers(tr: Tracer, dir: Path): Map[String, Double] = Map.empty
  /** Traced iterations only: per-iteration counters the workload
    * reads from the program (request logs, retry counters). */
  def iterationCounters: Map[String, Double] = Map.empty
}

object Main {
  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** Untimed iterations before the loop (the first one makes the
    * checks); migrate's iteration times keep falling over the first
    * few, as JIT and caches settle. */
  val WarmIters = 3
  val MinIters = 3
  /** No new iteration starts this long after JVM start, so a slow
    * window cannot push a run past its time limit. */
  val HardStopS = 110.0

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, spans: Path, cores: Int, scale: Double)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("spans")),
      need("cores").toInt, m.getOrElse("scale", "1").toDouble)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val wl: Workload = o.workload match {
      case "migrate" => new Migrate(spark, o.seed, o.scale)
      case "curate" => new Curate(spark, o.seed, o.scale)
      case other =>
        System.err.println(s"perfbench: unknown workload '$other'")
        spark.stop(); sys.exit(2)
    }
    val code =
      try run(spark, wl, o, sessionS, jvmStartMs)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, wl: Workload, o: Opts,
      sessionS: Double, jvmStartMs: Long): Int = {
    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val genS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(o.work.resolve(s"inputs$r"))
      (System.nanoTime() - t0) / 1e9
    }
    val warms = (0 until WarmIters).map { w =>
      val it = new Iter(w, warmup = w == 0, None)
      wl.iteration(it)
      it
    }
    val warm = warms.head

    val tracer = if (o.trace) Some(new Tracer(spark, s"${o.workload}-${o.seed}")) else None
    val plain = mutable.ArrayBuffer[Iter]()
    val traced = mutable.ArrayBuffer[(Iter, SparkCounters, Map[String, Double])]()
    val loopStart = System.nanoTime()
    def loopS = (System.nanoTime() - loopStart) / 1e9
    var i = WarmIters
    while ((loopS < o.seconds || plain.size < MinIters ||
        (o.trace && traced.size < 2)) && sinceStart < HardStopS) {
      tracer.filter(_ => i % 2 == 0) match {
        case Some(tr) =>
          val it = new Iter(i, warmup = false, Some(tr))
          val (_, c) = tr.counted(tr.span("iteration")(wl.iteration(it)))
          traced += ((it, c, wl.iterationCounters))
        case None =>
          val it = new Iter(i, warmup = false, None)
          wl.iteration(it)
          plain += it
      }
      i += 1
    }

    val all = warms ++ plain.toSeq ++ traced.map(_._1)
    val attempted = all.map(_.ops.size).sum
    val failed = all.map(_.ops.count(!_.ok)).sum
    val okPlain = plain.filter(_.ok).toSeq
    val correct = warms.forall(_.ok) && warm.checkFailures.isEmpty && failed == 0
    val iterS = median(okPlain.map(_.wall))
    val setupS = sessionS + median(genS) + warms.map(_.wall).sum
    def opMedian(name: String) =
      median(okPlain.flatMap(_.ops.filter(_.name == name).map(_.seconds)))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("rows_per_s", wl.rows / iterS, "rows/s"),
        ("setup_s", setupS, "s"))
      else {
        val tr = tracer.get
        val layer = tr.span("layers")(wl.layers(tr, o.work))
        val okTraced = traced.filter(_._1.ok).toSeq
        val n = math.max(1, okTraced.size).toDouble
        def per(f: SparkCounters => Double) = okTraced.map(t => f(t._2)).sum / n
        val counters = okTraced.flatMap(_._3.toSeq).groupBy(_._1)
          .map { case (k, v) => k -> v.map(_._2).sum / n }
        val sparkLayer = Map(
          "spark.jobs" -> per(_.jobCount.toDouble),
          "spark.stages" -> per(_.stages.toDouble),
          "spark.tasks" -> per(_.tasks.toDouble),
          "spark.plan_s" -> per(_.planMs / 1e3),
          "spark.floor_s" -> per(_.floorMs / 1e3),
          "spark.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
          "spark.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
          "spark.spill_bytes" -> per(_.spill.toDouble),
          "spark.peak_exec_mem_mb" ->
            okTraced.map(_._2.peakExecMem / 1048576.0).foldLeft(0.0)(math.max),
          "spark.task_cpu_s" -> per(_.cpuNs / 1e9),
          "spark.task_run_s" -> per(_.runMs / 1e3),
          "spark.gc_s" -> per(_.gcMs / 1e3),
          "trace_overhead_ratio" -> median(okTraced.map(_._1.wall)) / iterS,
          "jvm.peak_rss_mb" -> peakRssMb)
        val legs = wl.legs.map { case (m, op) => m -> wl.rows / opMedian(op) }.toMap
        val got = sparkLayer ++ counters ++ legs ++ layer
        val unknown = got.keySet -- PerLayer.names.map(_._1)
        require(unknown.isEmpty, s"metrics missing from PerLayer: ${unknown.mkString(", ")}")
        PerLayer.names.map { case (name, unit) =>
          (name, got.getOrElse(name, 0.0), unit) }
      }

    tracer.foreach(_.write(o.spans))
    val detail = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "cores" -> o.cores.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "scale" -> Json.num(o.scale),
      "rows_per_iteration" -> wl.rows.toString,
      "session_s" -> Json.num(sessionS),
      "generate_s" -> genS.map(Json.num).mkString("[", ", ", "]"),
      "warmup_s" -> warms.map(i => Json.num(i.wall)).mkString("[", ", ", "]"),
      "iterations" -> okPlain.size.toString,
      "iteration_s" -> okPlain.map(i => Json.num(i.wall)).mkString("[", ", ", "]"),
      "op_median_s" -> ("{" + Json.fields(warm.ops.map(_.name).distinct.toSeq
        .map(n => n -> Json.num(opMedian(n)))) + "}"),
      "checks" -> warm.checksRun.map(Json.str).mkString("[", ", ", "]"),
      "failed_checks" -> warm.checkFailures.map(Json.str).mkString("[", ", ", "]"),
      "failed_ops" -> all.flatMap(it => it.ops.filterNot(_.ok)
        .map(op => Json.str(s"${op.name}#${it.index}"))).mkString("[", ", ", "]"),
      "spans" -> tracer.fold("null")(_ => Json.str(o.spans.toString)),
      "span_count" -> tracer.fold(0)(_.spanCount).toString)
    println("perfbench-detail {" + Json.fields(detail) + "}")
    val metricJson = metrics.map { case (n, v, u) =>
      n -> s"{${Json.fields(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))}}" }
    println("{" + Json.fields(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> ("{" + Json.fields(metricJson) + "}"))) + "}")
    System.out.flush()
    if (correct) 0 else 1
  }
}

/** Every per-layer metric the traced run emits, on every workload; a
  * layer the workload leaves idle reads 0. */
object PerLayer {
  private val stages = Seq("quality_filter", "exact_dedup", "neardup_lsh",
    "decontam_split", "token_budget", "pack")
  private val boardFamilies = Seq("spine", "windows", "text", "dedup",
    "vectors", "mixture", "bpe")
  val names: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.plan_s" -> "s", "spark.floor_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_mb" -> "MB",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "trace_overhead_ratio" -> "ratio", "jvm.peak_rss_mb" -> "MB",
    "export_rows_per_s" -> "rows/s", "import_rest_rows_per_s" -> "rows/s",
    "import_h2_rows_per_s" -> "rows/s",
    "wire.pages" -> "count", "wire.page_fetch_ms_p50" -> "ms",
    "wire.page_fetch_ms_p90" -> "ms", "wire.upsert_batches" -> "count",
    "wire.upsert_ms_p50" -> "ms", "wire.upsert_ms_p90" -> "ms",
    "wire.resent_rows" -> "rows", "wire.shrinks" -> "count",
    "wire.useful_ratio" -> "ratio", "wire.h2_dials" -> "count",
    "wire.h2_connections" -> "count",
    "io.write_s" -> "s", "io.bytes_per_row" -> "bytes",
    "kernels.vector_s" -> "s", "similarity.ann_recall_at_10" -> "ratio",
    "consolidate_rows_per_s" -> "rows/s", "reembed_rows_per_s" -> "rows/s",
    "idlist_rows_per_s" -> "rows/s",
    "io.read_s" -> "s", "io.list_s" -> "s", "io.files_in" -> "count",
    "io.files_out" -> "count",
    "transform.embed_calls" -> "count", "transform.embed_s" -> "s",
    "transform.rows_per_call" -> "rows") ++
    stages.flatMap(s => Seq(s"curation.${s}_s" -> "s", s"curation.${s}_rows_out" -> "rows")) ++
    Seq("curation.composed_over_staged" -> "ratio",
      "dedup.lsh_precision" -> "ratio", "kernels.text_s" -> "s") ++
    boardFamilies.map(f => s"board.${f}_s" -> "s") ++
    Seq("board_query_p50_s" -> "s", "board_query_p90_s" -> "s",
      "board.jobs_per_query" -> "count", "board.plan_s_per_query" -> "s",
      "board.floor_s_per_query" -> "s")
}
