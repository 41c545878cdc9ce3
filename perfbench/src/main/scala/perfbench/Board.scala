package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The short-query layer: two `SparkEntry.queries` of each board
  * family over small generated tables (`Gen.board`), each result
  * driven through the noop sink, which evaluates every output column
  * (a `count()` would let Catalyst prune them). These queries are
  * sub-second, so driver planning and the per-job scheduling floor
  * carry most of their time; the family list includes the as-of joins
  * (`ops.AsofJoin`, `plans.AsofJoinNative`).
  *
  * It runs in migrate's traced run, not as a timed workload. Before the
  * timed passes every query's output is dumped and compared with its
  * DuckDB oracle SQL over the same tables by the repository's
  * `tools/check.py`; a failed comparison or a query that throws fails
  * the run. */
final class Board(spark: SparkSession, seed: Long) {
  val families: Seq[(String, Seq[String])] = Seq(
    "spine" -> Seq("q1_agg", "q_join_agg"),
    "windows" -> Seq("q_asof_join", "q_asof_native"),
    "text" -> Seq("q_token_stats", "q_tfidf"),
    "dedup" -> Seq("q_dedup_survivors", "q_dup_clusters"),
    "vectors" -> Seq("q_ann_ivf_oracle", "q_hybrid_rrf"),
    "mixture" -> Seq("q_token_budget", "q_split_leakfree"),
    "bpe" -> Seq("q_bpe_encode", "q_pack"))
  val Passes = 2

  def probe(tr: Tracer, dir: Path): Map[String, Double] = {
    val data = tr.span("board.generate")(Gen.board(spark, seed, dir.resolve("board_tables")))
    val names = families.flatMap(_._2)
    tr.span("board.check")(check(data, dir.resolve("board_dump"), names))
    val r = new java.util.SplittableRandom(seed + 7)
    val queries = SparkEntry.queries
    def run(q: String): Double = tr.span(s"board.$q")(Graft.timeS(
      queries(q)(spark, data).write.format("noop").mode("overwrite").save()))
    // each pass in its own seeded order
    val times = (0 until Passes).flatMap { _ =>
      Gen.shuffle(names, r).map(q => q -> run(q))
    }.groupBy(_._1).map { case (q, v) => q -> Main.median(v.map(_._2)) }
    // one more pass counts jobs and the scheduling floor, and takes
    // each query's Catalyst phases (its QueryExecution tracker) from a
    // plan forced before the write
    val (planS, c) = tr.counted(names.map { q =>
      val df = queries(q)(spark, data)
      df.queryExecution.executedPlan
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
    })
    val n = names.size.toDouble
    families.map { case (f, qs) => s"board.${f}_s" -> qs.map(times).sum }.toMap ++ Map(
      "board_query_p50_s" -> Main.quantile(times.values.toSeq, 0.5),
      "board_query_p90_s" -> Main.quantile(times.values.toSeq, 0.9),
      "board.jobs_per_query" -> c.jobCount / n,
      "board.plan_s_per_query" -> planS.sum / n,
      "board.floor_s_per_query" -> c.floorMs / 1e3 / n)
  }

  /** Dump every query's output and its oracle SQL, and compare them
    * with `tools/check.py`, as the repository's correctness gate does. */
  private def check(data: String, dump: Path, names: Seq[String]): Unit = {
    val queries = SparkEntry.queries
    names.foreach { q =>
      queries(q)(spark, data).write.mode("overwrite").parquet(dump.resolve(q).toString)
    }
    val sql = SparkEntry.oracleSql
    val oracle = names.filter(sql.contains)
    Files.createDirectories(dump)
    Files.write(dump.resolve("oracle_sql.json"), ("{" + Json.fields(oracle.map(q =>
      q -> Json.str(sql(q)))) + "}").getBytes(StandardCharsets.UTF_8))
    val log = dump.resolve("check.log")
    val t0 = System.nanoTime()
    val p = new ProcessBuilder("python3", Paths.get("tools", "check.py").toString,
      data, dump.toString).redirectErrorStream(true).redirectOutput(log.toFile).start()
    val rc = p.waitFor()
    val checkS = (System.nanoTime() - t0) / 1e9
    val out = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
    val failed = out.linesIterator.filter(_.startsWith("FAIL")).toSeq
    failed.foreach(l => System.err.println(s"perfbench: board $l"))
    require(rc == 0 && failed.isEmpty &&
      out.linesIterator.count(_.startsWith("PASS")) == oracle.size,
      s"board oracle check failed (check.py exit $rc): ${out.trim.linesIterator.toSeq.lastOption.getOrElse("")}")
    System.err.println(s"perfbench: board oracle check passed for ${oracle.size} of ${names.size} queries (check.py took ${"%.1f".format(checkS)} s)")
    Graft.deleteTree(dump)
  }
}
