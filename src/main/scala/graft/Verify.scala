package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query-name filter (local
    // iteration; the driver always invokes with exactly two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2)
        args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    only.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[verify] unknown query in filter: $n"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf: the default 100-entry codegen cache thrashes once a
      // workload carries more than a few dozen distinct plans, making
      // every run re-compile every whole-stage unit through Janino
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // Per-query cache hygiene (r15 VERDICT): several operators
      // persist() within one invocation (the curation barrier, BPE's
      // word table, the ANN encoded index) and nothing unpersists, so
      // without this a 143-query run accumulates every persisted
      // relation in one session — memory pressure at scale, and
      // CacheManager may serve a later query's logically-equal subtree
      // from an earlier query's cache instead of fresh compute.
      // Results are unaffected (same data); Bench has cleared per
      // timed pass since r13 (Bench.scala) for the same reason.
      spark.catalog.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // only the selected queries' oracles: tools/check.py fails every
    // json entry whose result is missing, so a filtered run must not
    // list queries it never dumped
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
