package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 (VERDICT items 2 and 3): same-window attribution for the
  * two bucketed-spine queries at scale. The plans are already
  * exchange-free on the join key (EXPLAIN.md at-scale section), so the
  * remaining wall lives INSIDE the zipper stage — this probe alternates
  * variants of that stage within one run (contention-fair) to split it:
  *
  * q_semi_idlist:
  *  - semi:merge — the shipped sort-free merge semi-zipper;
  *  - semi:shj   — the same co-located semi as a per-bucket
  *    shuffled-hash build of the filtered urgent side (no exchange
  *    either — both scans stay bucketed);
  *  - semi:joinonly — shipped join, global (no-group) aggregate, to
  *    split join cost from the 3-key hash aggregate.
  *
  * q_join_agg (restructured pre-agg-by-custkey route at this scale):
  *  - ja:ship    — the shipped query;
  *  - ja:nodec   — identical shape, revenue summed as DOUBLE
  *    (ATTRIBUTION ONLY, never shipped — loses exactness) to price the
  *    per-row decimal multiply + decimal sum out of the zipper stage;
  *  - ja:noagg   — zipper only, global count+double-sum, to price the
  *    12.6M-key partial aggregate itself.
  *
  * Usage: runMain graft.tools.SpineVariantsAB <dir> [passes]
  */
object SpineVariantsAB {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/bigdata15")
    val passes = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val agg = new Object {
      var cpuMs = 0L; var spill = 0L; var peak = 0L
      def reset(): Unit = { cpuMs = 0; spill = 0; peak = 0 }
    }
    // per task: CPU and spill add up, peak execution memory is the
    // largest single task's (a sum of peaks is no peak)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          agg.synchronized {
            agg.cpuMs += m.executorCpuTime / 1000000
            agg.spill += m.diskBytesSpilled
            agg.peak = math.max(agg.peak, m.peakExecutionMemory)
          }
        }
      }
    })

    // Read through the SAME spine-branch fork the shipped queries use
    // (QueriesCommon.spineOpt): the branch session carries the at-scale
    // confs (AQE, per-bucket sorted scan, SHJ preference, bloom-off) —
    // a plain-session read plans the merge zipper WITH two 630M-row
    // Sorts and invalidates every comparison (measured: 225 s vs the
    // shipped 12-25 s in the same window).
    def li(cols: String*): DataFrame =
      graft.QueriesCommon.spineOpt(spark, dir, "lineitem", cols)
        .getOrElse(sys.error("no bucketed lineitem"))
    def ord(cols: String*): DataFrame =
      graft.QueriesCommon.spineOpt(spark, dir, "orders", cols)
        .getOrElse(sys.error("no bucketed orders"))

    def urgent = ord("o_orderkey", "o_orderpriority")
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    def semiFact = li("l_orderkey", "l_returnflag", "l_quantity")

    val variants: Seq[(String, () => Unit)] = Seq(
      "semi:merge" -> (() =>
        semiFact.hint("merge")
          .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)), expr("SUM(CAST(l_quantity AS DECIMAL(18,4)))"))
          .collect()),
      "semi:shj" -> (() =>
        semiFact
          .join(urgent.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)), expr("SUM(CAST(l_quantity AS DECIMAL(18,4)))"))
          .collect()),
      "semi:joinonly" -> (() =>
        semiFact.hint("merge")
          .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .agg(count(col("l_returnflag")),
            expr("SUM(CAST(l_quantity AS DECIMAL(18,4)))"))
          .collect()),
      "ja:ship" -> (() =>
        graft.SparkEntry.queries("q_join_agg")(spark, dir).count()),
      "ja:nodec" -> (() => {
        val spine = li("l_orderkey", "l_extendedprice", "l_discount")
          .hint("merge")
          .join(ord("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
        spine.groupBy(col("o_custkey"))
          .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("__rev"), count(lit(1)).as("__cnt"))
          .agg(sum("__rev"), sum("__cnt")).collect()
      }),
      "ja:decagg" -> (() => {
        val spine = li("l_orderkey", "l_extendedprice", "l_discount")
          .hint("merge")
          .join(ord("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
        spine.groupBy(col("o_custkey"))
          .agg(expr("SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
            "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))")
            .as("__rev"), count(lit(1)).as("__cnt"))
          .agg(expr("SUM(__rev)"), sum("__cnt")).collect()
      }),
      "ja:noagg" -> (() => {
        val spine = li("l_orderkey", "l_extendedprice", "l_discount")
          .hint("merge")
          .join(ord("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
        spine.agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          count(lit(1))).collect()
      }),
      // guide §1.4: count() lets Catalyst PRUNE unreferenced aggregate
      // values (the decimal revenue never computes); the noop sink
      // computes every column of every row — the pair quantifies what
      // the bench's count() action does NOT time on value-heavy aggs
      "ja:shipnoop" -> (() =>
        graft.SparkEntry.queries("q_join_agg")(spark, dir)
          .write.format("noop").mode("overwrite").save()),
      "semi:shipcount" -> (() =>
        graft.SparkEntry.queries("q_semi_idlist")(spark, dir).count()),
      "semi:shipnoop" -> (() =>
        graft.SparkEntry.queries("q_semi_idlist")(spark, dir)
          .write.format("noop").mode("overwrite").save()))

    for (p <- 1 to passes; (label, act) <- variants) {
      agg.synchronized(agg.reset())
      val t0 = System.nanoTime()
      act()
      val wall = (System.nanoTime() - t0) / 1e9
      // task-end events arrive asynchronously; read totals only after
      // the bus has delivered all of this variant's
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      val (c, s, pk) = agg.synchronized((agg.cpuMs, agg.spill, agg.peak))
      println(f"pass$p $label%-14s wall=$wall%6.2f s " +
        f"cpu=${c / 1000}%5ds spill=${s / 1e9}%.2f GB peakTaskMem=${pk / 1e9}%.2f GB")
    }
    spark.stop()
  }
}
