package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stage semantics of the composed curation pipeline on crafted data —
  * the oracle gate (q_curation_docs / q_curation_pipeline) proves
  * end-to-end exactness against DuckDB; these rows prove each stage
  * drops exactly what its rule says on inputs built to trigger it. */
class CurationSpec extends SparkSpec {

  // 30 in-range tokens — passes the quality gate comfortably
  private def goodText(seed: Int): String =
    (0 until 30).map(i => s"tok${seed}x$i").mkString(" ")

  private def docs(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text", "source")
  }

  test("quality filter drops short, long, and stopword-heavy docs; keeps in-range ones") {
    val d = docs(
      (1L, goodText(1), "src1"),
      (2L, "too short", "src1"),
      (3L, (0 until 100).map(i => s"w$i").mkString(" "), "src1"),
      (4L, (0 until 30).map(i => if (i % 2 == 0) "the" else s"v$i")
        .mkString(" "), "src1"))
    val kept = Curation.qualityFilter(d).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"got $kept")
    // and n_tok is carried for later stages
    assert(Curation.qualityFilter(d).columns.contains("n_tok"))
  }

  test("exact dedup keeps the min doc_id per normalized-content fingerprint") {
    // 10/11 differ only by case + leading space → same trim/lower fp;
    // 12 is distinct content
    val d = docs(
      (10L, goodText(2), "src1"),
      (11L, " " + goodText(2).toUpperCase, "src1"),
      (12L, goodText(3), "src1"))
    val out = Curation.exactDedup(Curation.qualityFilter(d))
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 12L), s"got $kept")
    assert(out.columns.contains("fp"), "fp must be carried for the split coin")
  }

  test("LSH near-dedup drops a doc whose shingle set matches a lower-id doc; keeps distinct content") {
    // 20/21: identical token sequences, different RAW text (double
    // spaces) — different fp (exact dedup keeps both), identical
    // 3-shingles → identical minhash signature → all four bands
    // collide → 21 dropped deterministically. 22: unrelated content.
    val base = goodText(4)
    val d = docs(
      (20L, base, "src1"),
      (21L, base.replace(" ", "  "), "src1"),
      (22L, goodText(5), "src1"))
    val pre = Curation.exactDedup(Curation.qualityFilter(d))
    assert(pre.count() == 3, "exact dedup must NOT collapse 20/21 (different fp)")
    val kept = Curation.nearDedupLsh(pre).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(20L, 22L), s"got $kept")
  }

  test("LSH drop-id plan: no higher-order function left; the band kernel compiles under whole-stage codegen") {
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import graft.expressions.MinhashMd5Bands
    val dir = java.nio.file.Files.createTempDirectory("curation-plan")
    try {
      // read back from Parquet so the optimizer cannot fold the
      // projection into a local relation
      docs((30L, goodText(6), "src1"), (31L, goodText(6), "src1"),
        (32L, goodText(7), "src1"))
        .write.mode("overwrite").parquet(dir.toString)
      val drop = Curation.lshDropIds(spark.read.parquet(dir.toString))
      val hofs = drop.queryExecution.optimizedPlan.flatMap(_.expressions
        .flatMap(_.collect {
          case h: HigherOrderFunction => h
          case l: LambdaFunction => l
        }))
      assert(hofs.isEmpty, s"interpreted HOF tower back in the plan: $hofs")
      assert(drop.collect().map(_.getLong(0)).toSet == Set(31L))
      // the executed (final adaptive) plan, query stages unfolded
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      def stage(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: InputAdapter => Nil
        case other => other +: other.children.flatMap(stage)
      }
      val all = nodes(drop.queryExecution.executedPlan)
      val holders = all.filter(_.expressions.exists(_.exists(
        _.isInstanceOf[MinhashMd5Bands])))
      val wscg = all.collect { case w: WholeStageCodegenExec => w }
        .filter(w => stage(w.child).exists(n => holders.exists(_ eq n)))
      assert(holders.nonEmpty && wscg.nonEmpty &&
        holders.forall(h => wscg.exists(w => stage(w.child).exists(_ eq h))),
        s"band kernel outside whole-stage codegen:\n${drop.queryExecution.executedPlan}")
      // and the generated stage compiles (Spark would otherwise fall
      // back to interpreted evaluation silently)
      wscg.foreach(w => CodeGenerator.compile(w.doCodeGen()._2))
    } finally {
      Option(dir.toFile.listFiles).foreach(_.foreach(_.delete()))
      dir.toFile.delete()
    }
  }

  test("decontamination split keeps exactly the train-bucket fps (the q_split_leakfree coin)") {
    val d = docs((0 until 40).map(i =>
      (100L + i, goodText(100 + i), "src1")): _*)
    val pre = Curation.nearDedupLsh(Curation.exactDedup(Curation.qualityFilter(d)))
    val out = Curation.keepTrainSplit(pre)
    // reproduce the coin independently: bucket(md5(fp)) < 230
    val expected = pre
      .filter(graft.ops.Mixture.bucket("fp") < 230)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty && got.size < 40)
  }

  test("token budget + pack: per-source greedy prefix, then 512-token bins") {
    // src1 → budget (1 % 3 + 1) * 1000 = 2000 tokens; each doc is 30
    // tokens, so at most 66 docs survive the budget per source
    val d = docs((0 until 80).map(i =>
      (200L + i, goodText(200 + i), "src1")): _*)
    val five = Curation.stages.take(5).foldLeft(d) { case (df, (_, f)) => f(df) }
    val tokens = five.agg(sum("n_tok")).collect().head.getLong(0)
    assert(tokens <= 2000, s"budget violated: $tokens")
    val bins = Curation.pack(five, 512).collect()
    // every bin's occupancy is within one doc of the bin size, and the
    // total matches the budgeted token count
    assert(bins.map(_.getLong(3)).sum == tokens)
    assert(bins.forall(_.getLong(3) <= 512 + 30))
  }

  test("composed plan shape: ONE corpus scan behind the dedup barrier, two cache readers; budget and pack share ONE source exchange") {
    val df = graft.SparkEntry.queries("q_curation_pipeline")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan
    val p = plan.toString
    // the dedup barrier: the scan → tokenize → dedup subtree is
    // materialized ONCE (a single shared InMemoryRelation) and read by
    // exactly two consumers — the carried frame and the
    // self-referential LSH candidate branch. Without the barrier the
    // corpus pass executed once PER consumer (the honest staged
    // baseline beat the composed form at 10.5M docs — the r13b
    // finding this shape encodes).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val imts = plan.collect { case s: InMemoryTableScanExec => s }
    assert(imts.size == 2, s"expected 2 cache readers, got ${imts.size}:\n$p")
    assert(imts(0).relation.cacheBuilder eq imts(1).relation.cacheBuilder,
      "the two consumers must share ONE materialization")
    assert(plan.collect { case f: FileSourceScanExec => f }.isEmpty,
      s"corpus scanned outside the barrier:\n$p")
    val cachedScans = imts.head.relation.cachedPlan.collect {
      case f: FileSourceScanExec => f }
    assert(cachedScans.size == 1,
      s"expected exactly 1 parquet scan inside the cached plan")
    // the LSH candidate branch reads the cache COLUMN-PRUNED to
    // (doc_id, text) — cache reads prune like scans do
    assert(imts.exists(_.output.map(_.name).toSet == Set("doc_id", "text")),
      s"LSH candidate branch not pruned to (doc_id, text):\n$p")
    // the token-budget window and the pack window both partition by
    // source — ONE exchange must serve both (stacked Window nodes)
    val srcExchanges = "hashpartitioning\\(source#\\d+, \\d+\\)".r
      .findAllIn(p).size
    assert(srcExchanges == 1,
      s"budget+pack must share one source exchange, found $srcExchanges:\n$p")
    // the LSH signature is map-side: no exchange may carry shingle or
    // minhash rows (the only candidate-branch exchange is (band, v))
    assert(!p.contains("hashpartitioning(doc_id"),
      s"unexpected doc_id exchange (exploded shingle shuffle?):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BatchEvalPython"))
  }
}
