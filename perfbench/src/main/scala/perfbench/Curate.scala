package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueriesCommon
import graft.functions.{TextFunctions => TF}
import graft.perfbench.CurationLsh
import graft.pipeline.Curation

/** curate: a generated corpus through `curate --budget N --pack 512`,
  * the composed quality → exact dedup → MinHash-LSH near-dedup →
  * decontamination split → token budget → packing dataflow.
  *
  * The check compares the command's output row for row with a STAGED
  * chain of the same public `Curation` stage functions, each stage's
  * output written to Parquet and read back by the next (so the
  * composed plan's barrier, observers and shared exchanges are what is
  * checked, not the stage rules), plus generator-side facts the
  * program never sees: no two survivors share a planted exact-duplicate
  * group, and every survivor's token count equals the generated one. */
final class Curate(spark: SparkSession, seed: Long, scale: Double) extends Workload {
  private val n = math.max(1000, (12000 * scale).toInt)
  private val pack = 512
  private var in: Gen.CurateInput = _
  private var work: Path = _
  private var expectedRows = -1L

  def rows: Long = n.toLong

  def setup(dir: Path): Unit = {
    in = Gen.curate(spark, seed, n, dir)
    work = dir
  }

  private def corpus: DataFrame = spark.read.parquet(in.dir)

  /** The staged reference chain, as the CLI composes it; returns the
    * final frame plus each stage's (name, seconds, rows out). */
  private def staged(root: Path): (DataFrame, Seq[(String, Double, Long)]) = {
    val steps: Seq[(String, DataFrame => DataFrame)] = Seq(
      "quality_filter" -> (df => Curation.qualityFilter(df)),
      "exact_dedup" -> Curation.exactDedup,
      "neardup_lsh" -> Curation.nearDedupLsh,
      "decontam_split" -> Curation.keepTrainSplit,
      "token_budget" -> (df => Curation.tokenBudgetWith(df, lit(in.budget))),
      "pack" -> (df => Curation.packAssign(df.select(col("doc_id"), col("source"),
        col("n_tok").cast("long").as("n_tok")), pack)))
    var prev = corpus
    val stats = steps.zipWithIndex.map { case ((name, f), i) =>
      val out = root.resolve(s"stage$i").toString
      val s = Graft.timeS(f(prev).write.mode("overwrite").parquet(out))
      prev = spark.read.parquet(out)
      (name, s, prev.count())
    }
    (prev, stats)
  }

  private def canonical(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("source"), col("n_tok").cast("long"),
      col("bin").cast("long"))

  def iteration(it: Iter): Unit = {
    val out = work.resolve(s"curated${it.index}")
    Graft.deleteTree(out)
    try {
      it.op("curate") {
        Graft(spark, "curate", "--in", in.dir, "--out", out.toString,
          "--budget", in.budget.toString, "--pack", pack.toString)
      } {
        val got = spark.read.parquet(out.toString).count()
        if (it.warmup) { expectedRows = got; got > 0 } else got == expectedRows
      }
      it.check("curate output equals the staged Curation chain") {
        val ref = work.resolve("staged")
        try {
          val want = canonical(staged(ref)._1)
          val got = canonical(spark.read.parquet(out.toString))
          got.count() == want.count() && got.exceptAll(want).isEmpty &&
            want.exceptAll(got).isEmpty
        } finally Graft.deleteTree(ref)
      }
      it.check("no two survivors share an exact-duplicate group; token counts match") {
        val got = spark.read.parquet(out.toString).select("doc_id", "n_tok").collect()
        val groups = got.map(r => in.group(r.getLong(0)))
        groups.distinct.length == groups.length &&
          got.forall(r => in.nTok(r.getLong(0)) == r.getAs[Number](1).intValue)
      }
    } finally Graft.deleteTree(out)
  }

  override def layers(tr: Tracer, dir: Path): Map[String, Double] = {
    val ref = dir.resolve("staged_probe")
    val (_, stats) = tr.span("curation.staged")(staged(ref))
    Graft.deleteTree(ref)
    val composed = {
      val out = dir.resolve("composed_probe")
      try tr.span("curation.composed")(Graft.timeS(Graft(spark, "curate",
        "--in", in.dir, "--out", out.toString, "--budget", in.budget.toString,
        "--pack", pack.toString)))
      finally Graft.deleteTree(out)
    }
    val textS = tr.span("kernels.text") {
      (0 until 3).map { _ =>
        Graft.timeS(corpus.select(QueriesCommon.tokenCountFast(col("text")),
            TF.stopwordRatio(col("text")))
          .write.format("noop").mode("overwrite").save()) +
          Graft.timeS(CurationLsh.dropIds(corpus)
            .write.format("noop").mode("overwrite").save())
      }
    }
    val precision = tr.span("dedup.lsh") { lshPrecision() }
    stats.flatMap { case (name, s, rowsOut) =>
      Seq(s"curation.${name}_s" -> s, s"curation.${name}_rows_out" -> rowsOut.toDouble)
    }.toMap ++ Map(
      "curation.composed_over_staged" -> composed / stats.map(_._2).sum,
      "kernels.text_s" -> Main.median(textS),
      "dedup.lsh_precision" -> precision)
  }

  /** Precision of curate's near-dedup stage on its own input (the
    * quality-filtered, exact-deduplicated corpus): the share of the
    * docs `Curation.lshDropIds` drops that have a lower-id doc in that
    * input whose exact 3-shingle Jaccard with them, computed here on
    * the driver over the stage's tokens, is >= 0.5. */
  private def lshPrecision(): Double = {
    val input = Curation.exactDedup(Curation.qualityFilter(corpus))
      .select("doc_id", "text").cache()
    val drops = CurationLsh.dropIds(input).collect().map(_.getLong(0)).distinct
    val shingles = input.collect().map { r =>
      val toks = r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      r.getLong(0) ->
        (if (toks.size < 3) Set(toks.mkString(" "))
         else toks.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    input.unpersist()
    val posting = shingles.toSeq.flatMap { case (id, sh) => sh.map(_ -> id) }
      .groupBy(_._1).map { case (s, v) => s -> v.map(_._2) }
    val confirmed = drops.count { d =>
      val mine = shingles(d)
      val shared = mutable.Map[Long, Int]().withDefaultValue(0)
      for (s <- mine; e <- posting(s) if e < d) shared(e) += 1
      shared.exists { case (e, k) => k >= 0.5 * (mine.size + shingles(e).size - k) }
    }
    if (drops.isEmpty) 0.0 else confirmed.toDouble / drops.length
  }
}
