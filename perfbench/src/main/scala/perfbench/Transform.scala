package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.VdfIO
import graft.transform.Reembed

/** transform: a VDF of small chunk files with schema drift goes
  * through `consolidate` → `reembed --quantize int8` → `count` →
  * `id-list`, then a missing-id anti-join of the id list against the
  * expected ids. Each iteration works on a fresh copy of the input.
  * It runs inside migrate's traced run (`Migrate.transformProbe`), not
  * as a timed workload of its own. */
final class Transform(spark: SparkSession, seed: Long, scale: Double) extends Workload {
  private val n = math.max(1000, (15000 * scale).toInt)
  private val dims = 32
  private var in: Gen.TransformInput = _
  private var work: Path = _
  private var rowChecksum: (Long, java.math.BigDecimal) = _
  private var filesOut = 0

  def rows: Long = in.n.toLong
  override val legs: Seq[(String, String)] = Seq(
    "consolidate_rows_per_s" -> "consolidate", "reembed_rows_per_s" -> "reembed",
    "idlist_rows_per_s" -> "id_list")

  def setup(dir: Path): Unit = {
    in = Gen.transform(spark, seed, n, chunk = 500, dir.resolve("vdf"))
    work = dir
  }

  private def namespace(dir: String): DataFrame =
    VdfIO.readVdf(spark, dir)((in.index, ""))

  private def rowHash(df: DataFrame) = Graft.checksum(
    df.select("id", "vector", "title", "views", "lang"))

  private val vecCol = Reembed.vectorColumnName("title", "hashing", Some("int8"), dims)

  def iteration(it: Iter): Unit = {
    val d = work.resolve(s"iter${it.index}")
    val ids = work.resolve(s"ids${it.index}")
    Graft.deleteTree(d)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(in.dir), d.toFile)
    if (it.warmup) rowChecksum = rowHash(namespace(in.dir))
    try {
      it.op("consolidate") {
        Graft(spark, "consolidate", "--dir", d.toString, "--index", in.index)
      } {
        filesOut = VdfIO.listParquetFiles(d.resolve("docs").toString).size
        filesOut >= 1
      }
      it.check("consolidate preserves the row-multiset checksum") {
        rowHash(namespace(d.toString)) == rowChecksum
      }
      it.op("reembed") {
        Graft(spark, "reembed", "--dir", d.toString, "--index", in.index,
          "--text_column", "title", "--quantize", "int8", "--dims", dims.toString)
      } { true }
      it.check("re-embedded vectors equal a direct HashingEmbedder recompute on a seeded sample") {
        val sample = namespace(d.toString)
          .where(xxhash64(col("id"), lit(seed)) % 50 === 0)
          .select("title", vecCol).collect()
        val emb = new Reembed.HashingEmbedder(dims)
        sample.nonEmpty && sample.forall { r =>
          emb.embed(Seq(r.getString(0))).head.toSeq == r.getSeq[Float](1)
        }
      }
      var total = -1L
      it.op("count") {
        val out = Graft(spark, "count", "--dir", d.toString)
        total = out.linesIterator.collectFirst {
          case l if l.startsWith("total: ") => l.stripPrefix("total: ").trim.toLong
        }.getOrElse(-1L)
      } { total == in.n }
      it.op("id_list") {
        Graft(spark, "id-list", "--dir", d.toString, "--out", ids.toString)
      } { idLines(ids).size == in.n }
      it.check("id-list equals the generated id set, sorted") {
        val got = idLines(ids)
        val want = Files.readAllLines(java.nio.file.Paths.get(in.expectedIds))
          .asScala.filterNot(in.gaps).sorted
        got == want
      }
      var missing = Set.empty[String]
      it.op("missing_ids") {
        val present = spark.read.csv(ids.toString).select(col("_c0").as("id"))
        missing = spark.read.text(in.expectedIds).select(col("value").as("id"))
          .join(present, Seq("id"), "left_anti").collect().map(_.getString(0)).toSet
      } { missing.size == in.gaps.size }
      it.check("missing-id anti-join equals the planted gaps") { missing == in.gaps }
    } finally {
      Graft.deleteTree(d)
      Graft.deleteTree(ids)
    }
  }

  /** The id-list output's rows, in part-file order. */
  private def idLines(ids: Path): Seq[String] = {
    val parts = Files.list(ids).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    parts.flatMap(p => Files.readAllLines(p).asScala)
  }

  override def layers(tr: Tracer, dir: Path): Map[String, Double] = {
    val listS = tr.span("io.listParquetFiles") {
      (0 until 5).map(_ => Graft.timeS(VdfIO.listParquetFiles(in.dir)))
    }
    val readS = tr.span("io.readVdf") {
      (0 until 3).map(_ => Graft.timeS(rowHash(namespace(in.dir))))
    }
    CountingEmbedder.reset()
    tr.span("transform.embedColumn") {
      Reembed.embedColumn(namespace(in.dir), "title", "vec", new CountingEmbedder(dims))
        .write.format("noop").mode("overwrite").save()
    }
    val calls = CountingEmbedder.calls.get().toDouble
    Map(
      "io.list_s" -> Main.median(listS),
      "io.read_s" -> Main.median(readS),
      "io.files_in" -> in.files.toDouble,
      "io.files_out" -> filesOut.toDouble,
      "transform.embed_calls" -> calls,
      "transform.embed_s" -> CountingEmbedder.nanos.get() / 1e9,
      "transform.rows_per_call" -> CountingEmbedder.rows.get() / math.max(1.0, calls))
  }
}

/** A HashingEmbedder that counts its calls, rows and time. Local mode
  * runs every task in this JVM, so JVM-wide counters see them all. */
final class CountingEmbedder(val dimensions: Int) extends Reembed.Embedder {
  private val inner = new Reembed.HashingEmbedder(dimensions)
  def embed(texts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val out = inner.embed(texts)
    CountingEmbedder.nanos.addAndGet(System.nanoTime() - t0)
    CountingEmbedder.calls.incrementAndGet()
    CountingEmbedder.rows.addAndGet(texts.size)
    out
  }
}

object CountingEmbedder {
  val calls, rows, nanos = new AtomicLong()
  def reset(): Unit = Seq(calls, rows, nanos).foreach(_.set(0))
}
