package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{NamespaceMeta, VdfMeta}
import graft.io.VdfIO

/** Seeded input generators. Each takes the seed and writes only the
  * inputs the program reads; what the generator knows about them (the
  * planted gaps, duplicate groups, token counts) stays on the driver
  * for the correctness checks. The same seed gives byte-identical rows. */
object Gen {
  /** The word vocabulary of the sf0.1 `documents` table: 30 words at
    * ~9k occurrences each plus the rare "dup". Two of them ("the",
    * "a") are stopwords of the quality filter. */
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch", "dup")
  private val Stopwords = IndexedSeq("the", "a", "and", "of", "to", "in")

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  private def words(r: SplittableRandom, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(Vocab(r.nextInt(Vocab.size - 1)))

  // ------------------------------------------------------------ migrate

  final case class MigrateInput(dir: String, index: String, n: Int, dim: Int,
      faultCodes: IndexedSeq[Int])

  /** REST upserts the target rejects per iteration. Fixed, so that
    * every seed does the same amount of retry work. */
  val FaultsPerIteration = 2

  /** A VDF of `n` points (dim-`dim` vectors whose components are
    * multiples of 1/64, so they survive every float/double/JSON hop
    * exactly) with three payload fields, in chunk files; plus the
    * fault schedule: per iteration, the status (429, 500 or 413) with
    * which the target rejects its first `FaultsPerIteration` REST
    * upserts. */
  def migrate(spark: SparkSession, seed: Long, n: Int, dim: Int,
      dir: Path): MigrateInput = {
    val r = rng(seed, 1)
    val schema = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("vector", ArrayType(FloatType, containsNull = false)),
      StructField("lang", StringType), StructField("rank", LongType),
      StructField("title", StringType)))
    val rows = (0 until n).map { i =>
      Row(f"p$i%07d", Seq.fill(dim)((r.nextInt(129) - 64) / 64f),
        s"l${r.nextInt(5)}", r.nextLong(1000000L),
        words(r, 3 + r.nextInt(6)).mkString(" "))
    }
    val df = spark.createDataFrame(rows.asJava, schema).coalesce(1)
    VdfIO.writeVdf(Map(("points", "") -> df), dir.toString,
      exportedFrom = "perfbench", maxRecordsPerFile = 2000L,
      metrics = Map("points" -> "Cosine"))
    val codes = IndexedSeq(429, 500, 413)
    MigrateInput(dir.toString, "points", n, dim,
      IndexedSeq.fill(6)(codes(r.nextInt(codes.size))))
  }

  // ---------------------------------------------------------- transform

  final case class TransformInput(dir: String, index: String, n: Int,
      files: Int, expectedIds: String, gaps: Set[String])

  /** A VDF of about `n` rows in small chunk files (`chunk` rows each).
    * A quarter of the chunks carry an extra `lang` column, so reading
    * the index must unify schemas. The expected-id list covers every
    * id the dataset should hold plus `n/100` deliberate gaps that the
    * dataset lacks. */
  def transform(spark: SparkSession, seed: Long, n: Int, chunk: Int,
      dir: Path): TransformInput = {
    val r = rng(seed, 2)
    val gapCount = math.max(1, n / 100)
    val universe = IndexedSeq.tabulate(n + gapCount)(i => f"d$i%07d")
    val perm = shuffle(universe.indices, r)
    val gaps = perm.take(gapCount).map(universe).toSet
    val present = perm.drop(gapCount).map(universe)
    def row(id: String, drift: Boolean): Row = {
      val base = Seq(id, Seq.fill(16)((r.nextInt(129) - 64) / 64f),
        words(r, 5 + r.nextInt(16)).mkString(" "), r.nextLong(100000L))
      Row.fromSeq(if (drift) base :+ s"l${r.nextInt(5)}" else base)
    }
    val baseSchema = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("vector", ArrayType(FloatType, containsNull = false)),
      StructField("title", StringType), StructField("views", LongType)))
    val nDrift = present.size / 4
    val data = dir.resolve("docs").toString
    def write(ids: Seq[String], drift: Boolean, mode: String): Unit = {
      val schema =
        if (drift) baseSchema.add(StructField("lang", StringType)) else baseSchema
      spark.createDataFrame(ids.map(row(_, drift)).asJava, schema)
        .coalesce(1).write.mode(mode).option("maxRecordsPerFile", chunk.toLong)
        .parquet(data)
    }
    write(present.drop(nDrift), drift = false, "overwrite")
    write(present.take(nDrift), drift = true, "append")
    val files = VdfIO.listParquetFiles(data)
    VdfMeta.write(VdfMeta(
      file_structure = files.map(dir.relativize(_).toString).sorted.toList,
      exported_from = "perfbench",
      indexes = Map("docs" -> List(NamespaceMeta(index_name = "docs",
        total_vector_count = present.size, exported_vector_count = present.size,
        dimensions = 16, data_path = "docs", metric = Some("Cosine")))),
      id_column = Some("id")), dir.toString)
    val expected = dir.resolve("expected_ids.txt")
    Files.write(expected, universe.asJava, StandardCharsets.UTF_8)
    TransformInput(dir.toString, "docs", present.size, files.size,
      expected.toString, gaps)
  }

  // ------------------------------------------------------------- curate

  final case class CurateInput(dir: String, n: Int, budget: Long,
      group: Map[Long, Long], nTok: Map[Long, Int])

  /** A document corpus of `n` docs over the sf0.1 vocabulary, single
    * spaces between words. 12% are exact duplicates of an earlier doc
    * (some with the first word upper-cased, which the fingerprint
    * normalizes away), 12% near duplicates (one or two words
    * replaced), 3% stopword-heavy and 10% outside the 20..80 token
    * band, so every curation stage has work. Sources follow a Zipf
    * mix over 20 names; the per-source token budget binds on the
    * largest few. */
  def curate(spark: SparkSession, seed: Long, n: Int, dir: Path): CurateInput = {
    val r = rng(seed, 3)
    val zipf = (1 to 20).map(1.0 / _)
    val cum = zipf.scanLeft(0.0)(_ + _).tail.map(_ / zipf.sum)
    def source(): String = s"src${cum.indexWhere(_ > r.nextDouble()) max 0}"
    val texts = new Array[IndexedSeq[String]](n)
    val group = new Array[Long](n)
    for (i <- 0 until n) {
      val u = r.nextDouble()
      if (i > 0 && u < 0.12) {
        val j = r.nextInt(i)
        val t = texts(j)
        texts(i) = if (r.nextBoolean()) t.updated(0, t(0).toUpperCase) else t
        group(i) = group(j)
      } else if (i > 0 && u < 0.24) {
        var t = texts(r.nextInt(i)).map(_.toLowerCase)
        for (_ <- 0 to r.nextInt(2)) t = t.updated(r.nextInt(t.size), Vocab(r.nextInt(30)))
        texts(i) = t
        group(i) = i
      } else {
        val v = r.nextDouble()
        val len =
          if (v < 0.05) 8 + r.nextInt(12)
          else if (v < 0.10) 81 + r.nextInt(20)
          else 20 + r.nextInt(61)
        texts(i) =
          if (v > 0.97) IndexedSeq.fill(len)(
            if (r.nextInt(5) < 2) Stopwords(r.nextInt(Stopwords.size))
            else Vocab(r.nextInt(30)))
          else words(r, len)
        group(i) = i
      }
    }
    val ids = (0 until n).map(i => 1000L + i)
    val rows = (0 until n).map(i => Row(ids(i), texts(i).mkString(" "), source()))
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType), StructField("source", StringType)))
    val out = dir.resolve("corpus").toString
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write
      .mode("overwrite").option("maxRecordsPerFile", (n / 4 + 1).toLong)
      .parquet(out)
    val tokens = texts.map(_.size).sum.toLong
    CurateInput(out, n, budget = tokens / 20,
      group = ids.indices.map(i => ids(i) -> ids(group(i).toInt)).toMap,
      nTok = ids.indices.map(i => ids(i) -> texts(i).size).toMap)
  }

  // -------------------------------------------------------------- board

  /** The ten tables `SparkEntry.queries` read, with the sf0.1 schemas
    * at about a tenth of its row counts, as `<dir>/<table>.parquet`
    * directories: 1,500 customers who are also the event users, 15,000
    * orders over 1995..2001, ~37,500 line items, 20,000 events over
    * January 2024 in timestamp order, 3,000 documents over the sf0.1
    * vocabulary, and 1,000 unit-length 64-dim embeddings in 10 labels.
    * Money is whole cents, so decimal sums are exact in both engines. */
  def board(spark: SparkSession, seed: Long, dir: Path): String = {
    val r = rng(seed, 4)
    def cents(max: Int): Double = r.nextInt(max * 100) / 100.0
    def pick(xs: String*): String = xs(r.nextInt(xs.size))
    def ts(epochS: Long, micros: Long) =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(epochS, micros * 1000L))
    val day = 86400L
    val d1995 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * day
    val d1992 = java.time.LocalDate.of(1992, 1, 1).toEpochDay * day
    val d2024 = java.time.LocalDate.of(2024, 1, 1).toEpochDay * day
    def write(name: String, fields: Seq[(String, DataType)], rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava,
          StructType(fields.map { case (n, t) => StructField(n, t) }))
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    val nCust = 1500
    val nOrders = 15000
    write("region", Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    write("nation", Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType), (0 until 25).map(i => Row(i, s"NATION$i", i % 5)))
    write("customer", Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(10000) - 1000, pick("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))))
    write("supplier", Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until 100).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), cents(10000))))
    write("part", Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
      (0 until 2000).map(i => Row(i.toLong, words(r, 3).mkString(" "),
        s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
        pick("STANDARD", "SMALL", "MEDIUM", "LARGE") + " " + pick("ANODIZED", "BRUSHED", "PLATED") +
          " " + pick("TIN", "NICKEL", "BRASS", "STEEL", "COPPER"),
        1 + r.nextInt(50), 900 + cents(1100))))
    write("orders", Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong, pick("F", "O", "P"),
        1000 + cents(499000), ts(d1995 + r.nextInt(2400) * day, 0),
        pick("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
    write("lineitem", Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
      (0 until nOrders).flatMap(o => (1 to 1 + r.nextInt(4)).map(l => Row(o.toLong,
        r.nextInt(2000).toLong, r.nextInt(100).toLong, l, (1 + r.nextInt(50)).toDouble,
        900 + cents(100000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick("R", "A", "N"), pick("O", "F"), ts(d1992 + r.nextInt(2500) * day, 0)))))
    val evTimes = IndexedSeq.fill(20000)(r.nextLong(30 * day * 1000000L)).sorted
    write("events", Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
      evTimes.indices.map(i => Row(i.toLong,
        ts(d2024 + evTimes(i) / 1000000L, evTimes(i) % 1000000L), r.nextInt(nCust).toLong,
        pick("signup", "click", "error", "view", "purchase"), cents(560),
        s"""{"k": ${r.nextInt(100)}}""")))
    write("documents", Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until 3000).map { i =>
        val text = words(r, 10 + r.nextInt(80)).mkString(" ")
        Row(i.toLong, text, pick("en", "en", "en", "zh", "de", "fr", "es"),
          s"src${r.nextInt(20)}", text.length.toLong)
      })
    write("embeddings", Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = false), "label" -> IntegerType),
      (0 until 1000).map { i =>
        val v = Array.fill(64)(r.nextDouble() - 0.5)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
    dir.toString
  }

  /** A seeded Fisher-Yates permutation of `xs`. */
  def shuffle[T: scala.reflect.ClassTag](xs: Seq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
}
