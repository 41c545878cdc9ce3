package graft.expressions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.{QueriesCommon, SparkSpec}
import graft.PropertySpec.forAll
import graft.pipeline.Curation

/** Pins curate's codegen'd LSH band kernel ([[MinhashMd5Bands]]) to the
  * SQL shingle/md5 tower it replaced — inlined here verbatim as the
  * reference — at the (doc_id, band, v) level, on generated text over
  * an alphabet built to break a byte scan: every Java-`\s` byte, NBSP
  * (not a separator), case folds that change byte length or need the
  * ICU tables, stopwords, long runs of one word, and "", " ", null.
  * Then pins the drop sets of the LSH stage on a corpus with planted
  * near-duplicates. */
class MinhashBandsSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-kernel band construction of `Curation.lshDropIds`. */
  private def refBands(df: DataFrame): DataFrame = {
    val shs = when(size(col("__toks")) < 3,
        array(array_join(col("__toks"), " ")))
      .otherwise(expr(
        "array_distinct(transform(sequence(1, size(__toks) - 2), " +
          "i -> array_join(slice(__toks, i, 3), ' ')))"))
    val mhCols = (0 until 8).map(i => expr(
      s"array_min(transform(__shs, x -> md5(concat('$i:', x))))").as(s"mh$i"))
    df.select(col("doc_id"), QueriesCommon.toksExpr.as("__toks"))
      .select(col("doc_id"), shs.as("__shs"))
      .select(col("doc_id") +: mhCols: _*)
      .select(col("doc_id"), posexplode(array(
        concat(col("mh0"), col("mh1")), concat(col("mh2"), col("mh3")),
        concat(col("mh4"), col("mh5")), concat(col("mh6"), col("mh7"))))
        .as(Seq("band", "v")))
  }

  /** The LSH keep-min rule over the reference bands. */
  private def refDropIds(df: DataFrame): DataFrame =
    refBands(df)
      .withColumn("__mn", min(col("doc_id")).over(
        Window.partitionBy("band", "v")))
      .filter(col("__mn") < col("doc_id"))
      .select("doc_id")

  private def kernelBands(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      posexplode(Curation.lshBandKeys(col("text"))).as(Seq("band", "v")))

  private def triples(df: DataFrame): Seq[(Long, Int, Option[String])] =
    df.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), Option(r.getString(2)))).sorted

  private def ids(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  private def frame(texts: Seq[Option[String]]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  /** `df` read back from Parquet: no local relation for the optimizer
    * to fold, so the kernel runs in generated code. */
  private def viaParquet(df: DataFrame)(body: DataFrame => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("minhash-bands")
    try {
      df.write.mode("overwrite").parquet(dir.toString)
      body(spark.read.parquet(dir.toString))
    } finally deleteTree(dir.toFile)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def show(t: Option[String]): String =
    t.map(_.flatMap {
      case c if c < ' ' || c == ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }).map("\"" + _ + "\"").getOrElse("null")

  // the alphabet: words (stopwords, upper-case ASCII, ICU-only and
  // length-changing case folds, NBSP glued inside a token) and the
  // separator bytes Java's \s matches
  private val word = Gen.oneOf(
    "the", "a", "of", "and", "is", "foo", "bar", "baz", "qux",
    "FOO", "Bar", "QUUX", "\u0130", "\u0130stanbul", "\u00df", "STRASSE",
    "\u1e9e", "\u00e9", "\u00c9", "caf\u00e9", "\ua7c0", "\u03a3\u0391\u03a3",
    "a\u00a0b", "\u00a0", "x1", "\u65e5\u672c")
  private val sep = Gen.oneOf(" ", "\t", "\n", "\r", "\u000b", "\f")
  private val sepRun = Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, sep))
    .map(_.mkString)
  private val edge = Gen.frequency(3 -> Gen.const(""), 1 -> sepRun)
  private val mixedDoc = for {
    n <- Gen.chooseNum(0, 120)
    ws <- Gen.listOfN(n, word)
    ss <- Gen.listOfN(n, sepRun)
    lead <- edge
    trail <- edge
  } yield lead + ws.zip(ss).map { case (w, s) => w + s }.mkString.dropRight(
    ss.lastOption.map(_.length).getOrElse(0)) + trail
  private val runDoc = for {
    w <- word
    n <- Gen.chooseNum(1, 120)
    s <- sepRun
  } yield Seq.fill(n)(w).mkString(s)
  private val doc: Gen[Option[String]] = Gen.frequency(
    8 -> mixedDoc.map(Some(_)), 2 -> runDoc.map(Some(_)),
    1 -> Gen.oneOf(None, Some(""), Some(" ")))

  private lazy val generated: Seq[Option[String]] = {
    val out = Seq.newBuilder[Option[String]]
    out ++= Seq(None, Some(""), Some(" "), Some("\t"), Some("one"),
      Some("one two"), Some("one two three"), Some("\u00a0"))
    forAll(doc, 400)(out += _)
    out.result()
  }

  private def assertSameBands(df: DataFrame, texts: Seq[Option[String]]): Unit = {
    val want = triples(refBands(df)).groupBy(_._1)
    val got = triples(kernelBands(df)).groupBy(_._1)
    assert(got.size == texts.size && got.values.forall(_.size == 4),
      "expected 4 band rows per doc")
    val bad = texts.indices.map(_.toLong).filter(i => got.get(i) != want.get(i))
    assert(bad.isEmpty, s"kernel bands differ from the SQL form on ${bad.size} docs: " +
      bad.take(5).map(i => show(texts(i.toInt))).mkString("; "))
  }

  test("band kernel ≡ SQL shingle/md5 form at (doc_id, band, v), interpreted and codegen'd") {
    val df = frame(generated)
    assertSameBands(df, generated)
    viaParquet(df)(assertSameBands(_, generated))
  }

  test("null text yields 4 null band keys; all null-text docs but the lowest id are dropped") {
    val texts = Seq(Some("a b c"), None, Some(""), None, Some("x y z"), None)
    val df = frame(texts)
    viaParquet(df) { p =>
      val nullRows = kernelBands(p).filter(col("doc_id") === 1L).collect()
      assert(nullRows.map(_.getInt(1)).sorted.toSeq == Seq(0, 1, 2, 3))
      assert(nullRows.forall(_.isNullAt(2)))
      assert(triples(kernelBands(p)) == triples(refBands(p)))
      assert(ids(Curation.lshDropIds(p)) == Set(3L, 5L))
      assert(ids(refDropIds(p)) == Set(3L, 5L))
    }
  }

  test("LSH stage drops exactly the reference's ids on a corpus with planted near-duplicates") {
    val vocab = (0 until 400).map(i => s"w$i")
    val base = Gen.chooseNum(20, 60).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
    def edit(ws: List[String], seed: Long): List[String] = {
      val r = new scala.util.Random(seed)
      (0 until 1 + r.nextInt(3)).foldLeft(ws) { (acc, _) =>
        acc.updated(r.nextInt(acc.size), vocab(r.nextInt(vocab.size)))
      }
    }
    val texts = Seq.newBuilder[Option[String]]
    forAll(base, 120) { ws =>
      val h = ws.hashCode.toLong
      texts += Some(ws.mkString(" "))
      // a third of the docs get a near-duplicate, some with mangled
      // whitespace and case (same tokens, different raw text)
      if (h % 3 == 0) texts += Some(edit(ws, h).mkString(" "))
      if (h % 5 == 0) texts += Some(ws.mkString("\t").toUpperCase + "\n")
    }
    val corpus = texts.result()
    viaParquet(frame(corpus)) { df =>
      val want = ids(refDropIds(df))
      assert(want.nonEmpty, "the planted near-duplicates must collide")
      assert(ids(Curation.lshDropIds(df)) == want)
      assert(ids(Curation.nearDedupLsh(df)) == ids(df) -- want)
    }
  }
}
