package graft.expressions

import graft.PropertySpec.forAll
import graft.SparkSpec
import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import org.scalacheck.Gen

class VectorExpressionsSpec extends SparkSpec {

  private def one(c: org.apache.spark.sql.Column): Double = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.cast("double").as("r")).collect().head.getDouble(0)
  }

  private val a = array(lit(1.0f), lit(2.0f), lit(2.0f))
  private val b = array(lit(3.0f), lit(4.0f), lit(0.0f))

  test("native dot/l2sq/l1 match values") {
    assert(one(GraftExtensions.dot(a, b)) === 11.0)
    assert(one(GraftExtensions.l2Sq(a, b)) === 12.0)
    assert(one(GraftExtensions.l1(a, b)) === 6.0)
    assert(math.abs(one(GraftExtensions.cosine(a, a)) - 1.0) < 1e-12)
  }

  test("native expressions agree bit-for-bit with the HOF formulation") {
    import spark.implicits._
    val vecs = (0 until 200).map { i =>
      (i.toLong,
        Array.tabulate(64)(j => (math.sin(i * 64 + j) * 3).toFloat),
        Array.tabulate(64)(j => (math.cos(i * 64 + j) * 2).toFloat))
    }.toDF("id", "va", "vb")
    val diff = vecs.select(
        (GraftExtensions.dot(col("va"), col("vb")) -
         VF.dotProductHof(col("va"), col("vb"))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getDouble(0)
    assert(diff == 0.0, s"native vs HOF dot differ by $diff")
    val diffCos = vecs.select(
        (GraftExtensions.cosine(col("va"), col("vb")) -
         VF.cosineSimilarity(col("va"), col("vb"))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getDouble(0)
    assert(diffCos == 0.0)
  }

  test("null elements, length mismatch, and null arrays all yield null (HOF semantics)") {
    import spark.implicits._
    val df = Seq(
      (Array[java.lang.Float](1.0f, null, 3.0f), Array[java.lang.Float](2.0f, 5.0f, 2.0f)),
      (Array[java.lang.Float](1.0f), Array[java.lang.Float](1.0f, 2.0f)),
      (null, Array[java.lang.Float](1.0f))
    ).toDF("x", "y")
    val rows = df.select(GraftExtensions.dot(col("x"), col("y")).as("d")).collect()
    assert(rows.forall(_.isNullAt(0)),
      "null poisons the fold, exactly like aggregate(zip_with(...)) and the oracle")
  }

  test("dotProduct ≡ dotProductHof on generated arrays: null elements, ragged, null arrays") {
    // element values include signed zeros, NaN, infinities and values
    // whose products overflow float but not double
    val elem: Gen[java.lang.Float] = Gen.frequency(
      8 -> Gen.chooseNum(-1e3f, 1e3f).map(java.lang.Float.valueOf),
      1 -> Gen.oneOf(0.0f, -0.0f, Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity, Float.MaxValue, Float.MinPositiveValue)
        .map(java.lang.Float.valueOf),
      1 -> Gen.const(null))
    val vec: Gen[Array[java.lang.Float]] = Gen.frequency(
      9 -> Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, elem)).map(_.toArray),
      1 -> Gen.const(null))
    // same length most of the time so the fold is reached
    val pair: Gen[(Array[java.lang.Float], Array[java.lang.Float])] =
      Gen.frequency(
        4 -> Gen.chooseNum(0, 40).flatMap(n => Gen.zip(
          Gen.listOfN(n, elem).map(_.toArray),
          Gen.listOfN(n, elem).map(_.toArray))),
        1 -> Gen.zip(vec, vec))
    val pairs = Seq.newBuilder[(Array[java.lang.Float], Array[java.lang.Float])]
    forAll(pair, 400)(pairs += _)
    val data = pairs.result().zipWithIndex.map { case ((x, y), i) => Row(i.toLong, x, y) }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("x", ArrayType(FloatType)), StructField("y", ArrayType(FloatType))))
    val local = spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
    val viaRdd = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
    // the local relation is evaluated interpreted; the RDD scan runs
    // the projection inside whole-stage codegen
    for ((df, mode) <- Seq(local -> "interpreted", viaRdd -> "codegen")) {
      val got = df.select(col("id"),
          VF.dotProduct(col("x"), col("y")).as("n"),
          VF.dotProductHof(col("x"), col("y")).as("h"))
        .collect()
      assert(got.length == data.length)
      def bits(r: Row, k: Int): Option[Long] =
        if (r.isNullAt(k)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(k)))
      val bad = got.filter(r => bits(r, 1) != bits(r, 2))
      assert(bad.isEmpty, s"$mode: dotProduct differs from the HOF reference on " +
        s"${bad.length} rows: " + bad.take(3).map(r =>
          s"id=${r.getLong(0)} ${r.get(1)} vs ${r.get(2)}").mkString("; "))
      // the sample holds both null and non-null results
      assert(got.exists(_.isNullAt(1)) && got.exists(r => !r.isNullAt(1)))
    }
  }

  test("SQL registration via GraftExtensions.register") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq((Array(1f, 0f), Array(1f, 0f))).toDF("a", "b")
      .createOrReplaceTempView("vexpr")
    val r = spark.sql(
      """SELECT graft_dot(a, b) AS d, graft_cosine(a, b) AS c,
        |       graft_l2sq(a, b) AS l2, graft_l1(a, b) AS l1 FROM vexpr""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0)
  }

  test("codegen path is exercised (no interpreted fallback errors at scale)") {
    import spark.implicits._
    val n = 5000
    val vecs = (0 until n).map(i =>
      (i.toLong, Array.tabulate(32)(j => ((i + j) % 7).toFloat))).toDF("id", "v")
    // self-similarity must be 1 for nonzero vectors across a full scan
    val bad = vecs.filter(size(col("v")) > 0)
      .select(GraftExtensions.cosine(col("v"), col("v")).as("c"))
      .filter(abs(col("c") - 1.0) > 1e-9).count()
    assert(bad == 0)
  }

  test("NearestList equals the array-of-dots formulation (values, ties, nulls)") {
    import spark.implicits._
    val dim = 16
    val k = 40 // past the old formulation's comfortable codegen size
    val cents: Array[Array[Float]] = Array.tabulate(k)(c =>
      Array.tabulate(dim)(j => (math.sin(c * dim + j) * 4).toFloat))
    // row corpus including exact copies of centroids (ties-by-identity),
    // a duplicated centroid pair (true tie → lowest index must win),
    // a null element row, and a ragged row
    val dupCents = cents.updated(k - 1, cents(0))
    val rows: Seq[(Long, Array[java.lang.Float])] =
      (0 until 300).map(i => (i.toLong,
        Array.tabulate(dim)(j => java.lang.Float.valueOf(
          (math.cos(i * dim + j) * 5).toFloat)))) ++
      cents.zipWithIndex.map { case (c, i) =>
        (1000L + i, c.map(java.lang.Float.valueOf)) } :+
      (2000L, Array.tabulate(dim)(j => if (j == 3) null
        else java.lang.Float.valueOf(j.toFloat))) :+
      (2001L, Array.tabulate(dim - 2)(j => java.lang.Float.valueOf(j.toFloat)))
    val df = rows.toDF("id", "v")

    def fused(cs: Array[Array[Float]]) =
      org.apache.spark.sql.graftbridge.Bridge.column(
        NearestList(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("v")), cs))
    for (cs <- Seq(cents, dupCents)) {
      val got = df.withColumn("s", array(cs.map { c =>
          val half = c.map(x => x.toDouble * x).sum / 2.0
          GraftExtensions.dot(col("v"), lit(c)) - lit(half)
        }: _*))
        .select(col("id"), fused(cs).as("fused"),
          expr("CAST(array_position(s, array_max(s)) - 1 AS INT)").as("old"))
        .collect()
      got.foreach { r =>
        val (f, o) = (Option(r.get(1)), Option(r.get(2)))
        // the old form encodes "no argmax" (all-null scores) as null
        // or -1 depending on the null path; both mean null here
        val oldNorm = o.filter(_ != -1)
        assert(f == oldNorm, s"id=${r.getLong(0)}: fused=$f old=$o")
      }
      // exact-copy rows must land on their own centroid (or the
      // duplicate's FIRST index)
      val hits = df.filter(col("id") >= 1000L && col("id") < 2000L)
        .select(col("id"), fused(cs).as("l")).collect()
        .map(r => (r.getLong(0) - 1000L).toInt -> r.getInt(1)).toMap
      cents.indices.foreach { i =>
        if ((cs eq dupCents) && i == k - 1) {
          // row 1000+(k-1) carries the ORIGINAL cents(k-1), which the
          // duplicated matrix no longer contains — nothing to pin
        } else assert(hits(i) == i, s"centroid copy $i -> ${hits(i)}")
      }
      // the duplicated centroid (matrix indexes 0 and k-1) must
      // resolve to the FIRST index — the tie rule
      if (cs eq dupCents) assert(hits(0) == 0)
    }
    // interpreted path agrees with codegen (direct eval)
    val e = NearestList(org.apache.spark.sql.graftbridge.Bridge
      .expression(col("v")), cents)
    val lit0 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      cents(7).toSeq, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    assert(e.withNewChildren(Seq(lit0)).eval(null) == 7)
  }

  test("PqEncode equals the per-code l2Sq array formulation (short, null-element, tie)") {
    import spark.implicits._
    val (m, ksub, dsub) = (4, 12, 8)
    val codebooks: Array[Array[Array[Float]]] = Array.tabulate(m)(s =>
      Array.tabulate(ksub)(c =>
        Array.tabulate(dsub)(j => (math.sin(s * 97 + c * 13 + j) * 3).toFloat)))
    // duplicate codeword inside subspace 1 → tie must keep the LOWER code
    codebooks(1)(9) = codebooks(1)(2).clone()
    val dim = m * dsub
    val rows: Seq[(Long, Array[java.lang.Float])] =
      (0 until 300).map(i => (i.toLong, Array.tabulate(dim)(j =>
        java.lang.Float.valueOf((math.cos(i * dim + j) * 4).toFloat)))) ++
      // exact copies of codewords embedded in a full vector (subspace 1)
      (0 until ksub).map { c =>
        val v = Array.fill(dim)(java.lang.Float.valueOf(9f))
        codebooks(1)(c).zipWithIndex.foreach { case (x, j) =>
          v(dsub + j) = java.lang.Float.valueOf(x) }
        (1000L + c, v)
      } :+
      // short vector: first 2 subspaces complete, rest missing
      (2000L, Array.tabulate(2 * dsub + 3)(j => java.lang.Float.valueOf(j.toFloat))) :+
      // null element in subspace 2 only
      (2001L, Array.tabulate(dim)(j => if (j == 2 * dsub + 1) null
        else java.lang.Float.valueOf(j.toFloat)))
    val df = rows.toDF("id", "v")

    // the pre-r13c formulation, reconstructed verbatim
    val oldForm = array(codebooks.indices.map { s =>
      val sub = slice(col("v"), s * dsub + 1, dsub)
      val dists = array(codebooks(s).map(c =>
        GraftExtensions.l2Sq(sub, lit(c))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
    val fused = org.apache.spark.sql.graftbridge.Bridge.column(
      PqEncode(org.apache.spark.sql.graftbridge.Bridge.expression(col("v")),
        codebooks))
    val got = df.select(col("id"), fused.as("f"), oldForm.as("o")).collect()
    got.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2),
        s"id=${r.getLong(0)}: fused=${r.getSeq[Any](1)} old=${r.getSeq[Any](2)}")
    }
    // the codeword-copy rows land on their own code in subspace 1,
    // with the duplicated codeword resolving to the FIRST index
    val bySub1 = got.filter(r => r.getLong(0) >= 1000L && r.getLong(0) < 2000L)
      .map(r => (r.getLong(0) - 1000L).toInt -> r.getSeq[Any](1)(1)).toMap
    (0 until ksub).foreach { c =>
      assert(bySub1(c) == (if (c == 9) 2 else c), s"codeword $c -> ${bySub1(c)}")
    }
    // short vector: complete prefix encodes, truncated tail is null
    val shortRow = got.find(_.getLong(0) == 2000L).get.getSeq[Any](1)
    assert(shortRow(0) != null && shortRow(1) != null
      && shortRow(2) == null && shortRow(3) == null)
    // null element poisons ONLY its subspace
    val nullRow = got.find(_.getLong(0) == 2001L).get.getSeq[Any](1)
    assert(nullRow(2) == null && nullRow(0) != null
      && nullRow(1) != null && nullRow(3) != null)
  }

  test("MatVecProject equals the array-of-dots formulation; nulls poison the whole output") {
    import spark.implicits._
    val (rows, dim) = (40, 16) // past the old form's comfortable codegen size
    val mat: Array[Array[Double]] = Array.tabulate(rows)(r =>
      Array.tabulate(dim)(j => math.sin(r * dim + j) * 3))
    val mean: Array[Double] = Array.tabulate(dim)(j => math.cos(j) * 0.5)
    val data: Seq[(Long, Array[java.lang.Float])] =
      (0 until 200).map(i => (i.toLong,
        Array.tabulate(dim)(j => java.lang.Float.valueOf(
          (math.cos(i * dim + j) * 5).toFloat)))) :+
      (2000L, Array.tabulate(dim)(j => if (j == 3) null
        else java.lang.Float.valueOf(j.toFloat))) :+      // null element
      (2001L, Array.tabulate(dim - 2)(j => java.lang.Float.valueOf(j.toFloat)))
    val df = data.toDF("id", "v")
    def fused = org.apache.spark.sql.graftbridge.Bridge.column(
      MatVecProject(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("v")), mat, mean))
    val old = array(mat.map(row =>
      GraftExtensions.dot(
        org.apache.spark.sql.functions.zip_with(
          col("v").cast("array<double>"),
          lit(mean), (x, m) => x - m),
        lit(row))): _*)
    val got = df.select(col("id"), fused.as("f"), old.as("o")).collect()
    got.foreach { r =>
      if (r.getLong(0) >= 2000L) {
        // whole-output null for null-element and ragged rows (the old
        // form nulls per-output; the projection mixes all dims, so the
        // fused kernel nulls everything — assert exactly that)
        assert(r.isNullAt(1), s"id=${r.getLong(0)} should be null")
      } else {
        assert(!r.isNullAt(1) && r.getSeq[Double](1) == r.getSeq[Double](2),
          s"id=${r.getLong(0)}")
      }
    }
    // interpreted eval agrees with the codegen'd DataFrame path
    val e = MatVecProject(org.apache.spark.sql.graftbridge.Bridge
      .expression(col("v")), mat, mean)
    val probe = Array.tabulate(dim)(j => (j * 0.25f - 1f))
    val lit0 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      probe.toSeq, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    val evd = e.withNewChildren(Seq(lit0)).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val viaDf = Seq(Tuple1(probe.map(java.lang.Float.valueOf))).toDF("v")
      .select(fused.as("f")).collect().head.getSeq[Double](0).toArray
    assert(evd.toSeq == viaDf.toSeq)
  }

  test("matrix kernels enforce the plan-literal sizing ceiling with the broadcast remediation") {
    import org.apache.spark.sql.graftbridge.Bridge
    // a FAISS-scale coarse quantizer (64k x 768 = 49M elements) must
    // fail fast at construction, not ship a ~200 MB task binary; the
    // message names the escape hatch (KernelConstants scaladoc)
    val tooWide = 1 << 16 // rows
    val dim = 768
    // rectangular without allocating 49M floats: share one row object
    val row = new Array[Float](dim)
    val cents = Array.fill(tooWide)(row)
    val e = intercept[IllegalArgumentException] {
      NearestList(Bridge.expression(
        org.apache.spark.sql.functions.col("v")), cents)
    }
    assert(e.getMessage.contains("broadcast"), e.getMessage)
    val mrow = new Array[Double](dim)
    val e2 = intercept[IllegalArgumentException] {
      MatVecProject(Bridge.expression(
        org.apache.spark.sql.functions.col("v")),
        Array.fill(tooWide)(mrow), mrow)
    }
    assert(e2.getMessage.contains("broadcast"), e2.getMessage)
    // the largest committed regime is far inside the ceiling
    assert(256L * 768 < KernelConstants.MaxLiteralElems / 50)
  }
}
