package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

import graft.connectors.Naming
import graft.functions.{CleaningFunctions => CF, HashFunctions => HF, VectorFunctions => VF}

/** Property-based laws (SURVEY §5 item 2): id-normalization idempotence,
  * canonical-hash key-order independence, quantization bounds,
  * schema-union associativity, name-suffix uniqueness.
  *
  * Uses ScalaCheck generators with a fixed seed sweep (deterministic
  * across runs) rather than the scalatestplus bridge, which isn't in
  * this build's offline dependency set. */
class PropertySpec extends SparkSpec {
  import PropertySpec.forAll

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int)(
      body: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb), n) { case (a, b) => body(a, b) }

  private def evalOne[T](c: org.apache.spark.sql.Column): T = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("r")).collect().head.getAs[T]("r")
  }

  test("normalizeId is idempotent") {
    val gen = Gen.oneOf(
      Gen.numStr.suchThat(_.nonEmpty).map(_.take(18)),
      Gen.alphaNumStr.suchThat(_.nonEmpty),
      Gen.uuid.map(_.toString))
    forAll(gen, 20) { s =>
      val once = evalOne[String](CF.normalizeId(lit(s)))
      val twice = evalOne[String](CF.normalizeId(lit(once)))
      assert(once == twice, s"not idempotent for '$s': $once -> $twice")
    }
  }

  test("dataHash ignores map insertion order") {
    forAll(Gen.mapOf(Gen.zip(Gen.alphaNumStr, Gen.long)), 30) { m =>
      val shuffled = scala.util.Random.shuffle(m.toList).toMap
      assert(HF.dataHash(m.map { case (k, v) => k -> (v: Any) }) ==
        HF.dataHash(shuffled.map { case (k, v) => k -> (v: Any) }))
    }
  }

  test("quantizeInt8 output always within [-128, 127] for any input") {
    forAll(Gen.listOfN(8, Gen.chooseNum(-100f, 100f)), 15) { xs =>
      val q = evalOne[scala.collection.Seq[Byte]](VF.quantizeInt8(
        array(xs.map(lit): _*), 127.0))
      assert(q.forall(b => b >= -128 && b <= 127))
      // sign preserved for clearly nonzero inputs
      xs.zip(q).foreach { case (x, b) =>
        if (x > 0.5f) assert(b > 0)
        if (x < -0.5f) assert(b < 0)
      }
    }
  }

  test("createNewName never collides with existing names") {
    val nameGen = Gen.identifier.map(_.take(10)).suchThat(_.nonEmpty)
    forAll2(nameGen, Gen.listOf(nameGen), 50) { (base, existing0) =>
      val existing = existing0.toSet ++ Set(base)
      val fresh = Naming.createNewName(base, existing)
      assert(!existing.contains(fresh))
    }
  }

  test("unionByName(allowMissingColumns) is associative on row multisets") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("id", "a")
    val b = Seq((2, 3.5)).toDF("id", "b")
    val c = Seq((3, true)).toDF("id", "c")
    def u(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.unionByName(y, allowMissingColumns = true)
    val left = u(u(a, b), c)
    val right = u(a, u(b, c))
    val l = left.select(left.columns.sorted.map(col): _*).collect().map(_.toString).sorted
    val r = right.select(right.columns.sorted.map(col): _*).collect().map(_.toString).sorted
    assert(l.sameElements(r))
  }

  test("vector round trip: quantize error bounded by half a step") {
    forAll(Gen.listOfN(6, Gen.chooseNum(-1f, 1f)), 15) { xs =>
      val q = evalOne[scala.collection.Seq[Byte]](VF.quantizeInt8(
        array(xs.map(lit): _*), 127.0))
      xs.zip(q).foreach { case (x, b) =>
        assert(math.abs(x - b / 127.0f) <= (0.5f / 127.0f) + 1e-6f)
      }
    }
  }

  test("dupSpanStats matches a brute-force reference on random corpora") {
    import spark.implicits._
    // small vocab so cross-doc gram collisions actually happen
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpus = Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, doc))
    forAll(corpus, 8) { docs =>
      val n = 3 // 3-grams keep tiny docs in play
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.dedup.Dedup.dupSpanStats(df, "doc_id", "text", n)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // brute force in plain Scala over the same tokenization
      def grams(t: String): Seq[String] = {
        val toks = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
        if (toks.length < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      }
      val all = docs.zipWithIndex.map { case (t, i) => i.toLong -> grams(t) }
      val holders = all.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
      val want = all.filter(_._2.nonEmpty).map { case (id, gs) =>
        id -> (gs.size.toLong, gs.count(g => holders(g) >= 2).toLong)
      }.toMap
      assert(got == want, s"docs=$docs got=$got want=$want")
    }
  }
}

object PropertySpec {
  /** Evaluate `body` on `n` deterministic samples of `gen` (sample i
    * is drawn from seed i). */
  def forAll[A](gen: Gen[A], n: Int = 30)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .foreach(a => body(a))
    }
}
