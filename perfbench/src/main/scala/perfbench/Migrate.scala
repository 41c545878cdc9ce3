package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connectors.UpsertPolicy
import graft.connectors.wire._
import graft.io.VdfIO
import graft.similarity.{Ivf, Knn}

/** migrate: VDF → qdrant (REST upserts under injected faults) →
  * VDF (REST scroll export) → milvus (gRPC over HTTP/2), every byte
  * over real localhost sockets against the program's stub servers,
  * which run in this process. Fresh servers per iteration. */
final class Migrate(spark: SparkSession, seed: Long, scale: Double) extends Workload {
  private val n = math.max(500, (8000 * scale).toInt)
  private val dim = 64
  private val batch = 500
  private var in: Gen.MigrateInput = _
  private var work: Path = _
  private var counters = Map.empty[String, Double]
  private var exportBytes = 0L

  def rows: Long = n.toLong
  override val legs: Seq[(String, String)] = Seq(
    "import_rest_rows_per_s" -> "import_rest", "export_rows_per_s" -> "export",
    "import_h2_rows_per_s" -> "import_h2")
  override def iterationCounters: Map[String, Double] = counters

  def setup(dir: Path): Unit = {
    in = Gen.migrate(spark, seed, n, dim, dir.resolve("source"))
    work = dir
  }

  private def source: DataFrame = VdfIO.readVdf(spark, in.dir)((in.index, ""))

  /** (id, vector as doubles, payload entries sorted by key). */
  private def canonical(df: DataFrame): DataFrame = df.select(
    col("id").cast("string").as("id"),
    col("vector").cast("array<double>").as("vector"),
    array_sort(map_entries(col("payload"))).as("payload"))

  def iteration(it: Iter): Unit = {
    val http = new WireStubServer
    val mh2 = new MilvusStubServer()
    val h2 = new GrpcH2StubServer(mh2.dispatchH2)
    val out = work.resolve(s"export${it.index}")
    val c = in.index
    try {
      http.failNextWrites(Gen.FaultsPerIteration,
        in.faultCodes(it.index % in.faultCodes.size))
      val shrinks0 = UpsertPolicy.shrinkEvents.get()
      val dials0 = GrpcH2Client.dials.get()
      it.op("import_rest") {
        Graft(spark, "import", "--db", "qdrant", "--db_root", http.url,
          "--dir", in.dir, "--batch_size", batch.toString)
      } { http.collectionSize(c) == n }
      val shrinks = UpsertPolicy.shrinkEvents.get() - shrinks0
      it.op("export") {
        Graft(spark, "export", "--db", "qdrant", "--db_root", http.url,
          "--collections", c, "--batch_size", batch.toString, "--out", out.toString)
      } { VdfIO.readMeta(out.toString).indexes(c).map(_.exported_vector_count).sum == n }
      it.op("import_h2") {
        Graft(spark, "import", "--db", "milvus", "--db_root", s"h2://${h2.hostPort}",
          "--dir", out.toString, "--batch_size", batch.toString)
      } { mh2.collectionSize(c) == n }
      val log = http.requestLog.asScala.toSeq
      val upserts = log.filter(_.startsWith(s"PUT /collections/$c/points n="))
      val sentRows = upserts.map(_.split("n=")(1).trim.toLong).sum
      counters = Map(
        "wire.pages" -> log.count(_.contains("/points/scroll")).toDouble,
        "wire.upsert_batches" -> upserts.size.toDouble,
        "wire.resent_rows" -> (sentRows - n).toDouble,
        "wire.shrinks" -> shrinks.toDouble,
        "wire.useful_ratio" -> n.toDouble / sentRows,
        "wire.h2_dials" -> (GrpcH2Client.dials.get() - dials0).toDouble,
        "wire.h2_connections" -> h2.connections.get().toDouble)
      if (it.warmup) exportBytes = Graft.treeBytes(out)
      lazy val target = canonical(
        WireVdb.read(spark, "milvus", s"h2://${h2.hostPort}", c, batchSize = batch))
      lazy val expected = canonical(source.select(col("id"), col("vector"),
        map(lit("lang"), col("lang"), lit("rank"), col("rank").cast("string"),
          lit("title"), col("title")).as("payload")))
      it.check("milvus target id set equals the generated source") {
        val t = target.select("id")
        val s = expected.select("id")
        t.except(s).isEmpty && s.except(t).isEmpty && t.count() == n
      }
      it.check("milvus (id, vector, payload) checksum equals the generated source") {
        Graft.checksum(target) == Graft.checksum(expected)
      }
    } finally {
      h2.stop(); mh2.stop(); http.stop()
      Graft.deleteTree(out)
    }
  }

  override def layers(tr: Tracer, dir: Path): Map[String, Double] = {
    val http = new WireStubServer
    try {
      tr.span("seed_qdrant") {
        Graft(spark, "import", "--db", "qdrant", "--db_root", http.url,
          "--dir", in.dir, "--batch_size", batch.toString)
      }
      val d = WireDialect("qdrant", http.url)
      val fetchMs = tr.span("wire.fetchPage") {
        (0 until 100).map { i =>
          Graft.timeS(d.fetchPage(in.index, (i * batch % n).toLong, batch,
            wantVector = true, wantPayload = true)) * 1e3
        }
      }
      val pts = source.collect().map { r =>
        WirePoint(r.getAs[String]("id"), r.getSeq[Float](r.fieldIndex("vector")).map(_.toDouble).toSeq,
          Map("lang" -> r.getAs[String]("lang"),
            "rank" -> r.getAs[Long]("rank").toString,
            "title" -> r.getAs[String]("title")))
      }.toIndexedSeq
      d.create("probe", dim)
      val upsertMs = tr.span("wire.upsertOnce") {
        (0 until 100).map { i =>
          val from = i * batch % n
          Graft.timeS(d.upsertOnce("probe", pts.slice(from, from + batch))) * 1e3
        }
      }
      val writeS = tr.span("io.writeNamespace") {
        (0 until 3).map { i =>
          val to = dir.resolve(s"write_probe$i")
          try Graft.timeS(VdfIO.writeNamespace(source, to.toString, "points",
            maxRecordsPerFile = 2000L))
          finally Graft.deleteTree(to)
        }
      }
      val vecs = source.select(
        monotonically_increasing_id().as("vec_id"), col("vector").as("embedding"))
        .cache()
      val q = Array.fill(dim)(0.25f)
      val cents = vecs.limit(16).collect().zipWithIndex
        .map { case (r, i) => i -> r.getSeq[Float](1).toArray }.toSeq
      val vectorS = tr.span("kernels.vector") {
        (0 until 3).map { _ =>
          Graft.timeS(Ivf.assignTo(vecs, cents, "vec_id", "embedding")
            .select(graft.functions.VectorFunctions.dotProduct(col("embedding"), lit(q)),
              graft.functions.VectorFunctions.l2Distance(col("embedding"), lit(q)),
              col("list_id"))
            .write.format("noop").mode("overwrite").save())
        }
      }
      val recall = tr.span("similarity.recall") { annRecall(vecs) }
      vecs.unpersist()
      val board = tr.span("board")(new Board(spark, seed).probe(tr, dir))
      transformProbe(tr, dir) ++ board ++ Map(
        "wire.page_fetch_ms_p50" -> Main.quantile(fetchMs, 0.5),
        "wire.page_fetch_ms_p90" -> Main.quantile(fetchMs, 0.9),
        "wire.upsert_ms_p50" -> Main.quantile(upsertMs, 0.5),
        "wire.upsert_ms_p90" -> Main.quantile(upsertMs, 0.9),
        "io.write_s" -> Main.median(writeS),
        "io.bytes_per_row" -> exportBytes.toDouble / n,
        "kernels.vector_s" -> Main.median(vectorS),
        "similarity.ann_recall_at_10" -> recall)
    } finally http.stop()
  }

  /** The transform pipeline (`Transform`) on its own seeded input:
    * one iteration that makes all its checks, one timed iteration for
    * the leg throughputs, then its layer probes. A failed op or check
    * fails the run. */
  private def transformProbe(tr: Tracer, dir: Path): Map[String, Double] = {
    val tf = new Transform(spark, seed, scale)
    tf.setup(dir.resolve("transform"))
    val checked = new Iter(0, warmup = true, Some(tr))
    val timed = new Iter(1, warmup = false, Some(tr))
    tr.span("transform.checked")(tf.iteration(checked))
    tr.span("transform.timed")(tf.iteration(timed))
    require(checked.ok && timed.ok && checked.checkFailures.isEmpty,
      s"transform probe failed: ${checked.checkFailures.mkString(", ")}")
    val legs = tf.legs.map { case (m, op) =>
      m -> tf.rows / timed.ops.find(_.name == op).get.seconds }
    legs.toMap ++ tf.layers(tr, dir)
  }

  /** Mean recall@10 of the IVF route (16 lists, 4 probed) against the
    * exact top-10, over 20 seeded query vectors outside the corpus. */
  private def annRecall(vecs: DataFrame): Double = {
    import spark.implicits._
    val r = new java.util.SplittableRandom(seed + 99)
    val queries = (0 until 20).map(j =>
      (-1L - j, Array.fill(dim)((r.nextInt(129) - 64) / 64f).toSeq))
      .toDF("q_id", "q_vec")
    val index = Ivf.build(vecs, "vec_id", "embedding", nlist = 16, seed = seed)
    def topk(df: DataFrame) = df.select(col("q_id"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val approx = topk(Ivf.search(index, queries, 10, nprobe = 4))
    val exact = topk(Knn.bruteForceTopK(queries, vecs, 10))
    exact.map { case (qid, ids) =>
      approx.getOrElse(qid, Set.empty[Long]).intersect(ids).size / ids.size.toDouble
    }.sum / exact.size
  }
}
