package graft

/** Both regimes of the small-input cost model (SURVEY §7.6): every
  * size-dependent decision — AQE, shuffle fan-out, kernel fan-out —
  * keys off total input bytes vs `graft.adaptive.minInputBytes`. The
  * bench exercises only the sub-threshold branch (test data is
  * megabytes), so the at-scale branch is pinned here by lowering the
  * threshold to one byte.
  *
  * Round 8: the branch settings live on a per-branch FORKED session
  * (the returned DataFrame's `sparkSession`), never on the caller's —
  * so the assertions read the branch session's conf and additionally
  * pin that the caller's conf is untouched and that two concurrent
  * queries in different regimes each keep their own settings. */
class QueriesCommonSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val prop = "graft.adaptive.minInputBytes"

  private def withThreshold[A](v: Option[String])(body: => A): A = {
    val old = Option(System.getProperty(prop))
    try {
      v match {
        case Some(x) => System.setProperty(prop, x)
        case None => System.clearProperty(prop)
      }
      body
    } finally {
      old match {
        case Some(x) => System.setProperty(prop, x)
        case None => System.clearProperty(prop)
      }
    }
  }

  test("sub-threshold inputs: AQE off, fan-out sized from bytes, kernels fanned") {
    withThreshold(None) { // default 1 GiB; test data is far below
      val t = QueriesCommon.table(spark, dir, "documents")
      val branch = t.sparkSession
      assert(branch.conf.get("spark.sql.adaptive.enabled") == "false")
      // ~0.5 MB input → the 4-partition parallelism floor (which this
      // test session's default happens to equal)
      assert(branch.conf.get("spark.sql.shuffle.partitions") == "4")
      // bloom injection stays at Spark's conservative defaults below
      // the gate (the extra build stage is pure floor at MB scale)
      assert(branch.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold") == "10MB")
      // single-row-group scan = 1 task; the fanned loader must widen it
      val fanned = QueriesCommon.fannedTable(spark, dir, "documents")
      assert(fanned.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
    }
  }

  test("at-scale inputs: AQE on, session fan-out restored, bare scan") {
    withThreshold(Some("1")) { // everything is now "at scale"
      val t = QueriesCommon.table(spark, dir, "documents")
      val branch = t.sparkSession
      assert(branch.conf.get("spark.sql.adaptive.enabled") == "true")
      // AQE owns shuffle sizing; the session default must come back
      assert(branch.conf.get("spark.sql.shuffle.partitions") == "4")
      // at-scale branch widens the runtime bloom-filter gates so a
      // probe side that grows with the fact table still injects, and
      // sizes the fallback filter from the branch's size class
      // (BloomProbe A/B, BASELINE.md §e, docs/artifacts/bloom15_r9.txt)
      assert(branch.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold") == "1GB")
      // the tiny test dir sits in size class 0: 4M expected keys,
      // 32M-bit (4 MB) fallback filter
      assert(branch.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems") == "4000000")
      assert(branch.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.numBits") == "32000000")
      assert(branch.conf.get("spark.sql.join.preferSortMergeJoin") == "false")
      // no round-robin exchange on the at-scale branch: the fanned
      // loader degrades to the bare scan (its single row-group task)
      val bare = QueriesCommon.fannedTable(spark, dir, "documents")
      assert(bare.rdd.getNumPartitions == 1)
      assert(!bare.queryExecution.executedPlan.toString
        .contains("RoundRobinPartitioning"))
    }
  }

  test("spineTable binds to the table branch with only bloom injection off, in both regimes") {
    // One resolver serves both loaders; the spine flag may change the
    // runtime-filter switch and nothing else of the branch conf.
    val bloom = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    for (threshold <- Seq(None, Some("1"))) withThreshold(threshold) {
      val plain = QueriesCommon.table(spark, dir, "documents").sparkSession
      val spine = QueriesCommon.spineTable(spark, dir, "documents").sparkSession
      assert(plain ne spine, s"threshold $threshold: one shared branch")
      assert(plain.conf.get(bloom) == "true")
      assert(spine.conf.get(bloom) == "false")
      val p = plain.conf.getAll - bloom
      val q = spine.conf.getAll - bloom
      val diff = (p.keySet ++ q.keySet).filter(k => p.get(k) != q.get(k))
      assert(diff.isEmpty, s"threshold $threshold: branch confs differ on " +
        diff.toSeq.sorted.map(k => s"$k=${p.get(k)}/${q.get(k)}").mkString(", "))
    }
  }

  test("table() never mutates the caller's session conf") {
    val before = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions",
      "spark.sql.join.preferSortMergeJoin",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    withThreshold(Some("1")) {
      QueriesCommon.table(spark, dir, "documents").count()
    }
    withThreshold(None) {
      QueriesCommon.table(spark, dir, "documents").count()
    }
    before.foreach { case (k, v) =>
      assert(spark.conf.getOption(k) == v,
        s"$k mutated on the caller's session")
    }
  }

  test("concurrent queries in different regimes keep their own branch settings") {
    // The round-7 audit race: query A (at-scale) and query B (small)
    // interleaving table() calls on one session must NOT see each
    // other's settings. Forked branches make the settings immutable
    // per plan — assert both the conf isolation and that concurrently
    // EXECUTED queries in both regimes return correct results.
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val big = withThreshold(Some("1")) {
      QueriesCommon.table(spark, dir, "documents")
    }
    val small = withThreshold(None) {
      QueriesCommon.table(spark, dir, "documents")
    }
    assert(big.sparkSession ne small.sparkSession)
    assert(big.sparkSession.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(small.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false")

    // run an aggregation on each branch concurrently, several times —
    // results must agree with each other and the settings must hold
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    import org.apache.spark.sql.functions._
    def job(t: org.apache.spark.sql.DataFrame, wantAqe: String): Runnable =
      () => try {
        start.await()
        (1 to 3).foreach { _ =>
          val n = t.groupBy(col("source")).count().collect().map(_.getLong(1)).sum
          assert(n == t.count())
          assert(t.sparkSession.conf.get("spark.sql.adaptive.enabled") == wantAqe)
        }
      } catch { case e: Throwable => errs.add(e) }
    Seq(job(big, "true"), job(small, "false"),
      job(big, "true"), job(small, "false")).foreach(pool.submit)
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errs.isEmpty, s"concurrent branch queries failed: ${errs.peek()}")
  }

  test("branchFanout buckets to powers of two — the key space is provably bounded") {
    // r8 ADVICE: one forked session per distinct (bytes >> 22) meant a
    // long-lived process touching many differently sized datasets
    // accumulated unbounded clones. Power-of-two bucketing caps the
    // key space at log2(defaultP) values.
    val defaultP = 32L
    val sweep = (0L to 4000L).map(mb =>
      QueriesCommon.branchFanout(mb << 20, defaultP)).distinct.sorted
    assert(sweep == Seq(4L, 8L, 16L, 32L), s"fanout values: $sweep")
    // floor and cap hold
    assert(QueriesCommon.branchFanout(0L, defaultP) == 4L)
    assert(QueriesCommon.branchFanout(1L << 40, defaultP) == defaultP)
    // round-up, not round-down: 5 raw partitions -> 8, never 4
    assert(QueriesCommon.branchFanout(5L << 22, defaultP) == 8L)
    assert(QueriesCommon.branchFanout(4L << 22, defaultP) == 4L)
  }
}
