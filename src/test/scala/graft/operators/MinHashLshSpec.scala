package graft.operators

import graft.SparkSpec
import graft.config.GraftConfig
import org.apache.spark.sql.functions._

class MinHashLshSpec extends SparkSpec {
  import spark.implicits._

  private def sigsOf(docs: Seq[(Long, String)], cfg: GraftConfig): org.apache.spark.sql.DataFrame =
    MinHashLsh.signatures(
      docs.toDF("doc_id", "extracted_text").withColumn("url", col("doc_id")), cfg)
      .withColumn("node", col("doc_id"))

  test("LSH finds high-jaccard pairs, skips unrelated docs") {
    val cfg = GraftConfig.default
    val base = (1 to 120).map(i => s"w$i").mkString(" ")
    val near = (1 to 120).map(i => if (i == 60) "swapped" else s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, (1000 to 1120).map(i => s"z$i").mkString(" ")))
    val sigs = sigsOf(docs, cfg)
    val pairs = MinHashLsh.fusedCandidates(sigs, cfg)
    val verified = MinHashLsh.verify(pairs, sigs, cfg)
      .where(col("exact_jaccard") >= cfg.lsh.jaccardThreshold)
      .select("node_a", "node_b").as[(Long, Long)].collect().toSet
    assert(verified == Set((1L, 2L)))
  }

  test("mega-bucket star handling: huge exact-dup bucket still fully clustered") {
    // 300 identical docs with maxBucketSize 50 → every band bucket is hot →
    // star candidates only; CC must still recover ONE 300-member cluster.
    val cfg = GraftConfig.default.copy(lsh = GraftConfig.default.lsh.copy(maxBucketSize = 50))
    val text = (1 to 80).map(i => s"boiler$i").mkString(" ")
    val docs = (1L to 300L).map(id => (id, text)) :+ (900L, (1 to 80).map(i => s"other$i").mkString(" "))
    val sigs = sigsOf(docs, cfg)
    val cands = MinHashLsh.fusedCandidates(sigs, cfg)
    // star fan-out is linear, not quadratic
    val nCands = cands.count()
    assert(nCands < 5000, s"expected O(n) candidates, got $nCands")
    assert(cands.where(col("cand_tier") === "star").count() > 0)
    val verified = MinHashLsh.verify(cands, sigs, cfg)
      .where(col("exact_jaccard") >= cfg.lsh.jaccardThreshold)
    val edges = verified.select(col("node_a").as("src"), col("node_b").as("dst"))
    val labels = ConnectedComponents.labelsWithSingletons(sigs.select(col("node")), edges)
      .as[(Long, Long)].collect().toMap
    assert((1L to 300L).forall(labels(_) == 1L), "mega exact-dup cluster must survive the cap")
    assert(labels(900L) == 900L)
  }

  test("est_jaccard from signatures tracks exact jaccard (scale verification path)") {
    val cfg = GraftConfig.default
    val base = (1 to 200).map(i => s"t$i").mkString(" ")
    val variant = (1 to 200).map(i => if (i % 17 == 0) s"x$i" else s"t$i").mkString(" ")
    val sigs = sigsOf(Seq((1L, base), (2L, variant)), cfg)
    val pairs = Seq((1L, 2L)).toDF("node_a", "node_b")
    val row = MinHashLsh.verify(pairs, sigs, cfg)
      .select("est_jaccard", "exact_jaccard").as[(Double, Double)].collect()(0)
    assert(math.abs(row._1 - row._2) < 0.15, s"est=${row._1} exact=${row._2}")
  }

  private type KRow = (Long, Long, Long, Byte)

  /** Brute-force reference of [[MinHashLsh.bucketPairs]]: per key, a bucket
    * of ≤ cap ROWS pairs every two rows of one tier with distinct nodes
    * (tier 1 also within Hamming `d`); a larger bucket stars to its
    * minimum node at tier 2, or emits nothing.
    */
  private def reference(rows: Seq[KRow], cap: Int, d: Int, star: Boolean): Set[(Long, Long, Byte)] =
    rows.groupBy(_._1).values.flatMap { b =>
      if (b.length <= cap)
        for {
          x <- b; y <- b
          if x._2 < y._2 && x._4 == y._4 &&
            (x._4 != 1 || java.lang.Long.bitCount(x._3 ^ y._3) <= d)
        } yield (x._2, y._2, x._4)
      else if (star) {
        val hub = b.map(_._2).min
        b.map(_._2).filter(_ > hub).map(n => (hub, n, 2.toByte))
      } else Nil
    }.toSet

  private def kernel(rows: Seq[KRow], parts: Int, cap: Int, d: Int, star: Boolean) =
    MinHashLsh.bucketPairs(spark.sparkContext.parallelize(rows, parts).toDF("key", "node", "aux", "tier"),
      cap, d, star).as[(Long, Long, Byte)].collect()

  test("bucketPairs equals a brute-force reference at cap and cap + 1 rows") {
    val cap = 5
    val t0 = 0.toByte
    val t1 = 1.toByte
    val handmade = Seq[KRow](
      // key 1: exactly cap rows — a duplicate node, mixed tiers; the tier-1
      // pair (12, 13) is 3 bits apart, (12, 14) only 1
      (1, 10, 0, t0), (1, 11, 0, t0), (1, 11, 0, t0), (1, 12, 0x0, t1), (1, 13, 0x7, t1),
      // key 2: cap + 1 rows, the minimum duplicated — hot
      (2, 20, 0, t0), (2, 20, 0, t1), (2, 21, 0, t0), (2, 22, 5, t1), (2, 23, 0, t0), (2, 24, 0, t0),
      // key 3: cap DISTINCT nodes but cap + 1 rows — hot by row count
      (3, 30, 0, t0), (3, 31, 0, t0), (3, 31, 0, t0), (3, 32, 0, t0), (3, 33, 0, t0), (3, 34, 0, t0),
      // key 4: one row; key 5: one node twice — neither pairs
      (4, 40, 0, t0), (5, 50, 0, t0), (5, 50, 0, t0),
      (6, 12, 0x0, t1), (6, 14, 0x1, t1), (6, 13, 0x7, t1))
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(3000)((rnd.nextInt(300).toLong, rnd.nextInt(400).toLong,
      rnd.nextInt(16).toLong, rnd.nextInt(2).toByte))
    for (rows <- Seq(handmade, random); c <- Seq(cap, 10); star <- Seq(true, false)) {
      val got = kernel(rows, 7, c, 1, star)
      val want = reference(rows, c, 1, star)
      assert(got.toSet == want, s"cap=$c star=$star")
    }
    val hand = kernel(handmade, 3, cap, 1, star = true).toSet
    assert(hand.contains((10L, 11L, t0)) && !hand.contains((11L, 11L, t0)))
    assert(hand.contains((12L, 14L, t1)) && !hand.exists(p => p._1 == 12L && p._2 == 13L))
    assert(hand.filter(_._3 == 2) == Set(21L, 22L, 23L, 24L, 31L, 32L, 33L, 34L)
      .map(n => (if (n < 30) 20L else 30L, n, 2.toByte)))
    assert(kernel(handmade, 3, cap, 1, star = false).forall(_._3 != 2))
  }

  test("bucketPairs is exact with partitions far above the cap") {
    // 64 input partitions over cap 16: every partition holds far fewer
    // rows of a bucket than the cap, so only the shuffled bucket is exact
    val cap = 16
    val rows = (Seq.tabulate(cap + 1)(i => (100L, i.toLong, 0L, 0.toByte)) ++
      Seq.tabulate(cap)(i => (200L, i.toLong, 0L, 0.toByte)) ++
      Seq((300L, 1L, 0L, 0.toByte)))
    for (star <- Seq(true, false)) {
      val got = kernel(rows, 64, cap, 0, star)
      assert(got.toSet == reference(rows, cap, 0, star))
      assert(got.count(_._3 == 0) == cap * (cap - 1) / 2) // key 200 only
      assert(got.count(_._3 == 2) == (if (star) cap else 0)) // key 100
    }
  }

  test("a 10^5-row star bucket emits distinct nodes - 1 pairs") {
    val n = 100000
    val rows = spark.range(n).selectExpr("7L AS key", "(id * 7919) % 60000 AS node",
      "0L AS aux", "CAST(0 AS TINYINT) AS tier").repartition(16)
    val star = MinHashLsh.bucketPairs(rows, 16, 0, star = true).as[(Long, Long, Byte)].collect()
    assert(star.length == 60000 - 1)
    assert(star.toSet == (1L until 60000L).map(m => (0L, m, 2.toByte)).toSet)
    assert(MinHashLsh.bucketPairs(rows, 16, 0, star = false).count() == 0L)
  }

  test("building every candidate frame submits no Spark job") {
    val cfg = GraftConfig.default.copy(lsh = GraftConfig.default.lsh.copy(maxBucketSize = 10))
    val text = (1 to 50).map(i => s"same$i").mkString(" ")
    val sigs = sigsOf((1L to 40L).map(id => (id, text)), cfg)
    val vecs = (0 until 40).map(i => (i.toLong, Array.fill(16)(0.5f))).toDF("vec_id", "embedding")
    val texts = (1L to 40L).map(id => (id, text * 8)).toDS()
    val builds = Seq[() => org.apache.spark.sql.DataFrame](
      () => MinHashLsh.fusedCandidates(sigs, cfg),
      () => MinHashLsh.lshCandidates(sigs, cfg),
      () => MinHashLsh.simHashCandidates(sigs, cfg),
      () => Similarity.nearDupPairs(vecs, 0.9, tables = 4, bitsPerTable = 8, maxBucketSize = 10),
      () => SuffixOverlap.candidates(texts, cfg))
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("candidate-build", "build candidate frames", interruptOnCancel = false)
      builds.foreach(b => b().queryExecution.executedPlan)
      // listener events arrive in order: once the marker job is seen, every
      // job submitted before it has been counted
      sc.setJobGroup("candidate-marker", "marker", interruptOnCancel = false)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("candidate-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("candidate-marker"), "marker job never reached the listener")
      assert(!groups.contains("candidate-build"), s"plan build ran jobs: $groups")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("bucketStats reports capped buckets") {
    val cfg = GraftConfig.default.copy(lsh = GraftConfig.default.lsh.copy(maxBucketSize = 10))
    val text = (1 to 50).map(i => s"same$i").mkString(" ")
    val docs = (1L to 40L).map(id => (id, text))
    val sigs = sigsOf(docs, cfg)
    val stats = MinHashLsh.bucketStats(MinHashLsh.bands(sigs, cfg), cfg).collect()(0)
    assert(stats.getAs[Long]("max_bucket") == 40L)
    assert(stats.getAs[Long]("capped_buckets") >= 16L) // every band bucket is hot
  }
}
