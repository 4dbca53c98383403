package graft.pipeline

import graft.SparkSpec
import graft.config.GraftConfig
import graft.datagen.PagesGen
import org.apache.spark.sql.functions._

/** Incremental fold ≡ full run: folding the corpus in batches must yield
  * byte-identical labels to the one-shot pipeline over the union — the
  * determinism that makes incremental maintenance trustworthy at scale.
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("A then B labels == full-run labels over A ∪ B") {
    // 32×4 banding pushes LSH recall at j≥0.8 to ~1-5e-8 so the LSH tier
    // alone determines the match set on this corpus — the equivalence is
    // then exact, not probabilistic.
    val cfg = GraftConfig.default.copy(
      lsh = GraftConfig.default.lsh.copy(bands = 32, rowsPerBand = 4))
    val all = PagesGen.pages(spark, 600L).toDF().cache()
    val batchA = all.where(xxhash64($"url") % 2 === 0)
    val batchB = all.where(xxhash64($"url") % 2 =!= 0)

    val inc = new IncrementalDedup(spark, cfg)
    val s1 = inc.step(inc.emptyState, batchA)
    val s2 = inc.step(s1, batchB)
    val incremental = s2.labels.as[(Long, Long)].collect().toMap

    val full = new DedupPipeline(spark, cfg)
    val fullLabels = full.labels(
      full.signatures(full.extracted(all)),
      full.decisions(full.candidates(full.signatures(full.extracted(all))),
        full.signatures(full.extracted(all)), full.extracted(all)))
      .as[(Long, Long)].collect().toMap

    assert(incremental.size == fullLabels.size,
      s"label counts differ: ${incremental.size} vs ${fullLabels.size}")
    // full pipeline also has simhash + overlap tiers; incremental uses the
    // LSH tier — compare on clusters driven by jaccard-verified edges:
    // every pair clustered together incrementally must be together in full
    val incPairs = incremental.groupBy(_._2).values
      .flatMap(g => g.keys.toSeq.sorted.combinations(2).map(p => (p(0), p(1)))).toSet
    val fullPairs = fullLabels.groupBy(_._2).values
      .flatMap(g => g.keys.toSeq.sorted.combinations(2).map(p => (p(0), p(1)))).toSet
    assert(incPairs.subsetOf(fullPairs),
      s"incremental created pairs the full run lacks: ${(incPairs -- fullPairs).take(3)}")
    val missing = fullPairs -- incPairs
    // full run may add simhash-tier pairs; jaccard-tier pairs must all be found
    assert(missing.isEmpty,
      s"incremental missed ${missing.size} pairs, e.g. ${missing.take(3)}")
  }

  test("second batch does not recompute signatures of the first") {
    val cfg = GraftConfig.default
    val inc = new IncrementalDedup(spark, cfg)
    val s1 = inc.step(inc.emptyState, PagesGen.pages(spark, 100L).toDF())
    val n1 = s1.signatures.count()
    val s2 = inc.step(s1, spark.range(100L, 200L).map(id => PagesGen.pageOf(42L, id)).toDF())
    assert(n1 == 100 && s2.signatures.count() == 200)
    // plan-shape guard (counts alone cannot fail for this regression): the
    // fold-2 signature frame must carry fold 1 as a MATERIALIZED leaf
    // (state.signatures localCheckpoint → ExistingRDD scan), and must NOT
    // contain a second extraction subtree re-deriving batch 1 from html
    val plan = s2.signatures.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"),
      "fold-1 signatures should enter fold 2 as a materialized leaf:\n" + plan.take(2000))
    val sketchCount = "doc_signature".r.findAllIn(plan).size
    assert(sketchCount <= 1,
      s"fold 2 plans $sketchCount sketch subtrees — recomputing prior batches?\n" + plan.take(2000))
    assert(s2.labels.count() == 200)
    // the band index and key counts accumulate across folds
    assert(s2.bands.count() == s2.signatures.count() * cfg.lsh.bands)
    assert(s2.keyCounts.agg(sum($"n")).as[Long].head() == s2.bands.count())
  }

  test("fold joins the STORED band index, not bands recomputed from signatures") {
    // Feed a state whose band index was artificially emptied while its
    // signatures remain intact, then fold a batch of exact duplicates of the
    // old corpus. If step re-derived the all-side bands from signatures (the
    // round-2 ∝-corpus recompute), every duplicate would pair with its
    // original; reading the stored (empty) index, only new×new pairs can
    // exist — so NO old node may appear in any edge.
    val cfg = GraftConfig.default
    val inc = new IncrementalDedup(spark, cfg)
    val batch = PagesGen.pages(spark, 80L).toDF()
    val s1 = inc.step(inc.emptyState, batch)
    val gutted = s1.copy(
      bands = s1.bands.limit(0),
      keyCounts = s1.keyCounts.limit(0))
    val dup = batch.withColumn("url", concat($"url", lit("#copy")))
    val s2 = inc.step(gutted, dup)
    val oldNodes = s1.labels.select($"node").as[Long].collect().toSet
    // only edges ADDED by this fold matter (state.edges carries fold-1 edges)
    val priorEdges = s1.edges.as[(Long, Long)].collect().toSet
    val newEdges = s2.edges.as[(Long, Long)].collect().toSet -- priorEdges
    val edgeNodes = newEdges.flatMap(e => Seq(e._1, e._2))
    assert(edgeNodes.nonEmpty, "duplicate batch should at least pair within itself")
    assert(edgeNodes.intersect(oldNodes).isEmpty,
      "old nodes in new edges ⇒ the all side was recomputed from signatures")
  }

  test("state save/load: incremental fold resumes in a fresh session (north-rule resumability)") {
    val cfg = GraftConfig.default
    val wd = java.nio.file.Files.createTempDirectory("graft_inc_resume").toString
    val ck = new Checkpoints(spark, wd, "resume-hash")
    val inc = new IncrementalDedup(spark, cfg, Some(ck), bandBuckets = 8)
    val batchA = PagesGen.pages(spark, 100L).toDF()
    val batchB = spark.range(100L, 200L).map(id => PagesGen.pageOf(42L, id)).toDF()
    inc.saveState(inc.step(inc.emptyState, batchA), wd)

    // simulate a fresh session: the in-memory catalog forgets the bucketed
    // table registration (files stay — it is external); loadState must
    // re-register from the on-disk sidecar and keep folding
    spark.catalog.listTables().collect()
      .filter(t => t.name.startsWith("graft_bands_index") ||
        t.name.startsWith("graft_sigs_index"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))

    val inc2 = new IncrementalDedup(spark, cfg, Some(ck), bandBuckets = 8)
    val s2 = inc2.step(inc2.loadState(wd), batchB)

    val plain = new IncrementalDedup(spark, cfg)
    val p2 = plain.step(plain.step(plain.emptyState, batchA), batchB)
    assert(s2.labels.as[(Long, Long)].collect().toMap ==
      p2.labels.as[(Long, Long)].collect().toMap,
      "resumed fold must equal the uninterrupted fold")
    assert(s2.bands.count() == p2.bands.count())
  }

  test("bucketed band index: fold ≡ in-memory fold, stored scan joins without Exchange") {
    val cfg = GraftConfig.default
    val wd = java.nio.file.Files.createTempDirectory("graft_inc_bucket").toString
    val ck = new Checkpoints(spark, wd, "inc-test-hash")
    val bucketed = new IncrementalDedup(spark, cfg, Some(ck), bandBuckets = 8)
    val plain = new IncrementalDedup(spark, cfg)
    val batchA = PagesGen.pages(spark, 120L).toDF()
    val batchB = spark.range(120L, 240L).map(id => PagesGen.pageOf(42L, id)).toDF()

    val sb = bucketed.step(bucketed.step(bucketed.emptyState, batchA), batchB)
    val sp = plain.step(plain.step(plain.emptyState, batchA), batchB)
    // identical state regardless of the band-index backend
    assert(sb.labels.as[(Long, Long)].collect().toMap ==
      sp.labels.as[(Long, Long)].collect().toMap)
    assert(sb.bands.count() == sp.bands.count())
    // two appends landed in ONE bucketed table
    val stored = ck.bucketedTable("bands_index").get
    assert(stored.count() == 240L * cfg.lsh.bands)

    // Plan audit on the fold's join shape: the stored (bucketed) side must
    // reach the band-key equi-join WITHOUT an Exchange — that is the whole
    // point of the bucketed checkpoint (per-fold shuffle ∝ batch, not
    // corpus). Broadcast + AQE are pinned off so the planner can't dodge
    // the distribution requirement the assert is about.
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    val bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val newBands = Seq((1L, 2L), (3L, 4L)).toDF("key", "node")
      val hot = Seq.empty[Long].toDF("key")
      val j = bucketed.candidateJoin(newBands, stored, hot)
      val plan = j.queryExecution.executedPlan
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      def hasBucketScan(p: SparkPlan): Boolean =
        p.collect { case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty
      assert(hasBucketScan(plan),
        "stored side should be a bucketed scan:\n" + plan.toString.take(3000))
      // the equi-join's stored-side CHILD subtree (scan → filter → sort →
      // join input) must be Exchange-free; exchanges above the join
      // (dropDuplicates) legitimately exist and contain the scan as a leaf
      val joinInputs = plan.collect {
        case sj: SortMergeJoinExec => Seq(sj.left, sj.right)
        case hj: ShuffledHashJoinExec => Seq(hj.left, hj.right)
      }.flatten
      val storedSides = joinInputs.filter(hasBucketScan)
      assert(storedSides.nonEmpty,
        "bucketed scan should feed the band-key equi-join:\n" + plan.toString.take(3000))
      val shuffledStoredSide = storedSides.exists(side =>
        side.collect { case e: ShuffleExchangeLike => e }.nonEmpty)
      assert(!shuffledStoredSide,
        "bucketed stored side must not sit under an Exchange:\n" + plan.toString.take(3000))
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  test("re-ingesting an already-known node id is a no-op, never a second label row") {
    val cfg = GraftConfig.default
    val inc = new IncrementalDedup(spark, cfg)
    val batchA = PagesGen.pages(spark, 80L).toDF()
    // batch B re-crawls 30 of A's pages (same urls → same node ids) plus
    // 40 genuinely new ones
    val recrawl = spark.range(0L, 30L).map(id => PagesGen.pageOf(42L, id)).toDF()
    val fresh = spark.range(80L, 120L).map(id => PagesGen.pageOf(42L, id)).toDF()
    val s1 = inc.step(inc.emptyState, batchA)
    val s2 = inc.step(s1, recrawl.unionByName(fresh))

    val labels = s2.labels.as[(Long, Long)].collect()
    assert(labels.map(_._1).distinct.length == labels.length,
      "a re-crawled node produced duplicate label rows")
    // equal to folding only the fresh pages (the re-crawl contributed nothing)
    val onlyFresh = inc.step(s1, fresh).labels.as[(Long, Long)].collect().toMap
    assert(labels.toMap == onlyFresh, "re-crawled nodes changed the fold result")
    assert(s2.signatures.groupBy("node").count().where($"count" > 1).isEmpty,
      "re-crawled node duplicated in the signature store")
  }

  test("batch ledger: replaying a completed fold with the same batchId appends nothing twice") {
    val cfg = GraftConfig.default
    val wd = java.nio.file.Files.createTempDirectory("graft_inc_ledger").toString
    val ck = new Checkpoints(spark, wd, "ledger-hash")
    val inc = new IncrementalDedup(spark, cfg, Some(ck), bandBuckets = 8)
    val batchA = PagesGen.pages(spark, 100L).toDF()
    val s1 = inc.step(inc.emptyState, batchA, batchId = Some("b1"))
    val (sig1, band1) = (s1.signatures.count(), s1.bands.count())
    val labels1 = s1.labels.as[(Long, Long)].collect().toMap

    // crash-replay: same batch, same id — the done flags skip both appends
    // and the pinned novel-node sidecar reproduces the same newSigs set
    val s1r = inc.step(inc.emptyState, batchA, batchId = Some("b1"))
    assert(s1r.signatures.count() == sig1, "replay double-appended the signature store")
    assert(s1r.bands.count() == band1, "replay double-appended the band index")
    assert(s1r.labels.as[(Long, Long)].collect().toMap == labels1,
      "replayed fold diverged from the original")
  }

  test("crash replay: appends landed but done flags missing — replay duplicates nothing") {
    // The non-atomic window: saveAsTable committed, the JVM died before
    // setFlag. Replay finds started-without-done, probes the table for the
    // batch's pinned novel nodes, sees them, and SKIPS the re-append — a
    // blind replay would double every signature/band row of the batch.
    val cfg = GraftConfig.default
    val wd = java.nio.file.Files.createTempDirectory("graft_inc_crash").toString
    val ck = new Checkpoints(spark, wd, "crash-hash")
    val inc = new IncrementalDedup(spark, cfg, Some(ck), bandBuckets = 8)
    val batchA = PagesGen.pages(spark, 60L).toDF()
    val s1 = inc.step(inc.emptyState, batchA, batchId = Some("b1"))
    val (sig1, band1) = (s1.signatures.count(), s1.bands.count())
    assert(sig1 == 60L)

    val fs = new org.apache.hadoop.fs.Path(wd)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (t <- Seq("sigs", "bands")) {
      val done = new org.apache.hadoop.fs.Path(s"$wd/inc_batch_b1_${t}__flag_crash-hash")
      assert(fs.delete(done, false), s"done flag for $t should have existed")
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$wd/inc_batch_b1_${t}_started__flag_crash-hash")),
        s"started flag for $t must persist through the crash")
    }

    val s1r = inc.step(inc.emptyState, batchA, batchId = Some("b1"))
    assert(s1r.signatures.count() == sig1, "replay double-appended the signature store")
    assert(s1r.bands.count() == band1, "replay double-appended the band index")
    assert(s1r.signatures.groupBy("node").count().where($"count" > 1).isEmpty,
      "duplicate node rows after crash replay")
  }

  test("crash replay: started flag set but append never committed — replay appends exactly once") {
    val cfg = GraftConfig.default
    val wd = java.nio.file.Files.createTempDirectory("graft_inc_crash2").toString
    val ck = new Checkpoints(spark, wd, "crash2-hash")
    // simulate a crash AFTER the started flags landed but BEFORE either
    // append job committed: the tables don't exist yet
    ck.setFlag("inc_batch_b1_sigs_started")
    ck.setFlag("inc_batch_b1_bands_started")
    val inc = new IncrementalDedup(spark, cfg, Some(ck), bandBuckets = 8)
    val s1 = inc.step(inc.emptyState, PagesGen.pages(spark, 60L).toDF(), batchId = Some("b1"))
    assert(s1.signatures.count() == 60L, "the interrupted append must re-run")
    assert(s1.bands.count() == 60L * cfg.lsh.bands)
  }

  test("legacy (pre-config-suffix) bucketed state dirs still resume and keep appending") {
    import spark.implicits._
    val wd = java.nio.file.Files.createTempDirectory("graft_ck_legacy").toString
    val fs = new org.apache.hadoop.fs.Path(wd)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // build a table, then rewrite the layout to the legacy shape (data +
    // bucketmeta sidecar at the UNSUFFIXED paths) as the previous release
    // left it on disk
    val ckOld = new Checkpoints(spark, wd, "old-hash")
    ckOld.bucketedAppend("idx", Seq((1L, 10L), (2L, 20L)).toDF("key", "node"), "key", 4)
    spark.catalog.listTables().collect().filter(_.name.startsWith("graft_idx"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$wd/idx__old-hash"),
      new org.apache.hadoop.fs.Path(s"$wd/idx")))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$wd/idx__old-hash__bucketmeta.json"),
      new org.apache.hadoop.fs.Path(s"$wd/idx__bucketmeta.json")))

    // a NEW release (different config hash) must find the legacy table
    // instead of stranding it behind "Path does not exist"
    val ckNew = new Checkpoints(spark, wd, "new-hash")
    val resumed = ckNew.bucketedTable("idx")
    assert(resumed.isDefined && resumed.get.count() == 2,
      "legacy-layout state dir was stranded")
    // appends continue into ONE consistent table, now ADOPTED at the new
    // config's suffixed location (data + sidecar renamed; legacy gone)
    ckNew.bucketedAppend("idx", Seq((3L, 30L)).toDF("key", "node"), "key", 4)
    assert(ckNew.bucketedTable("idx").get.count() == 3)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$wd/idx__new-hash")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$wd/idx")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$wd/idx__bucketmeta.json")),
      "legacy dir must be adopted (renamed), not read in place")
    // exactly ONE config inherits: a LATER config change still gets a fresh
    // table — a sticky in-place fallback would mix rows across configs here
    val ckThird = new Checkpoints(spark, wd, "third-hash")
    assert(ckThird.bucketedTable("idx").isEmpty,
      "a later config must NOT see the adopted legacy rows")
    val t3 = ckThird.bucketedAppend("idx", Seq((9L, 90L)).toDF("key", "node"), "key", 4)
    assert(t3.count() == 1, "third config's table must start fresh")
    assert(ckNew.bucketedTable("idx").get.count() == 3, "adopted table disturbed")
  }

  test("concurrent DIFFERENT-config sessions racing legacy adoption never throw; exactly one adopts") {
    // two sessions with different config hashes resolve the same legacy dir
    // simultaneously: the loser's sidecar rename fails with ITS destination
    // absent (the winner moved the sidecar to the winner's path) — that end
    // state is the designed outcome and must NOT surface as the manual-
    // intervention IllegalStateException; the loser proceeds with a fresh
    // suffixed dir. Repeated to widen the check→rename race window.
    for (i <- 1 to 3) {
      val wd = java.nio.file.Files.createTempDirectory(s"graft_ck_race$i").toString
      val fs = new org.apache.hadoop.fs.Path(wd)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ckOld = new Checkpoints(spark, wd, "old-hash")
      ckOld.bucketedAppend("idx", Seq((1L, 10L), (2L, 20L)).toDF("key", "node"), "key", 4)
      spark.catalog.listTables().collect().filter(_.name.startsWith("graft_idx"))
        .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$wd/idx__old-hash"),
        new org.apache.hadoop.fs.Path(s"$wd/idx")))
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$wd/idx__old-hash__bucketmeta.json"),
        new org.apache.hadoop.fs.Path(s"$wd/idx__bucketmeta.json")))

      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
      val threads = Seq("race-a", "race-b").map { h =>
        new Thread(() => {
          try {
            val ck = new Checkpoints(spark, wd, h)
            barrier.await()
            counts.put(h, ck.bucketedTable("idx").map(_.count()).getOrElse(-1L))
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(counts.size == 2, s"a racing session hung or died: $counts / $errs")
      assert(errs.isEmpty, s"adoption race threw: $errs")
      val outcome = Seq("race-a", "race-b").map(counts.get(_)).sorted
      assert(outcome == Seq(-1L, 2L),
        s"exactly one config must adopt the 2 legacy rows, the other starts fresh: $counts")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wd/idx__bucketmeta.json")),
        "the legacy sidecar must be adopted (renamed away)")
    }
  }

  test("step releases its persisted intermediates (no Dataset-cache growth across folds)") {
    spark.catalog.clearCache()
    val inc = new IncrementalDedup(spark, GraftConfig.default)
    val s1 = inc.step(inc.emptyState, PagesGen.pages(spark, 60L).toDF())
    val s2 = inc.step(s1, spark.range(60L, 120L).map(id => PagesGen.pageOf(42L, id)).toDF())
    assert(s2.labels.count() == 120L)
    // every pin (rawSigs/newSigs/newBands/cands/shingle side/touched
    // components/affected nodes) registers in the CacheManager; the returned
    // State frames are RDD-level localCheckpoints (no CacheManager entry) —
    // so a clean sweep leaves the manager EMPTY. Pre-fix this held 3-4
    // entries PER FOLD forever.
    assert(spark.sharedState.cacheManager.isEmpty,
      "a fold left Dataset caches registered in the CacheManager")

    // Table-backed mode adds RDD-level snapshots (the novel-node set, the
    // verified edges) that bypass the CacheManager: the persistent-RDD
    // registry must grow by exactly the returned State's localCheckpoints
    // — a leaked snapshot adds an id, a freed State frame removes one.
    val wd = java.nio.file.Files.createTempDirectory("graft_inc_release").toString
    val tinc = new IncrementalDedup(spark, GraftConfig.default,
      Some(new Checkpoints(spark, wd, "release-hash")), bandBuckets = 8)
    val t1 = tinc.step(tinc.emptyState, PagesGen.pages(spark, 60L).toDF())
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t2 = tinc.step(t1, spark.range(60L, 120L).map(id => PagesGen.pageOf(42L, id)).toDF())
    assert(spark.sharedState.cacheManager.isEmpty,
      "a table-backed fold left Dataset caches registered in the CacheManager")
    val stateRdds = Seq(t2.keyCounts, t2.edges, t2.labels).flatMap(_.queryExecution.analyzed
      .collect { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id }).toSet
    assert(stateRdds.size == 3, s"State should hold 3 localCheckpointed frames: $stateRdds")
    val grown = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(grown == stateRdds,
      s"persistent RDDs grew by $grown, the State's localCheckpoints are $stateRdds")
    // the returned State is self-sufficient: a third fold runs on it
    val t3 = tinc.step(t2, spark.range(120L, 180L).map(id => PagesGen.pageOf(42L, id)).toDF())
    assert(t3.labels.count() == 180L && t3.keyCounts.agg(sum($"n")).as[Long].head() ==
      180L * GraftConfig.default.lsh.bands)
    // and its label frame does not gain partitions fold after fold
    val maxParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(t3.labels.rdd.getNumPartitions <= maxParts,
      s"labels hold ${t3.labels.rdd.getNumPartitions} partitions after 3 folds (> $maxParts)")
  }

  test("a table-backed fold scans the stored band index once") {
    // Every query a fold runs reports its executed plan to a
    // QueryExecutionListener; a cached frame's plan is walked once per cache
    // builder (the queries that read the cache do not re-run it). The
    // candidate join is the only reader of the stored band index, so a fold
    // that evaluates each intermediate once scans the table exactly once.
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val wd = java.nio.file.Files.createTempDirectory("graft_inc_scans").toString
    val inc = new IncrementalDedup(spark, GraftConfig.default,
      Some(new Checkpoints(spark, wd, "scan-hash")), bandBuckets = 8)
    val s1 = inc.step(inc.emptyState, PagesGen.pages(spark, 100L).toDF())
    val batchB = spark.range(100L, 200L).map(id => PagesGen.pageOf(42L, id)).toDF()

    // listener events arrive asynchronously and in order: keep the plans
    // reported between a start and an end marker query
    def marker(name: String) = spark.range(0L, 1L, 1L, 1).toDF(name)
    val events = new java.util.concurrent.LinkedBlockingQueue[Either[String, SparkPlan]]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.output.map(_.name) match {
          case Seq(n) if n.startsWith("__fold_marker") => events.put(Left(n))
          case _ => events.put(Right(qe.executedPlan))
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val plans = try {
      marker("__fold_marker_start").collect()
      inc.step(s1, batchB)
      marker("__fold_marker_end").collect()
      val out = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
      var started, ended = false
      while (!ended) {
        events.poll(60, java.util.concurrent.TimeUnit.SECONDS) match {
          case null => fail("the end marker query never reached the listener")
          case Left(n) => if (n.endsWith("start")) started = true else ended = true
          case Right(p) => if (started) out += p
        }
      }
      out.toSeq
    } finally spark.listenerManager.unregister(listener)

    val builders = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def bandScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => bandScans(a.executedPlan)
      case q: QueryStageExec => bandScans(q.plan)
      case m: InMemoryTableScanExec =>
        if (builders.add(m.relation.cacheBuilder)) bandScans(m.relation.cacheBuilder.cachedPlan)
        else 0
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith("graft_bands_index")) => 1
      case other => other.children.map(bandScans).sum + other.subqueries.map(bandScans).sum
    }
    assert(plans.nonEmpty, "the fold reported no query")
    val scans = plans.map(bandScans).sum
    assert(scans == 1, s"one fold scanned the stored band index $scans times")
  }

  test("bucketed tables are config-keyed in location: a config change never mixes rows") {
    val wd = java.nio.file.Files.createTempDirectory("graft_ck_cfg").toString
    import spark.implicits._
    val ckA = new Checkpoints(spark, wd, "cfg-A")
    val ckB = new Checkpoints(spark, wd, "cfg-B")
    ckA.bucketedAppend("idx", Seq((1L, 10L), (2L, 20L)).toDF("key", "node"), "key", 4)
    val tb = ckB.bucketedAppend("idx", Seq((3L, 30L)).toDF("key", "node"), "key", 4)
    assert(tb.count() == 1, "config-B table must not see config-A rows")
    assert(ckA.bucketedTable("idx").get.count() == 2, "config-A table was disturbed")
  }

  test("isComplete self-heals when the data dir is gone but the meta sidecar survives") {
    val wd = java.nio.file.Files.createTempDirectory("graft_ck_heal").toString
    import spark.implicits._
    val ck = new Checkpoints(spark, wd, "heal-hash")
    ck.stage("s")(Seq(1, 2, 3).toDF("v"))
    assert(ck.isComplete("s"))
    // partial cleanup: data dir deleted, meta sidecar left behind
    val fs = new org.apache.hadoop.fs.Path(wd)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$wd/s"), true)
    assert(!ck.isComplete("s"), "orphaned meta must not claim completeness")
    assert(ck.stage("s")(Seq(1, 2, 3).toDF("v")).count() == 3, "stage must recompute")
  }
}
