package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.RunDedup
import graft.config.GraftConfig
import graft.functions.Hashing
import graft.operators.{Decisions, MinHashLsh}
import graft.pipeline.{Checkpoints, DedupPipeline, IncrementalDedup}

/** Collects named metrics in insertion order. */
final class MetricSink {
  val values = mutable.LinkedHashMap.empty[String, Double]
  def update(name: String, v: Double): Unit = values(name) = v
  def apply(name: String): Double = values(name)
}

/** One benchmark workload. The driver thread is its only client: each
  * operation starts after the previous one (and its output check) ended.
  */
trait Workload {
  def name: String
  /** Pages one operation processes (docs_per_s = this / median op time). */
  def docsPerOp: Long
  /** Generates the seed's inputs unless cached; untimed. */
  def prepare(spark: SparkSession): Unit
  /** The set-up's warm-up operation, on a fresh session; it also builds any
    * state the timed operations start from. */
  def warmUp(spark: SparkSession, dir: File): Unit
  def op(spark: SparkSession, i: Int): Unit
  /** Upper bound on timed operations per run (inputs are finite). */
  def maxOps: Int = Int.MaxValue
  /** Checks operation `i`'s output; returns the reasons it is wrong. */
  def check(spark: SparkSession, i: Int): Seq[String]
  /** Run-level quality of the last output, plus failed run-level checks. */
  def finish(spark: SparkSession): (Checks.Quality, Seq[String])
  /** The traced run: fills per-layer metrics; returns failed checks. */
  def traced(spark: SparkSession, dir: File, tracer: Tracer, out: MetricSink): Seq[String]
}

object Workloads {
  val cfg: GraftConfig = GraftConfig.default

  // Sizes. One batch operation runs the whole pipeline over `BatchCorpus`
  // PagesGen pages plus the boilerplate pages.
  val BatchCorpus = 1500L
  // batch_boilerplate caps buckets at `BucketCap` members instead of the
  // default 2000, through RunDedup's --config-props: a template then needs
  // a few hundred pages, not thousands, to overflow a bucket. Every band's
  // main bucket must exceed the cap after the substitutions move up to ~15%
  // of a template's pages out of it.
  val BucketCap = 200
  val PagesPerTemplate = 330L
  val FoldBase = 1000
  val FoldBatch = 500
  val FoldBatches = 4
  // IncrementalDedup's bucketed band and signature tables: 8 buckets suit a
  // corpus of thousands of pages (the library default, 64, is sized for
  // large corpora and writes 64 files per task per fold)
  val FoldBuckets = 8

  def apply(name: String, seed: Long, work: File): Workload = name match {
    case "batch_boilerplate" => new Batch(seed, work)
    case "incremental_fold" => new Fold(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def mb(bytes: Long): Double = bytes / 1048576.0

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  def p50(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Capped LSH band buckets of a page set, by the library's own
    * [[MinHashLsh.bucketStats]]: the premise that separates the workloads
    * (batch_boilerplate > 0, incremental_fold = 0).
    */
  def cappedBuckets(spark: SparkSession, pages: DataFrame, cfg: GraftConfig): Long = {
    val ext = new DedupPipeline(spark, cfg).extracted(pages)
    MinHashLsh.bucketStats(MinHashLsh.bands(MinHashLsh.signatures(ext, cfg), cfg), cfg)
      .head().getAs[Long]("capped_buckets")
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Jobs a call issues, counted by the listener alone (no span, no group). */
  def bareJobs(t: Tracer)(body: => Unit): (Long, Double) = {
    t.listener.drain()
    val j0 = t.listener.jobsStarted.get()
    val (_, s) = time(body)
    t.listener.drain()
    (t.listener.jobsStarted.get() - j0, s)
  }

  /** The per-stage names every traced run reports, in pipeline order. */
  val Stages: Seq[String] =
    Seq("extracted", "signatures", "candidates", "decisions", "labels", "canonicals")
  val StageFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "fetch_wait_s" -> "s", "jobs" -> "count",
    "exchanges" -> "count", "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "rows" -> "count", "cached_mb" -> "MB")
  val DomainMetrics: Seq[(String, String)] = Seq(
    "candidates.pairs" -> "count", "candidates.hot_keys" -> "count",
    "candidates.star_pairs" -> "count", "decisions.match_yield" -> "frac",
    "decisions.ambiguous" -> "count", "decisions.tier2_matches" -> "count",
    "labels.edges" -> "count", "labels.driver_finish" -> "flag",
    "labels.largest_cluster" -> "count", "canonicals.flagged" -> "count")
  val FoldMetrics: Seq[(String, String)] = Seq(
    "fold.step_s" -> "s", "fold.save_s" -> "s", "fold.cpu_s" -> "s", "fold.jobs" -> "count",
    "fold.shuffle_write_mb" -> "MB", "fold.state_write_mb" -> "MB", "fold.new_edges" -> "count")
  val RunMetrics: Seq[(String, String)] = Seq(
    "host.cpu_probe_s" -> "s", "trace.overhead_frac" -> "frac",
    "quality.recall" -> "frac", "quality.false_merge_frac" -> "frac")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * workload reports 0 for a layer it does not run (the batch workloads
    * run no fold, the fold workload no batch stage).
    */
  val PerLayer: Seq[(String, String)] =
    Stages.flatMap(s => StageFields.map { case (f, u) => s"$s.$f" -> u }) ++
      DomainMetrics ++ FoldMetrics ++ RunMetrics

  val EndToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s", "recall" -> "frac", "cohesion" -> "frac",
    "peak_heap_mb" -> "MB", "setup_s" -> "s")
}

import Workloads._

/** batch_boilerplate: one operation is a production
  * `RunDedup.run --input … --output … --stages-out` over PagesGen pages plus
  * three boilerplate templates whose buckets exceed the cap.
  */
final class Batch(seed: Long, work: File) extends Workload {
  val name = "batch_boilerplate"
  private val templatePages = PagesPerTemplate * Boilerplate.Names.length
  private val props = new File(work, s"inputs/$name-cap$BucketCap.properties")
  private var bcfg: GraftConfig = _
  private val inputs = new File(work, s"inputs/$name-s$seed")
  private val pages = new File(inputs, s"pages-$BatchCorpus-$PagesPerTemplate")
  private val input = new File(pages, "part=0").getPath
  private var out: String = _
  val docsPerOp: Long = BatchCorpus + templatePages

  def prepare(spark: SparkSession): Unit = {
    Inputs.cached(spark, pages.getPath, Seq("part"))(
      Inputs.batchPages(spark, seed, BatchCorpus, templatePages).withColumn("part", lit(0)))
    java.nio.file.Files.write(props.toPath, s"lsh.max_bucket_size=$BucketCap\n".getBytes("UTF-8"))
    bcfg = GraftConfig.load(spark, None, Some(props.getPath))
  }

  private def args(in: String, o: String) =
    RunDedup.Args(input = in, output = o, stagesOut = true, configProps = Some(props.getPath))

  /** The warm-up is an operation on the timed input itself: a smaller
    * input gets other join strategies from AQE, whose code would then be
    * generated and compiled inside the first timed operation. */
  def warmUp(spark: SparkSession, dir: File): Unit = {
    RunDedup.run(spark, args(input, new File(dir, "warm_out").getPath))
    out = new File(dir, "out").getPath
  }

  private var lastStats = Map.empty[String, Long]
  def op(spark: SparkSession, i: Int): Unit = lastStats = RunDedup.run(spark, args(input, out))

  private def labels(spark: SparkSession) = spark.read.parquet(s"${out}_labels")

  /** Every operation of a seed, in any run, must write the same labels and
    * as many canonicals. */
  def check(spark: SparkSession, i: Int): Seq[String] = {
    val d = Checks.digest(labels(spark))
    val rows = lastStats.getOrElse("canonical_rows", -1L)
    Seq(
      if (!d.startsWith(s"$docsPerOp:")) Some(s"labels cover ${d.takeWhile(_ != ':')} of $docsPerOp pages")
      else None,
      Checks.sameAsStored(new File(inputs, s"${pages.getName}.labels.digest"),
        s"$d canonical_rows=$rows")
    ).flatten
  }

  def finish(spark: SparkSession): (Checks.Quality, Seq[String]) = {
    val q = Checks.quality(labels(spark), Inputs.truthNodes(spark, seed, BatchCorpus),
      Inputs.plantedGroups(spark, seed, BatchCorpus, templatePages))
    val bad = mutable.ArrayBuffer.empty[String]
    if (q.recall < 0.99) bad += f"recall ${q.recall}%.4f < 0.99"
    if (q.falseMerge != 0.0) bad += s"false_merge_frac ${q.falseMerge} != 0"
    if (q.templateCohesion != 1.0) bad += s"boilerplate_cohesion ${q.templateCohesion} != 1"
    (q, bad.toSeq)
  }

  def traced(spark: SparkSession, dir: File, tracer: Tracer, m: MetricSink): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val capped = cappedBuckets(spark, spark.read.parquet(input), bcfg)
    if (capped == 0) bad += "bucketStats reports no capped bucket"
    // instrumentation overhead and job neutrality: the same operation bare
    // (listener only), wrapped in a span + job group, and bare again; the
    // traced time is compared with the mean of the two bare ones, which
    // cancels the speed-up a still-warming JVM gives later operations
    val (bareJobs1, bare1) = bareJobs(tracer)(op(spark, 0))
    bad ++= check(spark, 0)
    val (_, s) = tracer.span("RunDedup.run")(op(spark, 1))
    val tracedJobs = tracer.metrics(s).jobs.get()
    bad ++= check(spark, 1)
    val (bareJobs2, bare2) = bareJobs(tracer)(op(spark, 2))
    bad ++= check(spark, 2)
    m("trace.overhead_frac") = s.seconds / ((bare1 + bare2) / 2) - 1
    if (bareJobs1 != tracedJobs || bareJobs2 != tracedJobs)
      bad += s"a traced operation issued $tracedJobs jobs, the bare calls $bareJobs1 and $bareJobs2"
    System.err.println(s"[perfbench] jobs per operation: bare=$bareJobs1,$bareJobs2 traced=$tracedJobs")

    // per-stage profile: each stage method called and forced in turn
    val p = new DedupPipeline(spark, bcfg)
    val pages = spark.read.parquet(input)
    val seen = Plans.identitySet()
    def stage(st: String)(body: => DataFrame): DataFrame = {
      val cached0 = Plans.cachedBytes(spark)
      val (df, s) = tracer.span(s"DedupPipeline.$st") { val d = body; noop(d); d }
      val g = tracer.metrics(s)
      m(s"$st.wall_s") = s.seconds
      m(s"$st.cpu_s") = g.cpuNs.get() / 1e9
      m(s"$st.gc_s") = g.gcMs.get() / 1e3
      m(s"$st.fetch_wait_s") = g.fetchWaitMs.get() / 1e3
      m(s"$st.jobs") = g.jobs.get().toDouble
      m(s"$st.shuffle_read_mb") = mb(g.shuffleReadBytes.get())
      m(s"$st.shuffle_write_mb") = mb(g.shuffleWriteBytes.get())
      m(s"$st.spill_mb") = mb(g.spillBytes.get())
      m(s"$st.exchanges") = Plans.exchanges(df, seen).toDouble
      m(s"$st.cached_mb") = mb(Plans.cachedBytes(spark) - cached0)
      m(s"$st.rows") = df.count().toDouble
      df
    }
    val (_, root) = tracer.span("profile") {
      val ext = stage("extracted")(p.extracted(pages))
      val sigs = stage("signatures")(p.signatures(ext))
      val cands = stage("candidates")(p.candidates(sigs))
      val decs = stage("decisions")(p.decisions(cands, sigs, ext))
      val lbls = stage("labels")(p.labels(sigs, decs))
      val canon = stage("canonicals")(p.canonicals(lbls, ext, Some(decs)))

      // domain counts, read from the stage outputs after their spans closed
      val pairs = m("candidates.rows")
      m("candidates.pairs") = pairs
      val d = bcfg.simhash.maxHammingDistance
      def capped(keys: DataFrame): Long =
        MinHashLsh.bucketStats(keys.toDF("band_key"), bcfg).head().getAs[Long]("capped_buckets")
      m("candidates.hot_keys") = (capped(sigs.select(explode(col("band_keys")))) +
        capped(sigs.where(col("simhash").isNotNull)
          .select(explode(Hashing.simHashBlocks(col("simhash"), d + 1))))).toDouble
      m("candidates.star_pairs") = cands.where(col("cand_tier") === "star").count().toDouble
      val matches = decs.where(col("decision") === "match")
      m("decisions.match_yield") = if (pairs == 0) 0.0 else matches.count() / pairs
      m("decisions.ambiguous") = decs.where(col("exact_jaccard") >= bcfg.lsh.ambiguousLow &&
        col("exact_jaccard") < bcfg.lsh.jaccardThreshold).count().toDouble
      m("decisions.tier2_matches") = matches.where(col("tier") =!= "jaccard").count().toDouble
      val edges = Decisions.matchEdges(decs).count()
      m("labels.edges") = edges.toDouble
      // ConnectedComponents.run's default driver-finish cutover is 2^20 edges
      m("labels.driver_finish") = if (edges <= (1L << 20)) 1.0 else 0.0
      m("labels.largest_cluster") =
        lbls.groupBy("component").count().agg(max("count")).head().getLong(0).toDouble
      m("canonicals.flagged") = canon.where(col("flagged")).count().toDouble
    }
    p.unpersistAll()
    System.err.println(f"[perfbench] profile span ${root.seconds}%.2f s")
    FoldMetrics.foreach { case (k, _) => m(k) = 0.0 }
    bad.toSeq
  }
}

/** incremental_fold: `IncrementalDedup` over a table-backed [[Checkpoints]]
  * state in a fresh directory. An untimed base fold comes first; one timed
  * operation is `step` of the next batch followed by `saveState`.
  */
final class Fold(seed: Long, work: File) extends Workload {
  val name = "incremental_fold"
  val docsPerOp: Long = FoldBatch.toLong
  private val inputs = new File(work, s"inputs/$name-s$seed")
  private val foldCorpus = FoldBase + FoldBatch * FoldBatches
  private val order = Inputs.foldOrder(seed, foldCorpus)
  override def maxOps: Int = FoldBatches
  // part 0 is the base fold, part i + 1 the i-th timed batch
  private val pages = new File(inputs, s"pages-$FoldBase-$FoldBatch-$FoldBatches")
  private def batchPath(i: Int) = new File(pages, s"part=${i + 1}").getPath
  private val basePath = new File(pages, "part=0").getPath

  def prepare(spark: SparkSession): Unit = {
    val parts = order.take(FoldBase).toSeq +:
      order.drop(FoldBase).grouped(FoldBatch).map(_.toSeq).toSeq
    Inputs.cached(spark, pages.getPath, Seq("part"))(Inputs.pagesOfIds(spark, seed, parts))
  }

  private final class State(spark: SparkSession, val dir: File) {
    val ck = new Checkpoints(spark, new File(dir, "ckpt").getPath, cfg.configHash)
    val inc = new IncrementalDedup(spark, cfg, Some(ck), FoldBuckets)
    var state: inc.State = inc.emptyState
    var ingested = 0L
    def step(path: String): Unit = state = inc.step(state, spark.read.parquet(path))
    def save(): Unit = inc.saveState(state, dir.getPath)
    def fold(path: String): Unit = { step(path); save() }
    def hotKeys: Long = state.keyCounts.where(col("n") > cfg.lsh.maxBucketSize).count()
  }
  private var st: State = _

  /** The base fold into a fresh state is the warm-up: it runs every code
    * path a timed fold runs. */
  def warmUp(spark: SparkSession, dir: File): Unit = {
    st = new State(spark, new File(dir, "state"))
    st.fold(basePath)
    st.ingested = FoldBase
  }

  def op(spark: SparkSession, i: Int): Unit = {
    st.fold(batchPath(i))
    st.ingested += FoldBatch
  }

  private def saved(spark: SparkSession, table: String) =
    spark.read.parquet(new File(st.dir, table).getPath)

  /** The state saved after fold `i` must hold one label per ingested page,
    * be closed under its edges, and equal what any run of this seed saved
    * after fold `i`. */
  def check(spark: SparkSession, i: Int): Seq[String] = {
    val labels = saved(spark, "inc_labels")
    val (rows, nodes, split) = Checks.structure(labels, saved(spark, "inc_edges"))
    Seq(
      if (rows != st.ingested) Some(s"saved labels hold $rows rows for ${st.ingested} pages") else None,
      if (nodes != rows) Some(s"saved labels repeat nodes ($nodes distinct of $rows)") else None,
      if (split != 0) Some(s"$split saved edges join differently labelled nodes") else None,
      Checks.sameAsStored(new File(inputs, s"${pages.getName}.fold-$i.digest"), Checks.digest(labels))
    ).flatten
  }

  def finish(spark: SparkSession): (Checks.Quality, Seq[String]) = {
    val labels = saved(spark, "inc_labels")
    val q = Checks.quality(labels, Inputs.truthNodes(spark, seed, foldCorpus),
      Inputs.plantedGroups(spark, seed, foldCorpus, 0L))
    val bad = mutable.ArrayBuffer.empty[String]
    if (q.falseMerge != 0.0) bad += s"false_merge_frac ${q.falseMerge} != 0"
    // the final state read back by a fresh instance must label as the
    // in-memory state does
    val reloaded = new IncrementalDedup(spark, cfg,
      Some(new Checkpoints(spark, new File(st.dir, "ckpt").getPath, cfg.configHash)), FoldBuckets)
      .loadState(st.dir.getPath)
    val (a, b) = (Checks.digest(st.state.labels), Checks.digest(reloaded.labels))
    if (a != b) bad += s"reloaded state digest $b differs from the live state's $a"
    System.err.println(s"[perfbench] $name final state digest $a")
    (q, bad.toSeq)
  }

  def traced(spark: SparkSession, dir: File, tracer: Tracer, m: MetricSink): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    // a bare fold, a fold with step and saveState in spans, a bare fold
    // again (as in the batch workload's traced run)
    val (bareJobs1, bare1) = bareJobs(tracer)(op(spark, 0))
    bad ++= check(spark, 0)
    val bytes0 = dirBytes(st.dir)
    val edges0 = st.state.edges.count()
    var stepSpan, saveSpan: Span = null
    val (_, fold) = tracer.span("fold") {
      stepSpan = tracer.span("IncrementalDedup.step")(st.step(batchPath(1)))._2
      saveSpan = tracer.span("IncrementalDedup.saveState")(st.save())._2
    }
    st.ingested += FoldBatch
    val (gs, gv) = (tracer.metrics(stepSpan), tracer.metrics(saveSpan))
    val tracedJobs = gs.jobs.get() + gv.jobs.get()
    m("fold.step_s") = stepSpan.seconds
    m("fold.save_s") = saveSpan.seconds
    m("fold.cpu_s") = (gs.cpuNs.get() + gv.cpuNs.get()) / 1e9
    m("fold.jobs") = tracedJobs.toDouble
    m("fold.shuffle_write_mb") = mb(gs.shuffleWriteBytes.get() + gv.shuffleWriteBytes.get())
    m("fold.state_write_mb") = mb(dirBytes(st.dir) - bytes0)
    m("fold.new_edges") = (st.state.edges.count() - edges0).toDouble
    bad ++= check(spark, 1)
    val (bareJobs2, bare2) = bareJobs(tracer)(op(spark, 2))
    bad ++= check(spark, 2)
    m("trace.overhead_frac") = fold.seconds / ((bare1 + bare2) / 2) - 1
    if (bareJobs1 != tracedJobs || bareJobs2 != tracedJobs)
      bad += s"a traced fold issued $tracedJobs jobs, the bare folds $bareJobs1 and $bareJobs2"
    System.err.println(s"[perfbench] jobs per fold: bare=$bareJobs1,$bareJobs2 traced=$tracedJobs")
    val capped = cappedBuckets(spark, spark.read.parquet(pages.getPath), cfg)
    if (capped != 0) bad += s"bucketStats reports $capped capped buckets on the fold corpus"
    for (s <- Stages; (f, _) <- StageFields) m(s"$s.$f") = 0.0
    DomainMetrics.foreach { case (k, _) => m(k) = 0.0 }
    // the fold caps buckets by its merged per-key counts
    m("candidates.hot_keys") = st.hotKeys.toDouble
    bad.toSeq
  }
}
