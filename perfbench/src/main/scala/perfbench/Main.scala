package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import Workloads._

/** Benchmark entry point; perfbench/run.py builds the classpath and starts it.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --master local[4] --shuffle-partitions <n>
  * }}}
  *
  * Prints one JSON object as the last line of standard output:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones, measured with no instrumentation; with
  * `--trace 1` they are the per-layer ones from a separate traced run.
  */
object Main {

  /** Timed operations per run, at least; more while time remains. */
  val MinOps = 1

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, work: String = "", master: String = "local[4]",
      partitions: Int = 4)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--master" :: v :: t => parse(t, a.copy(master = v))
    case "--shuffle-partitions" :: v :: t => parse(t, a.copy(partitions = v.toInt))
    case bad :: _ => throw new IllegalArgumentException(s"unknown argument: $bad")
  }

  /** Highest old-generation occupancy right after any GC while `active`. In
    * local mode the executors run in this JVM, so this covers them too.
    */
  object Heap {
    @volatile var active = false
    val peakBytes = new AtomicLong
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
                case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") => u.getUsed
              }.sum
              peakBytes.accumulateAndGet(old, (a, b) => math.max(a, b))
            }
        }, null, null)
      case _ => ()
    }
  }

  /** A fixed single-thread integer loop. Its time moves only with the host
    * (CPU steal, frequency), so it is recorded beside the numbers it may
    * distort.
    */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("") // keeps the loop from being optimised away
    (System.nanoTime() - t0) / 1e9
  }

  def session(a: Args, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(a.master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.partitions.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val jvmStart = ProcessHandle.current().info().startInstant().get().toEpochMilli
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f $msg")

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work.nonEmpty, "--work is required")
    val work = new File(a.work).getAbsoluteFile
    val runId = s"${a.workload}-s${a.seed}-${ProcessHandle.current().pid()}"
    val runDir = new File(work, s"runs/$runId")
    val wl = Workloads(a.workload, a.seed, work)
    val probe0 = cpuProbe()
    Heap.install()

    val spark = session(a, work)
    log("session ready")
    try {
      val (_, genS) = time(wl.prepare(spark))
      wl.warmUp(spark, runDir)
      // set-up: process start → session ready → warm-up done, with input
      // generation (and the host probe) left out
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3 - genS - probe0
      log(f"inputs $genS%.2f s, set-up $setupS%.2f s")
      if (a.trace) traced(a, wl, spark, runDir, runId, probe0)
      else measured(a, wl, spark, setupS, probe0)
    } finally {
      spark.stop()
      rm(runDir)
      log("stopped")
    }
  }

  private def measured(a: Args, wl: Workload, spark: SparkSession, setupS: Double,
      probe0: Double): Unit = {
    val walls = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var attempted = 0
    val t0 = System.nanoTime()
    Heap.peakBytes.set(0L)
    Heap.active = true
    // closed loop, one client: the next operation starts after the previous
    // one and its check ended
    while (attempted < wl.maxOps &&
      (attempted < MinOps || (System.nanoTime() - t0) / 1e9 < a.seconds)) {
      val i = attempted
      attempted += 1
      val problems = try {
        val (_, s) = time(wl.op(spark, i))
        Heap.active = false
        walls += s
        wl.check(spark, i)
      } catch { case e: Exception => Seq(s"operation threw $e") }
      finally Heap.active = true
      if (problems.nonEmpty) { failed += 1; problems.foreach(p => log(s"op $i FAILED: $p")) }
    }
    Heap.active = false
    val (fin, finS) = time(wl.finish(spark))
    val (q, runProblems) = fin
    runProblems.foreach(p => log(s"FAILED: $p"))
    val probe1 = cpuProbe()
    val opS = p50(walls.toSeq)
    log(f"${wl.name}: ops=${walls.length} op_s=[${walls.map(x => f"$x%.3f").mkString(", ")}] " +
      f"op_s_p50=$opS%.3f recall=${q.recall}%.4f false_merge=${q.falseMerge} " +
      f"cohesion=${q.cohesion}%.4f boilerplate_cohesion=${q.templateCohesion}%.4f " +
      f"cpu_probe_s=$probe0%.3f/$probe1%.3f finish_s=$finS%.2f")
    val values = Map(
      "docs_per_s" -> wl.docsPerOp / opS,
      "recall" -> q.recall,
      "cohesion" -> q.cohesion,
      "peak_heap_mb" -> mb(Heap.peakBytes.get()),
      "setup_s" -> setupS)
    println(json(failed == 0 && runProblems.isEmpty, attempted, failed,
      EndToEnd.map { case (k, u) => (k, values(k), u) }))
  }

  private def traced(a: Args, wl: Workload, spark: SparkSession, runDir: File,
      runId: String, probe0: Double): Unit = {
    val tracer = new Tracer(spark, runId)
    val m = new MetricSink
    val problems = try wl.traced(spark, runDir, tracer, m)
      catch { case e: Exception => Seq(s"traced run threw $e") }
    val (q, runProblems) =
      if (problems.isEmpty) wl.finish(spark) else (Checks.Quality(0, 0, 0, 0), Seq.empty)
    m("quality.recall") = q.recall
    m("quality.false_merge_frac") = q.falseMerge
    m("host.cpu_probe_s") = math.max(probe0, cpuProbe())
    val all = problems ++ runProblems
    all.foreach(p => log(s"FAILED: $p"))
    tracer.writeJsonl(new File(new File(a.work), s"spans/$runId.jsonl"))
    println(json(all.isEmpty, 1, if (all.isEmpty) 0 else 1,
      PerLayer.map { case (k, u) => (k, m.values.getOrElse(k, Double.NaN), u) }))
  }
}
