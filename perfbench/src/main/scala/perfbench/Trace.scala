package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Task metrics summed over every task of the jobs tagged with one job
  * group. Times are task-summed: four concurrent tasks of one second count
  * four seconds.
  */
final class GroupMetrics {
  val jobs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** Attributes Spark jobs and task metrics to the job group that was set on
  * the driver thread when the job was submitted. Jobs without a group are
  * only counted in [[jobsStarted]].
  */
final class GroupListener extends SparkListener {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val groups = new ConcurrentHashMap[String, GroupMetrics]

  def group(id: String): GroupMetrics = groups.computeIfAbsent(id, _ => new GroupMetrics)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        group(g).jobs.incrementAndGet()
        e.stageIds.foreach(stageGroup.put(_, g))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = group(g)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      a.shuffleReadBytes.addAndGet(
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      a.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Events reach listeners asynchronously; wait until every started job's
    * end event (and so every task-end event before it) has been delivered.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (jobsEnded.get() < jobsStarted.get() && System.nanoTime() < deadline)
      Thread.sleep(5)
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Each span also becomes the job group of the
  * calls made inside it, so [[GroupListener]] attributes their jobs and task
  * metrics to it. Spans nest; the innermost span owns the jobs.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val sc = spark.sparkContext
    stack = (id, name) :: stack
    sc.setJobGroup(groupId(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = Span(id, name, parent, t0, System.nanoTime())
      spans += s
      (out, s)
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some((p, pName)) => sc.setJobGroup(groupId(p), pName, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def groupId(spanId: Int): String = s"$runId-$spanId"

  def metrics(s: Span): GroupMetrics = { listener.drain(); listener.group(groupId(s.id)) }

  def writeJsonl(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Plans {

  /** Shuffle exchanges in the final (post-AQE) physical plan of a persisted
    * pipeline stage. The walk enters cached relations, because a stage's own
    * work sits inside its InMemoryRelation, but each cached relation is
    * counted once across calls (`seen`), so a stage is not charged for the
    * upstream stages it reads from cache.
    */
  def exchanges(df: DataFrame, seen: java.util.Set[AnyRef]): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => 0
      case s: ShuffleExchangeLike => 1 + walk(s.child)
      case m: InMemoryTableScanExec =>
        if (seen.add(m.relation.cacheBuilder)) walk(m.relation.cacheBuilder.cachedPlan) else 0
      case other => other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  def identitySet(): java.util.Set[AnyRef] =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])

  /** Bytes held by every cached RDD, in memory or on disk. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
