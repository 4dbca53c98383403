package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. They read what the program wrote, after the timer of the
  * operation that wrote it has stopped.
  */
object Checks {

  /** Quality of one labelling against the planted truth.
    *
    * @param recall planted `same` pairs co-labelled / planted `same` pairs
    * @param falseMerge planted `different` pairs co-labelled / all of them
    * @param cohesion pages of planted groups (PagesGen clusters and
    *   boilerplate templates) that sit in their group's largest component,
    *   divided by all such pages
    * @param templateCohesion the same ratio over boilerplate templates only
    *   (1.0 when the workload has none)
    */
  final case class Quality(recall: Double, falseMerge: Double, cohesion: Double,
      templateCohesion: Double)

  /** `labels` is (node, component). Truth pairs whose pages are not both
    * labelled are left out, so a partial corpus (an incremental state after
    * some folds) is scored over the pairs it holds.
    */
  def quality(labels: DataFrame, truth: DataFrame, groups: DataFrame): Quality = {
    val la = labels.select(col("node").as("a"), col("component").as("ca"))
    val lb = labels.select(col("node").as("b"), col("component").as("cb"))
    val byLabel = truth.join(la, "a").join(lb, "b")
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("co"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def frac(label: String, empty: Double): Double =
      byLabel.get(label).filter(_._1 > 0).map(t => t._2.toDouble / t._1).getOrElse(empty)
    val perGroup = groups.join(labels, "node")
      .groupBy("group", "component").count()
      .groupBy("group").agg(max("count").as("kept"), sum("count").as("n"))
    val sums = perGroup
      .agg(sum("kept"), sum("n"),
        sum(when(col("group") < 0, col("kept"))), sum(when(col("group") < 0, col("n"))))
      .head()
    def ratio(i: Int, j: Int): Double =
      if (sums.isNullAt(j) || sums.getLong(j) == 0) 1.0 else sums.getLong(i).toDouble / sums.getLong(j)
    Quality(frac("same", 1.0), frac("different", 0.0), ratio(0, 1), ratio(2, 3))
  }

  /** Order-independent digest of a labelling: the sum of a 64-bit hash of
    * every (node, component) row, taken as an exact decimal. Equal digests
    * mean equal labellings up to hash collisions; row order and partitioning
    * do not enter.
    */
  def digest(labels: DataFrame): String = {
    val r = labels
      .agg(count(lit(1)), sum(xxhash64(col("node"), col("component")).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** Compares `digest` with the one an earlier run of the same seed stored
    * in `file`, storing it when there is none: labels must not depend on
    * the process, the run or the operation that produced them.
    */
  def sameAsStored(file: java.io.File, digest: String): Option[String] = {
    val path = file.toPath
    if (!file.exists()) {
      java.nio.file.Files.write(path, digest.getBytes("UTF-8"))
      None
    } else {
      val stored = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      if (stored == digest) None
      else Some(s"labels digest $digest differs from $stored, stored by an earlier run of this seed")
    }
  }

  /** Rows, distinct nodes, and match edges whose endpoints carry different
    * labels (must be 0: a component is closed under its edges).
    */
  def structure(labels: DataFrame, edges: DataFrame): (Long, Long, Long) = {
    val r = labels.agg(count(lit(1)), countDistinct("node")).head()
    val split = edges.select(col("src").as("node"), col("dst"))
      .join(labels, "node")
      .join(labels.select(col("node").as("dst"), col("component").as("c2")), "dst")
      .where(col("component") =!= col("c2")).count()
    (r.getLong(0), r.getLong(1), split)
  }
}
