package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.datagen.{Page, PagesGen}

/** Seeded boilerplate pages: cookie walls, 404 pages and parked-domain
  * pages, the kind of near-identical page a web crawl holds by the
  * thousand. Like [[PagesGen]], every page is a pure function of
  * (seed, id), so any partitioning of the id range yields the same bytes.
  *
  * Template `t` is a seeded shuffle of `Distinct` words from its own English
  * vocabulary (disjoint from PagesGen's syllable words, so a template page
  * is never a true duplicate of a corpus page), each repeated `Repeats`
  * times. A page copies its template and substitutes 1-2 tokens with
  * page-unique ones: always the last (a footer reference) and, for half the
  * pages, one at a random interior position. The shape is chosen so the
  * template's hot buckets are the only large ones:
  *  - SimHash: every bit's vote is an odd multiple of `Repeats` (9) and two
  *    substitutions move it by at most 4, so all pages of a template share
  *    its SimHash and all four block keys;
  *  - MinHash: a page changes at most 4 of ~187 shingles, so ~90% of the
  *    pages keep any one band key of the template and the main bucket of a
  *    band holds over `cfg.lsh.maxBucketSize` (2000) pages at
  *    `Workloads.PagesPerTemplate` pages per template. The keys a
  *    substitution creates belong to one page, or to the few pages whose
  *    interior substitution removed the same shingle.
  * Shared substitutes (say, the host name) would instead split a band into
  * several buckets of hundreds of pages below the cap, whose all-pairs
  * candidates overflow the verify join's broadcast in a 3 GiB heap.
  */
object Boilerplate {
  val Names: Array[String] = Array("cookie_wall", "not_found", "parked_domain")
  val Distinct = 21
  val Repeats = 9

  private val vocabs: Array[Array[String]] = Array(
    ("we use cookies and similar technologies to store access information on your " +
      "device personalise content ads measure performance partners vendors consent " +
      "legitimate interest accept all reject manage preferences privacy policy " +
      "necessary functional analytics marketing settings withdraw anytime browser " +
      "identifiers processing purposes storage duration third parties data " +
      "transfer countries choices save close banner learn more details").split(" "),
    ("sorry the page you requested could not be found it may have been moved " +
      "deleted renamed or never existed please check address spelling return " +
      "home search our site contact support error code missing resource broken " +
      "link outdated bookmark redirect navigation menu sitemap help center try " +
      "again later report problem webmaster thank you patience").split(" "),
    ("this domain name is for sale parked free courtesy of registrar buy now make " +
      "offer inquire owner related searches sponsored listings hosting email " +
      "website builder cheap domains premium auction transfer renew expired " +
      "privacy protection whois lookup dns records nameservers coming soon " +
      "under construction") .split(" ")
  )

  private def rng(seed: Long, a: Long, b: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + a * 7919L + b * 104729L)

  /** The unsubstituted words of template `t` under `seed`. */
  def templateWords(seed: Long, t: Int): Array[String] = {
    val r = new scala.util.Random(rng(seed, t.toLong, 31).nextLong())
    val words = r.shuffle(vocabs(t).distinct.toSeq).take(Distinct)
    r.shuffle(words.flatMap(Seq.fill(Repeats)(_))).toArray
  }

  /** Template of page `id`: round-robin, so each template gets the same
    * share of any contiguous id range.
    */
  def templateOf(id: Long): Int = (id % Names.length).toInt

  def textOf(seed: Long, id: Long): String = {
    val words = templateWords(seed, templateOf(id))
    words(words.length - 1) = s"ref$id"
    val r = rng(seed, id, 32)
    if (r.nextBoolean()) words(1 + r.nextInt(words.length - 2)) = s"no$id"
    words.mkString(" ")
  }

  def urlOf(seed: Long, id: Long): String =
    s"https://${PagesGen.hostOf(seed, id)}/${Names(templateOf(id))}/$id"

  def pageOf(seed: Long, id: Long): Page = {
    val url = urlOf(seed, id)
    val text = textOf(seed, id)
    val ts = new java.sql.Timestamp(1735689600000L + id * 1000L)
    Page(url, ts, PagesGen.htmlOf(url, text, "en"), text, "en")
  }
}

/** The generated inputs of one workload. Files live under the benchmark's
  * work directory and are reused by later runs with the same seed.
  */
object Inputs {

  /** Batch corpus: PagesGen ids [0, corpus) plus boilerplate ids
    * [corpus, corpus + templatePages), above PagesGen's range, so PagesGen's
    * truth pairs stay valid.
    */
  def batchPages(spark: SparkSession, seed: Long, corpus: Long,
      templatePages: Long): DataFrame = {
    import spark.implicits._
    PagesGen.pages(spark, corpus, seed).toDF().unionByName(
      spark.range(corpus, corpus + templatePages)
        .map(id => Boilerplate.pageOf(seed, id)).toDF())
  }

  /** Writes `df` to `path` unless a previous run already did. A `_SUCCESS`
    * marker from the parquet committer proves the write completed.
    */
  def cached(spark: SparkSession, path: String, partitionBy: Seq[String])(df: => DataFrame): Unit =
    if (!new java.io.File(path, "_SUCCESS").exists())
      df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path)

  /** Planted groups of the corpus: (node, group) for every page that belongs
    * to a PagesGen near-duplicate or exact-duplicate cluster (group >= 0, the
    * PagesGen group id) or to a boilerplate template (group = -1 - template).
    */
  def plantedGroups(spark: SparkSession, seed: Long, corpus: Long,
      templatePages: Long): DataFrame = {
    import spark.implicits._
    val gs = PagesGen.GroupSize.toLong
    val planted = spark.range((corpus + gs - 1) / gs).flatMap { g =>
      PagesGen.dupSlots(g).map(s => g * gs + s).filter(_ < corpus)
        .map(id => (PagesGen.urlOf(seed, id), g))
    }.toDF("url", "group")
    val templates = spark.range(corpus, corpus + templatePages)
      .map(id => (Boilerplate.urlOf(seed, id), -1L - Boilerplate.templateOf(id)))
      .toDF("url", "group")
    planted.unionByName(templates)
      .select(xxhash64(col("url")).as("node"), col("group"))
  }

  /** PagesGen truth pairs among the first `corpus` ids, as node pairs. */
  def truthNodes(spark: SparkSession, seed: Long, corpus: Long): DataFrame =
    PagesGen.truthPairs(spark, corpus, seed).toDF()
      .select(xxhash64(col("url_a")).as("a"), xxhash64(col("url_b")).as("b"), col("label"))

  /** The incremental workload's page order: a seeded shuffle of PagesGen's
    * ids [0, corpus), so planted pairs straddle folds.
    */
  def foldOrder(seed: Long, corpus: Int): Array[Long] =
    new scala.util.Random(seed).shuffle((0L until corpus.toLong).toVector).toArray

  /** PagesGen pages of the given id groups, tagged with the group's index
    * in column `part` (one parquet partition per group when written with
    * `partitionBy("part")`).
    */
  def pagesOfIds(spark: SparkSession, seed: Long, groups: Seq[Seq[Long]]): DataFrame = {
    import spark.implicits._
    val tagged = groups.zipWithIndex.flatMap { case (ids, p) => ids.map(id => (id, p)) }
    spark.createDataset(tagged).repartition(4)
      .map { case (id, p) => (PagesGen.pageOf(seed, id), p) }
      .select(col("_1.*"), col("_2").as("part"))
  }
}
