package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.GraftConfig
import graft.functions.Hashing

/** MinHash + LSH banding candidate generation and exact-Jaccard verification
  * (SURVEY.md §2.3 B7/B8, §2.4). The reference's analog is blocking-key
  * candidate generation + within-block pair enumeration
  * (`/root/reference/src/event_dedup/matching/candidate_pairs.py:31-64`):
  * explode keys → self-join on key with canonical ordering → dedup across
  * blocks. Ours swaps date/geo keys for MinHash band keys and verifies with
  * exact shingle Jaccard (the reference's scorer role, `matching/pipeline.py:123-153`).
  *
  * Scale posture:
  *  - the band self-join is THE skew-sensitive shuffle. Every bucket join
  *    runs through [[bucketPairs]]: one shuffle by key, a sort by
  *    (key, node), and a streaming pass that learns each bucket's size
  *    where the data lands — no driver-side pre-pass, no Spark job while the
  *    plan is built. Over-dense buckets (boilerplate pages, hot hosts) above
  *    `cfg.lsh.maxBucketSize` are starred or dropped in that same pass with
  *    O(cap) memory per task (capped buckets are observable in
  *    [[bucketStats]], never silent) — pair blowup is quadratic in bucket
  *    size, so one 10^6 bucket would otherwise emit 10^12 pairs;
  *  - pair canonical ordering `node_a < node_b` halves the pair output and
  *    a dedup across buckets follows (candidate_pairs.py:59-64 semantics).
  */
object MinHashLsh {

  /** Per-doc signature stage: tokens → distinct shingle hashes → MinHash
    * signature + SimHash. One narrow projection, no shuffle.
    *
    * Input: (url, extracted_text, …); output adds
    * (node, n_tokens, shingles, minhash, simhash).
    * `node` is the 64-bit xxhash of the url — the CC node id. At 10^12 docs
    * 64-bit birthday collisions appear (~3%); production would widen to a
    * 128-bit id, the pipeline only needs ids orderable + hashable.
    */
  def signatures(extracted: DataFrame, cfg: GraftConfig, textCol: String = "extracted_text"): DataFrame = {
    // One fused byte-walk per document ([[graft.functions.DocSignature]])
    // instead of split×3 + four interpreted trees; exposed through
    // `inline(array(...))` so the struct is evaluated exactly ONCE per row
    // (four GetStructField projections would re-run the sketch 4×: projection
    // collapse inlines struct fields, and common-subexpression elimination
    // does not reach into CodegenFallback subtrees).
    val sig = Hashing.docSignature(col(textCol),
      cfg.lsh.shingleSize, cfg.lsh.numHashes, cfg.lsh.seed, cfg.simhash.seed)
    extracted
      .withColumn("node", xxhash64(col("url")))
      .select(col("*"), inline(array(sig)))
  }

  /** Exploded (node, band_key) table. Band keys are already salted with the
    * band index (see [[graft.functions.BandKeys]]), so a single-column join
    * suffices.
    */
  def bands(sigs: DataFrame, cfg: GraftConfig): DataFrame =
    sigs.where(col("minhash").isNotNull)
      .select(col("node"), explode(Hashing.bandKeys(col("minhash"), cfg.lsh.bands, cfg.lsh.rowsPerBand)).as("band_key"))

  /** Bucket-size distribution + how many buckets the cap drops — the
    * reference logs blocking reduction stats the same way
    * (candidate_pairs.py:66-76).
    */
  def bucketStats(bands: DataFrame, cfg: GraftConfig): DataFrame =
    bands.groupBy("band_key").count()
      .agg(
        count(lit(1)).as("buckets"),
        max("count").as("max_bucket"),
        sum(when(col("count") > cfg.lsh.maxBucketSize, 1).otherwise(0)).as("capped_buckets"),
        sum(when(col("count") > 1, col("count") * (col("count") - 1) / 2).otherwise(0)).as("candidate_pairs_upper")
      )

  /** The one bucket self-join behind every blocking join here: the fused
    * band/block join, [[lshCandidates]], [[simHashCandidates]],
    * [[graft.operators.Similarity.nearDupPairs]] and
    * [[graft.operators.SuffixOverlap.candidates]].
    *
    * Input rows are `(key, node, aux, tier)`: `key` names the bucket, `node`
    * the member, `aux` the member's SimHash (read for tier 1 only) and `tier`
    * the key space. They are shuffled ONCE by key, sorted within partitions
    * by `(key, node)`, and each bucket is streamed with a buffer of at most
    * `cap + 1` rows:
    *  - a bucket that ends with ≤ `cap` rows emits every pair
    *    `node_a < node_b` of one tier (tier 1 also needs Hamming distance
    *    `bit_count(aux_a ^ aux_b) ≤ maxHamming`);
    *  - a bucket that reaches `cap + 1` rows is hot: with `star` it emits
    *    `(min node, node)` at tier 2 for every larger distinct node (O(m)
    *    pairs, no Hamming filter), otherwise nothing.
    * Hot means the ROW count exceeds `cap`, so duplicate (key, node) rows
    * count; equal nodes never pair; rows with a null key or node are
    * dropped. `cap == Int.MaxValue` never drops. Output
    * `(node_a, node_b, tier)` is not deduped across buckets.
    */
  private[operators] def bucketPairs(rows: DataFrame, cap: Int, maxHamming: Int,
      star: Boolean): DataFrame = {
    require(cap >= 1, s"maxBucketSize must be >= 1, got $cap")
    val spark = rows.sparkSession
    import spark.implicits._
    rows.where(col("key").isNotNull && col("node").isNotNull)
      .select("key", "node", "aux", "tier")
      .repartition(col("key"))
      .sortWithinPartitions("key", "node")
      .as[(Long, Long, Long, Byte)]
      .mapPartitions(streamBuckets(_, cap, maxHamming, star))
      .toDF("node_a", "node_b", "tier")
  }

  private def streamBuckets(sorted: Iterator[(Long, Long, Long, Byte)], cap: Int,
      maxHamming: Int, star: Boolean): Iterator[(Long, Long, Byte)] = {
    val in = sorted.buffered
    val buckets = new Iterator[Iterator[(Long, Long, Byte)]] {
      def hasNext: Boolean = in.hasNext
      def next(): Iterator[(Long, Long, Byte)] = {
        val key = in.head._1
        val rest = new Iterator[(Long, Long, Long, Byte)] {
          def hasNext: Boolean = in.hasNext && in.head._1 == key
          def next(): (Long, Long, Long, Byte) = in.next()
        }
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Byte)]
        while (buf.length <= cap && rest.hasNext) buf += rest.next()
        if (buf.length <= cap) {
          val n = buf.length
          Iterator.range(0, n).flatMap { i =>
            val (_, na, xa, ta) = buf(i)
            Iterator.range(i + 1, n).map(buf(_)).collect {
              case (_, nb, xb, tb) if na < nb && ta == tb &&
                  (ta != 1 || java.lang.Long.bitCount(xa ^ xb) <= maxHamming) => (na, nb, ta)
            }
          }
        } else if (star) {
          // sorted by node: the first row holds the minimum, and a strictly
          // increasing filter also skips duplicate member rows
          var prev = buf.head._2
          val hub = prev
          (buf.iterator ++ rest).collect {
            case (_, nb, _, _) if nb > prev => prev = nb; (hub, nb, 2.toByte)
          }
        } else {
          rest.foreach(_ => ())
          Iterator.empty
        }
      }
    }
    buckets.flatten
  }

  /** LSH candidate pairs: (node_a, node_b) with node_a < node_b, deduped
    * across bands, hot buckets dropped (observable via [[bucketStats]]).
    */
  def lshCandidates(sigs: DataFrame, cfg: GraftConfig): DataFrame = {
    val keyed = bands(sigs, cfg)
      .select(col("band_key").as("key"), col("node"), lit(0L).as("aux"), lit(0).cast("tinyint").as("tier"))
    bucketPairs(keyed, cfg.lsh.maxBucketSize, 0, star = false)
      .select("node_a", "node_b")
      .dropDuplicates("node_a", "node_b")
  }

  /** SimHash Hamming-ball candidates (SURVEY.md §2.3 B9): join on pigeonhole
    * block keys, keep pairs with Hamming distance ≤ d. A second recall path
    * for near-dups whose shingle sets drifted below LSH sensitivity but whose
    * token distributions stayed close.
    */
  def simHashCandidates(sigs: DataFrame, cfg: GraftConfig): DataFrame = {
    val d = cfg.simhash.maxHammingDistance
    val keyed = sigs.where(col("simhash").isNotNull)
      .select(explode(Hashing.simHashBlocks(col("simhash"), d + 1)).as("key"), col("node"),
        col("simhash").as("aux"), lit(1).cast("tinyint").as("tier"))
    bucketPairs(keyed, cfg.lsh.maxBucketSize, d, star = false)
      .select("node_a", "node_b")
      .dropDuplicates("node_a", "node_b")
  }

  /** Fused candidate generation: MinHash band keys AND SimHash block keys in
    * ONE exploded frame → one [[bucketPairs]] pass → one dedup. Same output
    * as union(lshCandidates, simHashCandidates) with tier = lexical min
    * ('lsh' < 'simhash'), except that hot buckets star instead of dropping.
    * On a real cluster the band self-join is the dominant shuffle, so
    * running both key families through one shuffle matters more than any
    * per-row cost.
    *
    * **Mega-bucket handling** (skew, north_rule): a bucket of m members
    * emits m(m-1)/2 pairs — one 10^6-member boilerplate bucket would emit
    * 5·10^11 pairs and kill the job. Buckets above `cfg.lsh.maxBucketSize`
    * switch to STAR candidates where they land: every member pairs with the
    * bucket minimum (O(m) pairs, O(cap) memory per task). For the dominant
    * mega-bucket cause — identical/near-identical boilerplate — verification
    * accepts the star edges and connected components restores the full
    * cluster transitively; genuinely heterogeneous mega-buckets degrade
    * recall gracefully instead of exploding. Counts are observable via
    * [[bucketStats]].
    */
  def fusedCandidates(sigs: DataFrame, cfg: GraftConfig): DataFrame = {
    val d = cfg.simhash.maxHammingDistance
    // Accept either a precomputed `band_keys` column (the pipeline persists
    // those 16 longs instead of the 128-long minhash — 8x fewer cached
    // bytes on the stage every candidate/verify scan reads) or derive the
    // keys from `minhash` on the fly.
    val bandKeysCol =
      if (sigs.columns.contains("band_keys")) col("band_keys")
      else Hashing.bandKeys(col("minhash"), cfg.lsh.bands, cfg.lsh.rowsPerBand)
    // tier travels as one byte until the final projection: the exploded key
    // frame is the widest shuffle of the pipeline, and a 3-16 char UTF8
    // string per row is pure overhead there ('0' lsh < '1' simhash < '2'
    // star keeps the same min-wins dedup priority). Band rows never read
    // their SimHash, so they carry a constant aux.
    val banded = sigs.withColumn("bk", bandKeysCol).where(col("bk").isNotNull)
      .select(explode(col("bk")).as("key"), col("node"), lit(0L).as("aux"),
        lit(0).cast("tinyint").as("tier"))
    val blocked = sigs.where(col("simhash").isNotNull)
      .select(col("node"), col("simhash"),
        // salt block keys into a disjoint key space from band keys
        explode(Hashing.simHashBlocks(col("simhash"), d + 1)).as("raw_key"))
      .select(xxhash64(col("raw_key"), lit("simblock")).as("key"), col("node"),
        col("simhash").as("aux"), lit(1).cast("tinyint").as("tier"))

    bucketPairs(banded.unionByName(blocked), cfg.lsh.maxBucketSize, d, star = true)
      .groupBy("node_a", "node_b")
      .agg(min(col("tier")).as("t")) // 0 lsh < 1 simhash < 2 star
      .select(col("node_a"), col("node_b"),
        when(col("t") === 0, "lsh").when(col("t") === 1, "simhash")
          .otherwise("star").as("cand_tier"))
  }

  /** Signature-estimated Jaccard: fraction of agreeing MinHash components.
    * The scale path — at 10^12 docs you verify from the 128-long signature
    * you already carry instead of re-joining full shingle sets.
    */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    aggregate(
      zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x
    ).cast("double") / k

  /** Exact shingle-set Jaccard. Inputs are distinct-sets by construction
    * ([[graft.functions.ShingleHashes]]), so |A∪B| = |A|+|B|-|A∩B| — one
    * hash-set probe instead of also materializing the union array.
    */
  def exactJaccard(shA: Column, shB: Column): Column = {
    val inter = size(array_intersect(shA, shB)).cast("double")
    val uni = (size(shA) + size(shB)).cast("double") - inter
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** Broadcast semi-join reduction shared by every verify consumer: prune a
    * corpus-wide per-node `frame` to rows whose `node` appears in `pairs`
    * (node_a/node_b) — only pair members can contribute to a pair join, so
    * the frame's payload (shingle arrays, full text) must never cross the
    * verify shuffle for non-candidate nodes.
    *
    * The broadcast collect scales with 2×|pairs| (node ids, ~16 B/row —
    * duplicates per node included; the HashedRelation dedups only as it
    * BUILDS, after the collect), NOT with doc count: hot-bucket caps keep
    * per-doc pair degree O(1), so at 10^8 docs with degree ~1-2 this is
    * hundreds of MB — near the practical broadcast ceiling. Beyond it,
    * swap the hint for a shuffled or bloom semi-join — ONE place now.
    * No `.distinct()` on the pair nodes: a pre-dedup is a full shuffle +
    * stage barrier that costs more than the duplicate ids it removes
    * until exactly the scale where the whole broadcast should be swapped.
    */
  def pruneToPairNodes(frame: DataFrame, pairs: DataFrame): DataFrame = {
    val nodes = pairs.select(col("node_a").as("node"))
      .unionByName(pairs.select(col("node_b").as("node")))
    frame.join(broadcast(nodes), Seq("node"), "left_semi")
  }

  /** Verify candidate pairs: join back to signatures (B4's pair→event lookup,
    * `matching/pipeline.py:117-125`) and score exact shingle Jaccard.
    *
    * Input: candidates (node_a, node_b [, tier]); output adds
    * (url_a, url_b, exact_jaccard) — plus `est_jaccard` ONLY when `sigs`
    * carries a `minhash` column. The pipeline's signature stage persists
    * band keys instead of the 128-long minhash (8× fewer cached bytes), so
    * the hot path intentionally skips the est diagnostic; pass a frame from
    * [[signatures]] directly to get it.
    */
  def verify(candidates: DataFrame, sigs: DataFrame, cfg: GraftConfig): DataFrame = {
    val hasMinhash = sigs.columns.contains("minhash")
    if (hasMinhash) {
      val side = sigs.select(col("node"), col("url"), col("shingles"), col("minhash"))
      val a = side.toDF("node_a", "url_a", "sh_a", "mh_a")
      val b = side.toDF("node_b", "url_b", "sh_b", "mh_b")
      candidates
        .join(a, "node_a")
        .join(b, "node_b")
        .withColumn("est_jaccard", estJaccard(col("mh_a"), col("mh_b"), cfg.lsh.numHashes))
        .withColumn("exact_jaccard", exactJaccard(col("sh_a"), col("sh_b")))
        .drop("sh_a", "sh_b", "mh_a", "mh_b")
    } else {
      // pipeline hot path: signatures carry band keys, not the raw minhash
      // — decisions read exact Jaccard only, so skip the est diagnostic
      // instead of shuffling 1 KB/doc of signature just to compute it
      val side = sigs.select(col("node"), col("url"), col("shingles"))
      val a = side.toDF("node_a", "url_a", "sh_a")
      val b = side.toDF("node_b", "url_b", "sh_b")
      candidates
        .join(a, "node_a")
        .join(b, "node_b")
        .withColumn("exact_jaccard", exactJaccard(col("sh_a"), col("sh_b")))
        .drop("sh_a", "sh_b")
    }
  }
}
