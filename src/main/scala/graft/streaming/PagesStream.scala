package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.config.GraftConfig
import graft.operators.{MinHashLsh, UrlOps}
import graft.functions.{Hashing, TextFunctions}

/** Streaming ingestion (SURVEY.md §2.1 S13): the reference's file watcher
  * (`/root/reference/src/event_dedup/worker/watcher.py:25-64`) re-expressed
  * as a Structured Streaming file source. New parquet drops under
  * `inputDir` are picked up incrementally; each micro-batch runs
  * extraction + signatures and appends to the signatures stage table —
  * the incremental analog of the reference's per-file pipeline trigger
  * (`worker/orchestrator.py:60-131`), except arriving data only pays for
  * its own signatures (the reference rescores the whole corpus per file).
  *
  * `Trigger.AvailableNow` gives the reference's batch mode
  * (`process_file_batch`): drain everything pending, then stop.
  */
object PagesStream {

  /** Start the incremental signature stream. Returns the running query. */
  def signatureStream(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      cfg: GraftConfig = GraftConfig.default,
      availableNow: Boolean = true
  ): StreamingQuery = {
    val pages = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(inputDir)

    val writer = pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val extracted = batch.select(
          col("url"), col("warc_ts"), col("lang"),
          TextFunctions.extractText(col("html")).as("extracted_text"))
        // idempotent replay: foreachBatch is at-least-once (a batch whose
        // write landed but whose checkpoint commit didn't re-runs on
        // restart), so each batch OVERWRITES its own batch_id partition —
        // a blind `append` would duplicate every row of the replayed batch
        MinHashLsh.signatures(extracted, cfg)
          .write.mode("overwrite")
          .parquet(s"$outputDir/batch_id=$batchId")
      }

    val triggered = if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer
    triggered.start()
  }

  /** Streaming exact-dedup: emit only the first-ARRIVING page per content
    * fingerprint — arrival order, NOT earliest `warc_ts`: micro-batches
    * pick up crawl drops non-chronologically, so when two copies arrive out
    * of event-time order the later-crawled one can be the survivor. The
    * batch tier's earliest-wins canonical selection (q14-q17) supersedes
    * this choice downstream; the stream's contract is one-per-fingerprint
    * within the window, not which one. Dedup state is bounded by the
    * event-time watermark (`dropDuplicatesWithinWatermark` — state for a
    * fingerprint expires once the watermark passes it, so state size tracks
    * the window, not the corpus); duplicates arriving later than the
    * watermark delay re-emit — the documented bounded-state tradeoff,
    * resolved downstream by the batch pipeline.
    */
  def dedupStream(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      watermarkDelay: String = "10 minutes",
      availableNow: Boolean = true
  ): StreamingQuery = {
    val pages = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(inputDir)
    val deduped = pages
      // null event times can't expire (the watermark never passes null):
      // their fingerprint state would pin forever — drop such rows up front
      .where(col("warc_ts").isNotNull)
      .select(col("url"), col("warc_ts"), col("lang"),
        TextFunctions.extractText(col("html")).as("extracted_text"))
      .withColumn("fp", graft.operators.TextAnalysis.fingerprint64(col("extracted_text")))
      .withWatermark("warc_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")
    val writer = deduped.writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Windowed per-host crawl statistics — the streaming analog of the q10
    * daily-series dashboard: tumbling event-time windows × registered host,
    * page count + mean extracted length per cell. Append mode emits a
    * window only once the WATERMARK closes it (exactly-once per cell, no
    * re-emission) — rows later than `watermarkDelay` are dropped, the
    * standard bounded-state trade. State size tracks open windows × hosts,
    * not the corpus.
    */
  def hostWindowStream(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "30 minutes",
      availableNow: Boolean = true
  ): StreamingQuery = {
    val pages = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(inputDir)
    val agg = pages
      // a NULL warc_ts lands in a null window cell the watermark can never
      // close — Append mode would hold (and grow) that group's state forever
      .where(col("warc_ts").isNotNull)
      .select(col("url"), col("warc_ts"),
        TextFunctions.extractText(col("html")).as("extracted_text"))
      .withColumn("host", UrlOps.host(col("url")))
      .withWatermark("warc_ts", watermarkDelay)
      .groupBy(window(col("warc_ts"), windowDuration), col("host"))
      .agg(count(lit(1)).as("pages"),
        avg(length(col("extracted_text"))).as("mean_text_len"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("host"), col("pages"), col("mean_text_len"))
    val writer = agg.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** One exploded (band key, node, event time) row — the unit of streaming
    * LSH state.
    */
  final case class BandRow(key: Long, node: Long, ts: java.sql.Timestamp)

  /** Streaming LSH candidate pairs with CUSTOM keyed state
    * (`flatMapGroupsWithState`): band-key groups carry the set of nodes
    * seen in the bucket; each arriving doc pairs against the carried set
    * and joins it — the incremental analog of the batch band self-join
    * ([[MinHashLsh.lshCandidates]]), emitting each within-bucket pair
    * exactly once per key without ever re-joining the corpus.
    *
    * Scale posture follows the batch tier without its look-ahead: the
    * batch kernel sees a whole bucket and drops it once it exceeds
    * `cfg.lsh.maxBucketSize` rows, while a stream cannot see the future, so
    * per-key state is capped at that many nodes and later arrivals are
    * turned away (a hot boilerplate bucket degrades to dropping
    * candidates, observable, never quadratic), and state expires
    * via EVENT-TIME timeout one `stateTtl` past the watermark — state
    * size tracks the TTL window, not the corpus. Pairs may repeat across
    * band keys (as in the batch tier pre-dedup); downstream consumers
    * dedup on (node_a, node_b).
    *
    * The cap is OBSERVABLE, not silent: pass `droppedCounter` (a
    * `LongAccumulator` registered on this session's SparkContext) and every
    * node a full bucket turns away increments it — the operational signal
    * that a hot key is degrading recall and `maxBucketSize` (or upstream
    * boilerplate filtering) needs attention. The count is AT-LEAST-ONCE:
    * accumulators updated inside a transformation re-add on task retry /
    * speculative duplicates, so read it as a "hot key is dropping" alarm
    * with approximate magnitude, not an exact ledger.
    */
  def candidatePairStream(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      cfg: GraftConfig = GraftConfig.default,
      stateTtl: String = "1 hour",
      availableNow: Boolean = true,
      droppedCounter: Option[org.apache.spark.util.LongAccumulator] = None
  ): StreamingQuery = {
    import spark.implicits._
    val ttlMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(stateTtl))
    // months have no fixed millisecond length — reject rather than silently
    // dropping them from the TTL (a "1 month" TTL would otherwise become 0
    // and expire every bucket at the watermark)
    require(ttlMs.months == 0,
      s"stateTtl '$stateTtl' uses months — express the TTL in days or smaller units")
    val ttlMillis = ttlMs.days * 86400000L + ttlMs.microseconds / 1000L
    require(ttlMillis > 0, s"stateTtl '$stateTtl' must be positive")
    val maxBucket = cfg.lsh.maxBucketSize
    val pages = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(inputDir)
    val extracted = pages.select(
      col("url"), col("warc_ts"),
      TextFunctions.extractText(col("html")).as("extracted_text"))
    // warc_ts null-guard: a NULL event time passes the late-data predicate
    // (null is not "late") and reaches the state function, where
    // `_.ts.getTime` would NPE and kill the whole query on one dirty crawl
    // row. A row with no event time cannot participate in watermarked state
    // anyway — drop it here, matching the batch consumers' ts.isNotNull.
    val banded = MinHashLsh.signatures(extracted, cfg)
      .where(col("minhash").isNotNull && col("warc_ts").isNotNull)
      .select(
        explode(Hashing.bandKeys(col("minhash"), cfg.lsh.bands, cfg.lsh.rowsPerBand)).as("key"),
        col("node"), col("warc_ts").as("ts"))
      .withWatermark("ts", stateTtl)
      .as[BandRow]
    val pairs = banded
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Long, rows: Iterator[BandRow], state: GroupState[Seq[Long]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // sort within the micro-batch for deterministic emission order;
            // the PAIR SET is order-independent below the bucket cap.
            // Membership is probed via a HashSet rebuilt from the state Seq
            // (which keeps emission order) — O(1) per arrival instead of the
            // O(n) Seq.contains that made a capped hot bucket worst-case
            // O(cap²) comparisons per micro-batch.
            var seen = state.getOption.getOrElse(Seq.empty[Long])
            val seenSet = scala.collection.mutable.HashSet.empty[Long]
            seenSet ++= seen
            var dropped = 0L
            val batch = rows.toSeq
            val out = Seq.newBuilder[(Long, Long)]
            for (r <- batch.sortBy(_.node); if !seenSet.contains(r.node)) {
              if (seenSet.size < maxBucket) {
                out ++= seen.map(o =>
                  (math.min(o, r.node), math.max(o, r.node)))
                seen = seen :+ r.node
                seenSet += r.node
              } else dropped += 1L
            }
            state.update(seen)
            if (dropped > 0L) droppedCounter.foreach(_.add(dropped))
            // expire this bucket's state one TTL past the watermark —
            // anchored on the WATERMARK itself, not the batch's max event
            // time: in a steady stream the batch's events lead the
            // watermark by the watermark delay, so an event-time anchor
            // would hold state ~watermarkDelay + ttl past the watermark
            // (2× the documented bound when the two are equal, as the
            // candidatePairStream defaults make them). Only in the FIRST
            // micro-batch, where the watermark is still 0, does the batch's
            // own max event time stand in — a key created there that never
            // recurs would otherwise carry state forever (no timeout ever
            // registered). flatMap over Option(ts): defense in depth vs
            // the upstream isNotNull filter; foldLeft keeps `max` total.
            val wm = state.getCurrentWatermarkMs()
            val anchor =
              if (wm > 0L) wm
              else batch.iterator.flatMap(r => Option(r.ts).map(_.getTime))
                .foldLeft(0L)(math.max)
            state.setTimeoutTimestamp(anchor + ttlMillis)
            out.result().iterator
          }
        })
      .toDF("node_a", "node_b")
    val writer = pairs.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
