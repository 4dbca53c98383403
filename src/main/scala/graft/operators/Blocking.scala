package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's blocking-key candidate generation (SURVEY.md §2.3 B1-B5),
  * kept for event-domain parity alongside our MinHash/SimHash tiers
  * (`/root/reference/src/event_dedup/preprocessing/blocking.py`).
  */
object Blocking {

  val GeoConfidenceThreshold = 0.85
  val GeoGridLat = 0.09
  val GeoGridLon = 0.13
  // Breisgau bounding box (blocking.py:20-25)
  val LatMin = 47.5; val LatMax = 48.5; val LonMin = 7.3; val LonMax = 8.5

  /** B1 geo_grid_key (blocking.py:28-42): snap to grid, "%.2f|%.2f". */
  def geoGridKey(lat: Column, lon: Column): Column =
    format_string("%.2f|%.2f",
      round(lat / GeoGridLat) * GeoGridLat,
      round(lon / GeoGridLon) * GeoGridLon)

  /** B2 is_valid_geo (blocking.py:45-66). */
  def isValidGeo(lat: Column, lon: Column, confidence: Column): Column =
    confidence.isNotNull && confidence >= GeoConfidenceThreshold &&
      lat.between(LatMin, LatMax) && lon.between(LonMin, LonMax)

  /** B3 generate_blocking_keys (blocking.py:69-121): per event date a
    * `dc|date|city` key (if city present) and `dg|date|grid` key (if geo
    * valid); order-preserving dedup (array_distinct keeps first occurrence).
    * `dates` is the nested ArrayType(Struct) dates column; day strings come
    * from the `date` field.
    */
  def blockingKeys(
      dates: Column, cityNormalized: Column,
      lat: Column, lon: Column, confidence: Column
  ): Column = {
    val hasGeo = lat.isNotNull && lon.isNotNull && isValidGeo(lat, lon, confidence)
    val gridKey = geoGridKey(lat, lon)
    val perDate = transform(coalesce(dates, array()), d => {
      val day = d.getField("date")
      val dc = when(cityNormalized.isNotNull && length(cityNormalized) > 0 && day.isNotNull,
        concat_ws("|", lit("dc"), day, cityNormalized))
      val dg = when(hasGeo && day.isNotNull, concat_ws("|", lit("dg"), day, gridKey))
      filter(array(dc, dg), k => k.isNotNull)
    })
    array_distinct(flatten(perDate))
  }

  /** B4 candidate pairs from blocking keys (candidate_pairs.py:31-64):
    * explode keys → self-join → canonical order → dedup across blocks.
    * Blocking keys are strings, so this join does not share the long-keyed
    * streaming kernel of the LSH band join (MinHashLsh.bucketPairs): blocks
    * above `maxBucketSize` rows are counted with a `groupBy(key)` and
    * removed by a broadcast anti-join before the self-join.
    *
    * @param events DataFrame with (id, blocking_keys array<string>)
    */
  def candidatePairs(events: DataFrame, maxBucketSize: Int = 10000): DataFrame = {
    val keyed = events.select(col("id"), explode(col("blocking_keys")).as("key"))
    val hot = keyed.groupBy("key").count().where(col("count") > maxBucketSize).select("key")
    val pruned = keyed.join(broadcast(hot), Seq("key"), "left_anti")
    val a = pruned.alias("a")
    val b = pruned.alias("b")
    a.join(b, col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** B5 blocking stats (candidate_pairs.py:14-28,66-76): naive C(n,2) vs
    * blocked pair count and reduction percentage.
    */
  def blockingStats(events: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val n = events.count()
    // BigInt: n*(n-1) overflows Long past ~4.3e9 events — this module
    // documents 10^12-row scale and the value is only reported, never joined
    val naive = (BigInt(n) * BigInt(n - 1) / 2).min(BigInt(Long.MaxValue)).toLong
    val blocked = pairs.count()
    val reduction = if (naive == 0) 0.0 else 100.0 * (1.0 - blocked.toDouble / naive)
    Seq((n, naive, blocked, reduction))
      .toDF("total_events", "naive_pairs", "blocked_pairs", "reduction_pct")
  }
}
