package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

import graft.Tables
import graft.sources.StoreFiles
import graft.functions.BitmapFunctions._
import graft.functions.Cols.tsMs

/** Exact mergeable distinct-count operators over [[graft.functions.LongBitmap]]
  * — the precise twin of the HLL family in [[Sketches]]. Same rollup algebra
  * (persist per-day partials, answer coarser windows by merging partials, no
  * corpus re-scan), but EXACT and closed under INTERSECTION, which HLL is not:
  * this is the sketch a dashboard uses when distinct counts must reconcile
  * (billing, audited MAU) or when the question is a set operation (common
  * audience between segments).
  *
  * Scale shape: the bitmap build is one (key, day) partial-agg shuffle —
  * TypedImperativeAggregate plans through ObjectHashAggregate, so map-side
  * partial bitmaps merge before the exchange and the shuffle carries one
  * <= O(distinct/8)-byte payload per (key, day), not one row per event.
  * For a billion-id sparse space a single bitmap row is ~128 MiB worst
  * case; the id space then SHARDS — group by (key, id >> shardBits),
  * cardinalities ADD across shards because the shards partition the id
  * space, and intersections distribute shard-wise. [[bitmapRollup]]
  * demonstrates exactly that pattern.
  */
object BitmapOps {

  private def dailyBitmaps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), tsMs(col("ts")).as("ts_ms"), col("user_id"))
      .withColumn("day_idx", expr("ts_ms div 86400000"))
      .groupBy("event_type", "day_idx")
      .agg(bitmapAgg(col("user_id")).as("bm"), count(lit(1)).as("n_events"))

  /** A80: exact distinct users per (event_type, day) via the bitmap agg —
    * the per-day partial a warehouse would persist. One (type, day)
    * partial-agg shuffle; the count is a scalar kernel over the
    * summary-sized sketch. Oracle: count(DISTINCT user_id). */
  def bitmapDaily(spark: SparkSession, dir: String): DataFrame =
    dailyBitmaps(spark, dir)
      .select(col("event_type"), col("day_idx"),
        bitmapCount(col("bm")).as("n_users"), col("n_events"))

  /** A80b: whole-span exact distinct per type ANSWERED FROM THE DAILY
    * PARTIALS — union of per-(type, day, id-shard) bitmaps, then shard
    * cardinalities SUM (the shards partition the id space, so the sum is
    * exact). This is the 100 TB pattern end-to-end: per-row sketch size is
    * bounded by the shard width (2^20 ids -> <= 128 KiB) no matter how many
    * distinct ids a type accumulates, and the coarse answer never re-scans
    * events. Oracle: plain count(DISTINCT user_id) per type. */
  def bitmapRollup(spark: SparkSession, dir: String,
                   shardBits: Int = 20): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), tsMs(col("ts")).as("ts_ms"), col("user_id"))
      .withColumn("day_idx", expr("ts_ms div 86400000"))
      .withColumn("shard", shiftright(col("user_id"), shardBits))
      .groupBy("event_type", "day_idx", "shard")
      .agg(bitmapAgg(col("user_id")).as("bm"), count(lit(1)).as("n_events"))
    daily
      .groupBy("event_type", "shard")
      .agg(bitmapOrAgg(col("bm")).as("bm"),
        sum(col("n_events")).as("n_events"),
        countDistinct(col("day_idx")).as("n_days"))
      .groupBy("event_type")
      .agg(sum(bitmapCount(col("bm"))).as("n_users"),
        sum(col("n_events")).as("n_events"),
        max(col("n_days")).as("n_days"))
  }

  /** A80c: trailing `windowDays`-day EXACT distinct users per (type, day) —
    * the exact twin of [[Sketches.hllSliding]], same algebra: ONE corpus
    * scan into daily bitmaps, each daily sketch fans out to the <=
    * windowDays windows containing it (a summary-sized explode), and every
    * window is a UNION of member sketches — never a per-window re-scan.
    * Windows are labeled by their END day, reported only for observed days.
    * Where HLL answers within ~2%, this reconciles exactly — at the cost of
    * sketch size O(distinct/8) instead of O(2^lgK). */
  def bitmapSliding(spark: SparkSession, dir: String,
                    windowDays: Int = 7): DataFrame = {
    val d = dailyBitmaps(spark, dir)
    val realDays = d.select(col("event_type"), col("day_idx").as("win_day"))
    d.select(col("event_type"), col("bm"), col("n_events"),
        explode(sequence(col("day_idx"), col("day_idx") + (windowDays - 1)))
          .as("win_day"))
      .join(realDays, Seq("event_type", "win_day"), "left_semi")
      .groupBy("event_type", "win_day")
      .agg(bitmapCount(bitmapOrAgg(col("bm"))).as("n_users"),
        sum(col("n_events")).as("n_events"),
        count(lit(1)).as("n_days"))
  }

  /** A80d: exact pairwise audience intersection between event types —
    * the set-operation query HLL cannot answer. One corpus scan into
    * per-type bitmaps (|types| summary rows), then the |types|^2/2 pairs
    * intersect via the scalar kernel on a self-join of the SUMMARY (a
    * broadcast join of a handful of rows — no corpus shuffle). Reports
    * |A ∩ B| and the exact Jaccard |A∩B| / |A∪B|. */
  def bitmapOverlap(spark: SparkSession, dir: String): DataFrame = {
    val perType = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"))
      .groupBy("event_type")
      .agg(bitmapAgg(col("user_id")).as("bm"))
    val a = perType.select(col("event_type").as("type_a"), col("bm").as("bm_a"))
    val b = perType.select(col("event_type").as("type_b"), col("bm").as("bm_b"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        bitmapCount(col("bm_a")).as("n_a"),
        bitmapCount(col("bm_b")).as("n_b"),
        bitmapCount(bitmapAnd(col("bm_a"), col("bm_b"))).as("n_both"))
      .withColumn("jaccard",
        col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")))
  }

  // ---- persisted bitmap store ----------------------------------------------

  private val storeSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("day_idx", LongType),
    StructField("bm", BinaryType),
    StructField("n_events", LongType)))

  /** Write a batch of events into the store as per-(type, day) bitmap
    * partials under `batch_id=<id>` (append-only ingest — serving merges,
    * so same-day partials across batches are legal, the OR is exact). */
  def bitmapStoreWrite(events: DataFrame, storeDir: String, batchId: Long): Unit =
    events
      .select(col("event_type"), tsMs(col("ts")).as("ts_ms"), col("user_id"))
      .withColumn("day_idx", expr("ts_ms div 86400000"))
      .groupBy("event_type", "day_idx")
      .agg(bitmapAgg(col("user_id")).as("bm"), count(lit(1)).as("n_events"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$storeDir/bitmaps.parquet/batch_id=$batchId")

  /** Serve exact distinct users per type over an inclusive day range from
    * the STORE ONLY — no event re-scan: filter partials by day (partition
    * pruning against the pushed-down day predicate), OR-merge, AND-NOT
    * the tombstone mask (if any), count. */
  def bitmapStoreServe(spark: SparkSession, storeDir: String,
                       fromDay: Long, toDay: Long): DataFrame = {
    val merged = bitmapsOf(spark, storeDir)
      .filter(col("day_idx") >= fromDay && col("day_idx") <= toDay)
      .groupBy("event_type")
      .agg(bitmapOrAgg(col("bm")).as("bm"),
        sum(col("n_events")).as("n_events"),
        countDistinct(col("day_idx")).as("n_days"))
    val masked = tombstoneOf(spark, storeDir).fold(merged)(t =>
      merged.withColumn("bm", bitmapAndNot(col("bm"), lit(t))))
    masked.select(col("event_type"), bitmapCount(col("bm")).as("n_users"),
      col("n_events"), col("n_days"))
  }

  private def bitmapsOf(spark: SparkSession, storeDir: String): DataFrame =
    StoreFiles.table(spark, s"$storeDir/bitmaps.parquet", Some(storeSchema))

  private def tombPath(storeDir: String) = s"$storeDir/tombstones.parquet"

  /** The current tombstone bitmap, if any. */
  private def tombstoneOf(spark: SparkSession,
                          storeDir: String): Option[Array[Byte]] =
    StoreFiles.optional(spark, tombPath(storeDir))
      .map(_.head().getAs[Array[Byte]]("tomb"))

  /** A80g: USER TAKEDOWN for the bitmap store — the right-to-be-forgotten
    * operation a billing-grade distinct-users dashboard needs: the
    * forgotten user_ids land as ONE tombstone bitmap (O(ids) at forget
    * time, never a partial rewrite — the C74 LSM mask-now-rewrite-later
    * trade); every serve AND-NOTs it out, so a forgotten user stops
    * counting IMMEDIATELY and across every historical window at once.
    * Idempotent and cumulative: a new forget ORs into the standing mask.
    * Scope note: the mask clears the ID-ATTRIBUTABLE data (the bitmap);
    * the anonymous per-day event totals are aggregates carrying no id and
    * are untouched — the standard takedown boundary. */
  def bitmapStoreForget(spark: SparkSession, storeDir: String,
                        userIds: Seq[Long]): Unit = {
    import spark.implicits._
    val bm = new graft.functions.LongBitmap
    userIds.foreach(bm.add)
    tombstoneOf(spark, storeDir).foreach(prev =>
      bm.or(graft.functions.LongBitmap.deserialize(prev)))
    val tomb = Seq(Tuple1(bm.serialize())).toDF("tomb").coalesce(1)
    StoreFiles.replace(spark, tombPath(storeDir))(tomb.write.parquet(_))
  }

  /** Fold the tombstone into rewritten partials and clear it: batches
    * OR-merge per (type, day), the mask is AND-NOT'd in, and the result
    * swaps in as net batch 0 ([[StoreFiles.replace]]) — byte-canonical
    * serialization makes each rewritten partial EQUAL to one a store built
    * without the forgotten users would hold (spec-pinned). The tombstone
    * is removed LAST (a crash between the two steps leaves a correct,
    * still-masked store). */
  def bitmapStoreCompact(spark: SparkSession, storeDir: String): Unit = {
    val tomb = tombstoneOf(spark, storeDir)
    val live = bitmapsOf(spark, storeDir)
      .groupBy("event_type", "day_idx")
      .agg(bitmapOrAgg(col("bm")).as("bm"), sum(col("n_events")).as("n_events"))
    val masked = tomb.fold(live)(t =>
      live.withColumn("bm", bitmapAndNot(col("bm"), lit(t))))
    StoreFiles.replace(spark, s"$storeDir/bitmaps.parquet")(tmp =>
      masked.coalesce(1).write.parquet(s"$tmp/batch_id=0"))
    StoreFiles.remove(spark, tombPath(storeDir))
  }

  /** A80e gate entry: 80/20 split by event_id → base write + one ingest →
    * serve the SECOND HALF of the observed day span from the store alone.
    * Exact, so oracle-gated: count(DISTINCT user_id) over the same range. */
  def bitmapStore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val store = java.nio.file.Files
      .createTempDirectory("graft-bitmap-store").toString
    val bounds = ev.agg(
      max(col("event_id")).as("m"),
      expr("min(unix_millis(cast(ts as timestamp_ltz))) div 86400000").as("d0"),
      expr("max(unix_millis(cast(ts as timestamp_ltz))) div 86400000").as("d1"))
      .head()
    val ids = bounds.getAs[java.lang.Long]("m")
    val cut = if (ids == null) 0L else ids * 4 / 5 // empty corpus: empty store
    bitmapStoreWrite(ev.filter(col("event_id") <= cut), store, 0L)
    bitmapStoreWrite(ev.filter(col("event_id") > cut), store, 1L)
    val (d0, d1) =
      if (ids == null) (0L, 0L)
      else (bounds.getAs[Long]("d0"), bounds.getAs[Long]("d1"))
    bitmapStoreServe(spark, store, (d0 + d1) / 2, d1)
  }
}
