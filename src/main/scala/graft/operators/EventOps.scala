package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pins._
import graft.Tables
import graft.functions.Cols._

/** The reference's event-processing surface re-expressed as declarative
  * DataFrame transformations (batch form; streaming form in
  * [[graft.streaming.EventPipeline]]).
  *
  * Reference anchors (read-only at /root/reference):
  *   - dedup via Redis SETNX + TTL: auto_kafka_redis.py:316-329
  *   - per-user rate limit INCR+TTL: auto_kafka_redis.py:331-345
  *   - latest-value-per-key store:   auto_kafka_redis.py:352-367
  *   - offset checkpoint hash:       auto_kafka_redis.py:233-276
  *   - latest-50 replay:             websocket_server.py:55-63
  *
  * Scale notes: all keyed operators shuffle once on their key and rely on
  * map-side partial aggregation; top-N uses TakeOrderedAndProject (no global
  * sort); window-function operators sort only within key partitions.
  */
object EventOps {
  private val RateLimit = 5 // reference RATE_LIMIT_COUNT (auto_kafka_redis.py:92)

  /** A1: first-writer-wins dedup on (user_id, event_type, day).
    * min(struct(ts,event_id,...)) = deterministic "earliest event" with a
    * single shuffle + partial agg — no per-key sort. */
  def dedupFirst(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), dayStr(col("ts")).as("day"),
        tsMs(col("ts")).as("ts_ms"), col("event_id"), col("value"))
    ev.groupBy("user_id", "event_type", "day")
      .agg(min(struct(col("ts_ms"), col("event_id"), col("value"))).as("first"))
      .select(col("user_id"), col("event_type"), col("day"),
        col("first.event_id").as("event_id"), col("first.ts_ms").as("ts_ms"),
        col("first.value").as("value"))
  }

  /** A2: latest event per user (Redis SET upsert semantics). */
  def latestByKey(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ts_ms"), col("event_id"),
        col("event_type"), col("value"))
    ev.groupBy("user_id")
      .agg(max(struct(col("ts_ms"), col("event_id"), col("event_type"), col("value"))).as("last"))
      .select(col("user_id"), col("last.event_id").as("event_id"),
        col("last.ts_ms").as("ts_ms"), col("last.event_type").as("event_type"),
        col("last.value").as("value"))
  }

  /** A3: per-user-per-day admitted/dropped counts (rate-limit accounting). */
  def rateLimit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), dayStr(col("ts")).as("day"))
    ev.groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("day"), col("n_events"),
        least(col("n_events"), lit(RateLimit.toLong)).as("n_allowed"),
        greatest(col("n_events") - RateLimit, lit(0L)).as("n_dropped"))
  }

  /** A4: the per-event admit decision — the first 5 events per (user, day)
    * pass, later ones are dropped (order = arrival order (ts, event_id)). */
  def rateFilter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), dayStr(col("ts")).as("day"),
        tsMs(col("ts")).as("ts_ms"))
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts_ms"), col("event_id"))
    ev.withColumn("seq_in_window", row_number().over(w).cast("long"))
      .filter(col("seq_in_window") <= RateLimit)
      .select(col("event_id"), col("user_id"), col("day"), col("seq_in_window"))
  }

  /** A5: latest-50 replay (websocket connect path). TakeOrdered, no global
    * sort. DELIBERATE divergence from the reference: websocket_server.py:55
    * sorts Redis keys LEXICOGRAPHICALLY on the "event:{id}" string, so e.g.
    * "event:9" outranks "event:100" — replay order there is id-string order,
    * not time order. Time-desc is what a user means by "latest"; the
    * faithful byte-ordering is [[lastNLex]]. */
  def lastN(spark: SparkSession, dir: String, n: Int = 50): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), tsMs(col("ts")).as("ts_ms"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy(col("ts_ms").desc, col("event_id").desc)
      .limit(n)

  /** A5b: byte-faithful replay ordering of the reference — descending
    * LEXICOGRAPHIC order of the id string (websocket_server.py:55 sorts the
    * "event:{id}" keys as strings). Same TakeOrdered shape. */
  def lastNLex(spark: SparkSession, dir: String, n: Int = 50): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_id").cast("string").as("id_str"),
        tsMs(col("ts")).as("ts_ms"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("id_str").desc)
      .limit(n)

  /** A6: dashboard aggregate per event type. */
  def countsByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), col("value"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"),
        davg(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** A7: tumbling-day throughput. */
  def throughput(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(dayStr(col("ts")).as("day"), col("user_id"), col("value"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"))

  /** A8: session windows per user with a 30-minute inactivity gap. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapMs = 30L * 60 * 1000
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ts_ms"), col("event_id"), col("value"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev.withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"),
        count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
  }

  /** A70: per-session ML feature extraction — the training-set builder
    * over [[sessionize]]'s islands: for every (user, session) the event
    * count, distinct-type count, per-type counts, duration, start hour
    * and exact DECIMAL(18,9) purchase value (A42) — the feature vector a
    * churn/conversion model trains on. Same ONE user_id shuffle as
    * sessionize: the lag/cumsum windows and BOTH aggregation phases
    * (including the distinct-type expand) cluster on supersets of
    * user_id, so the single exchange carries the whole pipeline.
    * All-integer features except the quantized value — hash-exact. */
  def sessionFeatures(spark: SparkSession, dir: String): DataFrame = {
    val gapMs = 30L * 60 * 1000
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ts_ms"), col("event_id"),
        col("event_type"), col("value"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev.withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts_ms")).as("start_ms"),
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        count(when(col("event_type") === "click", lit(1))).as("n_clicks"),
        count(when(col("event_type") === "view", lit(1))).as("n_views"),
        count(when(col("event_type") === "error", lit(1))).as("n_errors"),
        count(when(col("event_type") === "purchase", lit(1))).as("n_purchases"),
        coalesce(sum(when(col("event_type") === "purchase",
          col("value").cast(dec))), lit(0).cast(dec))
          .cast("double").as("purchase_value"),
        (max(col("ts_ms")) - min(col("ts_ms"))).as("duration_ms"))
      .withColumn("start_hour", expr("(start_ms div 3600000) % 24"))
      .withColumn("converted", col("n_purchases") > 0)
  }

  /** A71: sequential-funnel step latency — exact percentiles of the time
    * between completed funnel steps (view → first at-or-after click →
    * first at-or-after purchase), the activation metric A66's single
    * first-to-first pair can't see. Step firsts are SEQUENTIAL (a click
    * before any view doesn't count — the running-min window discipline:
    * v_run/c_run carry "a qualifying earlier step exists" along the
    * per-user event-time sort, so all three firsts come out of ONE
    * user_id shuffle, no join, no re-scan). Percentiles are
    * rank-selected exact order statistics at ⌈q·n⌉ per step ((lat,
    * user_id) tie order, two-level global rank on the checkpointed
    * completer summary) — all longs, hash-exact. Same-ms step pairs
    * order by event_id (a same-ms later-id click after a view counts,
    * latency 0). */
  def funnelLatency(spark: SparkSession, dir: String,
                    idBucket: Long = 64): DataFrame = scope {
    val run = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsMs(col("ts")).as("ts_ms"))
      .withColumn("v_run",
        min(when(col("event_type") === "view", col("ts_ms"))).over(run))
      .withColumn("c_q", when(col("event_type") === "click" &&
        col("v_run").isNotNull, col("ts_ms")))
      .withColumn("c_run", min(col("c_q")).over(run))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts_ms"))).as("v"),
        min(col("c_q")).as("c"),
        min(when(col("event_type") === "purchase" &&
          col("c_run").isNotNull, col("ts_ms"))).as("p")).pin()
    def pick(q: Double, out: String) =
      max(when(col("rank") === ceil(col("n") * q).cast("long"), col("lat")))
        .as(out)
    def stepStats(lat: org.apache.spark.sql.Column, label: String): DataFrame = {
      val l = u.filter(lat.isNotNull).select(col("user_id"), lat.as("lat"))
      val n = l.agg(count(lit(1)).as("n"))
      rankBy(l, "lat", "rank", idBucket)
        .crossJoin(broadcast(n)) // single row: constant-size
        .agg(max(col("n")).as("n_users"),
          pick(0.5, "p50_ms"), pick(0.9, "p90_ms"),
          max(col("lat")).as("max_ms"))
        .filter(col("n_users") > 0)
        .select(lit(label).as("step"), col("n_users"),
          col("p50_ms"), col("p90_ms"), col("max_ms"))
    }
    stepStats(col("c") - col("v"), "view->click")
      .unionByName(stepStats(col("p") - col("c"), "click->purchase"))
  }

  /** A72: daily value-percentile trend per type — "is the latency/value
    * distribution creeping up day over day?": exact p50/p95/max of
    * `value` per (type, day), rank-selected order statistics at ⌈q·n⌉
    * with (value, event_id) tie order (the ev_quantiles_exact discipline
    * refined by day — the corpus only ever sorts within a (type, day)
    * partition, a FINER key than A27's per-type sort). One shuffle; the
    * rollup reuses the window partitioning; all picks exact — hash-exact
    * for integer-representable values and bit-stable for doubles (the
    * picked value exists in the data, no interpolation). */
  def valueTrend(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value"), col("event_id"))
    val w = Window.partitionBy("event_type", "day")
      .orderBy(col("value"), col("event_id"))
    val g = Window.partitionBy("event_type", "day")
    ev.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(g))
      .groupBy("event_type", "day")
      .agg(max(col("n")).as("n_events"),
        max(when(col("rn") === ceil(col("n") * 0.5).cast("long"),
          col("value"))).as("p50"),
        max(when(col("rn") === ceil(col("n") * 0.95).cast("long"),
          col("value"))).as("p95"),
        max(col("value")).as("max_value"))
  }

  /** A73: funnel stage distribution — the denominator view [[funnelLatency]]
    * prices: every user bucketed by the DEEPEST sequential stage reached
    * (none → viewed → clicked → purchased, same at-or-after qualification
    * — a pre-view click doesn't advance the stage), with the exact-stage
    * count, the reached-at-least count (the classic funnel bar) and its
    * share of all users. Same ONE user_id shuffle as funnelLatency; the
    * stage rollup and shares run on a ≤4-row summary (each share one
    * IEEE division of exact longs). */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val run = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsMs(col("ts")).as("ts_ms"))
      .withColumn("v_run",
        min(when(col("event_type") === "view", col("ts_ms"))).over(run))
      .withColumn("c_q", when(col("event_type") === "click" &&
        col("v_run").isNotNull, col("ts_ms")))
      .withColumn("c_run", min(col("c_q")).over(run))
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "view", lit(1L))).as("viewed"),
        max(when(col("c_q").isNotNull, lit(1L))).as("clicked"),
        max(when(col("event_type") === "purchase" &&
          col("c_run").isNotNull, lit(1L))).as("purchased"))
    val stages = u.select(
      when(col("purchased") === 1, lit(3L))
        .when(col("clicked") === 1, lit(2L))
        .when(col("viewed") === 1, lit(1L)).otherwise(lit(0L)).as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
    // ≤4-row summary: the reached-stage-k populations and share chain
    val tot = stages.agg(sum(col("n_users")).as("n_total"))
    stages.crossJoin(broadcast(tot)) // single row: constant-size
      .withColumn("n_reached", sum(col("n_users")).over(
        boundedWindow(col("stage").desc) // ≤4-row stage summary
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("stage"), col("n_users"), col("n_reached"),
        expr("CAST(n_reached AS DOUBLE) / CAST(n_total AS DOUBLE)")
          .as("reach_share"))
  }

  /** A74: daily bounce rate — the share of sessions that contain exactly
    * one event, per session-start day (the classic engagement-quality
    * dial). Pure derivation over [[sessionize]]'s islands (same ONE
    * user_id shuffle); the day rollup runs on the session summary and
    * the rate is one IEEE division of exact longs. */
  def bounceRate(spark: SparkSession, dir: String): DataFrame =
    sessionize(spark, dir)
      .groupBy(to_date(expr("timestamp_millis(start_ms)")).as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        count(when(col("n_events") === 1, lit(1))).as("n_bounces"))
      .withColumn("bounce_rate", expr(
        "CAST(n_bounces AS DOUBLE) / CAST(n_sessions AS DOUBLE)"))

  /** A75: purchase cadence — exact percentiles of the gap between a
    * user's CONSECUTIVE purchases ("how often do repeat buyers buy?"),
    * the repeat-revenue planning metric (A66 measures first conversion;
    * this measures the rhythm after it). Per-user lag over the purchase
    * stream gives the gaps (one user_id shuffle, sorts only within a
    * user's purchases); p25/50/75/90/max are rank-selected exact order
    * statistics on the checkpointed gap summary via the two-level global
    * rank — all longs. Gap identity = the BUYING event's id (ties in the
    * rank order break deterministically). */
  def purchaseCadence(spark: SparkSession, dir: String,
                      idBucket: Long = 64): DataFrame = scope {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), tsMs(col("ts")).as("ts_ms"))
      .withColumn("gap", col("ts_ms") - lag(col("ts_ms"), 1).over(byUser))
      .filter(col("gap").isNotNull)
      .select(col("user_id"), col("event_id"), col("gap")).pin()
    val n = gaps.agg(count(lit(1)).as("n"),
      countDistinct(col("user_id")).as("n_repeat_buyers"))
    def pick(q: Double, out: String) =
      max(when(col("rank") === ceil(col("n") * q).cast("long"), col("gap")))
        .as(out)
    // rank ties break by event_id (the gap's buying event), not user_id:
    // a user contributes many gaps, so user_id alone isn't a total order
    rankBy(gaps, "gap", "rank", idBucket, tieCol = "event_id")
      .crossJoin(broadcast(n)) // single row: constant-size
      .agg(max(col("n")).as("n_gaps"),
        max(col("n_repeat_buyers")).as("n_repeat_buyers"),
        pick(0.25, "p25_ms"), pick(0.5, "p50_ms"), pick(0.75, "p75_ms"),
        pick(0.9, "p90_ms"), max(col("gap")).as("max_ms"))
      .filter(col("n_gaps") > 0)
  }

  /** A76: activity-streak distribution — how many users have a maximum
    * consecutive-day streak of exactly k days (the engagement-habit
    * metric). Classic gaps-and-islands on the (user, day) distinct grid:
    * day_idx − row_number over the per-user day order is constant within
    * a run of consecutive days, so islands fall out of ONE more window
    * on the same user partitioning; per-user max island length, then a
    * ≤horizon-length histogram. All exact longs. */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("day_idx")
    Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ms"))
      .select(col("user_id"), expr("ms div 86400000").as("day_idx"))
      .distinct()
      .withColumn("island", col("day_idx") - row_number().over(byUser))
      .groupBy("user_id", "island").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max(col("len")).as("max_streak"))
      .groupBy("max_streak").agg(count(lit(1)).as("n_users"))
  }

  /** A77: audience overlap matrix — exact Jaccard between the user sets
    * of every event-type pair ("do buyers click?" / segment overlap).
    * The (user, type) distinct grid self-joins on user_id (same key both
    * sides, each user contributes ≤\|types\|² pairs) and the pair rollup
    * is ≤\|types\|² rows; per-type totals broadcast back. a < b keeps
    * each unordered pair once; all counts exact longs, Jaccard one IEEE
    * division. */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val totals = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val pairs = ut.as("x").join(ut.as("y"), "user_id")
      .filter(col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(totals).withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("n", "n_a"), "type_a")
      .join(broadcast(totals).withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("n", "n_b"), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE)")
          .as("jaccard"))
  }

  /** A78: growth accounting (the public "quick ratio" framework): every
    * active day classifies each user as NEW (first-ever day), RETAINED
    * (also active the previous day) or RESURRECTED (returning after a
    * gap), and a CHURN is attributed to the day AFTER a user's activity
    * run ends (lead-gap or trailing end, right-censored past the corpus
    * horizon). Per day: the three active counts, churned, and quick
    * ratio = (new + resurrected) / churned (null when nothing churned).
    * ONE (user, day) distinct shuffle; lag/lead ride the same user
    * partitioning; the churn attribution and the day join are
    * summary-level; counts exact longs, the ratio one IEEE division. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = scope {
    val byUser = Window.partitionBy("user_id").orderBy("day_idx")
    val grid = Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ms"))
      .select(col("user_id"), expr("ms div 86400000").as("day_idx"))
      .distinct()
      .withColumn("prev", lag(col("day_idx"), 1).over(byUser))
      .withColumn("next", lead(col("day_idx"), 1).over(byUser)).pin()
    val maxDay = grid.agg(max(col("day_idx")).as("max_day"))
    val active = grid.groupBy("day_idx")
      .agg(count(when(col("prev").isNull, lit(1))).as("n_new"),
        count(when(col("prev") === col("day_idx") - 1, lit(1))).as("n_retained"),
        count(when(col("prev").isNotNull &&
          col("prev") < col("day_idx") - 1, lit(1))).as("n_resurrected"))
    // a run ending on day d churns on d+1 (unless censored at the horizon)
    val churn = grid.crossJoin(broadcast(maxDay)) // single row: constant-size
      .filter((col("next").isNull || col("next") > col("day_idx") + 1) &&
        col("day_idx") < col("max_day"))
      .groupBy((col("day_idx") + 1).as("day_idx"))
      .agg(count(lit(1)).as("n_churned"))
    active.join(churn, Seq("day_idx"), "full_outer")
      .select(col("day_idx"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .withColumn("quick_ratio",
        when(col("n_churned") > 0, expr(
          "CAST(n_new + n_resurrected AS DOUBLE) / CAST(n_churned AS DOUBLE)")))
  }

  /** A79: the weekly retention triangle — the full cohort-curve grid
    * A20b's bounded daily window can't show: users grouped by
    * first-activity WEEK (epoch-week = day_idx div 7 — engine-portable,
    * no calendar-week convention), each (cohort_week, week-offset) cell
    * counting the cohort members active that week, with the share of the
    * cohort (offset-0 actives = cohort size by construction). One
    * (user, week) distinct shuffle; the cohort comes from a per-user min
    * window on the same partitioning; the triangle rollup and the
    * first_value share divide run on the ≤weeks² summary. */
  def retentionTriangle(spark: SparkSession, dir: String): DataFrame = {
    val byCohort = Window.partitionBy("cohort_week").orderBy("week_offset")
    Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ms"))
      .select(col("user_id"), expr("ms div 604800000").as("week"))
      .distinct()
      .withColumn("cohort_week",
        min(col("week")).over(Window.partitionBy("user_id")))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("cohort_size", first(col("n_users")).over(byCohort))
      .withColumn("retention", expr(
        "CAST(n_users AS DOUBLE) / CAST(cohort_size AS DOUBLE)"))
  }

  /** A9: top-10 users by event count (deterministic ties by user_id). */
  def topkUsers(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(k)

  /** A10: JSON payload extraction + aggregate (consumer parses JSON values). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))

  /** A11: enrichment join against the customer dim. `customer` scales with
    * SF so it carries no broadcast hint — AQE broadcasts it while it's small
    * and falls back to a shuffle join when it isn't. */
  def enrichJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("value"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    ev.join(cust, ev("user_id") === cust("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"))
  }

  /** A12: rule-based notification — errors above threshold become alerts. */
  def errorAlert(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "error" && col("value") >= 150.0)
      .select(col("event_id"), col("user_id"), tsMs(col("ts")).as("ts_ms"), col("value"),
        when(col("value") >= 180.0, "critical").otherwise("warning").as("level"),
        concat(lit("ALERT user="), col("user_id").cast("string")).as("message"))

  /** A30: statistical anomaly alerts — each event scored against its own
    * user's trailing window (the adaptive form of A12's fixed threshold):
    * z = (x − mean₂₀) / stddev₂₀ over the 20 preceding events. One per-user
    * sort window (single shuffle, same exchange the other per-user ops
    * ride). Cross-engine exactness: mean and variance are derived from
    * exact-decimal Σx and Σx² (never each engine's own stddev kernel, whose
    * summation orders differ), then one identical double expression; the
    * 4-dp rounding absorbs the final-op ULP. */
  def zscoreAlerts(spark: SparkSession, dir: String, lookback: Int = 20,
                   zThreshold: Double = 2.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-lookback, -1) // the PRECEDING window — never self-scored
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        // one select → one Window operator evaluating all three frames in a
        // single pass over the per-user sort (withColumn chaining stacks
        // three Window nodes)
        count(lit(1)).over(w).as("n"),
        sum(col("value").cast(dec)).over(w).cast("double").as("s1"),
        sum((col("value") * col("value")).cast(dec)).over(w).cast("double").as("s2"))
      .filter(col("n") >= 2)
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("variance",
        (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
      .filter(col("variance") > 0.0)
      .withColumn("z", round((col("value") - col("mean")) / sqrt(col("variance")), 4))
      .filter(abs(col("z")) >= zThreshold)
      .select(col("event_id"), col("user_id"), tsMs(col("ts")).as("ts_ms"),
        col("value"), col("z"))
  }

  /** A31: sliding-window dashboard counts — each event lands in
    * windowDur/slide overlapping windows (Spark's `window(ts, dur, slide)`
    * generates the assignments inline, no self-join). The grouping-expand
    * then partial-agg shape is identical to a tumbling window ×4 rows;
    * dashboards use it for smooth rolling tiles. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("ts"), col("event_type"), col("value"))
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** A17: as-of join — each error event matched to the most recent click of
    * the same user at or before it. Spark-first shape: one union + one
    * per-user sort window (single shuffle), not a per-row lookup; mirrors
    * DuckDB's native ASOF JOIN in the oracle. */
  def asofErrorClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("error", "click"))
      .select(col("event_id"), col("user_id"), col("event_type"), tsMs(col("ts")).as("ts_ms"))
    // range frame to -1 ms: strictly-before semantics, mirroring the
    // oracle's ASOF ON click.ts_ms < error.ts_ms
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"))
      .rangeBetween(Window.unboundedPreceding, -1)
    ev.withColumn("click_event_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(byUser))
      .withColumn("click_ts_ms",
        last(when(col("event_type") === "click", col("ts_ms")), ignoreNulls = true).over(byUser))
      .filter(col("event_type") === "error" && col("click_event_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("click_event_id"), col("click_ts_ms"),
        (col("ts_ms") - col("click_ts_ms")).as("gap_ms"))
  }

  /** A18: skew-resistant aggregation — two-phase (salted) groupBy whose
    * result must equal the plain aggregate. At 100 TB a single hot key
    * (one event type is ~20% of the stream) would hotspot one reducer; the
    * salt fans the first phase across 16 partitions, the second phase
    * combines 16 rows per key. */
  def countsByTypeSalted(spark: SparkSession, dir: String, salts: Int = 16): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        pmod(col("event_id"), lit(salts.toLong)).as("salt"))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("s"))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"), sum(col("s")).cast("double").as("sum_value"))

  /** A19: signup → purchase conversion funnel — per user, did a purchase
    * follow the first signup? One aggregation pass, no self-join. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"), tsMs(col("ts")).as("ts_ms"))
    ev.groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ts_ms"))).as("first_signup_ms"),
        max(when(col("event_type") === "purchase", col("ts_ms"))).as("last_purchase_ms"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
      .filter(col("first_signup_ms").isNotNull)
      .select(col("user_id"), col("first_signup_ms"), col("n_purchases"),
        (col("last_purchase_ms").isNotNull &&
          col("last_purchase_ms") > col("first_signup_ms")).as("converted"))
  }

  /** A20: day-over-day retention — for each day, how many of its active
    * users are active again the next day. Self-join on compact per-day user
    * sets (shuffle on user_id+day, both sides pre-aggregated). */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), dayStr(col("ts")).as("day"),
        date_add(to_date(col("ts")), 1).as("next_day"))
      .distinct()
    val a = daily.select(col("user_id"), col("day"), col("next_day"))
    val b = daily.select(col("user_id"), col("day").as("day_b"))
    a.join(b, a("user_id") === b("user_id") &&
        date_format(a("next_day"), "yyyy-MM-dd") === b("day_b"), "left")
      .groupBy("day")
      .agg(countDistinct(a("user_id")).as("n_active"),
        countDistinct(when(col("day_b").isNotNull, a("user_id"))).as("n_retained"))
  }

  /** A20b: cohort retention matrix — users grouped by their FIRST active
    * day (the cohort), counted on each later day offset: the standard
    * product-analytics view. Two aggregations over the compact per-day user
    * set + one shuffle join on user_id; offsets bounded so the matrix stays
    * small no matter the corpus. */
  def retentionCohorts(spark: SparkSession, dir: String, maxOffset: Int = 7): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val firsts = daily.groupBy("user_id").agg(min(col("day")).as("day0"))
    daily.join(firsts, "user_id")
      .withColumn("offset_days", datediff(col("day"), col("day0")).cast("long"))
      .filter(col("offset_days") <= maxOffset)
      .groupBy(date_format(col("day0"), "yyyy-MM-dd").as("cohort_day"), col("offset_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** A18b: skew-salted JOIN (not just aggregation): the dimension is
    * replicated `salt` ways on (key, salt) and each fact row picks one
    * deterministic replica — a hot join key's rows spread across `salt`
    * reducers instead of hotspotting one. Shuffle-hash hinted so the
    * technique is exercised even where the dim would broadcast; result is
    * oracle-equal to the plain join. */
  def saltedEnrichJoin(spark: SparkSession, dir: String, salt: Int = 8): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("value"),
        pmod(col("event_id"), lit(salt.toLong)).as("salt"))
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt", explode(sequence(lit(0L), lit(salt - 1L))))
    ev.join(dim.hint("shuffle_hash"),
        ev("user_id") === dim("c_custkey") && ev("salt") === dim("salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
  }

  /** A21: dwell time — average gap between consecutive events per user. */
  def dwell(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ts_ms"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev.withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .filter(col("gap_ms").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        (sum(col("gap_ms")).cast("double") / count(lit(1))).as("avg_gap_ms"),
        max(col("gap_ms")).as("max_gap_ms"))
  }

  /** A13: offset checkpoint — max processed offset per partition bucket. */
  def checkpoint(spark: SparkSession, dir: String, partitions: Int = 4): DataFrame =
    Tables.events(spark, dir)
      .select(pmod(col("event_id"), lit(partitions.toLong)).as("part_id"), col("event_id"))
      .groupBy("part_id")
      .agg(max(col("event_id")).as("last_offset"), count(lit(1)).as("n_processed"))

  /** A32: time-range self-join — for each error event, the count and value
    * sum of the SAME user's events in the preceding hour. Spark-first shape:
    * a naive t2.ts BETWEEN t1.ts-1h AND t1.ts predicate is a near-cartesian
    * residual on the user_id sort-merge; instead the build side is
    * replicated into its time bucket and the next one (bucket width = range
    * width), so the equi-join key becomes (user_id, bucket) and every
    * qualifying pair meets in exactly one bucket — per-group input is
    * bounded by per-user-per-hour density, not per-user history. The range
    * check remains as a cheap residual. */
  def rangeJoinPriorHour(spark: SparkSession, dir: String): DataFrame = {
    val rangeMs = 3600L * 1000
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        tsMs(col("ts")).as("ts_ms"), col("value"))
    val probe = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        (col("ts_ms") - pmod(col("ts_ms"), lit(rangeMs))).as("bucket"))
    val build = ev.select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts_ms").as("p_ts"), col("value").as("p_value"))
      .withColumn("bucket", explode(array(
        col("p_ts") - pmod(col("p_ts"), lit(rangeMs)),
        col("p_ts") - pmod(col("p_ts"), lit(rangeMs)) + rangeMs)))
    probe.join(build,
        probe("user_id") === build("p_user") && probe("bucket") === build("bucket") &&
          build("p_ts") >= probe("ts_ms") - rangeMs && build("p_ts") < probe("ts_ms"),
        "left")
      .groupBy(probe("event_id"), probe("user_id"), probe("ts_ms"))
      .agg(count(col("p_id")).as("n_prior"),
        coalesce(sum(col("p_value").cast(org.apache.spark.sql.types.DecimalType(18, 4))),
          lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_prior"))
  }

  /** A33: fixed-width value histogram — the dashboard distribution chart.
    * Bin id is one shared IEEE division (bit-identical on any engine);
    * single partial-agg shuffle of ≤(max/width) keys regardless of row
    * count. */
  def valueHistogram(spark: SparkSession, dir: String, width: Double = 50.0): DataFrame =
    Tables.events(spark, dir)
      .select(floor(col("value") / width).cast("long").as("bin"), col("value"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        dsum(col("value")).as("sum_value"))
      .withColumn("bin_lo", col("bin").cast("double") * width)
      .select(col("bin"), col("bin_lo"), col("n_events"),
        col("min_value"), col("max_value"), col("sum_value"))

  /** A39: event-type co-occurrence (the market-basket shape): for every
    * unordered pair of event types, how many users did both. Distinct
    * (user, type) first — the self-join fans out over a per-user set
    * bounded by |types|, so the pair space is user·|types|², never
    * user-count² — then a ≤|types|²-key partial agg. The `<` guard keeps
    * one row per unordered pair and drops self-pairs. */
  def typeCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    ut.as("a").join(ut.as("b"), Seq("user_id"))
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** A38: trailing N-day moving average of daily value volume — the
    * dashboard smoothing query, and the RANGE-frame member of the window
    * family (rangeBetween over the numeric day key, not ROWS — calendar
    * gaps shrink the frame instead of silently widening it). The corpus
    * partial-aggs to one row per day first, so the ordered window runs
    * over a table bounded by the time horizon, not the event count; the
    * frame average is decimal-summed (order-independent, engine-portable). */
  def movingAvg(spark: SparkSession, dir: String, days: Int = 7): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select((tsMs(col("ts")) / lit(86400000L)).cast("long").as("day_num"),
        col("value"))
      .groupBy("day_num")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    val w = boundedWindow(col("day_num")).rangeBetween(-(days - 1L), 0L) // ≤days rows
    daily.select(col("day_num"), col("n_events"), col("sum_value"),
      round(sum(col("sum_value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .over(w).cast("double") / count(lit(1)).over(w), 6).as("avg_trailing"))
  }

  /** A37: churn / inactivity report — per user: first/last activity,
    * volume, whole days inactive relative to the observation end (the
    * corpus max timestamp — a single-row broadcast scalar), and the churn
    * flag at `churnDays`. One user_id partial-agg shuffle; the end-of-
    * window scalar joins in at zero shuffle cost. */
  def inactiveUsers(spark: SparkSession, dir: String, churnDays: Int = 7): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ts_ms"))
    val end = ev.agg(max(col("ts_ms")).as("end_ms"))
    ev.groupBy("user_id")
      .agg(min(col("ts_ms")).as("first_ms"), max(col("ts_ms")).as("last_ms"),
        count(lit(1)).as("n_events"))
      .crossJoin(broadcast(end)) // single row: constant-size broadcast
      .withColumn("days_inactive", expr("(end_ms - last_ms) div 86400000"))
      .select(col("user_id"), col("first_ms"), col("last_ms"), col("n_events"),
        col("days_inactive"), (col("days_inactive") >= churnDays).as("churned"))
  }

  /** A36: session path analysis — the "what do users do next" product
    * query: count consecutive event-type transitions INSIDE sessions (same
    * 30-min-gap islands as [[sessionize]]; a transition never spans a
    * session break), report the top-k paths. One shuffle on user_id (the
    * lag/lead windows and the session cumsum all ride it), then a
    * ≤|types|²-key partial-agg and a TakeOrderedAndProject — no global
    * sort, no second corpus pass at any scale. */
  def topPaths(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    transitionCounts(spark, dir)
      .orderBy(col("n_transitions").desc, col("from_type"), col("to_type"))
      .limit(k)

  /** In-session consecutive event-type transition counts — the shared core
    * of [[topPaths]] and [[markovChain]]: one user_id shuffle (lag + island
    * cumsum + lead all ride it), then a ≤|types|²-key partial agg. */
  /** Per-transition rows (user_id, from_type, to_type) over session paths
    * — ONE user-keyed shuffle (session islanding + lead ride the same
    * partitioning); shared by the A43 census and the A81 per-user scorer. */
  private def transitionPairs(spark: SparkSession, dir: String): DataFrame = {
    val gapMs = 30L * 60 * 1000
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ts_ms"), col("event_id"),
        col("event_type"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_type", lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"), col("session_id"))
          .orderBy(col("ts_ms"), col("event_id"))))
      .filter(col("next_type").isNotNull)
      .select(col("user_id"), col("event_type").as("from_type"),
        col("next_type").as("to_type"))
  }

  private def transitionCounts(spark: SparkSession, dir: String): DataFrame =
    transitionPairs(spark, dir)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"))

  /** A81: per-user session-path LIKELIHOOD under the corpus transition
    * model — the sequence-anomaly score the A43 Markov census enables
    * (the event-side twin of C68's bigram LM): each user's mean
    * −ln P(to | from) with add-one smoothing over the type alphabet,
    * P = (c(from,to)+1)/(c(from,·)+V). A user whose transition pattern is
    * atypical for the corpus (scripted scanners, broken clients replaying
    * one edge, fraud flows) scores high; P > 0 everywhere by smoothing.
    *
    * Scale (the C82 census-fold discipline from the start): the pairs
    * stream is ONE user-keyed window shuffle; the census and its
    * per-from totals are summary-sized; the whole score folds onto the
    * census, and pairs cross exactly one (from, to) join before the
    * user-keyed mean. Per-transition −ln P as DECIMAL(18,9) — exact,
    * order-independent, engine-portable. */
  def userLl(spark: SparkSession, dir: String): DataFrame = scope {
    val pairs = transitionPairs(spark, dir)
    // checkpointed: the census feeds its own per-from totals AND the score
    // join — without it each derived branch replays the corpus window
    val census = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_ab")).pin()
    val byFrom = census.groupBy("from_type").agg(sum(col("n_ab")).as("n_from"))
    val vocab = Tables.events(spark, dir)
      .agg(countDistinct(col("event_type")).cast("double").as("n_types"))
    val model = census.join(byFrom, Seq("from_type"))
      .crossJoin(broadcast(vocab)) // single row: constant-size broadcast
      .withColumn("tok_nll",
        (-log((col("n_ab") + 1) / (col("n_from") + col("n_types"))))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .select(col("from_type"), col("to_type"), col("tok_nll"))
    pairs.join(model, Seq("from_type", "to_type"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_transitions"),
        round(sum(col("tok_nll")).cast("double") / count(lit(1)), 6).as("nll"))
  }

  /** A43: first-order Markov transition model over session paths — the
    * probabilistic form of [[topPaths]]: P(next = b | current = a) =
    * n(a→b) / Σ_b' n(a→b'), estimated from the same in-session transition
    * counts (a 30-min-gap session break is an absorbing boundary — no
    * transition spans it, matching [[sessionize]]).
    *
    * Scale shape: all the corpus-sized work is [[transitionCounts]]'s one
    * user_id shuffle; the probability normalization runs on the ≤|types|²
    * aggregate, where a window over from_type is summary-sized at any
    * corpus scale. prob is ONE IEEE division of two exact longs — bit-equal
    * across engines. */
  def markovChain(spark: SparkSession, dir: String): DataFrame = {
    val byFrom = Window.partitionBy(col("from_type"))
    transitionCounts(spark, dir)
      .withColumn("n_from", sum(col("n_transitions")).over(byFrom))
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        (col("n_transitions").cast("double") / col("n_from")).as("prob"))
  }

  /** A42: exponentially time-decayed engagement score per event type — the
    * dashboard "recency-weighted" counter (half-life `halfLifeDays`,
    * anchored at the corpus's last calendar day): an event k half-lives old
    * contributes 2^-k of a fresh one, so the score tracks CURRENT activity
    * without a hard cutoff window.
    *
    * Engine-portable by construction: the decay factor is 1/(1<<k) — an
    * integer shift and one IEEE division, never pow() (libm-dependent) —
    * and multiplying a double by 2^-k is EXACT scaling, so the weighted
    * values are bit-identical in both engines before the decimal-quantized
    * order-independent sum. k clamps at 50 half-lives (contribution < 1e-15
    * — identically negligible on both sides, and the shift stays in-range).
    * One ≤|types|-key partial-agg shuffle + a 1-row broadcast scalar for
    * the anchor day; map-only otherwise. */
  def decayCounts(spark: SparkSession, dir: String,
                  halfLifeDays: Int = 7): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        (tsMs(col("ts")) / lit(86400000L)).cast("long").as("day_num"))
    val end = ev.agg(max(col("day_num")).as("end_day"))
    val k = least(((col("end_day") - col("day_num")) / lit(halfLifeDays.toLong))
      .cast("long"), lit(50L))
    val w = lit(1.0) / expr("cast(shiftleft(1L, cast(k as int)) as double)")
    ev.crossJoin(broadcast(end)) // single row: constant-size broadcast
      .withColumn("k", k)
      .withColumn("w", w)
      .groupBy("event_type")
      // per-term quantization at scale 9: |value·w| ≤ ~1e4 keeps every term
      // under 14 significant digits, where a double's shortest decimal
      // representation (Spark's BigDecimal path) and its exact binary
      // expansion (DuckDB's cast) agree — scale 15 needed an 18th digit
      // and diverged by one ulp-sized term (measured 2^-37 at sf0.01)
      .agg(count(lit(1)).as("n_events"),
        sum(col("w").cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double").as("decayed_n"),
        sum((col("value") * col("w"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double").as("decayed_value"))
  }

  /** A8b: session windows via Spark's NATIVE session_window operator — the
    * exact assignment the streaming twin
    * ([[graft.streaming.EventPipeline.sessionized]]) runs, verified
    * in batch against a lag-based island SQL oracle. Boundary semantics
    * match [[sessionize]]: an event landing EXACTLY on the session's close
    * (spacing == gap) still merges and extends it; only a strictly larger
    * gap starts a new session (spec-pinned to the millisecond). end_ms =
    * last event + gap (the window's close, not the last event). One shuffle
    * on user_id; session assignment is a within-partition sort, no
    * corpus-wide window. */
  def sessionWindowCounts(spark: SparkSession, dir: String,
                          gapMinutes: Int = 30): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("sw.start").cast("timestamp_ltz")).as("start_ms"),
        unix_millis(col("sw.end").cast("timestamp_ltz")).as("end_ms"),
        col("n_events"), col("sum_value"))

  /** A40: CEP pattern match — per user, each `second`-type event paired
    * with the MOST RECENT `first`-type event at-or-before it within
    * `withinMs` (the "A followed by B within T" primitive under funnels,
    * attribution, and alert escalation; streaming twin
    * [[graft.streaming.EventPipeline.patternMatchStream]]).
    *
    * NOT an inequality self-join (that is O(A·B) per user and unindexable
    * in Spark): one shuffle on user_id, then a per-user event-time sort
    * where every B row picks up the running `last` A via
    * last(..., ignoreNulls) over an unbounded-preceding window — linear in
    * the partition. Ties at the same millisecond order A before B (an A at
    * B's exact ts can match, lag 0); among same-ms As the largest event_id
    * wins (it sorts last in the running window). */
  def patternMatch(spark: SparkSession, dir: String, first: String = "click",
                   second: String = "purchase",
                   withinMs: Long = 3600L * 1000): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin(first, second))
      .select(col("user_id"), col("event_id"), tsMs(col("ts")).as("ts_ms"),
        when(col("event_type") === second, 1).otherwise(0).as("is_b"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("is_b"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("a_ts_ms",
        last(when(col("is_b") === 0, col("ts_ms")), ignoreNulls = true).over(w))
      .withColumn("a_event_id",
        last(when(col("is_b") === 0, col("event_id")), ignoreNulls = true).over(w))
      .filter(col("is_b") === 1 && col("a_ts_ms").isNotNull &&
        col("ts_ms") - col("a_ts_ms") <= withinMs)
      .select(col("user_id"), col("a_event_id"),
        col("event_id").as("b_event_id"), col("a_ts_ms"),
        col("ts_ms").as("b_ts_ms"),
        (col("ts_ms") - col("a_ts_ms")).as("lag_ms"))
  }

  /** A41: three-stage sequence match — "A then B then C" with per-hop time
    * bounds (signup → click within `withinAbMs`, that click → purchase
    * within `withinBcMs`): for each C-type event, the most recent B
    * at-or-before it within the B→C bound that ITSELF has a most recent A
    * within the A→B bound. Non-consuming, like [[patternMatch]].
    *
    * Still ONE user_id shuffle: the per-user event-time sort carries TWO
    * stacked running `last(ignoreNulls)` passes over the same window
    * spec — pass 1 links every B to its A, pass 2 links every C to the
    * last QUALIFIED B (the struct carries the whole A/B lineage) — so the
    * chain extends by window passes, never by self-joins. Same-ms ties
    * order A < B < C (stage column), so a same-millisecond hop is legal
    * at lag 0 and the largest same-ms id anchors, exactly A40's rule. */
  def sequenceMatch(spark: SparkSession, dir: String, first: String = "signup",
                    second: String = "click", third: String = "purchase",
                    withinAbMs: Long = 24 * 3600L * 1000,
                    withinBcMs: Long = 3600L * 1000): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin(first, second, third))
      .select(col("user_id"), col("event_id"), tsMs(col("ts")).as("ts_ms"),
        when(col("event_type") === first, 0)
          .when(col("event_type") === second, 1).otherwise(2).as("stage"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("stage"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withA = ev
      .withColumn("a_ts", last(when(col("stage") === 0, col("ts_ms")),
        ignoreNulls = true).over(w))
      .withColumn("a_id", last(when(col("stage") === 0, col("event_id")),
        ignoreNulls = true).over(w))
    val qualB = col("stage") === 1 && col("a_ts").isNotNull &&
      col("ts_ms") - col("a_ts") <= withinAbMs
    val withB = withA
      .withColumn("b", last(
        when(qualB, struct(col("ts_ms").as("b_ts"), col("event_id").as("b_id"),
          col("a_ts"), col("a_id"))), ignoreNulls = true).over(w))
    withB
      .filter(col("stage") === 2 && col("b").isNotNull &&
        col("ts_ms") - col("b.b_ts") <= withinBcMs)
      .select(col("user_id"), col("b.a_id").as("a_event_id"),
        col("b.b_id").as("b_event_id"), col("event_id").as("c_event_id"),
        col("b.a_ts").as("a_ts_ms"), col("b.b_ts").as("b_ts_ms"),
        col("ts_ms").as("c_ts_ms"))
  }

  /** A40b: funnel dropout — the complement of [[patternMatch]]: every
    * `first`-type event with NO `second`-type event at-or-after it within
    * `withinMs` for the same user (the abandonment report: clicks that
    * never converted). Same one-shuffle shape, mirrored: each A row picks
    * up the EARLIEST following B via first(ignoreNulls) over an
    * unbounded-following frame; tie order keeps A before a same-ms B, so
    * a same-ms B still rescues its A (lag 0 — consistent with
    * patternMatch's boundary). Emits (user, a_event_id, a_ts_ms,
    * next_b_ms nullable) for the dropped-out As. */
  def patternDropout(spark: SparkSession, dir: String, first: String = "click",
                     second: String = "purchase",
                     withinMs: Long = 3600L * 1000): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin(first, second))
      .select(col("user_id"), col("event_id"), tsMs(col("ts")).as("ts_ms"),
        when(col("event_type") === second, 1).otherwise(0).as("is_b"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("is_b"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev
      .withColumn("next_b_ms",
        org.apache.spark.sql.functions
          .first(when(col("is_b") === 1, col("ts_ms")), ignoreNulls = true).over(w))
      .filter(col("is_b") === 0 &&
        (col("next_b_ms").isNull || col("next_b_ms") - col("ts_ms") > withinMs))
      .select(col("user_id"), col("event_id").as("a_event_id"),
        col("ts_ms").as("a_ts_ms"), col("next_b_ms"))
  }

  /** A47: hour-of-day × day-of-week seasonality profile per event type —
    * the dashboard heatmap under "when do users do this": counts and the
    * per-type share of each (dow, hour) cell. One ≤|types|·168-key
    * partial-agg shuffle; shares are single IEEE divisions of exact longs
    * over a summary-level window — engine-portable with no rounding. */
  def hourlyProfile(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    Tables.events(spark, dir)
      .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"))
      .groupBy("event_type", "dow", "hod")
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / sum(col("n")).over(byType))
  }

  /** A45: burst detection with HYSTERESIS over per-type windowed rates —
    * the two-state form of Kleinberg's burst model (Kleinberg, KDD 2002,
    * public): a burst episode OPENS at a window whose count clears the
    * per-type `hiPct` percentile, STAYS open through windows above the
    * `loPct` percentile (sustained elevation isn't N separate alerts — the
    * flapping-alarm fix), and CLOSES at the first window below it or at a
    * window gap. Episodes that never contain a hot window (e.g. elevated
    * tails re-entered after a gap) are dropped.
    *
    * Thresholds are EXACT per-type order statistics (the count at
    * ascending rank ⌈pct·n_windows⌉, ties ordered (n, win)) — relative to
    * each type's own distribution, so they exist at every SF (top-5%
    * windows are bursts by construction) and every comparison is of exact
    * longs — bit-identical cross-engine, no float thresholds.
    *
    * Scale shape: corpus work is ONE (type, window) partial-agg shuffle;
    * ranks, the running hysteresis state (last definite hot/cold marker —
    * the A40 running-anchor discipline), and episode islanding all run on
    * the windows-per-type SUMMARY (a year of hourly windows is 8.8k rows
    * per type at any corpus size). */
  def bursts(spark: SparkSession, dir: String, winMs: Long = 3600000L,
             hiPct: Double = 0.95, loPct: Double = 0.75): DataFrame = {
    require(loPct < hiPct, "loPct must sit below hiPct")
    val byType = Window.partitionBy(col("event_type"))
    val wc = burstWindowCounts(Tables.events(spark, dir), winMs)
    val st = wc
      .withColumn("cnt", count(lit(1)).over(byType))
      .withColumn("rnk", row_number().over(byType.orderBy(col("n"), col("win"))))
    val hi = st.filter(col("rnk") === ceil(col("cnt") * hiPct))
      .select(col("event_type"), col("n").as("hi"))
    val lo = st.filter(col("rnk") === ceil(col("cnt") * loPct))
      .select(col("event_type"), col("n").as("lo"))
    burstEpisodes(wc.join(hi, "event_type").join(lo, "event_type"), winMs)
  }

  /** [[bursts]] with ABSOLUTE thresholds over an explicit events frame —
    * the form the streaming twin's replay spec compares against (a stream
    * can't know its percentile thresholds up front). */
  private[graft] def burstsFixed(events: DataFrame, winMs: Long,
                                 hi: Long, lo: Long): DataFrame =
    burstEpisodes(burstWindowCounts(events, winMs)
      .withColumn("hi", lit(hi)).withColumn("lo", lit(lo)), winMs)

  private def burstWindowCounts(events: DataFrame, winMs: Long): DataFrame =
    events.select(col("event_type"), tsMs(col("ts")).as("ts_ms"))
      .groupBy(col("event_type"), expr(s"ts_ms div $winMs").as("win"))
      .agg(count(lit(1)).as("n"))

  /** Hysteresis islanding over (event_type, win, n, hi, lo) marked window
    * counts — shared by the percentile and fixed-threshold entries. */
  private def burstEpisodes(marked: DataFrame, winMs: Long): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val run = byType.orderBy(col("win"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked
      .withColumn("marker",
        when(col("n") >= col("hi"), 1L).when(col("n") < col("lo"), 0L))
      .withColumn("state",
        coalesce(last(col("marker"), ignoreNulls = true).over(run), lit(0L)))
      .filter(col("state") === 1L)
      .withColumn("prev_win", lag(col("win"), 1).over(byType.orderBy(col("win"))))
      .withColumn("is_new", when(col("prev_win").isNull ||
        col("win") =!= col("prev_win") + 1, 1L).otherwise(0L))
      .withColumn("burst_id", sum(col("is_new")).over(run))
      .groupBy(col("event_type"), col("burst_id"))
      .agg((min(col("win")) * winMs).as("start_ms"),
        ((max(col("win")) + 1) * winMs).as("end_ms"),
        count(lit(1)).as("n_windows"), max(col("n")).as("peak"),
        sum(col("n")).as("total"), max(col("marker")).as("mk"))
      .filter(col("mk") === 1L) // an episode must contain a hot window
      .select(col("event_type"), col("burst_id"), col("start_ms"),
        col("end_ms"), col("n_windows"), col("peak"), col("total"))
  }

  /** A48: DAU / trailing-7-day-active stickiness per day — the exact twin
    * of the HLL sliding-distinct series (A46), and the dashboard's
    * engagement-health ratio. ONE corpus scan dedups to (day, user)
    * pairs; the trailing window is the A46 ≤7-way summary-level fan-out
    * (each user-day → the window-end days day..day+6), and DAU rides the
    * same aggregation as a per-(end, user) offset-0 flag — never a
    * per-window corpus re-scan, never a row-range self-join, and no
    * second corpus branch. Reported only for days the corpus contains;
    * stickiness is ONE IEEE division of exact longs — engine-portable. */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    // single corpus pass: each user-day fans to the ≤7 window-end days it
    // contributes to, carrying an "active on the end day itself" flag for
    // offset 0 — the per-(end, user) max of that flag folds DAU into the
    // same aggregation chain that counts WAU, so the naive two-branch
    // form's second scan and its join disappear (the explain'd two-scan
    // plan was this operator's first version; Catalyst did not reuse the
    // distinct exchange across the differently-shaped branches)
    Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .select(col("day"), col("user_id"), explode(expr("sequence(0, 6)")).as("i"))
      .groupBy(expr("date_add(day, i)").as("day"), col("user_id"))
      .agg(max(when(col("i") === 0, 1L).otherwise(0L)).as("active_today"))
      .groupBy("day")
      .agg(sum(col("active_today")).as("dau"), count(lit(1)).as("wau"))
      .filter(col("dau") > 0) // drops synthetic post-corpus end days
      .withColumn("stickiness", col("dau").cast("double") / col("wau"))
  }

  /** A53: inter-arrival gap statistics per event type — the SLA/latency
    * monitor ("are events arriving slower?"): exact p50/p95/max of the
    * millisecond gaps between consecutive same-type events, plus the
    * gap count. Gaps come from ONE per-type lag window; the percentiles
    * are rank-selected order statistics over the SAME sorted partition
    * (the exactQuantiles discipline — no interpolation, engine-exact;
    * the gaps window orders by (ts, event_id) and the rank window by
    * (gap, ts, event_id), both within the low-cardinality type key, so
    * the corpus sorts once per window spec and never globally). */
  def gapStats(spark: SparkSession, dir: String): DataFrame = {
    val byTypeTime = Window.partitionBy("event_type")
      .orderBy(col("ts_ms"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), tsMs(col("ts")).as("ts_ms"))
      .withColumn("gap_ms",
        col("ts_ms") - lag(col("ts_ms"), 1).over(byTypeTime))
      .filter(col("gap_ms").isNotNull)
    val byGap = Window.partitionBy("event_type")
      .orderBy(col("gap_ms"), col("ts_ms"), col("event_id"))
    val n = Window.partitionBy("event_type")
    gaps
      .withColumn("rn", row_number().over(byGap))
      .withColumn("n", count(lit(1)).over(n))
      .groupBy("event_type")
      .agg(
        max(when(col("rn") === ceil(col("n") * 0.5), col("gap_ms"))).as("gap_p50_ms"),
        max(when(col("rn") === ceil(col("n") * 0.95), col("gap_ms"))).as("gap_p95_ms"),
        max(col("gap_ms")).as("gap_max_ms"),
        max(col("n")).as("n_gaps"))
  }

  /** A56: persisted INCREMENTAL rollup store for the dashboard counts —
    * the C76 store discipline applied to event aggregates: per-(type, day)
    * counts and exact DECIMAL(18,4) value sums live as additive
    * `batch_id=N` parquet partitions, so daily ingest lands ONE partial
    * agg of the new batch (summary-sized write, the corpus is never
    * re-read) and serving is a pure SUM over partitions — decimal
    * addition is exact and associative, so serve-from-store is
    * hash-identical to a direct aggregation of the full corpus (the gate
    * proves it). Same-batch retry re-lands its identical partition
    * (overwrite → idempotent); rollups are content-free, so the
    * exactly-once batch assignment is the caller's contract (pair with
    * the A13 checkpoint). Explicit read schema: an empty store has zero
    * partitions, where inference fails, and drift fails loudly. */
  private val rollupStoreSchema =
    "event_type STRING, day DATE, n BIGINT, sum_value DECIMAL(28,4), batch_id BIGINT"

  private def rollupOf(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast(org.apache.spark.sql.types.DecimalType(28, 4)).as("sum_value"))

  def rollupStoreWrite(events: DataFrame, storeDir: String, batchId: Long): Unit =
    rollupOf(events).coalesce(1).write.mode("overwrite")
      .parquet(s"$storeDir/rollup.parquet/batch_id=$batchId")

  def rollupStoreServe(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.schema(rollupStoreSchema).parquet(s"$storeDir/rollup.parquet")
      .groupBy("event_type", "day")
      .agg(sum(col("n")).as("n"),
        sum(col("sum_value")).cast("double").as("sum_value"))

  /** Gate entry: 80/20 split by event_id → base write + one ingest →
    * serve. Hash-equal to the direct aggregation (oracle). */
  def rollupStore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val store = java.nio.file.Files
      .createTempDirectory("graft-rollup-store").toString
    val ids = ev.agg(max(col("event_id")).as("m")).head().getAs[java.lang.Long]("m")
    val cut = if (ids == null) 0L else ids * 4 / 5 // empty corpus: empty store
    rollupStoreWrite(ev.filter(col("event_id") <= cut), store, 0L)
    rollupStoreWrite(ev.filter(col("event_id") > cut), store, 1L)
    rollupStoreServe(spark, store)
  }

  /** A55 batch twin: per-hour trending top-k users — identical ranking to
    * [[graft.streaming.EventPipeline.trendingQuery]]'s closed-window rank
    * (count desc, user_id tie-break) over the batch windowed counts. One
    * (window, user) partial-agg shuffle; the rank window partitions by the
    * hour key over the summary. */
  def trending(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start").cast("timestamp_ltz")).as("window_ms"),
        col("user_id"), col("n"))
    val byWin = Window.partitionBy("window_ms")
      .orderBy(col("n").desc, col("user_id"))
    counts.withColumn("rnk", row_number().over(byWin).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** A54: heartbeat-loss report — the batch twin of
    * [[graft.streaming.EventPipeline.silenceStream]]: one "silence" alert
    * per episode where an event type produced nothing for more than
    * `silenceMs` (stamped at the moment the silence became provable,
    * last_ts + silenceMs), plus a "recovery" alert when the type resumed.
    * Closed episodes come from ONE per-type lag window (consecutive-event
    * gaps); the trailing open episode compares each type's last event
    * against the corpus's global end (a 1-row broadcast scalar — the same
    * observation horizon the streaming twin's watermark provides).
    * Sorts only within the low-cardinality type key. */
  def silenceAlerts(spark: SparkSession, dir: String,
                    silenceMs: Long = 3600000L): DataFrame = {
    val byType = Window.partitionBy("event_type")
      .orderBy(col("ts_ms"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), tsMs(col("ts")).as("ts_ms"))
    val gapped = ev
      .withColumn("prev", lag(col("ts_ms"), 1).over(byType))
      .filter(col("prev").isNotNull &&
        col("ts_ms") - col("prev") > silenceMs)
    val silences = gapped.select(col("event_type"), lit("silence").as("kind"),
      (col("prev") + silenceMs).as("at_ms"), col("prev").as("since_ms"))
    val recoveries = gapped.select(col("event_type"), lit("recovery").as("kind"),
      col("ts_ms").as("at_ms"), col("prev").as("since_ms"))
    val corpusEnd = ev.agg(max(col("ts_ms")).as("end_ms"))
    val trailing = ev.groupBy("event_type").agg(max(col("ts_ms")).as("last_ms"))
      .crossJoin(broadcast(corpusEnd))
      .filter(col("end_ms") - col("last_ms") > silenceMs)
      .select(col("event_type"), lit("silence").as("kind"),
        (col("last_ms") + silenceMs).as("at_ms"), col("last_ms").as("since_ms"))
    silences.unionByName(recoveries).unionByName(trailing)
  }

  /** A51: week-over-week change per (type, day) — the dashboard's "vs
    * last week" series. Calendar-aligned: each day compares against
    * day−7 via a summary-level self-join on the shifted date (a row-lag
    * would silently misalign across gap days). Counts are exact longs;
    * the relative change is one IEEE division; days with no prior-week
    * observation report null. One corpus partial-agg shuffle; everything
    * after runs on the ≤|types|·days summary. */
  def wowChange(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val prev = daily.select(col("event_type"),
      date_add(col("day"), 7).as("day"), col("n").as("prev_n"))
    daily.join(prev, Seq("event_type", "day"), "left")
      .withColumn("wow",
        (col("n") - col("prev_n")).cast("double") / col("prev_n"))
  }

  /** A52: L28 engagement-depth histogram — for the corpus's last day,
    * how many users were active on exactly k of the trailing 28 days
    * (the classic Lk engagement distribution; k=1..28). One corpus scan
    * to distinct (user, day); the anchor-window filter applies before
    * the distinct shuffle, and per-user day counts + the histogram are
    * two summary-level shuffles. The anchor (max day) is a 1-row
    * broadcast scalar (the decayCounts discipline) — a runtime value,
    * so it does NOT statically prune the scan; a deployment on
    * day-partitioned landing (Layout) should resolve the anchor first
    * and pass it as a literal to get partition pruning. */
  def l28(spark: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val anchor = userDays.agg(max(col("day")).as("last_day"))
    userDays.crossJoin(broadcast(anchor))
      .filter(col("day") >= date_sub(col("last_day"), 27))
      .groupBy("user_id").agg(count(lit(1)).as("days_active"))
      .groupBy("days_active").agg(count(lit(1)).as("n_users"))
  }

  /** A50: per-type volume forecast via Holt's linear-trend exponential
    * smoothing (public; Holt 1957 / Hyndman's FPP) over the daily count
    * series — the dashboard's "tomorrow's volume" line completing the
    * anomaly suite (bursts detect, z/MAD flag, this projects). Corpus
    * work is ONE (type, day) partial-agg shuffle; the recurrence
    * l_t = α·y_t + (1−α)(l+b), b_t = β(l_t−l) + (1−β)b runs as an in-row
    * `aggregate` fold over each type's day-sorted series (summary-sized
    * array, executor-side — never a driver collect). α=β=0.5 are exact
    * binary fractions and the fold duplicates the l_t expression inside
    * b_t exactly as the oracle's recursive CTE writes it, so both engines
    * execute the identical IEEE op sequence — hash-exact forecasts with
    * no tolerance. Init: l=y₁, b=y₂−y₁ (needs ≥2 observed days; the
    * recurrence runs over observed days in order). */
  def forecast(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"),
        col("y").cast("double").as("y")))).as("s"))
      .filter(size(col("s")) >= 2)
      .withColumn("lb", expr(
        """aggregate(slice(s, 3, size(s) - 2),
          |  struct(s[0].y AS l, s[1].y - s[0].y AS b),
          |  (acc, x) -> struct(
          |    0.5D * x.y + 0.5D * (acc.l + acc.b) AS l,
          |    0.5D * ((0.5D * x.y + 0.5D * (acc.l + acc.b)) - acc.l)
          |      + 0.5D * acc.b AS b))""".stripMargin))
      .select(col("event_type"),
        size(col("s")).cast("long").as("n_days"),
        element_at(col("s"), -1)("day").as("last_day"),
        col("lb")("l").as("level"), col("lb")("b").as("trend"),
        (col("lb")("l") + col("lb")("b")).as("forecast_1"),
        (col("lb")("l") + lit(7.0) * col("lb")("b")).as("forecast_7"))
  }

  /** A90: Holt–Winters ADDITIVE seasonal forecast per event type (Holt
    * 1957 / Winters 1960, public — the triple-exponential-smoothing
    * workhorse behind every weekly-seasonal capacity dashboard): A50's
    * level+trend smoother plus a period-7 seasonal index, so the forecast
    * stops averaging the weekend dip into Monday's projection:
    *   l_t = α(y_t − s_{t−7}) + (1−α)(l+b),  b_t = β(l_t − l) + (1−β)b,
    *   s_t = γ(y_t − l_t) + (1−γ)s_{t−7},
    * α = β = γ = 0.5 (exactly representable — the A50 discipline). Init
    * from the first two weeks: l₀ = mean(y₁..₇), b₀ = (mean(y₈..₁₄) −
    * l₀)/7, s_i = y_i − l₀; types with a horizon under 14 days drop
    * (documented — no seasonal cycle to fit). Interior missing days are
    * REAL ZEROS and are filled as such (the A86 discipline — a gap is a
    * quiet day, not a shorter week). Emits h = 1..7 day-ahead rows:
    * f_h = l + h·b + s[h] (the list holds the last cycle oldest-first,
    * so position h is day n+h's season).
    *
    * Portability: daily counts are exact integers in doubles; the init
    * means are single correctly-rounded divisions of exact sums; the fold
    * is a fixed IEEE op sequence (the l_t expression repeated VERBATIM
    * inside b_t/s_t — both engines associate identically), mirrored by a
    * DuckDB recursive CTE carrying the 7-slot DOUBLE list. Hash-exact
    * with no quantization.
    *
    * Scale: ONE (type, day) partial-agg shuffle collapses the corpus to
    * ≤ types×horizon rows; the dense fill, init, and fold are per-type
    * array expressions over horizon-length state (the A50/A83
    * model-as-summary shape — series length is the horizon at any
    * corpus size). */
  /** Dense per-type daily count series (interior gaps filled as REAL
    * zeros) — the shared input of the A90 forecaster and A91 backtest.
    * One (type, day) partial-agg shuffle → ≤types×horizon summary. */
  private def denseDailySeries(spark: SparkSession, dir: String): DataFrame =
    denseFromDaily(Tables.events(spark, dir)
      .select(col("event_type"), tsMs(col("ts")).as("ms"))
      .groupBy(col("event_type"), expr("ms div 86400000").as("day_idx"))
      .agg(count(lit(1)).as("y")))

  /** Dense-fill a (event_type, day_idx, y) table — shared with the
    * streaming twin, which derives its daily table from watermark-closed
    * windows instead of raw events. */
  private[graft] def denseFromDaily(daily: DataFrame): DataFrame =
    daily
      .groupBy("event_type")
      .agg(min(col("day_idx")).as("lo"), max(col("day_idx")).as("hi"),
        map_from_entries(collect_list(struct(col("day_idx"), col("y"))))
          .as("m"))
      .withColumn("ys", expr(
        "transform(sequence(lo, hi), d -> CAST(coalesce(element_at(m, d), 0L) AS DOUBLE))"))
      .select(col("event_type"), col("lo"), col("ys"))

  def hwForecast(spark: SparkSession, dir: String): DataFrame =
    hwFromDense(denseDailySeries(spark, dir))

  /** A95: classical ADDITIVE seasonal decomposition of each type's daily
    * count series (the textbook moving-average decomposition — Persons
    * 1919 lineage, the "classical decomposition" every forecasting text
    * opens with and STL refines): y_t = T_t + S_dow(t) + R_t with
    *   T_t = centered 7-day moving average (defined for t = 4..n−3),
    *   S_g = mean of the detrended values in day-of-week group g,
    *         normalized so the seven indices sum to zero,
    *   R_t = y_t − T_t − S_g.
    * The decomposition READ behind A67's DOW anomaly score and A90's
    * seasonal forecast: how much of a series is trend vs weekly habit vs
    * noise, day by day. Edge days (no centered window) drop — the
    * classical convention. Types with under 14 days drop (the A90 rule;
    * 8+ interior days also guarantees every DOW group is populated).
    *
    * Portability: y are exact integer counts in doubles, so the 7-day
    * window sum is exact in any order and T_t = s7/7 is ONE correctly-
    * rounded division. The detrended mean stays exact through the group
    * agg: d_t = y_t − s7/7 is represented as the exact INTEGER numerator
    * 7·y_t − s7, group-summed as BIGINT (order-free), divided once by
    * 7·n_g; the per-group mean quantizes DECIMAL(18,9) (the proven-
    * portable 9-digit double→decimal cast) so the zero-sum adjustment —
    * a sum over the 7 group means — is exact decimal, order-free. Every
    * emitted value is then a fixed IEEE tree over identical inputs —
    * hash-exact raw doubles, no rounding.
    *
    * Scale: ONE (type, day) partial-agg shuffle collapses the corpus to
    * the ≤ types×horizon summary; the window sums are in-row array folds
    * over horizon-length state; the DOW index table is ≤ types×7 and
    * joins back broadcast-sized (the A90 model-as-summary shape). */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame =
    seasonalFromDense(denseDailySeries(spark, dir))

  /** The A95 decomposition over an already-dense (event_type, lo, ys)
    * table — separable for the planted-series spec. */
  private[graft] def seasonalFromDense(dense: DataFrame): DataFrame = scope {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val interior = dense
      .filter(size(col("ys")) >= 14)
      .select(col("event_type"), col("lo"), explode(expr(
        """transform(sequence(4, size(ys) - 3), t -> named_struct(
          |  't', t,
          |  'y', element_at(ys, t),
          |  's7', aggregate(slice(ys, t - 3, 7), 0D, (a, x) -> a + x)))"""
          .stripMargin)).as("r"))
      .select(col("event_type"),
        (col("lo") + col("r.t").cast("long") - 1).as("day_idx"),
        col("r.y").as("y"), (col("r.s7") / lit(7.0)).as("trend"),
        (lit(7.0) * col("r.y") - col("r.s7")).cast("long").as("dnum"))
      .withColumn("dow", col("day_idx") % 7).pin() // feeds the DOW census and the final join
    val seas = interior.groupBy("event_type", "dow")
      .agg((sum(col("dnum")).cast("double") /
        (lit(7.0) * count(lit(1)).cast("double"))).cast(dec).as("mean_dec"))
    val adj = seas.groupBy("event_type")
      .agg((sum(col("mean_dec")).cast("double") / lit(7.0)).as("a"))
    val sFin = seas.join(adj, "event_type")
      .select(col("event_type"), col("dow"),
        (col("mean_dec").cast("double") - col("a")).as("seasonal"))
    interior.join(broadcast(sFin), Seq("event_type", "dow"))
      .select(col("event_type"), col("day_idx"), col("y"), col("trend"),
        col("seasonal"),
        (col("y") - col("trend") - col("seasonal")).as("resid"))
  }

  /** A95b: SEASONAL / TREND STRENGTH of each type's series (Hyndman &
    * Wang's decomposition-based strength measures, public — the features
    * the forecasting literature uses to route series to models):
    *   F_seasonal = max(0, 1 − var(R)/var(S+R)),
    *   F_trend    = max(0, 1 − var(R)/var(T+R)),
    * over the A95 interior rows — near 1 when the component explains the
    * series, near 0 when the remainder does. The scalar READ of A95:
    * "which types are habit-driven vs trend-driven vs noise".
    *
    * Portability: the A95 components are already bit-identical; each
    * component quantizes DECIMAL(18,9) then SHIFTS TO AN EXACT INTEGER
    * (×10⁹, DECIMAL(38,0) — the A97/ITS moment discipline), so x/x² sums
    * AND the n·Σx² − (Σx)² variance numerators stay exact integer
    * decimals end-to-end (the 10¹⁸ factors cancel in the ratio) and the
    * strength is 1 − ONE IEEE division — a measured r12 finding forced
    * this: evaluating the numerators as the double tree a·b − c·d
    * diverged 1-2 ULP cross-engine (FMA contraction), while all-decimal
    * moments hash exactly. Zero-variance denominators yield NULL on both
    * engines.
    *
    * Scale: rides A95's one-shuffle summary; the strength agg is a
    * ≤types-row rollup. */
  def seasonalStrength(spark: SparkSession, dir: String): DataFrame = scope {
    val dec9 = org.apache.spark.sql.types.DecimalType(18, 9)
    val decI = org.apache.spark.sql.types.DecimalType(38, 0)
    def q(c: org.apache.spark.sql.Column) =
      (c.cast(dec9) * lit(1000000000L)).cast(decI)
    val comp = seasonalDecompose(spark, dir)
      .select(col("event_type"),
        q(col("resid")).as("r"),
        q(col("seasonal") + col("resid")).as("sq"),
        q(col("trend") + col("resid")).as("tq"))
    comp.groupBy("event_type")
      .agg(count(lit(1)).as("n_interior"),
        sum(col("r")).cast(decI).as("sr"),
        sum(col("r") * col("r")).cast(decI).as("srr"),
        sum(col("sq")).cast(decI).as("ss"),
        sum(col("sq") * col("sq")).cast(decI).as("sss"),
        sum(col("tq")).cast(decI).as("st"),
        sum(col("tq") * col("tq")).cast(decI).as("stt"))
      .select(col("event_type"), col("n_interior"),
        strengthCol(col("n_interior").cast(decI), col("sr"), col("srr"),
          col("st"), col("stt")).as("trend_strength"),
        strengthCol(col("n_interior").cast(decI), col("sr"), col("srr"),
          col("ss"), col("sss")).as("seasonal_strength"))
  }

  /** max(0, 1 − varnum(R)/varnum(X)) with both numerators EXACT decimal
    * integers and one IEEE division; NULL when var(X) = 0. */
  private def strengthCol(n: org.apache.spark.sql.Column,
                          sr: org.apache.spark.sql.Column,
                          srr: org.apache.spark.sql.Column,
                          sx: org.apache.spark.sql.Column,
                          sxx: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    def varNum(s1: org.apache.spark.sql.Column, s2: org.apache.spark.sql.Column) =
      n * s2 - s1 * s1 // exact DECIMAL(38,0) arithmetic
    when(varNum(sx, sxx) > 0,
      greatest(lit(0.0), lit(1.0) -
        varNum(sr, srr).cast("double") / varNum(sx, sxx).cast("double")))
  }

  /** A95c: SEASONALLY-ADJUSTED anomaly days — the robust outlier read on
    * A95's remainder (the decomposition's whole point: a quiet Sunday is
    * NOT an anomaly once the weekly shape is removed, and a mid-week dip
    * the raw A49/A67 z-scores average away pops out of the residual):
    * flag interior days where |R_t − median(R)| > k·MAD(R) per type — the
    * A49 robust rule applied to the deseasonalized series. Medians are
    * exact rank selections ((value, day_idx) order — engine-agnostic),
    * the flag compare is two IEEE ops over identical doubles.
    *
    * Scale: rides the A95 summary (checkpointed — the two rank passes
    * and the flag pass reuse it, the madAlert discipline); rank windows
    * partition by the low-cardinality type key. */
  def seasonalAnomalies(spark: SparkSession, dir: String,
                        k: Double = 3.0): DataFrame = scope {
    val comp = seasonalDecompose(spark, dir).pin()
    def rankMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type")
        .orderBy(col(valueCol), col("day_idx"))
      val n = Window.partitionBy("event_type")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(n))
        .filter(col("rn") === ceil(col("n") * 0.5).cast("long"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val med = rankMedian(comp.select(col("event_type"), col("day_idx"),
      col("resid")), "resid", "med").pin()
    val withMed = comp.join(broadcast(med), Seq("event_type"))
      .withColumn("absdev", abs(col("resid") - col("med")))
    val mad = rankMedian(withMed.select(col("event_type"), col("day_idx"),
      col("absdev")), "absdev", "mad")
    withMed.join(broadcast(mad), Seq("event_type"))
      .filter(col("absdev") > lit(k) * col("mad"))
      .select(col("event_type"), col("day_idx"), col("y"), col("resid"),
        col("med"), col("mad"))
  }

  /** A97: AUTOCORRELATION function of each type's daily series at lags
    * 1..maxLag (Box & Jenkins 1970, public — THE seasonality/memory
    * detector: a spike at lag 7 is the measured form of A95's weekly
    * assumption; decay shape routes AR vs MA models):
    *   acf(k) = Σ_{t≤n−k} (y_t − ȳ)(y_{t+k} − ȳ) / Σ_t (y_t − ȳ)²
    * (the standard biased estimator — denominator over the full series).
    *
    * Portability: deviations carry the EXACT integer numerator n·y_t − S
    * (the A95 discipline) as DECIMAL(38,0); lag products and both sums
    * are exact decimals (the n² factors cancel), acf is ONE IEEE
    * division. A constant series (zero variance) yields NULL acf on both
    * engines. Scale: one (type, day) shuffle → horizon summary; the lag
    * products are in-row zip_with folds per (type, lag) — ≤ types×maxLag
    * output rows. */
  /** A97b: the correlogram READ — A97's ACF against Bartlett's ±1.96/√n
    * white-noise band (Bartlett 1946; the dashed lines on every published
    * correlogram: a lag outside the band is evidence of real structure at
    * ~5%): emits the band and the significance verdict per (type, lag).
    * sqrt and the division are single correctly-rounded IEEE ops over
    * identical inputs; the flag is one exact compare. */
  def acfBands(spark: SparkSession, dir: String,
               maxLag: Int = 14): DataFrame =
    acf(spark, dir, maxLag)
      .withColumn("band", lit(1.96) / sqrt(col("n_days").cast("double")))
      .withColumn("significant",
        when(col("acf").isNotNull, abs(col("acf")) > col("band")))

  /** Shared exact-moment base of A97/A98: the deviation array (exact
    * integer numerators n·y − S as DECIMAL(38,0)) and its square-sum. */
  private def acfBase(spark: SparkSession, dir: String,
                      maxLag: Int): DataFrame =
    denseDailySeries(spark, dir)
      .filter(size(col("ys")) >= maxLag + 1)
      .withColumn("n", size(col("ys")).cast("long"))
      .withColumn("s", expr(
        "aggregate(ys, 0L, (a, x) -> a + CAST(x AS BIGINT))"))
      .withColumn("ds", expr(
        "transform(ys, y -> CAST(n * CAST(y AS BIGINT) - s AS DECIMAL(38,0)))"))
      .withColumn("den", expr(
        """aggregate(ds, CAST(0 AS DECIMAL(38,0)),
          |  (a, x) -> CAST(a + x * x AS DECIMAL(38,0)))""".stripMargin))

  def acf(spark: SparkSession, dir: String, maxLag: Int = 14): DataFrame = {
    acfBase(spark, dir, maxLag)
      .withColumn("lag", explode(expr(s"sequence(1, $maxLag)")))
      .withColumn("num", expr(
        """aggregate(
          |  zip_with(slice(ds, 1, size(ds) - lag),
          |           slice(ds, lag + 1, size(ds) - lag),
          |           (a, b) -> CAST(a * b AS DECIMAL(38,0))),
          |  CAST(0 AS DECIMAL(38,0)),
          |  (a, x) -> CAST(a + x AS DECIMAL(38,0)))""".stripMargin))
      .select(col("event_type"), col("lag").cast("long").as("lag"),
        col("n").as("n_days"),
        when(col("den") > 0,
          col("num").cast("double") / col("den").cast("double")).as("acf"))
  }

  /** A98: PARTIAL autocorrelation at lags 1..maxLag per type via the
    * Durbin–Levinson recursion (Durbin 1960; Box & Jenkins 1970, public —
    * ACF's companion: pacf(k) is lag k's correlation with the
    * intermediate lags' influence regressed out, THE AR-order selector:
    * an AR(p) series cuts off sharply after lag p where its ACF decays
    * forever):
    *   φ₁₁ = r₁;  α_k = r_k − Σ_j φ_{k−1,j}·r_{k−j};  φ_kk = α_k/v_{k−1};
    *   φ_kj = φ_{k−1,j} − φ_kk·φ_{k−1,k−j};  v_k = v_{k−1}(1 − φ_kk²).
    *
    * Portability (the r12 §6 findings made the rules explicit): r_k
    * quantizes DECIMAL(18,9) off the A97 exact-moment ratio; EVERY
    * recursion intermediate is one isolated IEEE op between 9-digit
    * quantizations — operands cast decimal→double (exact: |values| ≤ 2,
    * significands < 2⁵³), ONE multiply/divide, result re-quantized via
    * the proven-portable double→DECIMAL(18,9) cast; additions and
    * subtractions stay in exact decimal; decimal→decimal scale-downs
    * NEVER appear (DuckDB truncates where Spark rounds — measured).
    * A zero prediction variance mid-recursion (|pacf| = 1 exactly —
    * impossible for the biased estimator on real data) NULLs the
    * remaining lags via nullif on both engines.
    *
    * Scale: the A97 shape — one (type, day) shuffle to the horizon
    * summary, the whole recursion an in-row fold over ≤ maxLag lags;
    * ≤ types×maxLag output rows. */
  def pacf(spark: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    val ts = "zip_with(st.phi, reverse(slice(qr, 1, k - 1)), " +
      "(p, r) -> CAST(CAST(p AS DOUBLE) * CAST(r AS DOUBLE) AS DECIMAL(18,9)))"
    val ssum = s"aggregate($ts, CAST(0 AS DECIMAL(28,9)), " +
      "(a, x) -> CAST(a + x AS DECIMAL(28,9)))"
    val alpha = s"CAST(element_at(qr, k) - $ssum AS DECIMAL(28,9))"
    val pkk = s"CAST(CAST($alpha AS DOUBLE) / " +
      "nullif(CAST(st.v AS DOUBLE), 0.0D) AS DECIMAL(18,9))"
    // pk-bound forms (r12): higher-order-function lambdas run INTERPRETED,
    // and the historical fold in-lined the $pkk text — and with it the
    // whole alpha→ssum→ts aggregate subtree — FIVE times per step (phi
    // twice, pacf once, v twice via w), so each Durbin–Levinson step
    // re-evaluated the k-term inner aggregate 5×. The fold below binds it
    // ONCE per step as lambda var `pk` (transform over a singleton array —
    // SQL's let), then every use reads the bound value: identical casts,
    // identical IEEE ops, identical outputs, 5× less interpreted work.
    val w = "CAST(CAST(pk AS DOUBLE) * CAST(pk AS DOUBLE) AS DECIMAL(18,9))"
    val phiNew = "array_append(transform(sequence(1, k - 1), " +
      "j -> CAST(element_at(st.phi, j) - CAST(CAST(pk AS DOUBLE) * " +
      "CAST(element_at(st.phi, k - j) AS DOUBLE) AS DECIMAL(18,9)) " +
      "AS DECIMAL(18,9))), pk)"
    val vNew = s"CAST(CAST(st.v AS DOUBLE) * CAST(CAST(" +
      s"CAST(1 AS DECIMAL(18,9)) - $w AS DECIMAL(18,9)) AS DOUBLE) " +
      "AS DECIMAL(18,9))"
    val v0 = "CAST(CAST(1 AS DECIMAL(18,9)) - " +
      "CAST(CAST(element_at(qr, 1) AS DOUBLE) * " +
      "CAST(element_at(qr, 1) AS DOUBLE) AS DECIMAL(18,9)) AS DECIMAL(18,9))"
    acfBase(spark, dir, maxLag)
      .filter(col("den") > 0)
      .withColumn("qr", expr(
        s"""transform(sequence(1, $maxLag), lag -> CAST(
           |  CAST(aggregate(
           |    zip_with(slice(ds, 1, size(ds) - lag),
           |             slice(ds, lag + 1, size(ds) - lag),
           |             (a, b) -> CAST(a * b AS DECIMAL(38,0))),
           |    CAST(0 AS DECIMAL(38,0)),
           |    (a, x) -> CAST(a + x AS DECIMAL(38,0))) AS DOUBLE)
           |  / CAST(den AS DOUBLE) AS DECIMAL(18,9)))""".stripMargin))
      .withColumn("dl", expr(
        s"""aggregate(sequence(2, $maxLag),
           |  named_struct(
           |    'phi', array(element_at(qr, 1)),
           |    'pacf', array(element_at(qr, 1)),
           |    'v', $v0),
           |  (st, k) -> element_at(transform(array($pkk), pk -> named_struct(
           |    'phi', $phiNew,
           |    'pacf', array_append(st.pacf, pk),
           |    'v', $vNew)), 1))""".stripMargin))
      .select(col("event_type"), col("n").as("n_days"),
        posexplode(col("dl.pacf")).as(Seq("pos", "p")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("lag"),
        col("n_days"), col("p").cast("double").as("pacf"))
  }

  /** The A90 fold over an already-dense (event_type, ys) table — shared
    * with the streaming twin (one recurrence, two transports). */
  private[graft] def hwFromDense(dense: DataFrame): DataFrame = {
    dense
      .filter(size(col("ys")) >= 14)
      .withColumn("n_days", size(col("ys")).cast("long"))
      .withColumn("st", expr(
        """aggregate(
          |  slice(ys, 15, size(ys) - 14),
          |  struct(
          |    aggregate(slice(ys, 1, 7), 0D, (a, x) -> a + x) / 7.0D AS l,
          |    (aggregate(slice(ys, 8, 7), 0D, (a, x) -> a + x) / 7.0D
          |      - aggregate(slice(ys, 1, 7), 0D, (a, x) -> a + x) / 7.0D)
          |      / 7.0D AS b,
          |    transform(slice(ys, 1, 7), x ->
          |      x - aggregate(slice(ys, 1, 7), 0D, (a, x2) -> a + x2) / 7.0D)
          |      AS s),
          |  (acc, y) -> struct(
          |    0.5D * (y - element_at(acc.s, 1)) + 0.5D * (acc.l + acc.b) AS l,
          |    0.5D * ((0.5D * (y - element_at(acc.s, 1))
          |        + 0.5D * (acc.l + acc.b)) - acc.l) + 0.5D * acc.b AS b,
          |    array_append(slice(acc.s, 2, 6),
          |      0.5D * (y - (0.5D * (y - element_at(acc.s, 1))
          |          + 0.5D * (acc.l + acc.b))) + 0.5D * element_at(acc.s, 1))
          |      AS s))""".stripMargin))
      .select(col("event_type"), col("n_days"), col("st.l").as("level"),
        col("st.b").as("trend"), col("st.s").as("s"))
      .withColumn("h", explode(expr("sequence(1, 7)")))
      .select(col("event_type"), col("n_days"), col("h").cast("long").as("h"),
        col("level"), col("trend"),
        (col("level") + col("h").cast("double") * col("trend") +
          element_at(col("s"), col("h"))).as("forecast"))
  }

  /** A94: treatment-effect HETEROGENEITY by segment (Cochran 1954's Q,
    * public — the meta-analysis statistic every experimentation platform
    * quotes under its segment breakdown: per-segment lifts plus "do the
    * segments genuinely differ or is the spread noise"): users segment by
    * first-activity week (the A20b cohort key — behavior-independent
    * given assignment), each segment gets the A62 2×2 readout, and
    *   Q = Σ w_i (lift_i − pooled)²,  w_i = 1/var_i,
    *   pooled = Σ w_i·lift_i / Σ w_i,  I² = max(0, (Q − (k−1))/Q)
    * quantifies cross-segment heterogeneity (I² near 0: one effect;
    * near 1: the average hides real differences). Degenerate segments
    * (zero-variance cells) carry their counts but drop from Q, k counts
    * contributing segments only.
    *
    * Portability: cells are exact integers; lifts/variances/weights are
    * a fixed IEEE tree over them; the Q/pooled sums quantize each term
    * DECIMAL(28,9) (order-free exact — segment order can never wobble
    * the statistic); 6-dp rounds. Scale: ONE user_id shuffle → per-user
    * row; a ≤weeks-key partial agg → segment cells; Q folds over the
    * ≤weeks summary (broadcast scalar join back). */
  def experimentSegments(spark: SparkSession, dir: String,
                         salt: String = "exp1",
                         minPurchases: Long = 14): DataFrame = scope {
    // 28,9: the weights are 1/var ~ O(n) — DECIMAL(18,9)'s 10^9 integer
    // ceiling would overflow at planetary per-segment populations
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    val users = Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ms"), col("event_type"))
      .groupBy("user_id")
      .agg(min(expr("ms div 604800000")).as("cohort_week"),
        count(when(col("event_type") === "purchase", lit(1))).as("np"))
      .withColumn("conv", (col("np") >= minPurchases).cast("int"))
      .withColumn("variant", when(substring(md5(
        concat(lit(salt), lit(":"), col("user_id").cast("string"))
          .cast("binary")), 1, 2) < "80", "A").otherwise("B"))
    val cells = users.groupBy("cohort_week").agg(
      count(when(col("variant") === "A", lit(1))).as("n_a"),
      count(when(col("variant") === "A" && col("conv") === 1, lit(1))).as("conv_a"),
      count(when(col("variant") === "B", lit(1))).as("n_b"),
      count(when(col("variant") === "B" && col("conv") === 1, lit(1))).as("conv_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("rate_a", col("conv_a").cast("double") / col("n_a").cast("double"))
      .withColumn("rate_b", col("conv_b").cast("double") / col("n_b").cast("double"))
      .withColumn("lift", col("rate_b") - col("rate_a"))
      .withColumn("var_i",
        col("rate_a") * (lit(1.0) - col("rate_a")) / col("n_a").cast("double") +
          col("rate_b") * (lit(1.0) - col("rate_b")) / col("n_b").cast("double"))
      .pin() // summary; the Q fold and the output share it
    val q = cells.filter(col("var_i") > 0.0)
      .withColumn("w", lit(1.0) / col("var_i"))
      .agg(count(lit(1)).as("k"),
        sum(col("w").cast(dec)).as("sw"),
        sum((col("w") * col("lift")).cast(dec)).as("swl"),
        sum((col("w") * col("lift") * col("lift")).cast(dec)).as("swll"))
      .withColumn("pooled_lift", col("swl").cast("double") / col("sw").cast("double"))
      // Q = Σw·lift² − (Σw·lift)²/Σw (the one-pass identity — exact sums)
      .withColumn("q_stat", col("swll").cast("double") -
        col("swl").cast("double") * col("swl").cast("double") /
          col("sw").cast("double"))
      .withColumn("i2", when(col("q_stat") > lit(0.0) && col("k") > 1,
        greatest(lit(0.0), (col("q_stat") - (col("k") - 1).cast("double")) /
          col("q_stat"))))
      .select(col("k").as("k_segments"), col("pooled_lift"), col("q_stat"),
        col("i2"))
    cells.crossJoin(broadcast(q)) // single summary row
      .select(col("cohort_week"), col("n_a"), col("conv_a"),
        col("n_b"), col("conv_b"),
        round(col("lift"), 6).as("lift"),
        col("k_segments"),
        round(col("pooled_lift"), 6).as("pooled_lift"),
        round(col("q_stat"), 6).as("q_stat"),
        round(col("i2"), 6).as("i2"))
  }

  /** A93: RETENTION-CURVE power-law fit — ln-ln OLS of the pooled daily
    * retention rate on the day offset (the "retention decays as t^(−b)"
    * model practitioners project long-term retention with; the same
    * public OLS discipline as C99's Zipf fit): rate(d) = users active at
    * offset d from their first day / all users, fitted over offsets
    * 1..maxOffset with rate > 0. Slope = −b (shallower is stickier),
    * intercept = ln a, r², and the day-30 projection exp(â + b̂·ln 30) —
    * the number a growth dashboard actually quotes.
    *
    * Portability: counts exact; rate one IEEE division; ln values
    * quantize DECIMAL(18,9) (the C72/C99 ln discipline) so the OLS
    * moments are exact decimal sums and the fit statistics one fixed
    * IEEE tree; 6-dp rounds. Scale: corpus → distinct (user, day) in one
    * shuffle (localCheckpoint'd — the first-day window, the offset census
    * and the user total all derive from it); the fit folds over
    * ≤ maxOffset summary rows. */
  def retentionFit(spark: SparkSession, dir: String,
                   maxOffset: Int = 30): DataFrame = scope {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ms"))
      .select(col("user_id"), expr("ms div 86400000").as("day"))
      .distinct().pin()
    val nUsers = broadcast(
      ud.agg(countDistinct(col("user_id")).as("n_users")))
    val pts = ud
      .withColumn("f", min(col("day")).over(Window.partitionBy("user_id")))
      .withColumn("off", col("day") - col("f"))
      .filter(col("off") >= 1 && col("off") <= maxOffset)
      .groupBy("off").agg(count(lit(1)).as("n_ret")) // (user, day) distinct
      .crossJoin(nUsers)
      .withColumn("rate",
        col("n_ret").cast("double") / col("n_users").cast("double"))
      .withColumn("x", log(col("off").cast("double")).cast(dec))
      .withColumn("y", log(col("rate")).cast(dec))
    pts.agg(
        count(lit(1)).as("n_points"),
        max(col("n_users")).as("n_users"),
        sum(col("x")).as("sxq"), sum(col("y")).as("syq"),
        sum(col("x") * col("x")).as("sxxq"),
        sum(col("x") * col("y")).as("sxyq"),
        sum(col("y") * col("y")).as("syyq"))
      .filter(col("n_points") >= 2)
      .withColumn("nd", col("n_points").cast("double"))
      .withColumn("sx", col("sxq").cast("double"))
      .withColumn("sy", col("syq").cast("double"))
      .withColumn("sxx", col("sxxq").cast("double"))
      .withColumn("sxy", col("sxyq").cast("double"))
      .withColumn("syy", col("syyq").cast("double"))
      .withColumn("num", col("nd") * col("sxy") - col("sx") * col("sy"))
      .withColumn("denx", col("nd") * col("sxx") - col("sx") * col("sx"))
      .withColumn("deny", col("nd") * col("syy") - col("sy") * col("sy"))
      .withColumn("slope",
        when(col("denx") =!= lit(0.0), col("num") / col("denx")))
      .withColumn("intercept",
        (col("sy") - col("slope") * col("sx")) / col("nd"))
      .withColumn("r2", when(col("denx") * col("deny") =!= lit(0.0),
        col("num") * col("num") / (col("denx") * col("deny"))))
      .withColumn("proj_d30",
        exp(col("intercept") + col("slope") * lit(math.log(30.0))))
      .select(col("n_points"), col("n_users"),
        round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"),
        round(col("r2"), 6).as("r2"),
        round(col("proj_d30"), 6).as("proj_d30"))
  }

  /** A92: INTERRUPTED TIME SERIES readout — segmented regression around a
    * fixed intervention day (Wagner et al. 2002, public; the standard
    * quasi-experimental tool when there IS no control arm: a deploy, a
    * pricing change, a policy flip): per event type, OLS level+slope fit
    * on the pre-period and the post-period, reporting the LEVEL CHANGE at
    * the intervention (post intercept minus the pre fit's counterfactual
    * continuation) and the SLOPE CHANGE. The intervention here is the
    * horizon midpoint (a deterministic, engine-agnostic anchor; real
    * deployments pass their own day). Interior missing days are real
    * zeros (the A86/A90 discipline); types with fewer than 2 days per
    * side drop (no fit).
    *
    * Portability: OLS slope = (nΣty − ΣtΣy)/(nΣt² − (Σt)²) with t as
    * small per-side indices and y exact counts — BOTH numerator and
    * denominator are exact DECIMAL(38,0) sums (the A63b Gini discipline;
    * products overflow longs at planetary scale), so each slope is ONE
    * IEEE division of exact integers and every derived value is a fixed
    * tree — hash-exact; 6-dp rounds.
    *
    * Scale: one (type, day) partial-agg shuffle → dense horizon summary;
    * the fits are FILTER-aggregated moments over that summary — no
    * per-side re-scan, no driver math. */
  def its(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val series = denseDailySeries(spark, dir)
      .filter(size(col("ys")) >= 4)
      .select(col("event_type"), posexplode(col("ys")).as(Seq("i", "yd")))
      .withColumn("t0", floor(count(lit(1)).over(
        Window.partitionBy("event_type")) / 2).cast("long"))
      .withColumn("y", col("yd").cast("long"))
      .withColumn("pre", col("i") < col("t0"))
      // per-side time index from the side's own origin
      .withColumn("t", when(col("pre"), col("i").cast("long"))
        .otherwise(col("i").cast("long") - col("t0")))
    def m(side: Boolean, e: org.apache.spark.sql.Column) = sum(when(col("pre") === side, e)
      .otherwise(lit(0).cast(dec)))
    val fits = series.groupBy("event_type").agg(
      max(col("t0")).as("t0_idx"),
      count(when(col("pre"), lit(1))).as("n_pre"),
      count(when(!col("pre"), lit(1))).as("n_post"),
      m(true, col("t").cast(dec)).as("st1"),
      m(true, col("y").cast(dec)).as("sy1"),
      m(true, col("t").cast(dec) * col("t").cast(dec)).as("stt1"),
      m(true, col("t").cast(dec) * col("y").cast(dec)).as("sty1"),
      m(false, col("t").cast(dec)).as("st2"),
      m(false, col("y").cast(dec)).as("sy2"),
      m(false, col("t").cast(dec) * col("t").cast(dec)).as("stt2"),
      m(false, col("t").cast(dec) * col("y").cast(dec)).as("sty2"))
      .filter(col("n_pre") >= 2 && col("n_post") >= 2)
    def slope(n: org.apache.spark.sql.Column, st: org.apache.spark.sql.Column,
              sy: org.apache.spark.sql.Column, stt: org.apache.spark.sql.Column,
              sty: org.apache.spark.sql.Column) =
      (n.cast(dec) * sty - st * sy).cast("double") /
        (n.cast(dec) * stt - st * st).cast("double")
    def icept(n: org.apache.spark.sql.Column, st: org.apache.spark.sql.Column,
              sy: org.apache.spark.sql.Column, sl: org.apache.spark.sql.Column) =
      (sy.cast("double") - sl * st.cast("double")) / n.cast("double")
    fits
      .withColumn("slope_pre",
        slope(col("n_pre"), col("st1"), col("sy1"), col("stt1"), col("sty1")))
      .withColumn("slope_post",
        slope(col("n_post"), col("st2"), col("sy2"), col("stt2"), col("sty2")))
      .withColumn("icept_pre",
        icept(col("n_pre"), col("st1"), col("sy1"), col("slope_pre")))
      .withColumn("icept_post",
        icept(col("n_post"), col("st2"), col("sy2"), col("slope_post")))
      // counterfactual continuation of the pre fit at the intervention
      .withColumn("level_change", col("icept_post") -
        (col("icept_pre") + col("slope_pre") * col("t0_idx").cast("double")))
      .withColumn("slope_change", col("slope_post") - col("slope_pre"))
      .select(col("event_type"), col("t0_idx"), col("n_pre"), col("n_post"),
        round(col("icept_pre"), 6).as("intercept_pre"),
        round(col("slope_pre"), 6).as("slope_pre"),
        round(col("icept_post"), 6).as("intercept_post"),
        round(col("slope_post"), 6).as("slope_post"),
        round(col("level_change"), 6).as("level_change"),
        round(col("slope_change"), 6).as("slope_change"))
  }

  /** A91: rolling-origin FORECAST BACKTEST — the model-selection readout
    * behind A50/A90 (Tashman 2000's rolling-origin evaluation, public;
    * "which forecaster do I trust for this series" is a measured answer,
    * not a preference): every day t, each model predicts y_t from data
    * through t−1, and the one-step absolute errors accumulate —
    *   naive (f = yesterday), Holt (the A50 recurrence), Holt–Winters
    *   (the A90 recurrence) —
    * with per-type MAE and the winning model (ties prefer the simpler
    * model: naive ≺ holt ≺ hw). The folds are the A50/A90 recurrences
    * VERBATIM with an error accumulator riding along (the forecast for t
    * reads the state BEFORE folding y_t in — no lookahead); each |error|
    * quantizes DECIMAL(18,9) before the exact in-fold sum, so the error
    * totals are order-free exact and the winner compare is deterministic.
    * Types with a horizon under 15 days drop (HW needs one evaluation).
    *
    * Scale: the A90 shape — one (type, day) shuffle to the dense summary,
    * then per-type array folds over horizon-length state. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    denseDailySeries(spark, dir)
      .filter(size(col("ys")) >= 15)
      .withColumn("n_days", size(col("ys")).cast("long"))
      // naive: f_t = y_{t-1}, evaluated t = 2..n
      .withColumn("err_naive", expr(
        """aggregate(
          |  zip_with(slice(ys, 2, size(ys) - 1), slice(ys, 1, size(ys) - 1),
          |    (cur, prev) -> CAST(abs(prev - cur) AS DECIMAL(18,9))),
          |  CAST(0 AS DECIMAL(28,9)),
          |  (a, x) -> CAST(a + x AS DECIMAL(28,9)))""".stripMargin))
      .withColumn("n_naive", (size(col("ys")) - 1).cast("long"))
      // Holt: the A50 recurrence with the error riding along (t = 3..n)
      .withColumn("holt", expr(
        """aggregate(
          |  slice(ys, 3, size(ys) - 2),
          |  named_struct(
          |    'l', element_at(ys, 1),
          |    'b', element_at(ys, 2) - element_at(ys, 1),
          |    'err', CAST(0 AS DECIMAL(28,9))),
          |  (acc, y) -> named_struct(
          |    'l', 0.5D * y + 0.5D * (acc.l + acc.b),
          |    'b', 0.5D * ((0.5D * y + 0.5D * (acc.l + acc.b)) - acc.l)
          |      + 0.5D * acc.b,
          |    'err', CAST(acc.err +
          |      CAST(abs(acc.l + acc.b - y) AS DECIMAL(18,9))
          |      AS DECIMAL(28,9))))""".stripMargin))
      .withColumn("n_holt", (size(col("ys")) - 2).cast("long"))
      // Holt–Winters: the A90 recurrence + error (t = 15..n)
      .withColumn("hw", expr(
        """aggregate(
          |  slice(ys, 15, size(ys) - 14),
          |  named_struct(
          |    'l', aggregate(slice(ys, 1, 7), 0D, (a, x) -> a + x) / 7.0D,
          |    'b', (aggregate(slice(ys, 8, 7), 0D, (a, x) -> a + x) / 7.0D
          |      - aggregate(slice(ys, 1, 7), 0D, (a, x) -> a + x) / 7.0D)
          |      / 7.0D,
          |    's', transform(slice(ys, 1, 7), x ->
          |      x - aggregate(slice(ys, 1, 7), 0D, (a, x2) -> a + x2) / 7.0D),
          |    'err', CAST(0 AS DECIMAL(28,9))),
          |  (acc, y) -> named_struct(
          |    'l', 0.5D * (y - element_at(acc.s, 1)) + 0.5D * (acc.l + acc.b),
          |    'b', 0.5D * ((0.5D * (y - element_at(acc.s, 1))
          |        + 0.5D * (acc.l + acc.b)) - acc.l) + 0.5D * acc.b,
          |    's', array_append(slice(acc.s, 2, 6),
          |      0.5D * (y - (0.5D * (y - element_at(acc.s, 1))
          |          + 0.5D * (acc.l + acc.b))) + 0.5D * element_at(acc.s, 1)),
          |    'err', CAST(acc.err +
          |      CAST(abs(acc.l + acc.b + element_at(acc.s, 1) - y)
          |        AS DECIMAL(18,9))
          |      AS DECIMAL(28,9))))""".stripMargin))
      .withColumn("n_hw", (size(col("ys")) - 14).cast("long"))
      .withColumn("mae_naive",
        col("err_naive").cast("double") / col("n_naive").cast("double"))
      .withColumn("mae_holt",
        col("holt.err").cast("double") / col("n_holt").cast("double"))
      .withColumn("mae_hw",
        col("hw.err").cast("double") / col("n_hw").cast("double"))
      .withColumn("best_model",
        when(col("mae_naive") <= col("mae_holt") &&
             col("mae_naive") <= col("mae_hw"), lit("naive"))
          .when(col("mae_holt") <= col("mae_hw"), lit("holt"))
          .otherwise(lit("hw")))
      .select(col("event_type"), col("n_days"),
        col("n_naive"), col("n_holt"), col("n_hw"),
        round(col("mae_naive"), 6).as("mae_naive"),
        round(col("mae_holt"), 6).as("mae_holt"),
        round(col("mae_hw"), 6).as("mae_hw"),
        col("best_model"))
  }

  /** A59: SCD Type-2 dimension build — the warehouse staple the engine was
    * missing: a per-user change log (here: 'signup' events carrying the
    * changing attribute in `value`) becomes a VERSIONED dimension with
    * half-open validity intervals [effective_from, effective_to) that
    * partition the timeline (effective_to null = current version). Same-ms
    * double-writes collapse to the largest event_id (last writer wins,
    * via max(struct) partial agg — no sort). ONE user_id shuffle: the
    * dedup partial-agg, the version row_number and the lead() all share
    * the user_id partitioning; everything is summary-sized (versions per
    * user, not events). */
  def scd2Build(spark: SparkSession, dir: String): DataFrame = {
    val ch = Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), tsMs(col("ts")).as("from_ms"),
        col("event_id"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("from_ms")
    ch.groupBy("user_id", "from_ms")
      .agg(max(struct(col("event_id"), col("value")))("value").as("dim_value"))
      .withColumn("version_n", row_number().over(w))
      .withColumn("effective_to_ms", lead(col("from_ms"), 1).over(w))
      .select(col("user_id"), col("version_n").cast("long").as("version_n"),
        col("from_ms").as("effective_from_ms"), col("effective_to_ms"),
        col("dim_value"))
  }

  /** A59b: point-in-time (as-of) enrichment against the SCD2 dimension —
    * each purchase picks the version valid AT its event time (the interval
    * containing ts; an event exactly at a version boundary takes the NEW
    * version, half-open semantics). NOT an interval join (O(events ×
    * versions) worst case and an inequality predicate no engine hashes):
    * the A17 as-of discipline — union version-start rows with event rows,
    * ONE user_id shuffle, per-user event-time sort where version rows
    * order before same-ms events, and a running last(ignoreNulls) carries
    * the active version onto every purchase. Events before a user's first
    * version keep null dim columns (left semantics). */
  def scd2Join(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Build(spark, dir)
      .select(col("user_id"), col("effective_from_ms").as("ts_ms"),
        lit(0).as("kind"), lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"),
        struct(col("dim_value"), col("version_n")).as("dim"))
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), tsMs(col("ts")).as("ts_ms"),
        lit(1).as("kind"), col("event_id"), col("value"),
        lit(null).cast(
          "struct<dim_value: double, version_n: bigint>").as("dim"))
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(purchases)
      .withColumn("cur", last(when(col("kind") === 0, col("dim")),
        ignoreNulls = true).over(byUser))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("value"),
        col("cur")("dim_value").as("dim_value"),
        col("cur")("version_n").as("version_n"))
  }

  /** A58: last-touch conversion attribution — the marketing-analytics
    * staple: each purchase's value is credited to the channel (event type)
    * of the user's most recent click/view at-or-before it within the
    * attribution window; a purchase with no in-window touch lands in the
    * 'direct' bucket. ONE user_id shuffle (the A40 discipline): a running
    * last(ignoreNulls) over the per-user event-time sort carries the most
    * recent touch onto every conversion row — never a touches×conversions
    * inequality join. Same-ms ties order touch before conversion (a lag-0
    * touch attributes), largest same-ms event_id wins. Channel value sums
    * are per-term DECIMAL(18,9)-quantized exact longs-style sums (the A42
    * portability bound: |value| ≤ ~1e3 keeps terms under 14 significant
    * digits), so cross-engine hash-exact. */
  def attributionLastTouch(spark: SparkSession, dir: String,
                           withinMs: Long = 86400000L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "click", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), tsMs(col("ts")).as("ts_ms"),
        (col("event_type") === "purchase").as("is_conv"))
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("is_conv").cast("int"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastTouch = last(
      when(!col("is_conv"), struct(col("ts_ms"), col("event_type"))),
      ignoreNulls = true).over(byUser)
    ev.withColumn("lt", lastTouch)
      .filter(col("is_conv"))
      .withColumn("channel",
        when(col("lt").isNotNull &&
          col("ts_ms") - col("lt")("ts_ms") <= withinMs,
          col("lt")("event_type")).otherwise(lit("direct")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conv"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double").as("attr_value"))
  }

  /** A58b: linear multi-touch attribution — each purchase's value splits
    * EQUALLY across all of the user's touches in the trailing attribution
    * window (position-agnostic multi-touch, the standard complement of
    * [[attributionLastTouch]]'s winner-takes-all). Still ONE user_id
    * shuffle and ZERO self-joins, via two range-frame window passes over
    * the same per-user sort: pass 1 gives every conversion its in-window
    * touch count n (trailing range frame counting touch rows); pass 2
    * gives every touch its credit Σ value/n over the conversions in its
    * FORWARD range frame — t ∈ [c−T, c] ⟺ c ∈ [t, t+T], so the two frames
    * see exactly the same (touch, conversion) pairs. Each credit term is
    * one IEEE division of the same doubles in both engines, quantized to
    * DECIMAL(18,9) per term (A42 bound) before the exact channel sum. */
  def attributionLinear(spark: SparkSession, dir: String,
                        withinMs: Long = 86400000L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "click", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), tsMs(col("ts")).as("ts_ms"),
        (col("event_type") === "purchase").as("is_conv"))
    val trailing = Window.partitionBy("user_id").orderBy(col("ts_ms"))
      .rangeBetween(-withinMs, 0)
    val forward = Window.partitionBy("user_id").orderBy(col("ts_ms"))
      .rangeBetween(0, withinMs)
    ev.withColumn("n_touch",
        sum(when(!col("is_conv"), lit(1L)).otherwise(lit(0L))).over(trailing))
      .withColumn("credit",
        sum(when(col("is_conv") && col("n_touch") > 0,
          (col("value") / col("n_touch"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)))).over(forward))
      .filter(!col("is_conv") && col("credit").isNotNull)
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_credited"),
        sum(col("credit")).cast("double").as("attr_value"))
  }

  /** A57: CUSUM changepoint detection per event type over the daily count
    * series (Page 1954, public) — the anomaly suite's missing piece: bursts
    * find rate episodes, z/MAD flag outlier rows, forecast projects, CUSUM
    * detects a sustained LEVEL SHIFT that no single day trips. Two one-sided
    * statistics: s⁺ accumulates max(0, s⁺ + (y − μ − k)) for upward shifts,
    * s⁻ symmetrically for downward; an alarm fires when a side exceeds h and
    * that side resets to 0 (the emitted row reports the pre-reset exceed
    * value). All parameters are EXACT integers derived from the series
    * itself: μ = per-type median daily count and k = max(1, MAD of daily
    * counts), both rank-selected order statistics at ⌈n/2⌉ with (value, day)
    * tie order (the ev_quantiles_exact discipline); h = 4k. Every quantity
    * is a long — no IEEE arithmetic anywhere, so the oracle's recursive CTE
    * is hash-exact by construction. Corpus work is ONE (type, day)
    * partial-agg shuffle; medians, the fold, and the explode all run on the
    * ≤|types|·days summary (the A50 forecast shape — the recurrence is an
    * in-row `aggregate` fold over the day-sorted series, never a driver
    * collect). Gap days are simply absent from the series (consistent with
    * A50); a deployment wanting zero-filled days densifies upstream. */
  def cusum(spark: SparkSession, dir: String): DataFrame = scope {
    // ≤|types|·days summary, checkpointed so the med/mad branches and
    // the fold input don't each replay the corpus scan
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y")).pin()
    // exact rank-selected median of a summary-level column (≤|types|·days
    // rows — the sort window runs on the daily summary, not the corpus)
    def rankMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(col(valueCol), col("day"))
      val n = Window.partitionBy("event_type")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(n))
        .filter(col("rn") === ceil(col("n") * 0.5).cast("long"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val med = rankMedian(daily, "y", "med")
    val mad = rankMedian(
      daily.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("day"),
          abs(col("y") - col("med")).as("absdev")),
      "absdev", "madRaw")
      .select(col("event_type"), greatest(lit(1L), col("madRaw")).as("k"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("s"))
      .join(broadcast(med), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .withColumn("h", lit(4L) * col("k"))
      // fold state = (current s⁺, current s⁻, emitted rows); the raw
      // (pre-reset) statistic is what each row reports and the reset-to-0
      // is what carries forward past an alarm — both sides independent
      .withColumn("out", expr(
        """aggregate(s,
          |  struct(0L AS sp, 0L AS sn,
          |    CAST(array() AS ARRAY<STRUCT<day: DATE, y: BIGINT,
          |      s_pos: BIGINT, s_neg: BIGINT,
          |      alarm_up: BOOLEAN, alarm_down: BOOLEAN>>) AS rows),
          |  (acc, x) -> struct(
          |    IF(greatest(0L, acc.sp + (x.y - med - k)) > h, 0L,
          |       greatest(0L, acc.sp + (x.y - med - k))) AS sp,
          |    IF(greatest(0L, acc.sn + (med - k - x.y)) > h, 0L,
          |       greatest(0L, acc.sn + (med - k - x.y))) AS sn,
          |    array_append(acc.rows, struct(
          |      x.day AS day, x.y AS y,
          |      greatest(0L, acc.sp + (x.y - med - k)) AS s_pos,
          |      greatest(0L, acc.sn + (med - k - x.y)) AS s_neg,
          |      greatest(0L, acc.sp + (x.y - med - k)) > h AS alarm_up,
          |      greatest(0L, acc.sn + (med - k - x.y)) > h AS alarm_down)) AS rows)
          |).rows""".stripMargin))
      .select(col("event_type"), explode(col("out")).as("r"))
      .select(col("event_type"), col("r.day").as("day"), col("r.y").as("y"),
        col("r.s_pos").as("s_pos"), col("r.s_neg").as("s_neg"),
        col("r.alarm_up").as("alarm_up"), col("r.alarm_down").as("alarm_down"))
  }

  /** A49: robust anomaly alerts via MAD (median absolute deviation) — the
    * outlier-resistant twin of [[zscoreAlert]]: a z-score threshold moves
    * when the anomalies themselves inflate the mean/stddev, while the
    * median±k·MAD fence doesn't (50% breakdown point; Hampel's rule,
    * public). Both center and spread are EXACT rank-selected order
    * statistics (the [[graft.operators.Sketches.exactQuantiles]]
    * discipline — value at ascending rank ⌈n/2⌉, (value, event_id) tie
    * order): no interpolation formula to match across engines, the flag
    * comparison is pure double arithmetic on values that exist in the
    * data. Two per-type sort windows over the corpus + a broadcast-sized
    * (type → med, mad) join; the window partitions by the
    * low-cardinality type key, same scale shape as exactQuantiles. */
  def madAlert(spark: SparkSession, dir: String, k: Double = 3.0): DataFrame = scope {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    def rankMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type")
        .orderBy(col(valueCol), col("event_id"))
      val n = Window.partitionBy("event_type")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(n))
        .filter(col("rn") === ceil(col("n") * 0.5).cast("long"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    // med is ≤|types| rows but its lineage is a corpus sort-window;
    // localCheckpoint pins the summary so the mad branch and the flag
    // pass don't each replay that window (explain'd: 4 corpus scans
    // without it, the 3 inherent to two-level exact order stats with it)
    val med = rankMedian(ev, "value", "med").pin()
    val withMed = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("absdev", abs(col("value") - col("med")))
    val mad = rankMedian(
      withMed.select(col("event_type"), col("event_id"),
        col("absdev").as("value")), "value", "mad")
    withMed.join(broadcast(mad), Seq("event_type"))
      .filter(col("absdev") > lit(k) * col("mad"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("med"), col("mad"))
  }

  /** A60: RFM segmentation (Hughes 1994, public) — the classic
    * customer-base cut: every user scored 1..5 on Recency (last activity,
    * later = higher), Frequency (event count) and Monetary (exact
    * DECIMAL(18,9)-quantized purchase value sum — the A42 portability
    * bound), each score an exact QUINTILE of the user's global rank:
    * score = 1 + (5·(rank−1)) div n — all-integer, no ntile tie
    * ambiguity to match cross-engine. Corpus work = ONE user_id partial
    * agg (localCheckpoint'd so the three rank passes don't each replay
    * the corpus scan — the madAlert discipline); each rank is the
    * two-level global-order pattern (the lenDeciles/vocab/shardAssign
    * discipline): groups = (metric value, user_id div idBucket) refine
    * the total order (g_id is monotone in user_id, so group order IS
    * (value, user_id) order), group offsets come from one cumsum over
    * the group-size summary, and the user table only ever sorts within
    * a group — no corpus- or user-table-wide single-partition window.
    * Ties break by user_id everywhere; the recency anchor (global max
    * last-activity) is a 1-row broadcast scalar. */
  /** Exact global rank of each summary row by (metric asc, tie-id asc)
    * via the two-level global-order pattern (the lenDeciles/vocab/
    * shardAssign discipline): groups = (metric value, tieCol div
    * idBucket) refine the total order (g_id is monotone in the tie id,
    * so group order IS (value, tie-id) order), group offsets come from
    * one cumsum over the group-size summary, and the table only ever
    * sorts within a group — no table-wide single-partition window.
    * tieCol must be unique per row (user_id on user summaries; an
    * event_id where one user contributes many rows). */
  private def rankBy(df: DataFrame, keyCol: String, out: String,
                     idBucket: Long, tieCol: String = "user_id"): DataFrame = {
    val keyed = df.withColumn("g_id", expr(s"$tieCol div $idBucket"))
    val offsets = keyed.groupBy(keyCol, "g_id")
      .agg(count(lit(1)).as("sz"))
      .withColumn("off", coalesce(sum(col("sz")).over(
        boundedWindow(col(keyCol), col("g_id")) // keys×buckets summary
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(keyCol), col("g_id"), col("off"))
    val inGroup = Window.partitionBy(keyCol, "g_id").orderBy(tieCol)
    keyed.join(offsets, Seq(keyCol, "g_id"))
      .withColumn(out, col("off") + row_number().over(inGroup))
      .drop("g_id", "off")
  }

  def rfm(spark: SparkSession, dir: String, idBucket: Long = 64): DataFrame = scope {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val users = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max(tsMs(col("ts"))).as("last_ms"),
        count(lit(1)).as("frequency"),
        coalesce(sum(when(col("event_type") === "purchase",
          col("value").cast(dec))), lit(0).cast(dec)).as("mon")).pin()
    val ranked = rankBy(rankBy(rankBy(users,
      "last_ms", "r_rank", idBucket), "frequency", "f_rank", idBucket),
      "mon", "m_rank", idBucket)
    val scalars = users.agg(count(lit(1)).as("n_users"),
      max(col("last_ms")).as("anchor_ms"))
    def score(rank: String) = expr(s"1 + (5 * ($rank - 1)) div n_users")
    ranked.crossJoin(broadcast(scalars)) // single row: constant-size
      .select(col("user_id"),
        expr("(anchor_ms - last_ms) div 86400000").as("recency_days"),
        col("frequency"), col("mon").cast("double").as("monetary"),
        score("r_rank").as("r_score"), score("f_rank").as("f_score"),
        score("m_rank").as("m_score"),
        (score("r_rank") * 100 + score("f_rank") * 10 + score("m_rank"))
          .as("rfm_cell"))
  }

  /** A61: Kaplan–Meier churn survival curve (Kaplan & Meier 1958, public)
    * — "what fraction of users is still active after k days of tenure":
    * each user's observed lifetime is last_day − first_day (whole days);
    * a user whose last activity falls on the corpus's final day is
    * CENSORED (still alive at observation end, standard right-censoring),
    * everyone else churned at their last day. S(t) = Π_{tᵢ ≤ t}
    * (1 − dᵢ/nᵢ) with nᵢ the at-risk count entering duration tᵢ
    * (censored-at-t users count in nᵢ and leave after — the textbook
    * convention). Corpus work = ONE user_id partial agg; the duration
    * census and the product fold run on the ≤horizon-days summary (the
    * A50/A57 in-row `aggregate` shape — the fold also derives nᵢ by
    * running subtraction, so no cumulative window at all). HASH-EXACT
    * cross-engine: counts are longs and each survival step is the same
    * IEEE multiply of the same two doubles the oracle's recursive CTE
    * computes (multiplication by the 1.0 seed is exact). */
  def survival(spark: SparkSession, dir: String): DataFrame = scope {
    // users-sized summary, checkpointed so the scalar branch and the
    // census don't each replay the corpus scan (the madAlert discipline)
    val u = Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ms"))
      .select(col("user_id"), expr("ms div 86400000").as("day"))
      .groupBy("user_id")
      .agg(min(col("day")).as("fd"), max(col("day")).as("ld")).pin()
    val scal = u.agg(max(col("ld")).as("max_day"),
      count(lit(1)).as("n_users"))
    u.crossJoin(broadcast(scal)) // single row: constant-size
      .groupBy((col("ld") - col("fd")).as("t"))
      .agg(count(lit(1)).as("m"),
        count(when(col("ld") < col("max_day"), lit(1))).as("d"))
      .agg(sort_array(collect_list(struct(col("t"), col("m"), col("d"))))
        .as("s"))
      .crossJoin(broadcast(scal))
      .withColumn("out", expr(
        """aggregate(s,
          |  struct(n_users AS rem, CAST(1.0 AS DOUBLE) AS surv,
          |    CAST(array() AS ARRAY<STRUCT<duration_days: BIGINT,
          |      n_risk: BIGINT, n_events: BIGINT, n_censored: BIGINT,
          |      survival: DOUBLE>>) AS rows),
          |  (acc, x) -> struct(
          |    acc.rem - x.m AS rem,
          |    acc.surv * (CAST(1.0 AS DOUBLE)
          |      - CAST(x.d AS DOUBLE) / CAST(acc.rem AS DOUBLE)) AS surv,
          |    array_append(acc.rows, struct(
          |      x.t AS duration_days, acc.rem AS n_risk, x.d AS n_events,
          |      x.m - x.d AS n_censored,
          |      acc.surv * (CAST(1.0 AS DOUBLE)
          |        - CAST(x.d AS DOUBLE) / CAST(acc.rem AS DOUBLE))
          |        AS survival)) AS rows)
          |).rows""".stripMargin))
      .select(explode(col("out")).as("r"))
      .select(col("r.duration_days").as("duration_days"),
        col("r.n_risk").as("n_risk"), col("r.n_events").as("n_events"),
        col("r.n_censored").as("n_censored"),
        col("r.survival").as("survival"))
  }

  /** A62: A/B experiment readout — deterministic 50/50 user assignment +
    * two-proportion z-test on a conversion predicate (here: per-user
    * purchase count ≥ minPurchases; "has any purchase" is degenerate on
    * this corpus — every user converts). Assignment is the doc_split
    * md5-prefix discipline: variant = first md5 hex byte of
    * "salt:user_id" < 0x80 — no rand(), identical on re-run and across
    * engines, and independent of behavior, so on organic data this reads
    * as an A/A test (|z| should stay small — the harness also validates
    * assignment unbiasedness). Corpus work = ONE user_id partial agg;
    * the 2×2 table is a single global agg row and every derived double
    * (rates, pooled p, pooled standard error, z) is a fixed IEEE op
    * sequence mirrored verbatim by the oracle — sqrt is correctly
    * rounded in both engines, so the readout is hash-exact. */
  def experiment(spark: SparkSession, dir: String, salt: String = "exp1",
                 minPurchases: Long = 14): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(when(col("event_type") === "purchase", lit(1))).as("np"))
      .withColumn("conv", (col("np") >= minPurchases).cast("int"))
      .withColumn("variant", when(substring(md5(
        concat(lit(salt), lit(":"), col("user_id").cast("string"))
          .cast("binary")), 1, 2) < "80", "A").otherwise("B"))
    users.agg(
        count(when(col("variant") === "A", lit(1))).as("n_a"),
        count(when(col("variant") === "A" && col("conv") === 1, lit(1)))
          .as("conv_a"),
        count(when(col("variant") === "B", lit(1))).as("n_b"),
        count(when(col("variant") === "B" && col("conv") === 1, lit(1)))
          .as("conv_b"))
      .withColumn("rate_a", expr("CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"))
      .withColumn("rate_b", expr("CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)"))
      .withColumn("p", expr(
        "CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)"))
      .withColumn("se", expr(
        """sqrt(p * (CAST(1.0 AS DOUBLE) - p)
          | * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
          |    + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE)))""".stripMargin))
      .withColumn("lift", expr("rate_b - rate_a"))
      .withColumn("z_stat", expr("(rate_b - rate_a) / se"))
      .withColumn("significant", expr("abs(z_stat) > CAST(1.96 AS DOUBLE)"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .drop("p", "se")
  }

  /** A85: CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    * Walker, WSDM 2013, public — the pre-experiment-covariate adjustment
    * every large experimentation platform runs): per user, the PRE-period
    * metric X (value sum before the corpus-span midpoint) predicts the
    * POST-period metric Y; Ŷ = Y − θ(X − mean X) with θ = cov(X,Y)/var(X)
    * keeps E[lift] unchanged while cutting metric variance by ρ² — the
    * same experiment reaches significance on a fraction of the traffic,
    * and a pre-existing A/B imbalance in X stops polluting the lift.
    * Variant assignment is A62's derandomized md5 hash.
    *
    * Engine portability: per-event values quantize to DECIMAL(18,9)
    * before the per-user sums (exact, order-free); per-user cross terms
    * (x·y, x², y²) are single IEEE products of identical doubles,
    * quantized DECIMAL(28,6) before the exact user-level sums; every
    * derived statistic is then one fixed expression tree over the exact
    * sums — bit-identical cross-engine (±, ×, ÷ are correctly rounded).
    *
    * Scale: one user_id partial-agg shuffle (the span midpoint is a
    * broadcast scalar), then a single summary row — no per-user data
    * crosses a second exchange; θ is pooled over all users, standard
    * practice, and costs nothing extra because it rides the same fold. */
  def cuped(spark: SparkSession, dir: String, salt: String = "exp1"): DataFrame = {
    val dec  = org.apache.spark.sql.types.DecimalType(18, 9)
    val dec2 = org.apache.spark.sql.types.DecimalType(28, 6)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("value"))
    val mid = broadcast(ev.agg(
      floor((min(col("ts_ms")) + max(col("ts_ms"))).cast("double") / lit(2.0))
        .cast("long").as("mid")))
    val users = ev.crossJoin(mid)
      .groupBy("user_id")
      .agg(
        sum(when(col("ts_ms") < col("mid"), col("value").cast(dec))
          .otherwise(lit(0).cast(dec))).as("x"),
        sum(when(col("ts_ms") >= col("mid"), col("value").cast(dec))
          .otherwise(lit(0).cast(dec))).as("y"))
      .withColumn("variant", when(substring(md5(
        concat(lit(salt), lit(":"), col("user_id").cast("string"))
          .cast("binary")), 1, 2) < "80", "A").otherwise("B"))
      .withColumn("xd", col("x").cast("double"))
      .withColumn("yd", col("y").cast("double"))
    val s = users.agg(
      count(lit(1)).as("n"),
      count(when(col("variant") === "A", lit(1))).as("n_a"),
      count(when(col("variant") === "B", lit(1))).as("n_b"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(when(col("variant") === "A", col("x")).otherwise(lit(0).cast(dec))).as("sxa"),
      sum(when(col("variant") === "A", col("y")).otherwise(lit(0).cast(dec))).as("sya"),
      sum(when(col("variant") === "B", col("x")).otherwise(lit(0).cast(dec))).as("sxb"),
      sum(when(col("variant") === "B", col("y")).otherwise(lit(0).cast(dec))).as("syb"),
      sum((col("xd") * col("xd")).cast(dec2)).as("sxx"),
      sum((col("xd") * col("yd")).cast(dec2)).as("sxy"),
      sum((col("yd") * col("yd")).cast(dec2)).as("syy"))
    s.filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("nd", col("n").cast("double"))
      .withColumn("mean_x", col("sx").cast("double") / col("nd"))
      .withColumn("mean_y", col("sy").cast("double") / col("nd"))
      .withColumn("var_x",
        col("sxx").cast("double") / col("nd") - col("mean_x") * col("mean_x"))
      .withColumn("var_y",
        col("syy").cast("double") / col("nd") - col("mean_y") * col("mean_y"))
      .withColumn("cov_xy",
        col("sxy").cast("double") / col("nd") - col("mean_x") * col("mean_y"))
      .withColumn("theta",
        when(col("var_x") =!= lit(0.0), col("cov_xy") / col("var_x")))
      .withColumn("mean_x_a", col("sxa").cast("double") / col("n_a").cast("double"))
      .withColumn("mean_x_b", col("sxb").cast("double") / col("n_b").cast("double"))
      .withColumn("mean_y_a", col("sya").cast("double") / col("n_a").cast("double"))
      .withColumn("mean_y_b", col("syb").cast("double") / col("n_b").cast("double"))
      .withColumn("lift_raw", col("mean_y_b") - col("mean_y_a"))
      .withColumn("lift_cuped",
        (col("mean_y_b") - col("theta") * (col("mean_x_b") - col("mean_x"))) -
          (col("mean_y_a") - col("theta") * (col("mean_x_a") - col("mean_x"))))
      .withColumn("var_reduction",
        when(col("var_x") * col("var_y") =!= lit(0.0),
          col("cov_xy") * col("cov_xy") / (col("var_x") * col("var_y"))))
      .select(col("n_a"), col("n_b"),
        round(col("mean_y_a"), 6).as("mean_y_a"),
        round(col("mean_y_b"), 6).as("mean_y_b"),
        round(col("lift_raw"), 6).as("lift_raw"),
        round(col("theta"), 6).as("theta"),
        round(col("lift_cuped"), 6).as("lift_cuped"),
        round(col("var_reduction"), 6).as("var_reduction"))
  }

  /** A87: experiment POWER readout — the minimum detectable effect (MDE)
    * for the A62 conversion setup at the standard α = 0.05 two-sided /
    * 80% power operating point (the sizing guardrail every platform shows
    * beside a readout: an experiment whose observed lift sits under its
    * MDE hasn't failed, it's underpowered — and the n-per-arm column says
    * what detecting a target relative lift would take):
    *   mde = (z_{α/2} + z_β) · sqrt(p(1−p) · (1/n_a + 1/n_b)),
    *   n_per_arm(rel) = ceil(2 · (z_{α/2}+z_β)² · p(1−p) / (rel·p)²).
    * Same md5 assignment + conversion definition as A62, so the three
    * experiment views (readout, SRM guardrail, power) describe one
    * design. All statistics are a fixed IEEE tree over exact integer
    * counts (sqrt is correctly rounded — engine-portable); z constants
    * are literals. One user_id partial-agg shuffle → one summary row. */
  def power(spark: SparkSession, dir: String, salt: String = "exp1",
            minPurchases: Long = 14, targetRel: Double = 0.05): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(when(col("event_type") === "purchase", lit(1))).as("np"))
      .withColumn("conv", (col("np") >= minPurchases).cast("int"))
      .withColumn("variant", when(substring(md5(
        concat(lit(salt), lit(":"), col("user_id").cast("string"))
          .cast("binary")), 1, 2) < "80", "A").otherwise("B"))
    users.agg(
        count(when(col("variant") === "A", lit(1))).as("n_a"),
        count(when(col("variant") === "B", lit(1))).as("n_b"),
        count(when(col("conv") === 1, lit(1))).as("n_conv"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("p", col("n_conv").cast("double") /
        (col("n_a") + col("n_b")).cast("double"))
      .withColumn("zsum", lit(1.959963984540054) + lit(0.8416212335729143))
      .withColumn("mde_abs", col("zsum") * sqrt(
        col("p") * (lit(1.0) - col("p")) *
          (lit(1.0) / col("n_a").cast("double") +
           lit(1.0) / col("n_b").cast("double"))))
      .withColumn("mde_rel",
        when(col("p") =!= lit(0.0), col("mde_abs") / col("p")))
      .withColumn("n_per_arm",
        when(col("p") =!= lit(0.0) && col("p") =!= lit(1.0),
          ceil(lit(2.0) * col("zsum") * col("zsum") *
            col("p") * (lit(1.0) - col("p")) /
            ((lit(targetRel) * col("p")) * (lit(targetRel) * col("p"))))))
      .select(col("n_a"), col("n_b"), col("n_conv"),
        round(col("p"), 6).as("p"),
        round(col("mde_abs"), 6).as("mde_abs"),
        round(col("mde_rel"), 6).as("mde_rel"),
        col("n_per_arm"))
  }

  /** A86: changepoint detection over the per-type DAILY count series —
    * greedy BINARY SEGMENTATION (Scott & Knott 1974; the textbook
    * recursive mean-shift splitter behind every "when did the metric
    * level change" dashboard): recursively split the series at the index
    * that maximizes the between-segment SSE reduction, stop when the best
    * gain falls under a BIC-style penalty (2·ln n · σ̂², σ̂² from
    * first-difference variance — level shifts don't inflate it) or at
    * `maxSegments`. Complements A57's sequential CUSUM (drift alarm) with
    * the retrospective segmentation view. Emits one row per segment with
    * its exact mean level.
    *
    * Scale: the corpus collapses in ONE (type, day) partial-agg shuffle
    * to a ≤types×horizon summary; the recursive solve is driver math over
    * that summary with prefix sums (the A83 model-as-summary discipline —
    * segmentation is sequential by nature, and the series length is the
    * HORIZON, not the event count, at any corpus size). Interior missing
    * days are real zeros and are filled as such. */
  def changepoints(spark: SparkSession, dir: String,
                   maxSegments: Int = 6): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), tsMs(col("ts")).as("ms"))
      .groupBy(col("event_type"), expr("ms div 86400000").as("day_idx"))
      .agg(count(lit(1)).as("y"))
      .collect()                       // ≤ types × horizon days — a summary
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val segs = daily.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (tpe, rows) =>
        val byDay = rows.map(t => t._2 -> t._3).toMap
        val lo = byDay.keys.min; val hi = byDay.keys.max
        val y = (lo to hi).map(d => byDay.getOrElse(d, 0L).toDouble).toArray
        val n = y.length
        // prefix sums for O(1) segment SSE
        val ps = y.scanLeft(0.0)(_ + _); val ps2 = y.scanLeft(0.0)((a, v) => a + v * v)
        def sse(a: Int, b: Int): Double = {
          val s = ps(b + 1) - ps(a); val s2 = ps2(b + 1) - ps2(a)
          s2 - s * s / (b - a + 1)
        }
        val diffs = y.sliding(2).collect { case Array(u, v) => v - u }.toArray
        val varHat =
          if (diffs.length < 2) 0.0
          else {
            val m = diffs.sum / diffs.length
            diffs.map(d => (d - m) * (d - m)).sum / diffs.length / 2.0
          }
        val penalty = 2.0 * math.log(math.max(n, 2).toDouble) * varHat
        var bounds = Vector((0, n - 1))
        var done = false
        while (bounds.size < maxSegments && !done) {
          // best (gain, segIdx, splitAt), ties to the earliest split
          var best = (0.0, -1, -1)
          for (((a, b), i) <- bounds.zipWithIndex; if b > a) {
            val whole = sse(a, b)
            var t = a
            while (t < b) {
              val gain = whole - sse(a, t) - sse(t + 1, b)
              if (gain > best._1 + 1e-12) best = (gain, i, t)
              t += 1
            }
          }
          if (best._2 < 0 || best._1 <= penalty) done = true
          else {
            val (a, b) = bounds(best._2)
            bounds = (bounds.take(best._2) :+ ((a, best._3)) :+ ((best._3 + 1, b))) ++
              bounds.drop(best._2 + 1)
          }
        }
        bounds.sortBy(_._1).zipWithIndex.map { case ((a, b), i) =>
          val mean = (ps(b + 1) - ps(a)) / (b - a + 1)
          (tpe, (i + 1).toLong, lo + a, lo + b, (b - a + 1).toLong,
            BigDecimal(mean).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble)
        }
    }
    segs.toDF("event_type", "seg_idx", "start_idx", "end_idx", "n_days", "mean_count")
      .select(col("event_type"), col("seg_idx"),
        to_date(expr("timestamp_millis(start_idx * 86400000)")).as("start_day"),
        to_date(expr("timestamp_millis(end_idx * 86400000)")).as("end_day"),
        col("n_days"), col("mean_count"))
  }

  /** A84: live-session CONCURRENCY curve — the classic sweep-line over
    * the A8 session intervals: +1 at each session's start minute, −1 one
    * minute past its end (end-inclusive activity), running sum = the
    * number of simultaneously open sessions at every change point. The
    * capacity-planning series (peak concurrency, load shape) the event
    * store answers without any per-minute × per-session join.
    *
    * Scale: sessions are the A8 one-user_id-shuffle islands; the delta
    * census partial-aggs to ≤2 rows per session keyed by MINUTE — the
    * running sum's window ranges over the observed-horizon minute census
    * (a summary: minutes in the data's span), never corpus rows. Emits
    * change-point minutes only. */
  def concurrency(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionize(spark, dir)
      .select((col("start_ms") / 60000L).cast("long").as("m_start"),
        (col("end_ms") / 60000L).cast("long").as("m_end"))
    val deltas = sess.select(col("m_start").as("minute"), lit(1L).as("d"))
      .unionByName(sess.select((col("m_end") + 1).as("minute"), lit(-1L).as("d")))
      .groupBy("minute").agg(sum(col("d")).as("delta"))
    deltas
      .withColumn("n_active", sum(col("delta")).over(
        boundedWindow(col("minute")) // ≤minutes-in-horizon rows
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("delta") =!= 0)
      .select((col("minute") * 60000L).as("minute_ms"), col("delta"),
        col("n_active"))
  }

  /** A83: Markov removal-effect attribution (Anderl et al. 2016, public —
    * the data-driven multi-touch model that replaced position heuristics):
    * user journeys become a first-order chain over {(start)} ∪ channels ∪
    * {(conv), (null)}; a channel's credit is its REMOVAL EFFECT — the
    * fractional drop in absorption probability into (conv) when the
    * channel is deleted and its inbound edges redirect to (null) — and
    * attribution shares normalize the effects. Unlike A58's last-touch /
    * linear rules, credit follows measured path structure (a channel that
    * only ever assists mid-path still earns its keep).
    *
    * Scale: journeys and transitions are ONE user_id-keyed shuffle (every
    * window partitions by user_id alone — journey boundaries are handled
    * by comparing the lagged row's journey id, so the (user, journey)
    * windows never force a second exchange); the transition census is
    * (channels+2)²-bounded — summary-sized — and the absorbing-chain
    * solves are driver math on a ≤(channels+1)² system per channel
    * (fixed-order Gaussian elimination, no pivoting ⇒ bit-deterministic),
    * the model-as-summary discipline of C32/C69. Not SQL-expressible
    * (matrix solve) ⇒ rows-only gate + a hand-solved spec chain. */
  def attributionMarkov(spark: SparkSession, dir: String,
                        touchTypes: Seq[String] = Seq("click", "view")): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin(touchTypes :+ "purchase": _*))
      .select(col("user_id"), tsMs(col("ts")).as("ts_ms"), col("event_id"),
        col("event_type"), (col("event_type") === "purchase").as("is_conv"))
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("is_conv").cast("int"), col("event_id"))
    val rows = ev
      // journey id = purchases strictly before this row: a purchase CLOSES
      // the journey of the touches preceding it
      .withColumn("jid", coalesce(sum(when(col("is_conv"), 1L).otherwise(0L))
        .over(byUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("prev_jid", lag(col("jid"), 1).over(byUser))
      .withColumn("next_jid", lead(col("jid"), 1).over(byUser))
      .withColumn("from_state",
        when(col("prev_type").isNull || col("prev_jid") =!= col("jid"),
          lit("(start)")).otherwise(col("prev_type")))
      .withColumn("to_state",
        when(col("is_conv"), lit("(conv)")).otherwise(col("event_type")))
    val t1 = rows.select(col("from_state"), col("to_state"))
    // a non-converting journey's LAST touch transitions to (null): no
    // successor row at all, or the successor opened a new journey
    val t2 = rows.filter(!col("is_conv") &&
        (col("next_jid").isNull || col("next_jid") =!= col("jid")))
      .select(col("event_type").as("from_state"), lit("(null)").as("to_state"))
    val census = t1.unionByName(t2)
      .groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
      .collect() // (channels+2)^2-bounded — the model, not the corpus
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val channels = touchTypes.filter(c =>
      census.keys.exists(k => k._1 == c || k._2 == c)).sorted
    if (census.isEmpty || !census.keys.exists(_._2 == "(conv)"))
      return Seq.empty[(String, Double, Double)]
        .toDF("channel", "removal_effect", "share")
    // absorption probability into (conv) from (start), with `removed`
    // deleted (inbound edges -> (null), its own row dropped)
    def pConv(removed: Option[String]): Double = {
      val trans = "(start)" +: channels.filterNot(removed.contains)
      val idx = trans.zipWithIndex.toMap
      val m = trans.length
      // (I - Q) x = Rconv, built in fixed state order
      val a = Array.ofDim[Double](m, m + 1)
      for (s <- trans; i = idx(s)) {
        val out = census.collect { case ((f, t), n) if f == s => (t, n) }
        val tot = out.map(_._2).sum.toDouble
        a(i)(i) = 1.0
        if (tot > 0) out.foreach { case (t, n) =>
          if (removed.contains(t)) () // redirected to (null): no equation term
          else if (t == "(conv)") a(i)(m) += n / tot
          else if (t != "(null)") idx.get(t).foreach(j => a(i)(j) -= n / tot)
        }
      }
      // fixed-order elimination (diagonals are 1 - within-journey cycle
      // mass > 0 for any chain with a (conv)/(null) exit, so no pivoting)
      for (k <- 0 until m) {
        val d = a(k)(k)
        for (c <- k to m) a(k)(c) /= d
        for (r <- 0 until m; if r != k) {
          val f = a(r)(k)
          if (f != 0.0) for (c <- k to m) a(r)(c) -= f * a(k)(c)
        }
      }
      a(idx("(start)"))(m)
    }
    val base = pConv(None)
    if (base <= 0) return Seq.empty[(String, Double, Double)]
      .toDF("channel", "removal_effect", "share")
    val effects = channels.map(c => c -> ((base - pConv(Some(c))) / base))
    val tot = effects.map(_._2).sum
    effects.map { case (c, re) =>
      (c, re, if (tot > 0) re / tot else 0.0) }
      .toDF("channel", "removal_effect", "share")
  }

  /** A82: sample-ratio-mismatch (SRM) guardrail for the A62 experiment —
    * the FIRST check an experimentation platform runs, before any lift is
    * believed: with a 50/50 split intent, does the observed assignment
    * ratio deviate more than chance allows? Pearson chi-square with 1 df
    * against the intended split; stat > 3.841 (α = 0.05) ⇒ SRM — the
    * randomization itself is broken (routing bug, bot filter applied to
    * one arm, crash on one variant) and the experiment readout is void.
    * Same derandomized md5 assignment as A62, one user-keyed partial agg
    * to a single summary row; the statistic is integer-count arithmetic
    * with one sqrt-free division chain — engine-portable. */
  def abSrm(spark: SparkSession, dir: String, salt: String = "exp1",
            intendedA: Double = 0.5): DataFrame = {
    Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .withColumn("variant", when(substring(md5(
        concat(lit(salt), lit(":"), col("user_id").cast("string"))
          .cast("binary")), 1, 2) < "80", "A").otherwise("B"))
      .agg(count(when(col("variant") === "A", lit(1))).as("n_a"),
        count(when(col("variant") === "B", lit(1))).as("n_b"))
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("exp_a", col("n") * intendedA)
      .withColumn("exp_b", col("n") * (1.0 - intendedA))
      .withColumn("chi2", expr(
        """(CAST(n_a AS DOUBLE) - exp_a) * (CAST(n_a AS DOUBLE) - exp_a) / exp_a
          | + (CAST(n_b AS DOUBLE) - exp_b) * (CAST(n_b AS DOUBLE) - exp_b) / exp_b""".stripMargin))
      .withColumn("srm", expr("chi2 > CAST(3.841 AS DOUBLE)"))
      .filter(col("n") > 0)
      .select(col("n_a"), col("n_b"), col("n"), col("chi2"), col("srm"))
  }

  /** A88: mixture-SPRT ALWAYS-VALID sequential experiment readout (Johari,
    * Koomen, Pekelis & Walsh, KDD 2017 "Peeking at A/B Tests", public —
    * the fix for the universal practice A62's fixed-horizon z-test
    * forbids: LOOKING every day and stopping on the first significant
    * readout inflates false positives far past α; the mSPRT's mixture
    * likelihood ratio Λₙ is a martingale under H₀, so the running peek
    * P(sup Λ > 1/α) ≤ α holds at EVERY day simultaneously). Users enroll
    * at their first-activity day (cumulative 2×2 cells per enrollment
    * day); with δ̂ = rate_b − rate_a, V = p̂(1−p̂)(1/n_a + 1/n_b) and the
    * normal mixture prior τ² over the effect size:
    *   ln Λ = ½·(ln V − ln(V+τ²)) + δ̂²·τ² / (2·V·(V+τ²)),
    * and the sequential decision is the RUNNING MAX of ln Λ against
    * ln(1/α) — monotone, so "rejected" can only latch on, never flip
    * back (the peeking-safe property itself). Same md5 assignment and
    * conversion predicate as A62/A82/A85/A87 — the five views describe
    * ONE experiment design.
    *
    * Portability: the daily cells are exact integers (one user_id
    * partial-agg shuffle → per-day cells → horizon-length cumulative
    * windows); ln Λ is one fixed IEEE tree over them, quantized
    * DECIMAL(18,9) (the C72 ln discipline — libm's 1-ULP ln skew sits
    * ~9 digits above the step), so the running max and the threshold
    * compare are EXACT decimal ops; outputs round decimal-first at 6 dp.
    *
    * Scale: corpus → n-user summary in one shuffle, → horizon-sized
    * daily table in a second summary-level shuffle; the cumulative
    * windows and running max order over ≤ horizon rows. */
  def msprt(spark: SparkSession, dir: String, salt: String = "exp1",
            minPurchases: Long = 14, tau2: Double = 1e-4,
            alpha: Double = 0.05): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val users = Tables.events(spark, dir)
      .select(col("user_id"), tsMs(col("ts")).as("ms"), col("event_type"))
      .groupBy("user_id")
      .agg(min(expr("ms div 86400000")).as("day_idx"),
        count(when(col("event_type") === "purchase", lit(1))).as("np"))
      .withColumn("conv", (col("np") >= minPurchases).cast("int"))
      .withColumn("variant", when(substring(md5(
        concat(lit(salt), lit(":"), col("user_id").cast("string"))
          .cast("binary")), 1, 2) < "80", "A").otherwise("B"))
    val daily = users.groupBy("day_idx").agg(
      count(when(col("variant") === "A", lit(1))).as("e_a"),
      count(when(col("variant") === "A" && col("conv") === 1, lit(1))).as("x_a"),
      count(when(col("variant") === "B", lit(1))).as("e_b"),
      count(when(col("variant") === "B" && col("conv") === 1, lit(1))).as("x_b"))
    val w = boundedWindow(col("day_idx")) // ≤days rows
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_a", sum(col("e_a")).over(w))
      .withColumn("n_b", sum(col("e_b")).over(w))
      .withColumn("conv_a", sum(col("x_a")).over(w))
      .withColumn("conv_b", sum(col("x_b")).over(w))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("p", (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double"))
      .withColumn("delta",
        col("conv_b").cast("double") / col("n_b").cast("double") -
          col("conv_a").cast("double") / col("n_a").cast("double"))
      .withColumn("v", col("p") * (lit(1.0) - col("p")) *
        (lit(1.0) / col("n_a").cast("double") +
          lit(1.0) / col("n_b").cast("double")))
      // degenerate cells (p̂ ∈ {0,1} ⇒ V = 0): no evidence either way —
      // ln Λ is 0 by convention on both engines, not a NaN
      .withColumn("ln_lambda",
        when(col("v") > lit(0.0),
          (lit(0.5) * (log(col("v")) - log(col("v") + lit(tau2))) +
            col("delta") * col("delta") * lit(tau2) /
              (lit(2.0) * col("v") * (col("v") + lit(tau2)))).cast(dec))
          .otherwise(lit(0).cast(dec)))
      .withColumn("max_ln_lambda",
        max(col("ln_lambda")).over(w))
      .withColumn("rejected",
        col("max_ln_lambda").cast("double") > lit(math.log(1.0 / alpha)))
      .select(col("day_idx"), col("n_a"), col("n_b"),
        col("conv_a"), col("conv_b"),
        round(col("ln_lambda"), 6).cast("double").as("ln_lambda"),
        round(col("max_ln_lambda"), 6).cast("double").as("max_ln_lambda"),
        col("rejected"))
  }

  /** Per-user activity counts ranked ascending by (n_events, user_id) —
    * the shared input of [[concentration]] and [[gini]]. One corpus
    * user_id partial agg; the rank is the two-level pattern. */
  private def activityRanked(spark: SparkSession, dir: String,
                             idBucket: Long): DataFrame =
    // checkpointed: rankBy's two branches (rows + offsets) and the
    // callers' scalar branches would each replay the corpus scan
    rankBy(Tables.events(spark, dir).groupBy("user_id")
      .agg(count(lit(1)).as("n_events")).pin(),
      "n_events", "rank", idBucket)

  /** A63: activity-concentration Lorenz deciles — "do 1% of users generate
    * 99% of events?": users ranked ascending by activity (ties by
    * user_id), cut into exact rank deciles (decile = (10·(rank−1)) div n
    * — all-integer, the lenDeciles discipline), each decile reporting its
    * user count, event count, cumulative events, and (cumulative) share
    * of total — the Lorenz curve at decile resolution. Corpus work = ONE
    * user_id partial agg; the rank is the two-level pattern and the
    * decile rollup + cumsum run on a ≤10-row summary. Shares are single
    * IEEE divisions of exact longs — hash-exact. */
  def concentration(spark: SparkSession, dir: String,
                    idBucket: Long = 64): DataFrame = scope {
    val ranked = activityRanked(spark, dir, idBucket)
    val scal = ranked.agg(count(lit(1)).as("n_users"),
      sum(col("n_events")).as("total_events"))
    ranked.crossJoin(broadcast(scal)) // single row: constant-size
      .withColumn("decile", expr("(10 * (rank - 1)) div n_users"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users_d"), sum(col("n_events")).as("n_events_d"),
        max(col("total_events")).as("total_events"))
      .withColumn("cum_events", sum(col("n_events_d")).over(
        boundedWindow(col("decile")) // 10 rows
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n_users_d").as("n_users"),
        col("n_events_d").as("n_events"), col("cum_events"),
        expr("CAST(n_events_d AS DOUBLE) / CAST(total_events AS DOUBLE)")
          .as("share"),
        expr("CAST(cum_events AS DOUBLE) / CAST(total_events AS DOUBLE)")
          .as("cum_share"))
  }

  /** A63b: exact Gini coefficient of per-user activity (Gini 1912,
    * public; the rank form G = (2·Σᵢ rankᵢ·xᵢ − (n+1)·Σx) / (n·Σx) for
    * x sorted ascending). Every aggregate is an exact DECIMAL(38,0) —
    * rank·count products overflow longs at planetary scale — and the
    * coefficient is ONE IEEE division of two exactly-computed decimals,
    * so the scalar is hash-exact cross-engine. Same single corpus scan +
    * summary rank as [[concentration]]. */
  /** A65: cohort lifetime value — the revenue complement of
    * [[retentionCohorts]]'s user counts: users grouped by first-activity
    * day, each cohort's purchase revenue rolled up per day-offset with
    * the cumulative LTV curve and a per-user average. ONE corpus user_id
    * shuffle (the cohort comes from a per-user min-day window, never a
    * firsts join); the (cohort, offset) rollup, the offset cumsum and
    * the division all run on the ≤cohorts×offsets summary. Revenue is
    * the A42 per-term DECIMAL(18,9) quantization — order-free exact
    * sums, exact cumulative sums — and ltv_per_user is ONE IEEE division
    * of those exact values; cohort size = offset-0 actives (every user's
    * day0 row exists by construction), carried by a first_value over the
    * same summary ordering. */
  def cohortLtv(spark: SparkSession, dir: String, maxOffset: Int = 7): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        when(col("event_type") === "purchase", col("value").cast(dec))
          .otherwise(lit(0).cast(dec)).as("rev"))
      .withColumn("day0", min(col("day")).over(Window.partitionBy("user_id")))
      .withColumn("offset_days", datediff(col("day"), col("day0")).cast("long"))
      .filter(col("offset_days") <= maxOffset)
    val byCohort = Window.partitionBy("cohort_day").orderBy("offset_days")
    ev.groupBy(date_format(col("day0"), "yyyy-MM-dd").as("cohort_day"),
        col("offset_days"))
      .agg(countDistinct(col("user_id")).as("n_active"),
        sum(col("rev")).as("rev"))
      .withColumn("cum_rev", sum(col("rev")).over(
        byCohort.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cohort_size", first(col("n_active")).over(byCohort))
      .select(col("cohort_day"), col("offset_days"), col("n_active"),
        col("rev").cast("double").as("revenue"),
        col("cum_rev").cast("double").as("cum_revenue"),
        expr("CAST(cum_rev AS DOUBLE) / CAST(cohort_size AS DOUBLE)")
          .as("ltv_per_user"))
  }

  /** A66: time-to-convert — exact millisecond percentiles of (first
    * purchase − first activity) across converting users, the activation
    * funnel's headline latency metric. Every statistic is an exact
    * rank-selected order statistic (value at ascending rank ⌈q·n⌉,
    * (ttc, user_id) tie order — the ev_quantiles_exact discipline; no
    * interpolation to match cross-engine) and every quantity is a long.
    * ONE corpus user_id partial agg; the checkpointed converter summary
    * feeds the two-level global rank and the count branch, and the final
    * pick is a single summary agg row. Never-converting users are
    * excluded (their ttc is undefined); n_converted reports the base. */
  def timeToConvert(spark: SparkSession, dir: String,
                    idBucket: Long = 64): DataFrame = scope {
    val conv = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(min(tsMs(col("ts"))).as("first_ms"),
        min(when(col("event_type") === "purchase", tsMs(col("ts"))))
          .as("first_p"))
      .filter(col("first_p").isNotNull)
      .select(col("user_id"), (col("first_p") - col("first_ms")).as("ttc")).pin()
    val n = conv.agg(count(lit(1)).as("n"))
    def pick(q: Double, out: String) =
      max(when(col("rank") === ceil(col("n") * q).cast("long"), col("ttc")))
        .as(out)
    rankBy(conv, "ttc", "rank", idBucket)
      .crossJoin(broadcast(n)) // single row: constant-size
      .agg(max(col("n")).as("n_converted"),
        pick(0.25, "p25_ms"), pick(0.5, "p50_ms"), pick(0.75, "p75_ms"),
        pick(0.9, "p90_ms"), max(col("ttc")).as("max_ms"))
      .filter(col("n_converted") > 0)
  }

  /** A67: weekday-seasonal anomaly detection — the seasonality-aware
    * member of the anomaly suite (z/MAD flag rows, cusum finds level
    * shifts, THIS asks "is today's volume abnormal FOR A TUESDAY?"):
    * per (type, weekday-class) the daily-count median and MAD are exact
    * rank-selected order statistics (⌈n/2⌉, (value, day) tie order) and
    * a day is flagged when |y − med| > k·max(1, MAD) — every quantity a
    * long, zero IEEE ops, hash-exact by construction. The weekday class
    * is epoch-day mod 7 (engine-portable — no dayofweek() convention to
    * match). Corpus work = ONE (type, day) partial agg (checkpointed);
    * medians and the flag pass run on the ≤types·days summary. */
  def dowAnomaly(spark: SparkSession, dir: String, k: Long = 3): DataFrame = scope {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), tsMs(col("ts")).as("ms"))
      .groupBy(col("event_type"), expr("ms div 86400000").as("day_idx"))
      .agg(count(lit(1)).as("y"))
      .withColumn("dow", expr("day_idx % 7")).pin()
    def rankMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type", "dow")
        .orderBy(col(valueCol), col("day_idx"))
      val n = Window.partitionBy("event_type", "dow")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(n))
        .filter(col("rn") === ceil(col("n") * 0.5).cast("long"))
        .select(col("event_type"), col("dow"), col(valueCol).as(out))
    }
    val med = rankMedian(daily, "y", "med")
    val withMed = daily.join(broadcast(med), Seq("event_type", "dow"))
      .withColumn("absdev", abs(col("y") - col("med")))
    val mad = rankMedian(
      withMed.select(col("event_type"), col("dow"), col("day_idx"),
        col("absdev").as("y2")), "y2", "madRaw")
      .select(col("event_type"), col("dow"),
        greatest(lit(1L), col("madRaw")).as("mad"))
    withMed.join(broadcast(mad), Seq("event_type", "dow"))
      .filter(col("absdev") > lit(k) * col("mad"))
      .select(col("event_type"),
        to_date(expr("timestamp_millis(day_idx * 86400000)")).as("day"),
        col("dow"), col("y"), col("med"), col("mad"))
  }

  /** A68: bounded 7-day rolling retention — per calendar day, the share
    * of that day's actives seen again within the next `within` days
    * ("did day-d users come back that week?"). On the (user, day)
    * distinct grid a user's NEXT active day is a per-user lead(), so
    * retained ⟺ lead − day ≤ within — no day-range self-join. Same
    * 1-scan/3-exchange shape as [[newVsReturning]]; all counts exact
    * longs, the rate one IEEE division. Days within `within` of the
    * corpus end are right-censored (their retained count can only
    * grow with more data) — the standard dashboard caveat, reported
    * as-is. */
  def boundedRetention(spark: SparkSession, dir: String,
                       within: Int = 7): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val nxt = Window.partitionBy("user_id").orderBy("day")
    ud.withColumn("next_day", lead(col("day"), 1).over(nxt))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        count(when(datediff(col("next_day"), col("day")) <= within, lit(1)))
          .as("n_retained"))
      .withColumn("retention", expr(
        "CAST(n_retained AS DOUBLE) / CAST(n_active AS DOUBLE)"))
  }

  /** A69: multiwindow SLO burn-rate alerts (the Google SRE-workbook
    * multi-burn-rate pattern, public) — "page only when the error budget
    * is burning fast AND the burn is sustained": per hour, the 1-hour
    * and trailing-6-hour error rates over the event stream, each divided
    * by the budget (the SLO's allowed error rate); an hour alerts when
    * the fast burn exceeds `thFast` and the sustained burn exceeds
    * `thSlow` — the two-window AND suppresses both blips (fast-only) and
    * stale pages (slow-only). Corpus work = ONE epoch-hour partial agg;
    * the 6-hour rolling sums are a RANGE frame over the hour summary
    * keyed by integer hour index (gap hours shrink the frame, they don't
    * misalign it), and every count is an exact long — the burns are a
    * fixed divide/divide sequence, hash-exact cross-engine. */
  def sloBurn(spark: SparkSession, dir: String, budget: Double = 0.2,
              thFast: Double = 1.2, thSlow: Double = 1.0): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(tsMs(col("ts")).as("ms"), col("event_type"))
      .groupBy(expr("ms div 3600000").as("hr"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("event_type") === "error", lit(1))).as("n_err"))
    val w6 = boundedWindow(col("hr")).rangeBetween(-5, 0) // ≤hours-in-horizon rows
    hourly
      .withColumn("err6", sum(col("n_err")).over(w6))
      .withColumn("total6", sum(col("n_total")).over(w6))
      .withColumn("burn_1h", expr(
        s"CAST(n_err AS DOUBLE) / CAST(n_total AS DOUBLE) / CAST($budget AS DOUBLE)"))
      .withColumn("burn_6h", expr(
        s"CAST(err6 AS DOUBLE) / CAST(total6 AS DOUBLE) / CAST($budget AS DOUBLE)"))
      .filter(col("burn_1h") > thFast && col("burn_6h") > thSlow)
      .select(expr("hr * 3600000").as("hour_ms"),
        col("n_err"), col("n_total"), col("err6"), col("total6"),
        col("burn_1h"), col("burn_6h"))
  }

  /** A64: daily new-vs-returning actives — the dashboard growth staple:
    * for each day, how many active users were seen for the FIRST time
    * that day vs returning. One (user_id, day) distinct shuffle, then a
    * per-user min-day window that reuses the user-side partitioning, then
    * a day rollup over the summary — all exact integer counts. A user's
    * "first day" is corpus-relative (the standard caveat: a corpus that
    * starts mid-history counts day-1 actives as new). */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val firstDay = Window.partitionBy("user_id")
    ud.withColumn("first_day", min(col("day")).over(firstDay))
      .groupBy("day")
      .agg(count(lit(1)).as("dau"),
        count(when(col("day") === col("first_day"), lit(1))).as("n_new"))
      .withColumn("n_returning", col("dau") - col("n_new"))
  }

  def gini(spark: SparkSession, dir: String, idBucket: Long = 64): DataFrame = scope {
    val dec = "DECIMAL(38,0)"
    activityRanked(spark, dir, idBucket)
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_events")).as("total_events"),
        sum(expr(s"CAST(rank AS $dec) * CAST(n_events AS $dec)")).as("s"))
      .filter(col("n_users") > 0)
      .select(col("n_users"), col("total_events"),
        expr(s"""CAST(CAST(2 AS $dec) * s
          |  - CAST(n_users + 1 AS $dec) * CAST(total_events AS $dec) AS DOUBLE)
          |/ CAST(CAST(n_users AS $dec) * CAST(total_events AS $dec) AS DOUBLE)"""
          .stripMargin).as("gini"))
  }

  /** A106: STATIONARY attention share per event type — the long-run
    * distribution of the A43 session-transition chain (power iteration
    * with the standard 0.85 damping; Page et al. 1999's treatment of
    * dangling states, public — the "where do sessions settle" read that
    * single-step transition probabilities can't give: a type that every
    * path funnels INTO outranks its raw volume): π'(b) = (1−d)/|S| +
    * d·(Σ_a π(a)·P(a→b) + dangling_mass/|S|), 20 iterations from the
    * uniform start.
    *
    * Portability (the C73 emb_pagerank discipline, here WITH an oracle):
    * P(a→b) is one exact-long division; each inflow term π(a)·P(a→b) is
    * ONE double multiply quantized DECIMAL(18,9) before the order-free
    * decimal sum; the damping update is a fixed IEEE tree re-quantized
    * per iteration — the DuckDB recursive CTE repeats every expression
    * verbatim, so 20 rounds stay bit-identical.
    *
    * Scale: the corpus-sized work is transitionCounts' one user_id
    * shuffle; the 20 damped-power rounds run DRIVER-SIDE on the collected
    * ≤\|types\|² edge summary (r11 — the A107 bounded-collect rationale:
    * the summary is type-bounded, the per-round distributed jobs were
    * pure stage overhead, and the arithmetic — double multiplies and the
    * damping tree quantized to scale-9 HALF_UP decimals, exact decimal
    * sums — is replicated exactly, proven by the recursive-CTE oracle
    * staying hash-green); ≤\|types\| output rows. */
  def stationary(spark: SparkSession, dir: String, damping: Double = 0.85,
                 iters: Int = 20): DataFrame = {
    import spark.implicits._
    val wFrom = Window.partitionBy("from_type")
    // bounded: ≤ |types|² probability edges
    val edges = transitionCounts(spark, dir)
      .withColumn("n_from", sum(col("n_transitions")).over(wFrom))
      .select(col("from_type"), col("to_type"),
        (col("n_transitions").cast("double") / col("n_from").cast("double"))
          .as("p"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val states = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = states.length.toDouble // bounded: ≤ |types|
    if (n == 0) // empty corpus
      return Seq.empty[(String, Double)].toDF("event_type", "stationary")
    val sources = edges.map(_._1).toSet
    val ZERO = java.math.BigDecimal.ZERO.setScale(9)
    def dec9(d: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(d).setScale(9, java.math.RoundingMode.HALF_UP)
    var pi: Map[String, java.math.BigDecimal] =
      states.map(s => s -> dec9(1.0 / n)).toMap
    for (_ <- 1 to iters) {
      // inflow(b) = Σ_a dec9(pi(a)_as_double · p(a→b)) — exact decimal sum
      val inflow = scala.collection.mutable.Map.empty[String, java.math.BigDecimal]
      edges.foreach { case (a, b, p) =>
        val term = dec9(pi(a).doubleValue * p)
        inflow(b) = inflow.getOrElse(b, ZERO).add(term)
      }
      // dangling mass: exact decimal sum over no-outgoing states
      val dm = states.filterNot(sources)
        .foldLeft(ZERO)((acc, s) => acc.add(pi(s)))
      val dmD = dm.doubleValue
      pi = states.map { s =>
        val inflowD = inflow.get(s).map(_.doubleValue).getOrElse(0.0)
        // the exact IEEE tree of the former plan expression:
        // (1−d)/n + d · (inflow + dm/n), then the scale-9 quantization
        s -> dec9((1.0 - damping) / n + damping * (inflowD + dmD / n))
      }.toMap
    }
    states.toSeq.map(s => (s, pi(s).doubleValue))
      .toDF("event_type", "stationary")
  }

  /** A107: ABSORPTION probability per state — "from here, what's the
    * chance this session reaches `target` before it ends" (the
    * absorbing-Markov-chain read of the A43 transition model; Kemeny &
    * Snell 1960, public — the state-level form of A19's funnel: a funnel
    * counts one fixed path, this scores EVERY state by its downstream
    * conversion odds, which is what "which screen should we fix"
    * actually asks). Unconditional one-step probabilities
    * P(a→b) = n(a→b)/n_a over ALL type-a events, so 1 − Σ_b P(a→b) is
    * exactly the session-end (non-converting) exit mass; value iteration
    * x_a ← P(a→target) + Σ_{b≠target} P(a→b)·x_b from x = 0 (30 rounds
    * — geometric convergence), x_target ≡ 1.
    *
    * Portability: the A106 discipline — P one exact-long division, each
    * term one double multiply quantized DECIMAL(18,9) before the
    * order-free decimal sum, re-quantized per round; the oracle's
    * recursive CTE repeats it verbatim with the §6 VARCHAR-mediated
    * quantization (the decimal-tie rule).
    *
    * Scale: corpus work is transitionCounts' one shuffle + one ≤types
    * occurrence census; the 30 value-iteration rounds run DRIVER-SIDE on
    * the collected ≤types² edge summary (r11 — bounded collect with the
    * engine's standard justification: the summary is event-type-bounded,
    * never corpus-sized; iterating it as 30 tiny distributed jobs paid
    * ~3 s of pure stage overhead for arithmetic a driver does in
    * microseconds, and the arithmetic is replicated EXACTLY — double
    * multiply, BigDecimal.valueOf quantization to scale 9 HALF_UP, exact
    * decimal sums — so the DuckDB recursive-CTE oracle stays hash-green,
    * which is itself the proof of bit-identity); ≤types output rows. */
  def absorption(spark: SparkSession, dir: String,
                 target: String = "purchase", iters: Int = 30): DataFrame = scope {
    import spark.implicits._
    val occ = Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_occ")).pin()
    val edges = transitionCounts(spark, dir)
      .join(occ.select(col("event_type").as("from_type"), col("n_occ")),
        "from_type")
      .select(col("from_type"), col("to_type"),
        (col("n_transitions").cast("double") / col("n_occ").cast("double"))
          .as("p"))
      // bounded: ≤ |types|² probability edges (the iteration summary)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // bounded: ≤ |types| states
    val states = occ.select(col("event_type")).collect().map(_.getString(0))
    val ZERO = java.math.BigDecimal.ZERO.setScale(9)
    val ONE = java.math.BigDecimal.ONE.setScale(9)
    var x: Map[String, java.math.BigDecimal] =
      states.map(s => s -> (if (s == target) ONE else ZERO)).toMap
    for (_ <- 1 to iters) {
      // term = dec9(x_b_as_double * p); per-from sums are exact decimal
      // additions (order-free), mirroring sum(term) over DECIMAL(18,9)
      val sums = scala.collection.mutable.Map.empty[String, java.math.BigDecimal]
      edges.foreach { case (a, b, p) =>
        val term = java.math.BigDecimal.valueOf(x(b).doubleValue * p)
          .setScale(9, java.math.RoundingMode.HALF_UP)
        sums(a) = sums.getOrElse(a, ZERO).add(term)
      }
      x = states.map(s => s ->
        (if (s == target) ONE
         else sums.getOrElse(s, ZERO).setScale(9, java.math.RoundingMode.HALF_UP)))
        .toMap
    }
    states.toSeq.map(s => (s, x(s).doubleValue))
      .toDF("event_type", "p_convert")
  }

  /** A105: HILL tail-index estimate per type's value distribution (Hill
    * 1975, public — the heavy-tail diagnostic behind capacity planning
    * and spend-risk reads: α ≲ 2 means infinite variance, "whales
    * dominate"; large α reads light-tailed/thin): over the top k+1 order
    * statistics, H = (1/k)·Σ ln(x_(i)/x_(k+1)), α = 1/H — estimated at
    * the standard fixed-k operating point (k = 50, clamped to n−1 when a
    * type has fewer positive values; types with < 6 usable points drop).
    *
    * Portability: the order statistics are exact rank selection
    * ((value desc, event_id) — deterministic through ties); each
    * ln-ratio term quantizes DECIMAL(18,9) (the C40 libm discipline);
    * hill and alpha are single divisions of the exact decimal sum.
    *
    * Scale: rank ≤ k+1 per type is the rank-pushdown window shape
    * (WindowGroupLimit keeps k+1 per type map-side before the
    * exchange); the fold runs on ≤ types×(k+1) rows; one row per
    * type. */
  def tailIndex(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id"))
    val top = Tables.events(spark, dir)
      .filter(col("value") > 0.0)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k + 1)
    val wT = Window.partitionBy("event_type")
    top
      .withColumn("n_top", count(lit(1)).over(wT))
      .withColumn("thresh", min(col("value")).over(wT)) // value at rn = n_top
      .filter(col("n_top") >= 6 && col("rn") < col("n_top"))
      .withColumn("term", log(col("value") / col("thresh")).cast(dec))
      .groupBy("event_type")
      .agg((max(col("n_top")) - 1).as("k_used"),
        max(col("thresh")).as("x_threshold"),
        sum(col("term")).as("s"))
      .select(col("event_type"), col("k_used"), col("x_threshold"),
        (col("s").cast("double") / col("k_used").cast("double")).as("hill"),
        // a degenerate all-equal top (s = 0) reads NULL, not an
        // engine-dependent division by zero
        when(col("s") > 0,
          col("k_used").cast("double") / col("s").cast("double"))
          .as("alpha"))
  }

  /** A104: EWMA control chart per type's daily series (Roberts 1959;
    * Hunter 1986; the individuals-chart σ̂ = MR̄/d₂ estimator with
    * d₂ = 1.128, public — the remaining classic beside A57's CUSUM and
    * A49's MAD: EWMA catches small sustained shifts a Shewhart chart
    * misses, with exact time-varying start-up limits):
    * z_t = λ·y_t + (1−λ)·z_{t−1}, z₀ = μ; limits μ ± 3σ̂·√(λ/(2−λ)·
    * (1−(1−λ)^{2t})). λ = 0.25 — exactly representable, so the fold is
    * a fixed two-multiply-one-add IEEE tree per step and (1−λ)² = 0.5625
    * tracks the start-up factor by one exact multiply per step; the
    * oracle's recursive CTE repeats the expressions VERBATIM (the A90
    * Holt-Winters discipline — hash-exact, no quantization).
    *
    * μ is one division of exact integers; σ̂ = (Σ|Δ|/(n−1))/1.128 two
    * divisions; the limit is a fixed sqrt tree.
    *
    * Scale: the A97 shape — one (type, day) partial-agg shuffle to a
    * ≤types×horizon summary; the recursion is an in-row fold; output
    * one row per (type, day). */
  def ewmaChart(spark: SparkSession, dir: String): DataFrame = {
    denseDailySeries(spark, dir)
      .filter(size(col("ys")) >= 14)
      .withColumn("n", size(col("ys")).cast("long"))
      .withColumn("s", expr(
        "aggregate(ys, 0L, (a, x) -> a + CAST(x AS BIGINT))"))
      .withColumn("mu", col("s").cast("double") / col("n").cast("double"))
      .withColumn("sumabs", expr(
        """aggregate(
          |  zip_with(slice(ys, 1, size(ys) - 1), slice(ys, 2, size(ys) - 1),
          |    (a, b) -> CAST(abs(CAST(b AS BIGINT) - CAST(a AS BIGINT))
          |      AS BIGINT)),
          |  0L, (a, x) -> a + x)""".stripMargin))
      .withColumn("sig",
        (col("sumabs").cast("double") / (col("n") - 1).cast("double")) /
          lit(1.128))
      .withColumn("zw", expr(
        """aggregate(ys,
          |  named_struct('z', mu, 'w', CAST(1.0 AS DOUBLE),
          |    'arr', CAST(array() AS ARRAY<STRUCT<z: DOUBLE, w: DOUBLE>>)),
          |  (st, y) -> named_struct(
          |    'z', 0.25D * y + 0.75D * st.z,
          |    'w', st.w * 0.5625D,
          |    'arr', array_append(st.arr, named_struct(
          |      'z', 0.25D * y + 0.75D * st.z,
          |      'w', st.w * 0.5625D)))).arr""".stripMargin))
      .select(col("event_type"), col("lo"), col("mu"), col("sig"),
        col("ys"), posexplode(col("zw")).as(Seq("pos", "st")))
      .select(col("event_type"),
        (col("lo") + col("pos")).as("day_idx"),
        expr("element_at(ys, pos + 1)").as("y"),
        col("st.z").as("ewma"),
        (col("mu") + lit(3.0) * col("sig") *
          sqrt((lit(0.25) / lit(1.75)) * (lit(1.0) - col("st.w"))))
          .as("ucl"),
        (col("mu") - lit(3.0) * col("sig") *
          sqrt((lit(0.25) / lit(1.75)) * (lit(1.0) - col("st.w"))))
          .as("lcl"))
      .withColumn("flag", col("ewma") > col("ucl") || col("ewma") < col("lcl"))
  }

  /** A103: per-user behavioral ENTROPY over the event-type distribution
    * (Shannon 1948, public — the event-side twin of C19's document
    * entropy: a user's type mix as a diversity score; H = 0 reads a
    * single-track client (scripted scanner, monitoring bot, one-feature
    * user), H near ln(k) reads uniform engagement across k types; the
    * normalized form is comparable across users with different type
    * alphabets): H = Σ −p_t·ln(p_t) over the user's type shares,
    * norm = H / ln(n_types) (NULL for single-type users).
    *
    * Portability: counts exact longs; p is ONE division; each −p·ln p
    * term quantizes DECIMAL(18,9) before the order-free sum (the C40/B42
    * libm-ln discipline), and the normalizer ln(n_types) quantizes the
    * same way before its single division.
    *
    * Scale: one (user, type) partial-agg shuffle; the per-user total is
    * a user-partitioned window over that census (≤ |types| rows per
    * user); one user rollup. */
  def userEntropy(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val census = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wU = Window.partitionBy("user_id")
    census
      .withColumn("n_u", sum(col("n")).over(wU))
      .withColumn("p", col("n").cast("double") / col("n_u").cast("double"))
      .withColumn("term", (-(col("p") * log(col("p")))).cast(dec))
      .groupBy("user_id")
      .agg(max(col("n_u")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("term")).cast("double").as("entropy"))
      .withColumn("norm_entropy",
        when(col("n_types") > 1,
          col("entropy") /
            log(col("n_types").cast("double")).cast(dec).cast("double")))
  }

  /** A102: ASSOCIATION RULES over per-user event-type baskets (Agrawal,
    * Imieliński & Swami SIGMOD 1993, public — the market-basket read:
    * where A77 reports symmetric overlap, a rule a→b is DIRECTIONAL:
    * "users who do a also do b" with the three standard strengths):
    * support = n_ab/N, confidence = n_ab/n_a, lift = confidence/(n_b/N)
    * = N·n_ab/(n_a·n_b) — lift > 1 reads genuine association, < 1
    * avoidance. Both directions of every co-occurring pair emit (a ≠ b);
    * pairs under `minSupport` users drop (the published support gate).
    *
    * All counts are exact longs off ONE distinct (user, type) census;
    * the three strengths are single IEEE divisions of exact-below-2⁵³
    * casts (N·n_ab ≤ N² stays long at any gate SF) — hash-exact.
    *
    * Scale: one distinct pass (the A77 shape), a per-user in-row
    * pair fan-out bounded by |types|² per user, one (a, b) partial-agg
    * shuffle on summary-sized keys; broadcast N scalar; ≤ types²
    * output rows. */
  def assocRules(spark: SparkSession, dir: String,
                 minSupport: Long = 2): DataFrame = scope {
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val n = ut.select(countDistinct(col("user_id")).as("n_users"))
    val typeCounts = ut.groupBy("event_type")
      .agg(count(lit(1)).as("n_t"))
    val pairs = ut.groupBy("user_id")
      .agg(collect_set(col("event_type")).as("ts"))
      .select(explode(expr(
        """flatten(transform(ts, a ->
          |  transform(filter(ts, b -> b != a), b -> struct(a, b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(broadcast(typeCounts.select(col("event_type").as("a"),
        col("n_t").as("n_a"))), "a")
      .join(broadcast(typeCounts.select(col("event_type").as("b"),
        col("n_t").as("n_b"))), "b")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_users"),
        (col("n_ab").cast("double") / col("n_users").cast("double"))
          .as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("confidence"),
        ((col("n_users") * col("n_ab")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** A99: CROSS-correlation function between every ordered pair of event
    * types' daily count series (Box & Jenkins 1970 ch. 11, public — the
    * lead/lag detector beside A97's within-series ACF: ccf(a,b,k) =
    * corr(a_t, b_{t+k}), a positive-lag peak says a LEADS b by k days —
    * the "errors spike, then purchases drop" dashboard read). Sample CCF
    * with full-series means/denominators and lag-windowed numerators, the
    * textbook estimator.
    *
    * All types align on ONE global day grid (min..max day over the whole
    * corpus — per-type grids would silently shift lags), interior gaps
    * filled as REAL zeros (the A86 discipline). Exact arithmetic end to
    * end: deviations are exact integers n·y − S in DECIMAL(38,0) (the A97
    * scheme), so num and both dens are exact; ccf = num / (√den_a·√den_b)
    * is THREE exact-below-2⁵³ decimal→double casts, two correctly-rounded
    * IEEE sqrts, one multiply, one divide — a fixed tree, hash-exact with
    * no quantization. Zero-variance series (den = 0) emit NULL via the
    * same guard on both engines.
    *
    * Scale: ONE (type, day) partial-agg shuffle collapses the corpus to
    * ≤ types×horizon rows; the global grid is a 1-row broadcast scalar;
    * the pair join is summary×summary (≤ types² rows each carrying one
    * horizon-length array); every lag numerator is an in-row zip_with
    * fold. ≤ types²×(2·maxLag+1) output rows at any corpus size. */
  def ccf(spark: SparkSession, dir: String, maxLag: Int = 7): DataFrame = scope {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), tsMs(col("ts")).as("ms"))
      .groupBy(col("event_type"), expr("ms div 86400000").as("day_idx"))
      .agg(count(lit(1)).as("y"))
    val grid = daily.agg(min(col("day_idx")).as("lo"),
      max(col("day_idx")).as("hi"))
    val dense = daily.crossJoin(broadcast(grid))
      .groupBy("event_type")
      .agg(first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        map_from_entries(collect_list(struct(col("day_idx"), col("y"))))
          .as("m"))
      .withColumn("n", (col("hi") - col("lo") + 1).cast("long"))
      .filter(col("n") >= maxLag + 2)
      .withColumn("ys", expr(
        "transform(sequence(lo, hi), d -> coalesce(element_at(m, d), 0L))"))
      .withColumn("s", expr("aggregate(ys, 0L, (a, x) -> a + x)"))
      .withColumn("ds", expr(
        "transform(ys, y -> CAST(n * y - s AS DECIMAL(38,0)))"))
      .withColumn("den", expr(
        """aggregate(ds, CAST(0 AS DECIMAL(38,0)),
          |  (a, x) -> CAST(a + x * x AS DECIMAL(38,0)))""".stripMargin))
      .select(col("event_type"), col("n"), col("ds"), col("den"))
      .pin() // both sides of the pair join read this summary
    val a = dense.select(col("event_type").as("type_a"), col("n"),
      col("ds").as("da"), col("den").as("den_a"))
    val b = dense.select(col("event_type").as("type_b"),
      col("ds").as("db"), col("den").as("den_b"))
    a.join(b, col("type_a") < col("type_b"))
      .withColumn("lag", explode(expr(s"sequence(${-maxLag}, $maxLag)")))
      .withColumn("num", expr(
        """aggregate(
          |  zip_with(slice(da, greatest(1, 1 - lag), n - abs(lag)),
          |           slice(db, greatest(1, 1 + lag), n - abs(lag)),
          |           (x, y) -> CAST(x * y AS DECIMAL(38,0))),
          |  CAST(0 AS DECIMAL(38,0)),
          |  (a, x) -> CAST(a + x AS DECIMAL(38,0)))""".stripMargin))
      .select(col("type_a"), col("type_b"), col("lag").cast("long").as("lag"),
        col("n").as("n_days"),
        when(col("den_a") > 0 && col("den_b") > 0,
          col("num").cast("double") /
            (sqrt(col("den_a").cast("double")) *
             sqrt(col("den_b").cast("double")))).as("ccf"))
  }

  /** A100: single MEAN-SHIFT test per type's daily series — the first
    * split of binary segmentation isolated as an exactly-oracle-checkable
    * statistic (Scott & Knott 1974; Page's CUSUM 1954, public — "did this
    * metric's level actually move, and on what day"; A86's multi-segment
    * form runs the full recursion driver-side on the summary, THIS form
    * is the distributed one-split twin whose every output value an
    * independent SQL engine reproduces bit-for-bit): the split t
    * maximizing the squared shifted-CUSUM (S_t − t·S/n)² / (t(n−t)),
    * the likelihood-ratio statistic for a mean change at t under
    * constant variance.
    *
    * Exact arithmetic: G_t = n·S_t − t·S is an exact integer (the A97
    * deviation scheme applied to prefix sums); the selection ratio
    * G_t²/(t(n−t)) is ONE divide of two exact-below-2⁵³ casts — a
    * deterministic double both engines produce bit-identically — and the
    * argmax tie-breaks to the EARLIEST t via struct max. Emitted
    * means/stat are single divisions of exact integers.
    *
    * Scale: the A97 shape — one (type, day) partial-agg shuffle to a
    * ≤ types×horizon summary; prefix sums + the argmax are in-row folds
    * over horizon-length arrays; one output row per type. */
  def meanShift(spark: SparkSession, dir: String): DataFrame = {
    denseDailySeries(spark, dir)
      .filter(size(col("ys")) >= 14)
      .withColumn("n", size(col("ys")).cast("long"))
      .withColumn("yl", expr("transform(ys, y -> CAST(y AS BIGINT))"))
      .withColumn("s", expr("aggregate(yl, 0L, (a, x) -> a + x)"))
      // prefix sums S_1..S_{n-1}: horizon-length in-row fold
      .withColumn("ps", expr(
        """aggregate(slice(yl, 1, size(yl) - 1),
          |  named_struct('cum', 0L, 'arr', CAST(array() AS ARRAY<BIGINT>)),
          |  (st, y) -> named_struct('cum', st.cum + y,
          |    'arr', array_append(st.arr, st.cum + y))).arr""".stripMargin))
      // argmax of G_t²/(t(n−t)) with earliest-t tie-break
      .withColumn("best", expr(
        """aggregate(
          |  zip_with(ps, sequence(1L, size(ps)), (p, t) -> named_struct(
          |    'r', CAST(CAST(CAST(n * p - t * s AS DECIMAL(38,0))
          |           * CAST(n * p - t * s AS DECIMAL(38,0)) AS DOUBLE)
          |         / CAST(t * (n - t) AS DOUBLE) AS DOUBLE),
          |    'negt', -t, 'st', p, 't', t)),
          |  CAST(NULL AS STRUCT<r: DOUBLE, negt: BIGINT, st: BIGINT, t: BIGINT>),
          |  (acc, x) -> CASE WHEN acc IS NULL
          |    OR struct(x.r, x.negt) > struct(acc.r, acc.negt)
          |    THEN x ELSE acc END)""".stripMargin))
      .select(col("event_type"), col("n").as("n_days"),
        (col("lo") + col("best.t")).as("change_day"),
        col("best.t").as("t_split"),
        (col("best.r") / col("n").cast("double") / col("n").cast("double"))
          .as("stat"),
        (col("best.st").cast("double") / col("best.t").cast("double"))
          .as("mean_pre"),
        ((col("s") - col("best.st")).cast("double") /
          (col("n") - col("best.t")).cast("double")).as("mean_post"))
  }
}
