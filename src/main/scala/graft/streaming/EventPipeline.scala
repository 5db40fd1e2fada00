package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._
import graft.Pins._

/** The reference pipeline (producer → Kafka → consumer → Redis → dashboard,
  * /root/reference/auto_kafka_redis.py) re-expressed as Structured Streaming:
  *
  *   readStream (file/rate source standing in for the Kafka topic)
  *     → watermark + dropDuplicatesWithinWatermark        (SETNX dedup + TTL)
  *     → stateful per-user rate limiting                  (INCR + window TTL)
  *     → windowed aggregation                             (dashboard counts)
  *     → sinks: memory / parquet / foreachBatch upsert    (Redis SET + pub/sub)
  *
  * Scale: state is keyed by user (rate limit) or event id within the
  * watermark horizon (dedup). Dedup, session and both rate limits' state is
  * evicted by the watermark or event-time timers, so a quiet user's record
  * goes away; the z-score ring buffer keeps ONE bounded record per key with
  * no cross-key eviction (its scaladoc states the unbounded-churn
  * mitigation). Every keyed operator is a [[StepProcessor]] on RocksDB
  * state, the shape that runs on a 1000-executor cluster. */
object EventPipeline {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class Admitted(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double, admitted: Boolean)
  case class RateState(windowStartMs: Long, count: Int)
  case class PatternState(aTsMs: Long, aEventId: Long)
  case class PatternMatch(user_id: Long, a_event_id: Long, b_event_id: Long,
                          a_ts_ms: Long, b_ts_ms: Long, lag_ms: Long)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-based event source (a directory of parquet/json standing in for the
    * Kafka topic; new files = new messages). */
  def fileSource(spark: SparkSession, dir: String, format: String = "parquet"): DataFrame =
    spark.readStream.schema(eventSchema).format(format).load(dir)

  /** Multi-topic file ingest: one unioned stream over several directories —
    * the file-source analogue of the reference's multi-topic subscribe
    * (consumer_to_redis.py:31-36 passes a topic LIST). Spark unions the
    * per-source micro-batches; each directory keeps its own offsets in the
    * checkpoint. */
  def multiSource(spark: SparkSession, dirs: Seq[String],
                  format: String = "parquet"): DataFrame = {
    require(dirs.nonEmpty, "multiSource needs at least one directory (topic)")
    dirs.map(d => fileSource(spark, d, format)).reduce(_ unionByName _)
  }

  /** Kafka ingest graph mirroring the reference consumer
    * (auto_kafka_redis.py:296-304; multi-topic list per
    * consumer_to_redis.py:31-36): subscribe to `cfg.topics`, decode the JSON
    * `value` payload into the event schema. Requires the spark-sql-kafka
    * connector on the classpath at start (not bundled in this sandbox — the
    * graph builder and [[decodeKafkaValue]] are exercised without a broker;
    * the decode transform is unit-tested on literal frames). */
  def kafkaSource(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    decodeKafkaValue(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", cfg.brokers)
      .option("subscribe", cfg.topics.mkString(","))
      .option("startingOffsets", cfg.startingOffsets)
      .load())

  /** Kafka `value` (JSON bytes) → typed event columns. Malformed payloads
    * yield null fields (from_json permissive mode), observable downstream
    * rather than killing the query. */
  def decodeKafkaValue(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), eventSchema).as("e"))
      .select(col("e.event_id"), col("e.ts"), col("e.user_id"),
        col("e.event_type"), col("e.value"))

  /** Dead-letter split: decode raw payloads and route malformed ones to a
    * reject stream carrying the ORIGINAL bytes + reason — the consumer must
    * neither crash on bad input (poison-pill loop) nor drop it silently
    * (data loss). EVERY field the typed pipeline dereferences non-nullably
    * (event_id, ts, user_id, value) is checked: a payload missing any of
    * them would otherwise pass the split and kill the query at `.as[Event]`
    * deserialization — the exact loop the split exists to prevent.
    *
    * The two returned frames are one logical decode, but binding them to
    * TWO sinks starts two queries that each re-read and re-decode the
    * source with independent offsets — fine in tests, wrong against a
    * broker at scale. Production binds ONE query via [[deadLetterSink]],
    * which splits each micro-batch physically once. */
  def deadLetterSplit(raw: DataFrame): (DataFrame, DataFrame) = {
    val decoded = raw
      .withColumn("payload", col("value").cast("string"))
      .withColumn("e", from_json(col("payload"), eventSchema))
      // PERMISSIVE from_json yields an all-null struct (not a null struct)
      // for unparseable input — "no usable field" is the unparseable signal
      .withColumn("reason",
        when(col("e").isNull ||
          (col("e.event_id").isNull && col("e.ts").isNull && col("e.user_id").isNull &&
            col("e.event_type").isNull && col("e.value").isNull), "unparseable")
          .when(col("e.event_id").isNull, "missing_event_id")
          .when(col("e.ts").isNull, "missing_ts")
          .when(col("e.user_id").isNull, "missing_user_id")
          .when(col("e.value").isNull, "missing_value"))
    val valid = decoded.filter(col("reason").isNull)
      .select(col("e.event_id"), col("e.ts"), col("e.user_id"),
        col("e.event_type"), col("e.value"))
    val rejects = decoded.filter(col("reason").isNotNull)
      .select(col("payload"), col("reason"))
    (valid, rejects)
  }

  /** Physically-once dead-letter routing: ONE streaming query; each
    * micro-batch is decoded once (persisted), then written to the valid
    * and reject parquet dirs. This is the production binding of
    * [[deadLetterSplit]] — the two-frames-two-queries form double-reads the
    * broker and lets the two consumers' offsets diverge (malformed records
    * published between the two start points would be lost).
    *
    * Writes are IDEMPOTENT under micro-batch retry: each output is
    * partitioned by `batch_id` and dynamically overwritten, so a failure
    * between the valid and reject writes (or any replay of a committed
    * batch) replaces that batch's partition instead of duplicating rows —
    * effectively-once output on top of foreachBatch's at-least-once calls. */
  def deadLetterSink(raw: DataFrame, validPath: String,
                     rejectPath: String): StreamingQuery =
    raw.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) => scope {
      val (valid, rejects) = deadLetterSplit(batch.cached())
      Seq((valid, validPath), (rejects, rejectPath)).foreach { case (df, path) =>
        df.withColumn("batch_id", lit(batchId))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(path)
      }
    }}.start()

  /** The whole reference consumer topology from one config: dedup within the
    * configured TTL → anchored per-user rate limit → alert rows. Source-
    * agnostic (pass [[kafkaSource]], [[fileSource]] or [[multiSource]]
    * output) so environments without a broker run the same graph. */
  def configuredPipeline(source: DataFrame, cfg: PipelineConfig): DataFrame = {
    import source.sparkSession.implicits._
    val limited = rateLimitedAnchored(
      deduped(source, cfg.dedupTtl).as[Event],
      limit = cfg.rateLimitCount, windowMs = cfg.rateLimitWindowMs,
      watermark = None) // deduped already set the event-time watermark
    alerts(limited.filter(_.admitted).toDF(), cfg.alertThreshold)
  }

  /** The COMPLETE consumer from raw message bytes — exactly what the
    * reference's consumer loop does to each Kafka record
    * (auto_kafka_redis.py:306-367): decode JSON, route malformed payloads to
    * the dead-letter stream, dedup, rate-limit, alert. Returns (alerts,
    * rejects); bind each to its sink. With a broker on the classpath the
    * input is [[kafkaSource]]'s raw frame; in this sandbox the same graph is
    * ignition-tested end-to-end over a staged byte stream (StreamingSpec). */
  def configuredConsumer(raw: DataFrame, cfg: PipelineConfig): (DataFrame, DataFrame) = {
    val (valid, rejects) = deadLetterSplit(raw)
    (configuredPipeline(valid, cfg), rejects)
  }

  /** Synthetic source mirroring the reference's simulated producer
    * (auto_kafka_redis.py:160-210): sequential ids, 5 users, event types. */
  def rateSource(spark: SparkSession, rowsPerSecond: Int = 20): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        pmod(col("value"), lit(5L)).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("purchase"), lit("signup"), lit("error")),
          (pmod(col("value"), lit(5L)) + 1).cast("int")).as("event_type"),
        (pmod(col("value") * 37L, lit(200L)) + 1).cast("double").as("value"))

  /** Dedup on event_id within the watermark horizon — the streaming form of
    * the reference's SETNX-with-TTL (TTL = watermark delay). */
  def deduped(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stateful per-user rate limiting: at most `limit` admitted events per
    * user per tumbling window (reference RATE_LIMIT_COUNT / WINDOW). Emits
    * every event with an `admitted` flag (dropped events are observable,
    * like the reference's log line).
    *
    * Only the CURRENT window's count is kept per user, so an event arriving
    * for an already-passed window is conservatively rejected (its window's
    * count is gone; admitting blind could breach the cap) — and, crucially,
    * it does NOT reset the live window's count.
    *
    * State is one (window, count) record per user, deleted by an event-time
    * timer once the watermark passes the window's end (the reference's
    * EXPIRE), so state tracks active users, not lifetime users. The timer
    * fires on the input's own watermark (as [[deduped]] sets it); on input
    * without one, state is never evicted. */
  def rateLimited(events: Dataset[Event], limit: Int = 5,
                  windowMs: Long = 60L * 60 * 1000): Dataset[Admitted] = {
    import events.sparkSession.implicits._
    new RateLimitProcessor(limit, windowMs, anchored = false)
      .over(events.groupByKey(_.user_id))
  }

  /** Anchored rolling rate limit — the exact Redis INCR+EXPIRE semantics of
    * the reference (auto_kafka_redis.py:354-357): the window is anchored at
    * the FIRST event's time (the INCR that created the key) and expires
    * `windowMs` later (the EXPIRE), unlike [[rateLimited]]'s epoch-aligned
    * tumbling windows. Admission checks expiry lazily against event time —
    * correctness never depends on timer order — while an event-time timer
    * clears expired per-key state (the memory-bound at scale: state lives
    * one window past the last active key, then is deleted).
    * Pass `watermark = None` when the input already carries one. */
  def rateLimitedAnchored(events: Dataset[Event], limit: Int = 5,
                          windowMs: Long = 60L * 60 * 1000,
                          watermark: Option[String] = Some("10 minutes")): Dataset[Admitted] = {
    import events.sparkSession.implicits._
    new RateLimitProcessor(limit, windowMs, anchored = true)
      .over(watermark.fold(events)(w => events.withWatermark("ts", w)).groupByKey(_.user_id))
  }

  /** The one processor of [[rateLimited]] and [[rateLimitedAnchored]]: state
    * is the live window's (start, admitted count), and a timer at the
    * window's end deletes it. The two differ only in the start of an
    * event's window: epoch-aligned, or anchored at the event that opens it
    * (an event before the live window's end counts into it, the INCR on the
    * live key). */
  class RateLimitProcessor(limit: Int, windowMs: Long, anchored: Boolean)
      extends StepProcessor[Long, Event, RateState, Admitted](
        Encoders.product[RateState], timed = true) {
    override def order(rows: Seq[Event]): Seq[Event] = byTime(rows)
    override def timerOf(s: RateState): Option[Long] = Some(s.windowStartMs + windowMs)
    def step(user: Long, st: Option[RateState], rows: Seq[Event], wm: Long,
             fired: Boolean): (Option[RateState], Seq[Admitted]) = {
      var s = (if (fired) None else st).getOrElse(RateState(Long.MinValue, 0))
      val out = rows.map { e =>
        val t = e.ts.getTime
        val w = if (!anchored) t / windowMs * windowMs
          else if (t < s.windowStartMs + windowMs) s.windowStartMs else t
        if (w > s.windowStartMs) s = RateState(w, 0)
        val ok = w >= s.windowStartMs && s.count < limit
        if (ok) s = s.copy(count = s.count + 1)
        Admitted(e.event_id, e.ts, e.user_id, e.event_type, e.value, ok)
      }
      (Option.when(s.windowStartMs != Long.MinValue)(s), out)
    }
  }

  /** (ts, event_id): the batch operators' in-window order. */
  private def byTime(rows: Seq[Event]): Seq[Event] =
    rows.sortBy(e => (e.ts.getTime, e.event_id))

  /** (ts, A-before-B, event_id): the batch window's order for an A→B
    * pattern, so a same-ms B sees its A. */
  private def aThenB(rows: Seq[Event], second: String): Seq[Event] =
    rows.sortBy(e => (e.ts.getTime, if (e.event_type == second) 1 else 0, e.event_id))

  /** A40-streaming: CEP pattern match, the streaming twin of
    * [[graft.operators.EventOps.patternMatch]] — per user, each
    * `second`-type event pairs with the most recent `first`-type event
    * at-or-before it within `withinMs` (no consumption: one A can anchor
    * many Bs, exactly the batch semantics).
    *
    * State is ONE (ts, event_id) record per user — the latest A seen — and
    * is evicted by an event-time timer once the watermark passes
    * a_ts + withinMs (no future in-watermark B can match it), so state
    * size tracks ACTIVE users, not lifetime users. In-order replay equals
    * the batch operator bit-for-bit (spec-gated); a cross-batch late A is
    * dropped by the same watermark that bounds the state. */
  def patternMatchStream(events: Dataset[Event], first: String = "click",
                         second: String = "purchase",
                         withinMs: Long = 3600L * 1000,
                         watermark: Option[String] = Some("10 minutes")): Dataset[PatternMatch] = {
    import events.sparkSession.implicits._
    new PatternProcessor(first, second, withinMs).over(
      watermark.fold(events)(w => events.withWatermark("ts", w))
        .filter(e => e.event_type == first || e.event_type == second)
        .groupByKey(_.user_id))
  }

  class PatternProcessor(first: String, second: String, withinMs: Long)
      extends StepProcessor[Long, Event, PatternState, PatternMatch](
        Encoders.product[PatternState], timed = true) {
    override def order(rows: Seq[Event]): Seq[Event] = aThenB(rows, second)
    override def timerOf(s: PatternState): Option[Long] = Some(s.aTsMs + withinMs + 1)
    def step(user: Long, st: Option[PatternState], rows: Seq[Event], wm: Long,
             fired: Boolean): (Option[PatternState], Seq[PatternMatch]) = {
      var s = if (fired) None else st
      val out = rows.flatMap { e =>
        val t = e.ts.getTime
        if (e.event_type == first) {
          if (s.forall(a => t > a.aTsMs || (t == a.aTsMs && e.event_id > a.aEventId)))
            s = Some(PatternState(t, e.event_id))
          None
        } else s.filter(a => t >= a.aTsMs && t - a.aTsMs <= withinMs)
          .map(a => PatternMatch(user, a.aEventId, e.event_id, a.aTsMs, t, t - a.aTsMs))
      }
      (s, out)
    }
  }

  case class TransitionState(lastTsMs: Long, lastEventId: Long, lastType: String)
  case class Transition(user_id: Long, from_type: String, to_type: String,
                        from_event_id: Long, to_event_id: Long, to_ts_ms: Long)

  /** A43-streaming: LIVE session-path transitions — the streaming feed
    * under the `ev_top_paths` / `ev_markov` dashboards: per user, every
    * consecutive event pair inside a session (30-min inactivity gap, the
    * [[sessionized]] boundary) emits one (from_type → to_type) transition
    * the moment the second event arrives; a gap strictly larger than
    * `gapMs` is a session break and starts no transition, exactly the
    * batch operator's island semantics (an event AT the gap still chains).
    *
    * State per user is ONE record (last in-session event) evicted by an
    * event-time timer once the watermark passes last+gap — state tracks
    * ACTIVE sessions only, the A40 discipline. In-batch order follows the
    * batch window's (ts, event_id); an in-watermark cross-batch regression
    * (an event older than the stored last) conservatively starts no
    * transition and never regresses the anchor. */
  def transitionStream(events: Dataset[Event], gapMs: Long = 30L * 60 * 1000,
                       watermark: Option[String] = Some("10 minutes")): Dataset[Transition] = {
    import events.sparkSession.implicits._
    new TransitionProcessor(gapMs).over(
      watermark.fold(events)(w => events.withWatermark("ts", w)).groupByKey(_.user_id))
  }

  class TransitionProcessor(gapMs: Long)
      extends StepProcessor[Long, Event, TransitionState, Transition](
        Encoders.product[TransitionState], timed = true) {
    override def order(rows: Seq[Event]): Seq[Event] = byTime(rows)
    override def timerOf(s: TransitionState): Option[Long] = Some(s.lastTsMs + gapMs + 1)
    def step(user: Long, st: Option[TransitionState], rows: Seq[Event], wm: Long,
             fired: Boolean): (Option[TransitionState], Seq[Transition]) = {
      var s = if (fired) None else st
      val out = rows.flatMap { e =>
        val t = e.ts.getTime
        if (s.exists(t < _.lastTsMs)) None // in-watermark disorder: never regress the anchor
        else {
          val tr = s.filter(t - _.lastTsMs <= gapMs).map(l =>
            Transition(user, l.lastType, e.event_type, l.lastEventId, e.event_id, t))
          s = Some(TransitionState(t, e.event_id, e.event_type))
          tr
        }
      }
      (s, out)
    }
  }

  case class BurstState(counts: Seq[(Long, Long)], nextWin: Long,
                        markerState: Boolean, inIsland: Boolean,
                        sawHot: Boolean, epId: Long, epStartWin: Long,
                        epLastWin: Long, epPeak: Long, epTotal: Long,
                        epWindows: Long)
  case class Burst(event_type: String, burst_id: Long, start_ms: Long,
                   end_ms: Long, n_windows: Long, peak: Long, total: Long)

  /** A45-streaming: LIVE hysteresis burst episodes with ABSOLUTE
    * thresholds (a stream can't know its percentile order statistics up
    * front — `hi`/`lo` are the operational alert levels). Keyed by
    * event_type; open window counts accumulate in state, and a window is
    * fed to the hysteresis machine only once the WATERMARK proves it
    * complete — so an episode is emitted exactly once, when it closes
    * (cold window, window gap, or a finalized-empty successor), with the
    * same id/bounds/peak/total the batch [[graft.operators.EventOps]]
    * islanding assigns (island ids count EVERY state-1 island, including
    * hotless ones that are later dropped — the replay spec pins id
    * parity). An event-time timer at the next window boundary drives
    * finalization through quiet periods; state per type = the open
    * (unfinalized) windows plus one episode record, and the type key set
    * is schema-small, so state never scales with the corpus. */
  def burstStream(events: Dataset[Event], winMs: Long, hi: Long, lo: Long,
                  watermark: Option[String] = Some("10 minutes")): Dataset[Burst] = {
    require(lo <= hi, "lo must sit at or below hi")
    import events.sparkSession.implicits._
    new BurstProcessor(winMs, hi, lo).over(
      watermark.fold(events)(w => events.withWatermark("ts", w)).groupByKey(_.event_type))
  }

  class BurstProcessor(winMs: Long, hi: Long, lo: Long)
      extends StepProcessor[String, Event, BurstState, Burst](
        Encoders.product[BurstState], timed = true) {
    // the next window boundary drives finalization through quiet periods
    override def timerOf(s: BurstState): Option[Long] = Some((s.nextWin + 1L) * winMs)
    def step(tpe: String, st0: Option[BurstState], rows: Seq[Event], wm: Long,
             fired: Boolean): (Option[BurstState], Seq[Burst]) = {
      var st = st0.getOrElse(BurstState(Nil, Long.MinValue, markerState = false,
        inIsland = false, sawHot = false, 0L, 0L, 0L, 0L, 0L, 0L))
      // open window counts (Spark's state schema takes no map)
      var counts = st.counts.toMap
      rows.foreach { e =>
        val w = Math.floorDiv(e.ts.getTime, winMs)
        // windows the watermark already finalized never reopen
        if (st.nextWin == Long.MinValue || w >= st.nextWin)
          counts = counts.updated(w, counts.getOrElse(w, 0L) + 1L)
      }
      val wmWin = Math.floorDiv(wm, winMs)
      val out = Seq.newBuilder[Burst]
      def closeIsland(): Unit = if (st.inIsland) {
        if (st.sawHot)
          out += Burst(tpe, st.epId, st.epStartWin * winMs,
            (st.epLastWin + 1) * winMs, st.epWindows, st.epPeak, st.epTotal)
        st = st.copy(inIsland = false, sawHot = false)
      }
      counts.keys.filter(_ < wmWin).toSeq.sorted.foreach { w =>
        val c = counts(w)
        val marker = if (c >= hi) true else if (c < lo) false else st.markerState
        if (marker) {
          if (!(st.inIsland && w == st.epLastWin + 1)) {
            closeIsland() // a gap among state-1 windows splits islands
            st = st.copy(inIsland = true, sawHot = false, epId = st.epId + 1,
              epStartWin = w, epPeak = 0L, epTotal = 0L, epWindows = 0L)
          }
          st = st.copy(markerState = marker, sawHot = st.sawHot || c >= hi,
            epLastWin = w, epPeak = math.max(st.epPeak, c), epTotal = st.epTotal + c,
            epWindows = st.epWindows + 1L)
        } else {
          closeIsland()
          st = st.copy(markerState = marker)
        }
      }
      // the successor window is finalized and EMPTY: nothing can extend
      // this island any more — close it now, don't wait
      if (st.inIsland && st.epLastWin + 1 < wmWin) closeIsland()
      // epId monotonicity must survive quiet periods: keep the
      // |types|-bounded state alive rather than evict-and-reset ids
      (Some(st.copy(counts = counts.filter(_._1 >= wmWin).toSeq.sorted,
        nextWin = math.max(st.nextWin, wmWin))), out.result())
    }
  }

  case class PendingA(aTsMs: Long, aEventId: Long)
  case class Pending(items: List[PendingA])
  case class Dropout(user_id: Long, a_event_id: Long, a_ts_ms: Long)

  /** A40b-streaming: funnel dropout as a NEGATIVE pattern (Flink CEP's
    * notFollowedBy — the hard half of CEP, since "nothing arrived" is only
    * knowable once event time has provably passed): each A-type event
    * stays pending until a_ts + withinMs; a B-type event at-or-after a
    * pending A within the horizon rescues it (removes it silently); an
    * event-time timer at the earliest pending horizon — which Spark fires
    * only once the WATERMARK passes it — emits every A whose horizon the
    * watermark has passed as a dropout. A late B beyond the horizon does
    * not rescue (matches the batch operator, which reports those as
    * dropouts with the late conversion time).
    *
    * State per user = the As still inside their horizon (bounded by
    * arrival rate × withinMs) and is deleted by the very timers that
    * emit — nothing outlives a_ts + withinMs + watermark delay. Bounded
    * replay emits exactly the batch [[graft.operators.EventOps
    * .patternDropout]] id set (spec). */
  def patternDropoutStream(events: Dataset[Event], first: String = "click",
                           second: String = "purchase",
                           withinMs: Long = 3600L * 1000,
                           watermark: Option[String] = Some("10 minutes")): Dataset[Dropout] = {
    import events.sparkSession.implicits._
    new DropoutProcessor(first, second, withinMs).over(
      watermark.fold(events)(w => events.withWatermark("ts", w))
        .filter(e => e.event_type == first || e.event_type == second)
        .groupByKey(_.user_id))
  }

  class DropoutProcessor(first: String, second: String, withinMs: Long)
      extends StepProcessor[Long, Event, Pending, Dropout](
        Encoders.product[Pending], timed = true) {
    override def order(rows: Seq[Event]): Seq[Event] = aThenB(rows, second)
    override def timerOf(s: Pending): Option[Long] = Some(s.items.map(_.aTsMs).min + withinMs + 1)
    def step(user: Long, st: Option[Pending], rows: Seq[Event], wm: Long,
             fired: Boolean): (Option[Pending], Seq[Dropout]) = {
      var ps = st.fold(List.empty[PendingA])(_.items)
      rows.foreach { e =>
        val t = e.ts.getTime
        if (e.event_type == first) ps :+= PendingA(t, e.event_id)
        else ps = ps.filterNot(p => p.aTsMs <= t && t - p.aTsMs <= withinMs)
      }
      // past the watermark no B can rescue an A any more
      val (dead, alive) = ps.partition(p => fired && p.aTsMs + withinMs + 1 <= wm)
      (Option.when(alive.nonEmpty)(Pending(alive)),
        dead.sortBy(p => (p.aTsMs, p.aEventId)).map(p => Dropout(user, p.aEventId, p.aTsMs)))
    }
  }

  case class Silence(event_type: String, kind: String, at_ms: Long,
                     since_ms: Long)
  case class SilenceState(lastTsMs: Long, alerted: Boolean)

  /** A54 streaming twin: per-type heartbeat-loss monitor — ONE "silence"
    * alert the moment event time provably passes last_ts + silenceMs with
    * nothing arriving (event-time timer, fires post-watermark), and one
    * "recovery" when the type resumes. The alert SET is replay-invariant
    * by construction: a gap wholly inside one micro-batch emits its
    * silence+recovery in-row at the identical timestamps the timer path
    * would have produced, a gap the watermark proves first emits silence
    * via the timer and recovery on resume, and the timer moves with the
    * anchor (a newer event supersedes it) — so a bounded replay equals
    * the batch [[graft.operators.EventOps.silenceAlerts]] report (spec).
    * State = ONE (lastTs, alerted) record per event type — never corpus-
    * or user-scaled. In-watermark disorder: a late event with ts ≤ lastTs
    * never regresses the anchor (the transitionStream discipline). */
  def silenceStream(events: Dataset[Event], silenceMs: Long = 3600000L,
                    watermark: Option[String] = Some("10 minutes")): Dataset[Silence] = {
    import events.sparkSession.implicits._
    new SilenceProcessor(silenceMs).over(
      watermark.fold(events)(w => events.withWatermark("ts", w)).groupByKey(_.event_type))
  }

  class SilenceProcessor(silenceMs: Long)
      extends StepProcessor[String, Event, SilenceState, Silence](
        Encoders.product[SilenceState], timed = true) {
    override def order(rows: Seq[Event]): Seq[Event] = rows.sortBy(_.ts.getTime)
    override def timerOf(s: SilenceState): Option[Long] =
      Option.when(!s.alerted)(s.lastTsMs + silenceMs)
    def step(key: String, st: Option[SilenceState], rows: Seq[Event], wm: Long,
             fired: Boolean): (Option[SilenceState], Seq[Silence]) = {
      var s = st
      val out = Seq.newBuilder[Silence]
      if (fired) s.foreach { c => // the watermark proved the gap
        out += Silence(key, "silence", c.lastTsMs + silenceMs, c.lastTsMs)
        s = Some(c.copy(alerted = true))
      }
      rows.foreach { e =>
        val t = e.ts.getTime
        s = s match {
          case Some(SilenceState(last, alerted)) if t - last > silenceMs =>
            // the gap closed inside this batch: emit what the timer would
            // have (unless it already fired), then the recovery
            if (!alerted) out += Silence(key, "silence", last + silenceMs, last)
            out += Silence(key, "recovery", t, last)
            Some(SilenceState(t, alerted = false))
          case Some(SilenceState(last, alerted)) => Some(SilenceState(math.max(last, t), alerted))
          case None => Some(SilenceState(t, alerted = false))
        }
      }
      (s, out.result())
    }
  }

  case class SeenDay(day_ms: Long, user_id: Long, is_new: Boolean)
  case class FirstSeen(firstDayMs: Long, pending: List[Long])

  /** A64 streaming twin: per-(day, user) new-vs-returning classification
    * emitted exactly once per active day, AT DAY CLOSE (event-time timer
    * at end-of-day, fires once the watermark proves the day complete) —
    * so the verdict is replay-invariant by construction: a user's first
    * day is the minimum day observed so far, and when day D's timer
    * fires every event with ts ≤ end(D) is already reflected in that
    * minimum (later arrivals are beyond the watermark and belong to
    * later days — an admitted event's day is always unclosed). In-batch
    * and cross-batch disorder therefore produce the identical verdict
    * set, equal to the batch [[graft.operators.EventOps.newVsReturning]]
    * grid (spec aggregates and compares). State = ONE (firstDay, open
    * days) record per user — open days are bounded by the watermark
    * horizon; the firstDay long lives for the user's lifetime (the
    * zscoreAlertStream unbounded-churn caveat applies: bound total state
    * by sharding or snapshot trims). The timer sits at the end of the
    * earliest pending day, and a closed day leaves pending, making the
    * emission exactly-once. */
  def firstSeenStream(events: Dataset[Event],
                      watermark: String = "10 minutes"): Dataset[SeenDay] = {
    import events.sparkSession.implicits._
    new FirstSeenProcessor().over(events.withWatermark("ts", watermark).groupByKey(_.user_id))
  }

  class FirstSeenProcessor
      extends StepProcessor[Long, Event, FirstSeen, SeenDay](
        Encoders.product[FirstSeen], timed = true) {
    private val DayMs = 86400000L
    override def timerOf(s: FirstSeen): Option[Long] = s.pending.headOption.map(_ + DayMs)
    def step(user: Long, st: Option[FirstSeen], rows: Seq[Event], wm: Long,
             fired: Boolean): (Option[FirstSeen], Seq[SeenDay]) = {
      val s = st.getOrElse(FirstSeen(Long.MaxValue, Nil))
      if (fired) { // the watermark closed these days
        val (closed, open) = s.pending.partition(_ + DayMs <= wm)
        (Some(s.copy(pending = open)), closed.map(d => SeenDay(d, user, d == s.firstDayMs)))
      } else {
        val days = rows.map(e => Math.floorDiv(e.ts.getTime, DayMs) * DayMs)
        (Some(FirstSeen(math.min(s.firstDayMs, days.min),
          (s.pending ++ days).distinct.sorted)), Nil)
      }
    }
  }

  case class ZAlert(event_id: Long, user_id: Long, ts_ms: Long,
                    value: Double, z: Double)
  case class ZBuffer(values: List[Double])

  /** Streaming form of the batch trailing z-score alert
    * (graft.operators.EventOps.zscoreAlerts): a per-user ring buffer of the
    * last `lookback` values in RocksDB state; each arriving event is scored
    * against the buffer BEFORE joining it. Bit-parity with the batch
    * operator: moments accumulate over the same DECIMAL(28,12)-rounded
    * values (matching Spark's decimal cast), so a bounded replay emits the
    * identical alert set (StreamingSpec). State per key is `lookback`
    * doubles — bounded per key; there is no cross-key TTL here (a
    * processing-time TTL forces continuous no-data micro-batches under the
    * default trigger), so unbounded-churn deployments bound total state by
    * keying on a cohort/shard id or restarting from a trimmed snapshot. */
  def zscoreAlertStream(events: Dataset[Event], lookback: Int = 20,
                        zThreshold: Double = 2.5): Dataset[ZAlert] = {
    import events.sparkSession.implicits._
    new ZScoreProcessor(lookback, zThreshold).over(events.groupByKey(_.user_id))
  }

  class ZScoreProcessor(lookback: Int, zThreshold: Double)
      extends StepProcessor[Long, Event, ZBuffer, ZAlert](Encoders.product[ZBuffer]) {
    override def order(rows: Seq[Event]): Seq[Event] = byTime(rows)

    // DECIMAL(28,12) HALF_UP — the exact value Spark's decimal cast feeds
    // the batch operator's Σx/Σx², so stream and batch agree bit-for-bit
    private def d12(v: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(v).setScale(12, java.math.RoundingMode.HALF_UP)

    def step(user: Long, st: Option[ZBuffer], rows: Seq[Event], wm: Long,
             fired: Boolean): (Option[ZBuffer], Seq[ZAlert]) = {
      // ring buffer as a deque + RUNNING exact-decimal moments: decimal
      // add/subtract is exact, so maintaining Σx and Σx² incrementally
      // (add the arrival, subtract the eviction) is bit-identical to the
      // per-event full recompute it replaces — one O(lookback) rebuild per
      // (key, batch) instead of O(lookback) BigDecimal work per EVENT,
      // which was the measured cost of adding this third stateful operator
      val values = new scala.collection.mutable.ArrayDeque[Double](lookback + 1)
      st.foreach(b => values.appendAll(b.values))
      val zero = java.math.BigDecimal.ZERO
      var s1 = zero; var s2 = zero
      values.foreach { v => s1 = s1.add(d12(v)); s2 = s2.add(d12(v * v)) }
      val out = scala.collection.mutable.ListBuffer[ZAlert]()
      rows.foreach { e =>
        val n = values.length
        if (n >= 2) {
          val s1d = s1.doubleValue
          val variance = (s2.doubleValue - s1d * s1d / n) / (n - 1)
          if (variance > 0.0) {
            val z = BigDecimal((e.value - s1d / n) / math.sqrt(variance))
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (math.abs(z) >= zThreshold)
              out += ZAlert(e.event_id, e.user_id, e.ts.getTime, e.value, z)
          }
        }
        values.append(e.value)
        s1 = s1.add(d12(e.value)); s2 = s2.add(d12(e.value * e.value))
        if (values.length > lookback) {
          val old = values.removeHead()
          s1 = s1.subtract(d12(old)); s2 = s2.subtract(d12(old * old))
        }
      }
      (Some(ZBuffer(values.toList)), out.toList)
    }
  }

  /** Windowed dashboard aggregation (event-time tumbling window). Pass
    * `watermark = None` when the input already carries one (e.g. after
    * [[deduped]]) — Spark disallows redefining it. */
  def windowedCounts(events: DataFrame, watermark: Option[String] = Some("10 minutes"),
                     window: String = "1 hour"): DataFrame =
    watermark.fold(events)(w => events.withWatermark("ts", w))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** A80f: LIVE trailing-window distinct actives — the streaming twin of
    * the batch sliding-distinct family ([[graft.operators.BitmapOps]]
    * bitmapSliding exact / [[graft.operators.Sketches]] hllSliding
    * approximate): sliding event-time windows (`windowDur` every
    * `slideDur`) × event_type, each holding an EXACT mergeable bitmap of
    * user ids in streaming state. What makes this streamable is the same
    * algebra the batch rollup runs — the bitmap aggregate's partials
    * union associatively, so every micro-batch ORs its partial bitmaps
    * into the window's stored buffer; no per-user dedup state, no
    * re-scan. Append mode emits each window exactly once, when the
    * watermark passes its end — the dashboard's closed trailing-7-day
    * actives series. State cost per open window is O(distinct users / 8)
    * bytes (roaring containers), windows/slide windows open per type. */
  def slidingDistinct(events: DataFrame,
                      watermark: Option[String] = Some("10 minutes"),
                      windowDur: String = "7 days",
                      slideDur: String = "1 day"): DataFrame =
    watermark.fold(events)(w => events.withWatermark("ts", w))
      .groupBy(org.apache.spark.sql.functions.window(
          col("ts"), windowDur, slideDur), col("event_type"))
      .agg(graft.functions.BitmapFunctions.bitmapCount(
          graft.functions.BitmapFunctions.bitmapAgg(col("user_id"))).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(unix_millis(col("window.start")).as("win_start_ms"),
        col("event_type"), col("n_users"), col("n_events"))

  /** [[slidingDistinct]] driven through a REAL bounded streaming run over
    * the parquet events (the [[windowedCountsViaStream]] harness shape):
    * stage + sentinel → readStream → dedup → sliding bitmap agg → append
    * memory sink. The sentinel sits `windowDur` + 1 day past the corpus
    * max, so the final no-data micro-batch's watermark passes every REAL
    * window's end (a window containing an event at T ends ≤ day(T) +
    * windowDur) while the sentinel's own windows stay open and never
    * reach the sink. Lets the driver's batch COUNT(DISTINCT) oracle
    * verify the streaming bitmap path end-to-end. */
  def slidingDistinctViaStream(spark: SparkSession, dir: String,
                               windowDays: Int = 7): DataFrame = {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft-slide-stage").toString
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    if (maxTs == null)
      return Seq.empty[(Long, String, Long, Long)]
        .toDF("win_start_ms", "event_type", "n_users", "n_events")
    // sentinel user_id 0, not -1: its windows never close (nothing of it
    // reaches the sink) but the bitmap aggregate still BUFFERS the row,
    // and the roaring containers require non-negative ids
    val sentinel = Seq((-1L,
      new Timestamp(maxTs.getTime + (windowDays + 1) * 24L * 3600 * 1000),
      0L, "watermark_sentinel", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    ev.unionByName(sentinel).write.mode("overwrite").parquet(stage)
    val in = spark.readStream.schema(eventSchema).parquet(stage)
    val counts = slidingDistinct(deduped(in, "10 minutes"), watermark = None,
      windowDur = s"$windowDays days", slideDur = "1 day")
    val name = s"stream_sliding_${System.nanoTime()}"
    val q = counts.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).collect().toSeq // bounded: windows × types
    val schema = spark.table(name).schema
    spark.catalog.dropTempView(name)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(stage)).iterator.asScala
      .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Latest-value-per-key as an arbitrary-state streaming operator (the
    * reference's `SET event:{id}` as keyed state). Emits an update row
    * whenever a key's latest value changes. */
  def latestPerKey(events: Dataset[Event]): Dataset[KeyLatest] = {
    import events.sparkSession.implicits._
    new LatestProcessor().over(events.groupByKey(_.user_id), OutputMode.Update)
  }

  case class KeyLatest(user_id: Long, ts_ms: Long, event_id: Long, value: Double)

  /** StatefulProcessor keeping the max-(ts, event_id) event per key. (A
    * production deployment would add an event-time timer for Redis-like key
    * expiry; no timer keeps bounded test runs quiescent.) */
  class LatestProcessor
      extends StepProcessor[Long, Event, KeyLatest, KeyLatest](Encoders.product[KeyLatest]) {
    def step(user: Long, prev: Option[KeyLatest], rows: Seq[Event], wm: Long,
             fired: Boolean): (Option[KeyLatest], Option[KeyLatest]) = {
      val newest = (rows.map(e => KeyLatest(user, e.ts.getTime, e.event_id, e.value)) ++
        prev).maxBy(k => (k.ts_ms, k.event_id))
      (Some(newest), Option.when(!prev.contains(newest))(newest))
    }
  }

  /** Streaming sessionization: native session windows with an inactivity
    * gap (state evicted by watermark — bounded per active user). */
  def sessionized(events: DataFrame, gap: String = "30 minutes",
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Rule-based alert stream (errors above threshold → notification rows). */
  def alerts(events: DataFrame, threshold: Double = 150.0): DataFrame =
    events.filter(col("event_type") === "error" && col("value") >= threshold)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        when(col("value") >= 180.0, "critical").otherwise("warning").as("level"))

  /** Latest-value-per-key upsert sink via foreachBatch — the Redis
    * `SET event:{id}` store. Each micro-batch reduces to one (key, latest
    * value) row per distinct key, then EXECUTORS write partition-wise into
    * the named store ([[StoreRegistry]]): no collect, no driver bottleneck —
    * the write path scales with partitions, not key cardinality. */
  def upsertQuery(events: DataFrame, storeName: String,
                  checkpoint: String): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.groupBy(col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("last"))
          .select(col("user_id"), col("last.value").as("value"))
          .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
            val store = StoreRegistry.mapFor(storeName) // per-partition client
            rows.foreach(r => store.put(r.getAs[Long]("user_id"), r.getAs[Double]("value")))
          }
      }
      .start()

  /** Live top-k leaderboard: per-micro-batch ranking of cumulative per-user
    * counts into a shared store — the dashboard's "most active users" tile
    * (complete-mode aggregation, rank computed per refresh like the UI
    * would). */
  def topUsersQuery(events: DataFrame, store: java.util.concurrent.ConcurrentHashMap[Long, Long],
                    k: Int, checkpoint: String): StreamingQuery =
    events.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .writeStream
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val top = batch.orderBy(col("n_events").desc, col("user_id")).limit(k).collect()
        // put-then-retain (never clear-then-put): a concurrent dashboard
        // read sees old or new entries mid-refresh, never an empty board
        val fresh = new java.util.HashMap[Long, Long]()
        top.foreach(r => fresh.put(r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
        store.putAll(fresh)
        store.keySet.retainAll(fresh.keySet)
        ()
      }
      .start()

  /** A55: per-window trending top-k — the Flink "windowed top-N" shape
    * and the finalized-history complement of [[topUsersQuery]]'s live
    * cumulative board: for each watermark-CLOSED tumbling window, the k
    * most active users, appended once to a replayable parquet history.
    * The append-mode windowed agg emits a window's rows exactly once at
    * close, so the rank inside foreachBatch only ever sees COMPLETE
    * windows (no retraction handling); ranking partitions by window over
    * the batch's summary-sized counts (count desc, user_id tie-break).
    * Several windows closing in one micro-batch rank independently. */
  def trendingQuery(events: DataFrame, outDir: String, checkpoint: String,
                    k: Int = 5, watermark: String = "10 minutes",
                    window: String = "1 hour"): StreamingQuery = {
    val counts = events.withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("user_id"), col("n"))
    counts.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val byWin = org.apache.spark.sql.expressions.Window
          .partitionBy("window_start").orderBy(col("n").desc, col("user_id"))
        batch.withColumn("rnk", row_number().over(byWin))
          .filter(col("rnk") <= k)
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
  }

  /** A69 streaming twin: live multiwindow SLO burn monitor — hourly
    * (n_total, n_err) tumbling windows close exactly once at the
    * watermark (append mode); foreachBatch appends each closed hour to a
    * compact parquet hour-history, then evaluates the 1h/6h burns for
    * ONLY the newly closed hours against that history and appends alert
    * rows. Replay-invariant + exactly-once by construction: the
    * watermark is monotone, so when hour H closes every predecessor
    * hour has closed in this or an earlier batch — the history (written
    * BEFORE the read, covering same-batch earlier hours) always contains
    * the full 6-hour frame that exists; each hour closes once, so it is
    * appended and evaluated once. The alert predicate is the batch
    * [[graft.operators.EventOps.sloBurn]] arithmetic verbatim (exact
    * longs + the fixed divide sequence), so a bounded replay's alert set
    * equals the batch report over the closed hours (spec). */
  def sloBurnStream(events: DataFrame, historyDir: String, alertsDir: String,
                    checkpoint: String, budget: Double = 0.2,
                    thFast: Double = 1.2, thSlow: Double = 1.0,
                    watermark: String = "10 minutes"): StreamingQuery = {
    val hourly = events.withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("event_type") === "error", lit(1))).as("n_err"))
      .select((unix_millis(col("window.start").cast("timestamp"))
        / lit(3600000L)).cast("long").as("hr"),
        col("n_total"), col("n_err"))
    hourly.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val closed = batch.select("hr", "n_total", "n_err")
          closed.write.mode("append").parquet(historyDir)
          val bounds = closed.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi")).head()
          val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
          val hist = spark.read.parquet(historyDir)
            .filter(col("hr") >= lo - 5 && col("hr") <= hi)
          val w6 = org.apache.spark.sql.expressions.Window
            .orderBy("hr").rangeBetween(-5, 0)
          hist
            .withColumn("err6", sum(col("n_err")).over(w6))
            .withColumn("total6", sum(col("n_total")).over(w6))
            .filter(col("hr") >= lo) // evaluate only the newly closed hours
            .withColumn("burn_1h", expr(
              s"CAST(n_err AS DOUBLE) / CAST(n_total AS DOUBLE) / CAST($budget AS DOUBLE)"))
            .withColumn("burn_6h", expr(
              s"CAST(err6 AS DOUBLE) / CAST(total6 AS DOUBLE) / CAST($budget AS DOUBLE)"))
            .filter(col("burn_1h") > thFast && col("burn_6h") > thSlow)
            .select((col("hr") * 3600000L).as("hour_ms"), col("n_err"),
              col("n_total"), col("err6"), col("total6"),
              col("burn_1h"), col("burn_6h"))
            .write.mode("append").parquet(alertsDir)
        }
        ()
      }
      .start()
  }

  /** Memory-sink query for tests/dashboards (the WebSocket fan-out stand-in). */
  def toMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** Bounded end-to-end run of the PRODUCTION streaming pipeline over the
    * events table: stages the events as a file-source dir, streams
    * [[deduped]] (watermark + dropDuplicatesWithinWatermark — the operator
    * users run, not a Complete-mode stand-in) → hourly [[windowedCounts]]
    * into an Append-mode memory sink, returns the final table. Lets the
    * DRIVER's batch SQL oracle verify the STREAMING execution path.
    *
    * Append mode only emits a window once the watermark passes its end, so
    * the replay adds ONE sentinel event 2 hours past the corpus max: the
    * final no-data micro-batch then finalizes every real window, while the
    * sentinel's own window stays open and never reaches the sink. */
  def windowedCountsViaStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-stage").toString
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    if (maxTs == null) // empty table: no windows, no sentinel — empty result
      return Seq.empty[(Long, String, Long, Double)]
        .toDF("window_start_ms", "event_type", "n_events", "sum_value")
    val sentinel = Seq((-1L, new Timestamp(maxTs.getTime + 2L * 3600 * 1000),
      -1L, "watermark_sentinel", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    ev.unionByName(sentinel).write.mode("overwrite").parquet(stage)
    val in = spark.readStream.schema(eventSchema).parquet(stage)
    val counts = windowedCounts(deduped(in, "10 minutes"), watermark = None)
      .select(unix_millis(col("window_start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("sum_value"))
    val name = s"stream_counts_${System.nanoTime()}"
    val q = counts.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    // materialize into a plain local frame, then release everything the
    // bounded run allocated (repeated verification calls must not
    // accumulate staging dirs, temp views, or cached blocks)
    val rows = spark.table(name).collect().toSeq // bounded: windows × types
    val schema = spark.table(name).schema
    spark.catalog.dropTempView(name)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(stage)).iterator.asScala
      .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** A90 streaming twin: the LIVE Holt–Winters forecast — daily tumbling
    * windows close exactly once at the watermark (append mode, the A69
    * sloBurnStream discipline); foreachBatch appends each closed
    * (type, day, count) to a compact parquet day-history, then re-runs
    * the BATCH A90 fold over that history (horizon-sized — the fold is
    * model-as-summary, so the recompute costs nothing at any corpus
    * size) and OVERWRITES the forecast table. Replay-invariant +
    * exactly-once by construction: the watermark is monotone so each day
    * lands once, and the recompute reads the full closed-day history —
    * after a bounded replay the forecast table is BIT-EQUAL to
    * [[graft.operators.EventOps.hwForecast]] over the closed days (the
    * spec's oracle: one recurrence, two transports). */
  def hwForecastStream(events: DataFrame, historyDir: String,
                       outDir: String, checkpoint: String,
                       watermark: String = "0 seconds"): StreamingQuery = {
    val daily = events.withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 day"),
        col("event_type"))
      .agg(count(lit(1)).as("y"))
      .select(expr("unix_millis(window.start) div 86400000").as("day_idx"),
        col("event_type"), col("y"))
    daily.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          batch.write.mode("append").parquet(historyDir) // each day lands once
          val hist = batch.sparkSession.read.parquet(historyDir)
            .select(col("event_type"), col("day_idx"), col("y"))
          graft.operators.EventOps
            .hwFromDense(graft.operators.EventOps.denseFromDaily(hist))
            .write.mode("overwrite").parquet(outDir)
        }
        ()
      }
      .start()
  }

  case class HeavyHitter(event_type: String, rank: Int, user_id: Long,
                         est: Long, lo: Long, n: Long)

  /** A89 streaming twin: LIVE per-type heavy hitters — the "top users
    * right now" dashboard tile, maintained in BOUNDED streaming state (one
    * ≤ capacity-entry SpaceSaving sketch per event type — the state the
    * exact A9 top-k can't stream, because exact per-user counts grow with
    * the user population). Each trigger folds the micro-batch into the
    * type's sketch (deterministic in-batch order: (ts, event_id)) and
    * re-emits that type's current top-k with upper/lower bounds and the
    * stream length n (update mode — a tile overwrite, not a changelog).
    * The sketch state is the SAME serialized form the batch aggregate
    * persists, so the stream's answer after a bounded replay equals a
    * single-buffer batch sketch over the identical prefix — in the
    * under-capacity regime that is the EXACT per-type top-k, which is the
    * spec's oracle. No timer: heavy-hitter state is the product, not a
    * session — m entries per type forever. */
  def heavyHittersStream(events: Dataset[Event], k: Int = 10,
                         capacity: Int = 64): Dataset[HeavyHitter] = {
    import events.sparkSession.implicits._
    import graft.functions.SpaceSaving
    new StepProcessor[String, Event, Array[Byte], HeavyHitter](Encoders.BINARY) {
      override def order(rows: Seq[Event]): Seq[Event] = byTime(rows)
      def step(tpe: String, st: Option[Array[Byte]], rows: Seq[Event], wm: Long,
               fired: Boolean): (Option[Array[Byte]], Seq[HeavyHitter]) = {
        val s = st.fold(new SpaceSaving(capacity))(SpaceSaving.deserialize)
        rows.foreach(e => s.add(e.user_id))
        (Some(s.serialize()), s.sorted().take(k).zipWithIndex.toSeq.map {
          case ((key, c, err), i) => HeavyHitter(tpe, i + 1, key, c, c - err, s.total) })
      }
    }.over(events.groupByKey(_.event_type), OutputMode.Update)
  }

  case class LiveQuantile(event_type: String, n: Long,
                          value_p50: Double, value_p95: Double)

  /** A96 streaming twin: LIVE per-type value quantiles — the "p95 right
    * now" latency/spend tile, maintained in BOUNDED streaming state (one
    * A96 KLL ladder per type: k·log(n/k) doubles however long the stream
    * runs — the same reason the A89 twin carries SpaceSaving rather than
    * exact per-user counts). Every trigger folds its batch in event-time
    * order (ts, event_id — deterministic replay) and emits the type's
    * refreshed (n, p50, p95); Update mode, serving-table semantics. In
    * the exact regime (stream length ≤ capacity) the emitted quantiles
    * equal the batch A27 rank rule over everything seen — the spec's
    * cross-transport gate; past capacity the ladder degrades exactly as
    * the batch A96 does. */
  def quantileStream(events: Dataset[Event],
                     capacity: Int = 256): Dataset[LiveQuantile] = {
    import events.sparkSession.implicits._
    import graft.functions.KllDoubles
    new StepProcessor[String, Event, Array[Byte], LiveQuantile](Encoders.BINARY) {
      override def order(rows: Seq[Event]): Seq[Event] = byTime(rows)
      def step(tpe: String, st: Option[Array[Byte]], rows: Seq[Event], wm: Long,
               fired: Boolean): (Option[Array[Byte]], Seq[LiveQuantile]) = {
        val s = st.fold(new KllDoubles(capacity))(KllDoubles.deserialize)
        rows.foreach(e => s.add(e.value))
        (Some(s.serialize()), Seq(LiveQuantile(tpe, s.total, s.quantile(0.5), s.quantile(0.95))))
      }
    }.over(events.groupByKey(_.event_type), OutputMode.Update)
  }

  case class LiveDistinct(event_type: String, distinct_users: Double,
                          retained: Long)

  /** A101s streaming twin: LIVE per-type distinct users — the "uniques
    * right now" dashboard tile in BOUNDED streaming state (one A101 theta
    * sketch per type: ≤ capacity hashes however long the stream runs —
    * where the A80f roaring-bitmap form is exact but grows with the user
    * base, this is the fixed-footprint trade, and past capacity it
    * degrades exactly as the batch sketch does). Keys hash through the
    * SAME xxhash64(seed 42) Spark's own expression applies to a LongType
    * column, so in the exact regime the stream's state is BYTE-compatible
    * with the batch build and the emitted estimate equals batch
    * COUNT(DISTINCT) over everything seen — the spec's cross-transport
    * gate. Set semantics make the fold order-insensitive (no event-time
    * sort needed for determinism, unlike the KLL twin). Update mode,
    * serving-table semantics. */
  case class EventDistinct(event_id: Long, ts: java.sql.Timestamp,
                           user_id: Long, event_type: String, value: Double,
                           live_distinct: Double)

  /** A101s pass-through form: every event flows on ENRICHED with its
    * type's live distinct-user estimate (the same per-type theta state as
    * [[thetaStream]]) — the chain-friendly shape that slots INSIDE a
    * topology (dedup → rate-limit → THIS → alerts), where the emit-one-
    * row-per-type form terminates it. An alert consumer downstream reads
    * "z-spike while the type has N live uniques" off one stream. The
    * estimate an event carries is the type's value as of its trigger
    * (all of a trigger's events see the post-fold estimate — a serving
    * read, not a per-row causal cut). */
  def distinctEnrichedStream(events: Dataset[Event],
                             capacity: Int = 1 << 14): Dataset[EventDistinct] = {
    import events.sparkSession.implicits._
    new StepProcessor[String, Event, Array[Byte], EventDistinct](Encoders.BINARY) {
      def step(tpe: String, st: Option[Array[Byte]], rows: Seq[Event], wm: Long,
               fired: Boolean): (Option[Array[Byte]], Seq[EventDistinct]) = {
        val s = thetaFold(st, capacity, rows)
        (Some(s.serialize()), rows.map(e =>
          EventDistinct(e.event_id, e.ts, e.user_id, e.event_type, e.value, s.estimate)))
      }
    }.over(events.groupByKey(_.event_type))
  }

  def thetaStream(events: Dataset[Event],
                  capacity: Int = 1 << 14): Dataset[LiveDistinct] = {
    import events.sparkSession.implicits._
    new StepProcessor[String, Event, Array[Byte], LiveDistinct](Encoders.BINARY) {
      def step(tpe: String, st: Option[Array[Byte]], rows: Seq[Event], wm: Long,
               fired: Boolean): (Option[Array[Byte]], Seq[LiveDistinct]) = {
        val s = thetaFold(st, capacity, rows)
        (Some(s.serialize()), Seq(LiveDistinct(tpe, s.estimate, s.size.toLong)))
      }
    }.over(events.groupByKey(_.event_type), OutputMode.Update)
  }

  /** A type's theta sketch with `rows`' users folded in. */
  private def thetaFold(st: Option[Array[Byte]], capacity: Int,
                        rows: Seq[Event]): graft.functions.ThetaSet = {
    val s = st.fold(new graft.functions.ThetaSet(capacity))(graft.functions.ThetaSet.deserialize)
    rows.foreach(e => s.add(org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(e.user_id, 42L)))
    s
  }
}
