package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.Tables

/** Streaming surface over the `events` table. The reference is batch-only
  * (SURVEY.md §2.10), so this is pure extension: the same event-time
  * windowed aggregation is exposed twice —
  *
  *  - batch (`windowedCounts`): `window()` tumbling aggregation, oracle-
  *    checkable against DuckDB `time_bucket`;
  *  - streaming (`streamingWindowedCounts`): identical plan over
  *    `readStream` with a watermark — Structured Streaming runs the same
  *    Catalyst plan incrementally, so batch-verified semantics carry over.
  *
  * Sessionization also comes in both shapes: a declarative lag/cumsum
  * sessionizer (oracle-checkable SQL) and a `flatMapGroupsWithState`
  * implementation holding per-user state — the building block for
  * arbitrary custom streaming state at scale (state is partitioned by
  * user_id across executors; each group's state is O(1)).
  */
object Events {

  val SessionGapSeconds = 1800L

  /** st1: tumbling 1-hour event-time windows per event type. */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** st5: per-window top-k — rank event types inside each tumbling hour
    * by count and keep the top 3: the "trending now" aggregation. Batch
    * form ranks over the windowed aggregate (the window function runs on
    * window-start keys, ~rows/3600 of the input, after the time-window
    * groupBy's map-side combine); the streaming form of the same
    * aggregate runs in complete output mode with the rank applied per
    * emitted result set (StreamingSpec).
    */
  def windowTopTypes(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byWindow = Window.partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("event_type").asc)
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))
      .withColumn("rnk", row_number().over(byWindow).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy(col("window_start"), col("rnk"))
  }

  /** st6: first-occurrence event dedup — keep each (user_id, event_type)
    * key's EARLIEST event (event-time order, event_id tie-break) and report
    * how many duplicates it shadowed. The at-least-once ingestion repair
    * every event pipeline runs before aggregation: upstream retries and
    * replayed batches surface as duplicate keys, and the first occurrence
    * is the canonical one.
    *
    * Batch form: one shuffle on the dedup key; `min_by` rides the hash
    * aggregate's map-side combine (no per-key window sort — the combiner
    * keeps one (ts, event_id)-minimal row per key per partition, so the
    * exchange carries keys, not events). The streaming form
    * ([[streamingEventDedup]]) is `dropDuplicatesWithinWatermark` on the
    * same key: state is bounded by the watermark horizon instead of the
    * key space — the 100 TB/day shape — and StreamingSpec asserts it emits
    * exactly this batch result's key set when arrivals respect event-time
    * order.
    */
  def eventDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        struct(col("ts"), col("event_id")).as("arrival"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("arrival")).as("first"),
        count(lit(1)).cast("long").as("n_events"))
      .select(col("user_id"), col("event_type"),
        col("first.ts").as("first_ts"),
        col("first.event_id").as("first_event_id"),
        (col("n_events") - 1L).cast("long").as("n_dups"))
      .orderBy(col("user_id"), col("event_type"))

  /** st2: gap-based sessionization, declarative form — new session when the
    * gap to the previous event of the same user exceeds 30 minutes; session
    * id = running count of session starts. One shuffle (user_id), two
    * window passes over it.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val ev = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > SessionGapSeconds,
          1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    ev.groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      // E12 TIMESTAMPDIFF(MINUTE, …) parity (tripdata_monthly_metrics.py:71)
      .withColumn("duration_min",
        expr("timestampdiff(MINUTE, session_start, session_end)").cast("long"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** q56: daily bounce rate — sessions rolled up per calendar day with
    * the single-event ("bounce") share, mean session duration, and total
    * session value. The engagement KPI every event pipeline publishes on
    * top of its sessionizer; built directly on [[sessionize]]'s output so
    * the session definition (30-min gap, (ts, event_id) order) can never
    * drift between the KPI and the session table. Adds one day-keyed
    * hash aggregate over the session table (rows ≈ sessions, far below
    * events) — nothing touches the event corpus a second time.
    */
  def bounceRate(spark: SparkSession, dir: String): DataFrame =
    sessionize(spark, dir)
      .groupBy(to_date(col("session_start")).as("day"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_bounces"),
        round(avg(col("duration_min")) + 1e-9, 4).as("avg_duration_min"),
        round(sum(col("total_value")), 2).as("total_value"))
      .withColumn("bounce_rate",
        round(col("n_bounces").cast("double") / col("n_sessions") + 1e-9, 6))
      .orderBy(col("day"))

  /** st4: native session windows — the same gap-based sessionization as
    * [[sessionize]] via Spark's built-in `session_window` (which also runs
    * incrementally over a stream with merging session state, unlike the
    * lag/cumsum form). A session window ends gap after its last event, so
    * `window.end - gap` recovers the last event time; equality with the
    * declarative sessionizer is both oracle-checked and test-pinned.
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        (col("w.end") - expr("INTERVAL 30 MINUTES")).as("session_end"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** st3: sliding windows — 2-hour windows advancing every 30 minutes;
    * each event lands in 4 overlapping windows (Spark expands via its
    * window generator; the oracle enumerates the same 4 offsets).
    */
  def slidingWindowCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** q4b: daily conditional pivot per event type — date grain (the events
    * fixture spans one month, so the monthly metrics query has one group;
    * this is the same A1/A6 shape at a useful grain).
    */
  def dailyTypePivot(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val types = Seq("click", "view", "purchase", "signup", "error")
    val cols = types.flatMap { t =>
      Seq(
        count(when(col("event_type") === t, lit(1))).cast("long").as(s"n_$t"),
        round(sum(when(col("event_type") === t, col("value")).otherwise(0.0)), 2)
          .as(s"val_$t"))
    }
    ev.groupBy(to_date(col("ts")).as("day"))
      .agg(cols.head, cols.tail: _*)
      .orderBy(col("day"))
  }

  /** q20: as-of join via the custom operator (graft.plans.AsOfJoin) — each
    * event matched to the latest signup of the same user at-or-before its
    * timestamp. One co-partitioning exchange per side, linear merge.
    */
  def asofSignup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
    graft.plans.AsOfJoin.asof(spark, ev, signups,
        col("user_id"), col("s_user"), col("ts"), col("signup_ts"))
      .select(col("event_id"), col("user_id"), col("ts"), col("signup_ts"),
        expr("timestampdiff(SECOND, signup_ts, ts)").cast("long")
          .as("secs_since_signup"))
      .orderBy(col("event_id"))
  }

  /** q45: tolerance-bounded as-of — q20's alignment, but a signup only
    * matches if it happened within the last hour (`within` on the custom
    * operator, microsecond units for timestamp on-keys). The guard every
    * sensor/trade alignment needs: without it, a stale quote from hours
    * ago silently matches. Same one-exchange-per-side sort-merge plan.
    */
  def asofSignupWithin(spark: SparkSession, dir: String): DataFrame = {
    val tolMicros = 3600L * 1000000L
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
    graft.plans.AsOfJoin.asof(spark, ev, signups,
        col("user_id"), col("s_user"), col("ts"), col("signup_ts"),
        within = Some(tolMicros))
      .select(col("event_id"), col("user_id"), col("ts"), col("signup_ts"),
        expr("timestampdiff(SECOND, signup_ts, ts)").cast("long")
          .as("secs_since_signup"))
      .orderBy(col("event_id"))
  }

  /** q29: time-range join, bucketized — for every purchase, the count of
    * the same user's clicks in the preceding 30 minutes. A naive range
    * join is a theta-join (quadratic per user); bucketing both sides into
    * range-width buckets and probing bucket b and b-1 turns it into two
    * equi-join lookups per purchase — linear, shuffle-partitioned on
    * (user, bucket), the only interval-join shape that survives 100 TB.
    * The exact range predicate then filters the candidate pairs.
    */
  def purchasesWithRecentClicks(spark: SparkSession, dir: String): DataFrame = {
    val windowSec = 1800L
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"),
        floor(unix_timestamp(col("ts")) / windowSec).as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val probes = purchases
      .withColumn("pbucket", floor(unix_timestamp(col("ts")) / windowSec))
      .withColumn("bucket",
        explode(array(col("pbucket"), col("pbucket") - 1)))
    val counted = probes
      .join(clicks, Seq("user_id", "bucket"))
      .filter(col("cts") >= col("ts") - expr("INTERVAL 30 MINUTES") &&
        col("cts") < col("ts"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).cast("long").as("n"))
    purchases.join(counted, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        coalesce(col("n"), lit(0L)).as("n_recent_clicks"))
      .orderBy(col("event_id"))
  }

  /** q35: conversion funnel — per user, the first click and the first
    * purchase at-or-after it, with conversion flag and time-to-convert.
    * Two filtered aggregates + one shuffle on user_id; the "sequence"
    * semantics (purchase must follow the click) ride the join predicate,
    * not a per-user sort — the funnel shape that scales to billions of
    * events per day.
    */
  def clickToPurchaseFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_click"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    firstClick
      .join(purchases,
        col("user_id") === col("pu") && col("pts") >= col("first_click"), "left")
      .groupBy(col("user_id"), col("first_click"))
      .agg(min(col("pts")).as("first_purchase_after"))
      .select(col("user_id"), col("first_click"), col("first_purchase_after"),
        col("first_purchase_after").isNotNull.as("converted"),
        expr("timestampdiff(SECOND, first_click, first_purchase_after)")
          .cast("long").as("secs_to_convert"))
      .orderBy(col("user_id"))
  }

  /** q40: FORWARD as-of join — each event matched to the EARLIEST signup
    * of the same user at-or-after its timestamp. Reuses the backward
    * as-of operator ([[graft.plans.AsOfJoin]]) by order reversal: run it
    * on negated epoch micros (greatest -t' <= -t  ⟺  smallest t' >= t),
    * so one physical operator serves both directions — same single
    * co-partitioning exchange per side, same linear merge.
    */
  def asofNextSignup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        (-unix_micros(col("ts"))).as("neg_ts"))
    val signups = Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"),
        (-unix_micros(col("ts"))).as("neg_sts"))
    graft.plans.AsOfJoin.asof(spark, ev, signups,
        col("user_id"), col("s_user"), col("neg_ts"), col("neg_sts"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("signup_ts").as("next_signup_ts"),
        expr("timestampdiff(SECOND, ts, signup_ts)").cast("long")
          .as("secs_until_signup"))
      .orderBy(col("event_id"))
  }

  /** q47: event-transition matrix — per-user next-event via `lead`, then
    * global (from → to) counts with each cell's share of its source type:
    * the Markov-chain view of user journeys (the generalization of q35's
    * fixed click→purchase funnel to ALL transitions). One exchange on
    * user_id for the window, one tiny aggregate; at 100 TB the window key
    * is the shuffle key and AQE splits hot users.
    */
  /** q53's |z| alert threshold — interpolated into the DuckDB twin, and
    * compared on the 4dp-ROUNDED z-score (the cross-engine boundary pin).
    */
  val AnomalyZThreshold = 2.0

  /** q53: hourly volume anomaly detection — for each event type, hours
    * whose event count sits ≥ `AnomalyZThreshold` population standard
    * deviations from that type's hourly mean. The operational monitoring
    * query every event pipeline runs: traffic spikes, outage troughs, and
    * bot bursts all surface as |z| ≥ 2 hours.
    *
    * Two shuffles, both tiny after map-side combine: (type, hour) counts
    * — bounded by types × hours, not events — then per-type moments
    * broadcast back onto the hour rows. Sums are over exact integers, so
    * mean and σ are bit-identical cross-engine before the one rounded
    * division; the alert binds on the ROUNDED z like s9's radius.
    */
  def hourlyAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).cast("long").as("n_events"))
    val moments = hourly.groupBy(col("event_type"))
      .agg(avg(col("n_events")).as("mean_events"),
        stddev_pop(col("n_events")).as("sd"))
    hourly.join(broadcast(moments), "event_type")
      .withColumn("z",
        round((col("n_events") - col("mean_events")) / col("sd") + 1e-9, 4))
      .filter(abs(col("z")) >= AnomalyZThreshold)
      .select(col("event_type"), col("hour"), col("n_events"),
        round(col("mean_events") + 1e-9, 4).as("mean_events"), col("z"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** q50: cohort retention — users cohorted by their FIRST active day,
    * then per (cohort_day, day_offset) the distinct-user count and the
    * retention share of the cohort. The product-analytics workhorse the
    * reference's dashboard layer would ask of any event store.
    *
    * Scale shape: one (user)-keyed aggregate for the cohort assignment,
    * one (user, day) distinct (both plain hash shuffles with map-side
    * partials), then the (cohort, offset) rollup whose output is
    * calendar-bounded (days², tiny forever) — joined back against the
    * offset-0 row as a broadcast. Nothing here holds per-user state
    * beyond the shuffle, and no window function appears at all, so there
    * is no single-partition collapse risk at any corpus size.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    // (user, day) distinct first: each user contributes once per active
    // day, so the rollup's count(*) IS the distinct-user count
    val active = ev.distinct()
    val grid = active.join(firstDay, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).cast("long").as("n_users"))
    val cohortN = grid.filter(col("day_offset") === 0L)
      .select(col("cohort_day"), col("n_users").as("cohort_n"))
    grid.join(broadcast(cohortN), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_users"),
        round(col("n_users").cast("double") / col("cohort_n") + 1e-9, 4)
          .as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  def eventTransitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val wType = Window.partitionBy(col("event_type"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).cast("long").as("n_transitions"))
      .withColumn("pct_of_type",
        round(col("n_transitions").cast("double") /
          sum(col("n_transitions")).over(wType) * 100.0 + 1e-9, 4))
      .orderBy(col("event_type"), col("next_type"))
  }

  /** q43: CDC-style "keep latest per key" — the change-log compaction
    * every mutable-source ingest needs: rank each (user, event_type)
    * group's records by recency (event_id tiebreak) and keep the newest.
    * One shuffle; at 100 TB this is the same plan with the window key as
    * the shuffle key, and AQE splits skewed users.
    */
  def latestEventPerKey(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("latest_ts"), round(col("value"), 2).as("latest_value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q21: JSON property extraction from the string `props` column. */
  def jsonPropStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        round(avg(col("k")), 4).as("avg_k"),
        sum(col("k")).cast("long").as("sum_k"),
        count(col("k")).cast("long").as("n_with_k"))
      .orderBy(col("event_type"))
  }

  /** The streaming twin of [[windowedCounts]]: parquet file source,
    * watermark at the DERIVED delay ([[twinDelayUs]] — the d26 corpus
    * dial ∨ the file source's own arrival-granularity dial, not a pinned
    * literal; r11 verdict #2), append mode. Drive with
    * `.writeStream.format("memory")` + `processAllAvailable()` in tests.
    */
  def streamingWindowedCounts(spark: SparkSession, dir: String,
                              delayUs: Option[Long] = None): DataFrame = {
    eventsStream(spark, dir)
      .withWatermark("ts",
        watermarkDelayString(delayUs.getOrElse(twinDelayUs(spark, dir))))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** st6's dedup-state horizon: how STALE an upstream at-least-once
    * replay can be and still be recognized as a duplicate. Unlike the
    * other twins' watermark delays this is not corpus-disorder sizing
    * (d26's dial) but a pipeline contract — the retry window of the
    * producer — so it stays a named semantic constant rather than a
    * derived value.
    */
  val DedupReplayHorizon = "2 hours"

  /** Streaming deduplication — the streaming face of the dedup family:
    * drop repeated (user_id, event_type) pairs, keeping state only for
    * the [[DedupReplayHorizon]] (bounded state at 100 TB/day; plain
    * streaming dropDuplicates would grow state forever).
    */
  def streamingDedup(spark: SparkSession, dir: String,
                     horizon: String = DedupReplayHorizon): DataFrame = {
    eventsStream(spark, dir)
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("ts"))
  }

  /** Shared streaming events source. Probes the physical encoding through
    * the batch reader and mirrors [[Tables.events]]' normalization branch:
    * nanos-as-long generations rebuild µs timestamps, TIMESTAMP(MICROS)
    * generations (landed as NTZ) cast into the UTC-pinned session TZ.
    * The glob matters: file sources monitor dirs/globs, not single files.
    */
  private[graft] def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val physical = spark.read.parquet(Tables.path(dir, "events")).schema
    val raw = spark.readStream.schema(physical).parquet(s"$dir/events*.parquet")
    physical("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Stream-stream interval join — the streaming twin of the q29 range
    * join: purchases joined to the same user's clicks in the preceding 30
    * minutes. Both sides carry watermarks and the join condition bounds
    * event time on both sides, so Spark can expire state: per-key buffers
    * hold at most (watermark + range) of history — bounded state at any
    * throughput, the only stream-stream join shape that survives an
    * unbounded 100 TB/day feed. Verified in StreamingSpec against the
    * batch theta-join pair count.
    */
  def streamingPurchaseClickJoin(spark: SparkSession, dir: String,
                                 delayUs: Option[Long] = None): DataFrame = {
    val d = watermarkDelayString(
      delayUs.getOrElse(twinDelayUs(spark, dir)))
    val src = eventsStream(spark, dir)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("pu"), col("ts").as("pts"))
      .withWatermark("pts", d)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
      .withWatermark("cts", d)
    purchases.join(clicks,
      expr("pu = cu AND cts >= pts - INTERVAL 30 MINUTES AND cts < pts"))
      .select(col("event_id"), col("pu").as("user_id"), col("pts"), col("cts"))
  }

  /** Streaming → JDBC via foreachBatch — the production pattern for
    * landing a stream in a database: each micro-batch is appended with its
    * rows filtered to keys not yet present (idempotent under batch
    * replay, which foreachBatch permits after a restart — the sink must
    * tolerate at-least-once batch delivery). Partitioned writes inside
    * the batch go through the normal JDBC writer, so executor-parallel
    * inserts carry over to a real Postgres target.
    *
    * Scale note: the idempotence check reads the landed key set per
    * batch — fine at modest key cardinality; against a large production
    * target push it down instead (key-range predicate on the read, or a
    * MERGE/upsert sink so the database enforces uniqueness without the
    * round-trip).
    *
    * Returns the started query; callers drive it (processAllAvailable)
    * and stop it.
    */
  def streamEventsToJdbc(spark: SparkSession, dir: String, url: String,
                         props: java.util.Properties,
                         table: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val src = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spk = batch.sparkSession
        val existingKeys =
          try spk.read.jdbc(url, table, props).select("event_id")
          catch { case _: Throwable => // first batch: table absent
            spk.createDataFrame(spk.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("event_id",
                  org.apache.spark.sql.types.LongType))))
          }
        batch.join(existingKeys, Seq("event_id"), "left_anti")
          .write.mode("append").jdbc(url, table, props)
        ()
      }
      .start()
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: java.sql.Timestamp, last: java.sql.Timestamp,
                          n: Long, total: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Gap in whole seconds, floor semantics — identical to the declarative
    * sessionizer's `unix_timestamp(ts) - unix_timestamp(prev)` (which
    * floors each side to the second before differencing).
    */
  private def gapSeconds(prev: java.sql.Timestamp, t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) - Math.floorDiv(prev.getTime, 1000L)

  /** Stateful sessionization with explicit per-group state — the
    * `flatMapGroupsWithState` pattern for operators whose state Spark's
    * built-in windows can't express. Works identically over a streaming
    * Dataset; here exercised in batch for determinism.
    */
  def sessionizeStateful(spark: SparkSession, dir: String): Dataset[Session] = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, events: Iterator[Event], state: GroupState[SessionState]) =>
          // batch mode: all the user's events arrive in one call; sort and
          // emit every closed session plus the trailing open one
          val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val sessions = scala.collection.mutable.ArrayBuffer.empty[Session]
          var cur: Option[SessionState] = None
          sorted.foreach { e =>
            cur match {
              case Some(s) if gapSeconds(s.last, e.ts) <= SessionGapSeconds =>
                cur = Some(s.copy(last = e.ts, n = s.n + 1, total = s.total + e.value))
              case Some(s) =>
                sessions += Session(userId, s.start, s.last, s.n,
                  math.rint(s.total * 100) / 100)
                cur = Some(SessionState(e.ts, e.ts, 1, e.value))
              case None =>
                cur = Some(SessionState(e.ts, e.ts, 1, e.value))
            }
          }
          cur.foreach(s => sessions += Session(userId, s.start, s.last, s.n,
            math.rint(s.total * 100) / 100))
          sessions.iterator
      }
  }

  case class FunnelEvent(user_id: Long, day: java.sql.Date,
                         us: Long, event_id: Long, event_type: String)
  /** [[FunnelEvent]] plus the raw event-time timestamp — the watermark
    * column the timeout-armed streaming form ([[funnelStagesExpiringOf]])
    * declares; the batch-registered form keys on integer µs only.
    */
  case class FunnelEventTs(user_id: Long, day: java.sql.Date,
                           us: Long, event_id: Long, event_type: String,
                           ts: java.sql.Timestamp)
  /** st9 per-(user, day) funnel state — earliest qualifying stage times
    * in integer µs, -1 = stage not reached. `emitted` is the stage code
    * (view=1 | clicked=2 | purchased=4) of the LAST row emitted for this
    * key, so a micro-batch that does not advance the funnel emits nothing
    * (an append sink sees each stage upgrade exactly once, not a
    * duplicate row per touching batch).
    */
  case class FunnelState(viewUs: Long, clickUs: Long, purchaseUs: Long,
                         emitted: Int)
  private[graft] case class FunnelStageRow(user_id: Long,
                                           day: java.sql.Date,
                                           clicked: Boolean,
                                           purchased: Boolean)

  /** st9: per-(user, day) strict funnel stages via EXPLICIT state — the
    * `flatMapGroupsWithState` form of q57's view→click→purchase chain: a
    * state machine holds the earliest view, the earliest click strictly
    * after it, and the earliest purchase strictly after that, advancing
    * over arrivals in (event time, event_id) order. This is the shape a
    * LIVE funnel runs as (q57's three min-aggregation joins need the
    * whole day's data; the state machine needs O(1) per key and emits as
    * the day progresses) — registered in batch where it is
    * oracle-checkable against q57's own CTE chain, and exercised over a
    * real `readStream` in StreamingSpec. Semantics note, proven by the
    * shared oracle: first-qualifying-in-order equals q57's
    * min-timestamp-with-strict-inequality chaining.
    *
    * Scale shape: state is partitioned by (user, day) across executors —
    * 12 bytes per live key, the day bound making state naturally
    * expirable (a production stream adds an event-time timeout at the
    * day boundary + watermark, st1-st7's configuration).
    */
  def funnelStagesStateful(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    funnelStagesOf(
      Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
        .as[FunnelEvent])
      .toDF()
      .orderBy(col("user_id"), col("day"))
  }

  /** The shared st9 fold: advance a [[FunnelState]] over one batch's
    * arrivals in (event time, event_id) order — the single spelling both
    * the NoTimeout and the timeout-armed forms apply, so the machine
    * cannot drift between them.
    */
  private def foldFunnel(start: FunnelState,
                         arrivals: Seq[(Long, Long, String)]): FunnelState = {
    var s = start
    arrivals.sortBy(a => (a._1, a._2)).foreach { case (us, _, etype) =>
      etype match {
        case "view" if s.viewUs < 0 =>
          s = s.copy(viewUs = us)
        case "click" if s.clickUs < 0 && s.viewUs >= 0 && us > s.viewUs =>
          s = s.copy(clickUs = us)
        case "purchase" if s.purchaseUs < 0 && s.clickUs >= 0 && us > s.clickUs =>
          s = s.copy(purchaseUs = us)
        case _ =>
      }
    }
    s
  }

  /** Stage code of a state — what a row emitted NOW would say. */
  private def stageCode(s: FunnelState): Int =
    (if (s.viewUs >= 0) 1 else 0) | (if (s.clickUs >= 0) 2 else 0) |
      (if (s.purchaseUs >= 0) 4 else 0)

  /** The st9 state machine on any typed event source (batch or stream —
    * StreamingSpec drives it through `readStream`). Emission is
    * CHANGE-driven: a row goes out only when this batch advanced the
    * funnel past what was last emitted, so an append sink receives each
    * (user, day) stage upgrade exactly once (at most 3 rows per key ever)
    * instead of one row per touching micro-batch. Batch mode degenerates
    * to the old behavior — all events arrive in one call, one row out.
    */
  private[graft] def funnelStagesOf(
      ev: Dataset[FunnelEvent]): Dataset[FunnelStageRow] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(e => (e.user_id, e.day))
      .flatMapGroupsWithState[FunnelState, FunnelStageRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((uid, day), events, state) =>
          val prev = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L, 0))
          // state carries across batches (replay within the watermark,
          // the sessionizeStateful precedent)
          val s = foldFunnel(prev,
            events.map(e => (e.us, e.event_id, e.event_type)).toSeq)
          val code = stageCode(s)
          if (s.viewUs >= 0 && code != prev.emitted) {
            state.update(s.copy(emitted = code))
            Iterator(FunnelStageRow(uid, day, s.clickUs >= 0, s.purchaseUs >= 0))
          } else {
            state.update(s)
            Iterator.empty
          }
      }
  }

  /** st9's PRODUCTION streaming configuration — the same funnel machine
    * armed with the event-time timeout its scaladoc prescribes: the input
    * declares a watermark at a caller-supplied delay (no pinned literal —
    * production callers pass the derived d26 dial; fixtures pass their
    * own), each live (user, day) key
    * sets its timeout at the END of its day, and when the watermark
    * passes that boundary the key's state is REMOVED (proven by
    * state-row counts in StreamingSpec).
    * Total state is therefore bounded by the keys of the watermark's
    * trailing day window, not by stream lifetime — the property that lets
    * this run forever on a firehose. Late events for an expired day are
    * dropped by the watermark filter before reaching the machine, so an
    * expired key can never half-resurrect with a fresh empty state.
    */
  private[graft] def funnelStagesExpiringOf(
      ev: Dataset[FunnelEventTs],
      delayUs: Long): Dataset[FunnelStageRow] = {
    import ev.sparkSession.implicits._
    ev.withWatermark("ts", watermarkDelayString(delayUs))
      .groupByKey(e => (e.user_id, e.day))
      .flatMapGroupsWithState[FunnelState, FunnelStageRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((uid, day), events, state) =>
          if (state.hasTimedOut) {
            // the watermark passed this key's day boundary: no further
            // event can legally arrive (they would be late beyond the
            // watermark), so the state is complete garbage — drop it
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L, 0))
            val s = foldFunnel(prev,
              events.map(e => (e.us, e.event_id, e.event_type)).toSeq)
            val code = stageCode(s)
            val changed = s.viewUs >= 0 && code != prev.emitted
            state.update(if (changed) s.copy(emitted = code) else s)
            // expire when the watermark passes the end of this key's day
            // (day.getTime is the UTC midnight the generator writes); the
            // max() guards the engine's timeout > watermark requirement
            // on the degenerate first-batch-of-a-new-day edge
            state.setTimeoutTimestamp(
              math.max(day.getTime + 86400000L, state.getCurrentWatermarkMs + 1))
            if (changed)
              Iterator(FunnelStageRow(uid, day, s.clickUs >= 0, s.purchaseUs >= 0))
            else Iterator.empty
          }
      }
  }

  /** The st7 dimension: user → nation name via customer, with a `'none'`
    * fallback for users outside the customer table — shared by the batch
    * query and its streaming twin so both join the identical mapping.
    */
  private[graft] def userNationDim(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      .join(Tables.nation(spark, dir),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("user_id"), col("n_name").as("nation"))

  /** st7: stream-static enrichment — hourly event counts per customer
    * NATION: the events feed joined to the customer→nation dimension,
    * then windowed. This is the canonical streaming-enrichment shape (a
    * firehose decorated with a slowly-changing dimension before
    * aggregation): the dim side is a BROADCAST (a stream-static join
    * re-reads the static side per micro-batch but never shuffles the
    * stream), unmatched users keep their rows with nation `'none'` (left
    * join — enrichment must not drop events), and the post-join
    * aggregation is an ordinary watermark-bounded windowed count. Batch
    * form here is the oracle-checked registered query;
    * [[streamingEnrichedCounts]] is the same plan over `readStream`,
    * asserted equal in StreamingSpec.
    */
  def enrichedWindowCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .join(broadcast(userNationDim(spark, dir)), Seq("user_id"), "left")
      .groupBy(window(col("ts"), "1 hour").as("w"),
        coalesce(col("nation"), lit("none")).as("nation"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("nation"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("nation"))

  /** st8's lateness grace: an event is "late" when its event time trails
    * the per-user running max by more than this many seconds — the
    * watermark-delay question asked OF the data. Interpolated into the
    * DuckDB twin.
    */
  val DisorderGraceSeconds = 600L

  /** The watermark delay THIS corpus needs, derived: the maximum GLOBAL
    * running-max lateness under event_id arrival order, plus the one-tick
    * margin the st8 boundary caveat prescribes (the engine's eviction
    * predicate is `ts <= watermark`, so an arrival late by exactly the
    * observed maximum needs one more microsecond of grace). GLOBAL, not
    * per-user (r11 ADVICE): Spark's watermark is one value across all
    * keys — an event whose timestamp trails ANOTHER user's earlier
    * arrival is dropped even when its own user's stream is in order — so
    * the per-user form st8 reports (kept there as the per-KEY disorder
    * audit) under-sizes any corpus with cross-user disorder; only the
    * global maximum guarantees zero drops (proven on a synthetic
    * cross-user-disordered stream in Round12Spec). This is the streaming
    * family's sizing dial as a [[graft.operators.Dedup.autoConfigReport]]
    * row (`st_watermark_delay_us`, replayed by the DuckDB twin): the
    * streaming twins read it before pinning a `withWatermark` delay
    * (∨ [[deriveFileArrivalDelayUs]] via [[twinDelayUs]] — the corpus
    * contract says when an EVENT may trail; the file dial says how a
    * file-source REPLAY actually delivers — and quantize via
    * [[watermarkDelayString]]). Empty corpus → the 1 µs floor, never an
    * error.
    */
  def deriveWatermarkDelayUs(spark: SparkSession, dir: String): Long =
    maxGlobalLatenessUs(
      Tables.events(spark, dir)
        .select(col("event_id").as("arr"), unix_micros(col("ts")).as("us"))) + 1L

  /** Chunk budget for [[maxGlobalLatenessUs]]' two-level running max —
    * both levels stay bounded: per-chunk window partitions hold ~n/4096
    * rows, the chunk-summary prefix max sees at most 4097 rows.
    */
  private val LatenessChunks = 4096L

  /** Maximum global lateness of a stream: over rows `(arr, us)` (LONG
    * arrival order, LONG event-time µs), the largest value of
    * `max(us | arr' <= arr) − us`. This is what a single global
    * watermark actually measures — the one number that, as a delay,
    * admits every row of a replay in `arr` order.
    *
    * Determinism: RANGE frames (not ROWS), so rows tied on `arr` all see
    * the same running max regardless of physical order — the DuckDB twin
    * replays the same RANGE spelling bit-for-bit. Scale shape: a naive
    * global running max is one unbounded sort partition; instead the
    * domain splits into ≤[[LatenessChunks]] arrival ranges — per-chunk
    * running max (bounded window partitions), per-chunk max rolled into
    * an exclusive prefix max over the tiny summary, broadcast back —
    * two distributed passes, no global sort. Empty input → 0.
    */
  private[graft] def maxGlobalLatenessUs(ev: DataFrame): Long = {
    import org.apache.spark.sql.expressions.Window
    val mm = ev.agg(min(col("arr")), max(col("arr"))).collect()(0)
    if (mm.isNullAt(0)) return 0L
    val lo = mm.getLong(0)
    val span = (mm.getLong(1) - lo) / LatenessChunks + 1L
    val chunked = ev.withColumn("chunk",
      ((col("arr") - lit(lo)) / lit(span)).cast("long"))
    val wIn = Window.partitionBy(col("chunk")).orderBy(col("arr"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrior = Window.orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val priorMax = chunked.groupBy(col("chunk"))
      .agg(max(col("us")).as("cmax"))
      .withColumn("pmax", max(col("cmax")).over(wPrior))
      .select(col("chunk"), col("pmax"))
    val r = chunked
      .withColumn("inmax", max(col("us")).over(wIn))
      .join(broadcast(priorMax), Seq("chunk"))
      .withColumn("late_us", greatest(
        greatest(col("inmax"), coalesce(col("pmax"), lit(Long.MinValue)))
          - col("us"), lit(0L)))
      .agg(max(col("late_us"))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** One state-store partition per this many expected state rows — the
    * crossover measured by the r11 st10 control: the identical sf1 soak
    * at 8 vs 32 shuffle partitions took 92.6 vs 178.4 s with identical
    * output and state, pricing each store INSTANCE at
    * (178.4−92.6)/((32−8)·64 batches) ≈ 56 ms of per-batch
    * commit/snapshot overhead, while per-state-row join work is µs-scale
    * — so a store only earns its instance overhead above ~5·10⁴ rows.
    * Rounded to 2¹⁶. Below the crossover fewer partitions are strictly
    * faster; above it the derivation scales partitions linearly with
    * state volume, which is the r11 verdict's dial: size
    * `spark.sql.shuffle.partitions` for a stateful job to its STATE
    * volume, not its core count.
    */
  val StateRowsPerPartition = 65536L

  /** Shuffle partitions a stateful streaming job should run at, derived
    * from its expected state rows — a [[graft.operators.Dedup.autoConfigReport]]
    * row (`st_shuffle_partitions`, replayed by the DuckDB twin) fed by
    * [[attributionStateHorizonRows]]. Clamped to [1, maxPartitions] (the session's
    * parallelism — more stores than cores is pure instance overhead).
    */
  def deriveStatefulShufflePartitions(stateRows: Long,
                                      maxPartitions: Int = 32): Int =
    math.min(maxPartitions.toLong,
      math.max(1L, (stateRows + StateRowsPerPartition - 1L)
        / StateRowsPerPartition)).toInt

  /** The dial as library surface: run `f` with
    * `spark.sql.shuffle.partitions` set to the derived stateful count
    * (from the attribution state horizon when `stateRows` is not given —
    * the st10/st11 sizing input; pass an operator's own expected state
    * rows otherwise, e.g. st9's adjacent-day key bound), restoring the
    * session's previous value afterward. `shuffle.partitions` is the
    * session conf that fixes a streaming query's state-store partition
    * count at its FIRST run (it is then pinned in the checkpoint), so
    * production callers wrap query construction + start in this.
    * The measured payoff at soak sf1–sf10 is 3–4× wall on the stream-stream
    * joins at identical output and state.
    */
  def withDerivedStatefulPartitions[A](spark: SparkSession, dir: String,
                                       stateRows: Option[Long] = None)
                                      (f: Int => A): A = {
    val rows = stateRows.getOrElse(attributionStateHorizonRows(spark, dir))
    val p = deriveStatefulShufflePartitions(rows)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", p)
    try f(p)
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Expected stream-stream join state rows for the st10/st11 attribution
    * pair, from corpus statistics alone: the busiest
    * (match window + st8 grace) = 70-minute event-time window of
    * click+purchase rows — the event-time bound on what the symmetric
    * hash join must retain (each side's rows live until the other side's
    * watermark passes their match horizon). Arrival granularity can
    * raise the real peak above this floor (eviction lags one
    * micro-batch), but the horizon count is
    * the corpus-derivable sizing input. Spelled as 10-minute cells + a
    * sliding 8-cell max so the DuckDB twin replays it exactly — 8, not
    * 7, because any 70-minute interval intersects at most ⌈70/10⌉+1 = 8
    * ALIGNED cells, so the aligned max is a covering upper bound of the
    * true sliding-window max (7 aligned cells can miss a straddling
    * window's boundary cell and undercount — a sizing input must err
    * high). Assumes the derived watermark delay stays within the
    * 10-minute st8 grace the horizon budgets; a corpus whose derived
    * delay exceeds it should size with
    * [[withDerivedStatefulPartitions]]' explicit `stateRows`. The
    * single-partition window runs over cell COUNTS, bounded by the
    * corpus time span (4.3k cells per month), never by event volume.
    */
  private[graft] def attributionStateHorizonRows(spark: SparkSession,
                                                 dir: String): Long = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(expr("unix_micros(ts) div 600000000").as("cell"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("cell")).rangeBetween(-7, 0)
    val r = cells.withColumn("s", sum(col("c")).over(w))
      .agg(max(col("s"))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** st9's state-rows input (r12 verdict "next" #6 — promoted from
    * an ad-hoc soak derivation to a first-class replayed dial): the
    * busiest calendar-adjacent-2-day distinct-user key count. The
    * funnel's state is one row per live (user, day) key, and a key
    * expires when the watermark passes its day + timeout — so peak state
    * is bounded by the keys of the watermark's trailing day window
    * (~the busiest two adjacent days), NOT by the stream-lifetime
    * (user, day) count. Counting each day's distinct users and summing
    * adjacent days errs HIGH on users active both days — a sizing input
    * must err high; the r10–r12 soaks measured actual peaks at
    * 0.85–0.86× this bound at three scales. One row per calendar day
    * (~31 for the corpus's span) feeds the single-partition window —
    * bounded by time span, never event volume — and the DuckDB twin
    * replays the same per-day counts + 1-day-preceding range sum in the
    * d26 report.
    */
  private[graft] def funnelStateHorizonKeys(spark: SparkSession,
                                            dir: String): Long = {
    import org.apache.spark.sql.expressions.Window
    val perDay = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(countDistinct(col("user_id")).as("k"))
      .select(datediff(col("d"), lit("1970-01-01").cast("date")).as("dn"),
        col("k"))
    val w = Window.orderBy(col("dn")).rangeBetween(-1, 0)
    val r = perDay.withColumn("s", sum(col("k")).over(w))
      .agg(max(col("s"))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The µs dial as a `withWatermark` argument — quantized UP to the
    * engine's actual granularity: Spark converts the delay to whole
    * MILLISECONDS and tracks max event time in milliseconds, so a
    * µs-precise delay passed verbatim would round down and re-open the
    * st8 boundary (`ts <= watermark` drops the exact-boundary arrival).
    * Ceil to ms plus one guard ms = the one-tick margin at the engine's
    * real tick.
    */
  private[graft] def watermarkDelayMs(delayUs: Long): Long =
    (delayUs + 999L) / 1000L + 1L

  /** See [[watermarkDelayMs]]. */
  private[graft] def watermarkDelayString(delayUs: Long): String =
    s"${watermarkDelayMs(delayUs)} milliseconds"

  /** The watermark delay a FILE-SOURCE replay of this directory needs:
    * the file stream source delivers whole files in MODIFICATION-TIME
    * order with a nondeterministic tie-break, and the watermark only
    * advances between micro-batches — so a row is droppable iff its
    * event time trails the max event time of files the source may
    * deliver strictly earlier. This is a DIFFERENT granularity from
    * [[deriveWatermarkDelayUs]]'s corpus contract (event_id arrival
    * order): a parallel-written directory lands part files with
    * effectively random mtimes, and an event-id-in-order corpus can
    * still arrive file-shuffled — under the corpus dial alone, whole
    * files' rows would silently drop as late (the r11 two-source
    * measurement lost 75% of pairs to exactly this class). Ties are
    * priced conservatively: every other file with mtime ≤ ours counts
    * as possibly-prior. One distributed pass builds per-file event-time
    * min/max (one row per file); mtime stat + the prior-max fold run on
    * the driver over that file list in O(F log F) ([[fileArrivalWorstUs]]
    * — the r12 fold was an O(F²) filter-per-file, fine for a staged
    * replay's thousands of part files but 10¹⁰⁺ driver comparisons at a
    * 10⁵–10⁶-file backfill). Single file or empty → the 1 µs floor. The
    * streaming twins take the MAX of both dials ([[twinDelayUs]]); a
    * replay staged with ascending part-file mtimes measures 0 here by
    * construction, so any staging regression surfaces as a huge derived
    * delay instead of silent row loss.
    */
  def deriveFileArrivalDelayUs(spark: SparkSession, dir: String): Long = {
    val perFile = Tables.events(spark, dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros(col("ts"))).as("fmin"),
        max(unix_micros(col("ts"))).as("fmax"))
      .collect()
    if (perFile.length <= 1) return 1L
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = perFile.map { r =>
      val p = new org.apache.hadoop.fs.Path(r.getString(0))
      (p.getFileSystem(hconf).getFileStatus(p).getModificationTime,
        r.getLong(1), r.getLong(2))
    }
    fileArrivalWorstUs(files) + 1L
  }

  /** The prior-max fold behind [[deriveFileArrivalDelayUs]], factored
    * pure for direct testing: `files` is `(mtime, fmin, fmax)` per part
    * file; the result is `max over files g of (max fmax over g's
    * possibly-prior files − g.fmin)`, floored at 0, where possibly-prior
    * = strictly earlier mtime OR an mtime tie (the source's tie-break is
    * nondeterministic, so tie-mates price each other in BOTH directions
    * — same contract as the r12 quadratic form, which Round13Spec keeps
    * as the property-test oracle).
    *
    * O(F log F): sort by mtime, then one pass carrying the running max
    * of `fmax` over all strictly-prior mtime groups; within a tie group
    * each member excludes ITSELF via the group's top-two `fmax` values
    * (the unique argmax sees the second max; everyone else — including
    * duplicated maxima — sees the max).
    */
  private[graft] def fileArrivalWorstUs(
      files: Array[(Long, Long, Long)]): Long = {
    val sorted = files.sortBy(_._1)
    var worst = 0L
    var runningMax = Long.MinValue // max fmax over strictly-prior mtimes
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      var m1 = Long.MinValue; var m2 = Long.MinValue; var m1Count = 0
      var k = i
      while (k < j) {
        val f = sorted(k)._3
        if (f > m1) { m2 = m1; m1 = f; m1Count = 1 }
        else if (f == m1) m1Count += 1
        else if (f > m2) m2 = f
        k += 1
      }
      k = i
      while (k < j) {
        val g = sorted(k)
        val tieMax = if (g._3 < m1 || m1Count > 1) m1 else m2
        val priorMax = math.max(runningMax, tieMax)
        if (priorMax != Long.MinValue)
          worst = math.max(worst, math.max(priorMax - g._2, 0L))
        k += 1
      }
      runningMax = math.max(runningMax, m1)
      i = j
    }
    worst
  }

  /** The delay the twins pin: the corpus disorder contract AND the file
    * source's arrival granularity, whichever is larger.
    */
  private[graft] def twinDelayUs(spark: SparkSession, dir: String): Long =
    math.max(deriveWatermarkDelayUs(spark, dir),
      deriveFileArrivalDelayUs(spark, dir))

  /** st8: out-of-orderness audit — per user, how disordered the event
    * stream actually is: with arrival order proxied by `event_id` (the
    * generator's monotone sequence), an event is LATE when its event
    * time trails the user's running-max event time by more than
    * [[DisorderGraceSeconds]]. This is the measurement that SIZES a
    * streaming watermark: the twins pin the derived [[twinDelayUs]]
    * (since r12; they declared a 10-minute literal before), and this
    * query is how an operator validates such a bound against the
    * firehose before trusting it (n_late at grace g = the
    * rows a g-second watermark would drop; max_lateness = the delay that
    * would have lost nothing). The drop equivalence is asserted
    * end-to-end in StreamingSpec against a real `withWatermark` replay,
    * with one boundary caveat the spec pins: the engine's state-eviction
    * predicate is `ts <= watermark`, so an arrival late by EXACTLY the
    * grace is dropped even though the audit's strict `late_us > g` does
    * not count it — size a production watermark from `max_lateness` with
    * a one-tick margin.
    *
    * Scale shape: one running-max window PARTITIONED by user and ordered
    * by arrival — a partition never exceeds one user's event count (the
    * q55/d21 bound), then a per-user aggregation; no global ordering
    * anywhere. Lateness is integer microsecond arithmetic end-to-end, so
    * the twin replays it bit-for-bit.
    */
  def disorderAudit(spark: SparkSession, dir: String,
                    graceSec: Long = DisorderGraceSeconds): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("late_us",
        greatest(max(col("us")).over(w) - col("us"), lit(0L)))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        sum(when(col("late_us") > graceSec * 1000000L, 1L).otherwise(0L))
          .cast("long").as("n_late"),
        max(col("late_us")).as("max_lateness_us"))
      .orderBy(col("user_id"))
  }

  /** [[enrichedWindowCounts]]' streaming twin (StreamingSpec), at the
    * derived d26 watermark delay.
    */
  def streamingEnrichedCounts(spark: SparkSession, dir: String,
                              delayUs: Option[Long] = None): DataFrame =
    eventsStream(spark, dir)
      .join(broadcast(userNationDim(spark, dir)), Seq("user_id"), "left")
      .withWatermark("ts",
        watermarkDelayString(delayUs.getOrElse(twinDelayUs(spark, dir))))
      .groupBy(window(col("ts"), "1 hour").as("w"),
        coalesce(col("nation"), lit("none")).as("nation"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("nation"),
        col("n_events"), col("total_value"))

  /** st10's attribution horizon: a purchase is credited to every click by
    * the same user in the preceding hour. Interpolated into the DuckDB
    * twin, and the dial that bounds BOTH the batch pair volume and the
    * streaming join's per-side state retention.
    */
  val AttributionWindowMinutes = 60L

  /** MemoryStream fixtures for the st10 state-cleanup proof — the join's
    * two input shapes as named case classes (StreamingSpec).
    */
  case class ClickRow(click_id: Long, user_id: Long,
                      click_ts: java.sql.Timestamp)
  case class PurchaseRow(purchase_id: Long, p_user_id: Long,
                         purchase_ts: java.sql.Timestamp)

  /** The shared st10 join: same-user (click, purchase) pairs with the
    * purchase inside `[click_ts, click_ts + window)`. Factored out so the
    * batch query, the file-source streaming twin, and the MemoryStream
    * state-cleanup fixture all run the IDENTICAL join plan — inputs carry
    * `(click_id, user_id, click_ts)` / `(purchase_id, p_user_id,
    * purchase_ts)`. An EQUI-join on the user with the interval as a
    * residual condition: Catalyst plans SMJ/shuffled-hash on `user_id`,
    * never a cross product (Round11Spec pins it), and in the streaming
    * case the event-time range against both sides' watermarks is exactly
    * what lets the symmetric-hash join EVICT state — a click older than
    * `purchase watermark − window` can never match again.
    *
    * Deployment note (measured, `soakdiag_r11_streaming.log` at bec8540): the
    * streaming form's per-batch overhead scales with the state-store
    * instance count (shuffle partitions × 4 join stores × batches of
    * commit/snapshot work) — the identical soak run at 8 vs 32 shuffle
    * partitions took 92.6 s vs 178.4 s with identical output and state.
    * Size `spark.sql.shuffle.partitions` for a stateful streaming job to
    * its STATE volume, not its core count.
    */
  private[graft] def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                                     windowMinutes: Long): DataFrame =
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") < col("click_ts") +
            expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"))

  /** The shared st11 join: [[attributionJoin]]'s LEFT-OUTER complement
    * with the PURCHASE side preserved — every purchase keeps a row, carrying
    * its attributing click or nulls if no same-user click preceded it
    * within the window (the organic-conversion audit: matched rows are
    * exactly st10's pairs, null rows are the purchases marketing cannot
    * claim). Same equi-key + interval-residual shape; in the streaming
    * case this is Spark's OUTER stream-stream join, whose null rows are
    * emitted only when the click watermark passes the purchase's match
    * horizon — i.e. when the engine can PROVE no matching click can still
    * arrive — which is the semantics StreamingSpec pins batch-by-batch.
    */
  private[graft] def attributionOuterJoin(purchases: DataFrame,
                                          clicks: DataFrame,
                                          windowMinutes: Long): DataFrame =
    purchases.join(clicks,
        col("p_user_id") === col("user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") < col("click_ts") +
            expr(s"INTERVAL $windowMinutes MINUTES"),
        "left_outer")
      .select(col("p_user_id").as("user_id"), col("purchase_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"))

  /** st11: attribution coverage — the left-outer face of st10: one row per
    * (purchase, attributing click) pair plus one null-click row per ORGANIC
    * purchase (no same-user click in the preceding hour). Batch form is
    * the oracle-gated registered query; [[streamingAttributionOuter]] runs
    * the same [[attributionOuterJoin]] as a watermarked stream-stream
    * LEFT-OUTER join — the semantics st1–st10 don't otherwise exercise:
    * matched rows emit as soon as both sides have arrived, null rows emit
    * only once the watermark proves no match can still arrive, and
    * StreamingSpec pins both the delay (no premature nulls) and the
    * exactly-once emission per organic purchase.
    */
  def attributionOuter(spark: SparkSession, dir: String,
                       windowMinutes: Long = AttributionWindowMinutes): DataFrame = {
    val ev = Tables.events(spark, dir)
    attributionOuterJoin(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts")),
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts")),
      windowMinutes)
      .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
  }

  /** [[attributionOuter]]' streaming twin: one branched source (the st10
    * lesson), watermarks on both event-time columns, LEFT-OUTER join in
    * append mode. A null row for an organic purchase is emitted by the
    * state-eviction pass of the micro-batch whose watermark passes the
    * purchase's match horizon — bounded state AND a completeness
    * guarantee: every purchase eventually produces exactly one verdict
    * row (its clicks, or one null row).
    *
    * Finite-replay caveat (StreamingSpec pins it): each event-time
    * column's watermark can never pass its OWN last observation minus the
    * delay, and the global watermark is the min of the two — so on a
    * finite stream the trailing ~delay of purchases never receives a
    * verdict (the watermark dies with the data). On an unbounded firehose
    * every purchase's verdict arrives within (window + delay) of event
    * time; a finite BACKFILL closes the horizon by appending
    * [[drainSentinelEvents]] as its last arrival, after which streamed
    * verdicts equal the batch query exactly.
    */
  def streamingAttributionOuter(spark: SparkSession, dir: String,
                                windowMinutes: Long = AttributionWindowMinutes,
                                delayUs: Option[Long] = None): DataFrame = {
    val d = watermarkDelayString(
      delayUs.getOrElse(twinDelayUs(spark, dir)))
    val src = eventsStream(spark, dir)
    attributionOuterJoin(
      src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", d),
      src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", d),
      windowMinutes)
  }

  /** st10: click→purchase attribution pairs — every (click, purchase) of
    * the same user where the purchase lands within the hour after the
    * click, with the exact microsecond lag. q29 asks the aggregate
    * question (how many recent clicks per purchase); this emits the pair
    * MULTISET itself — the attribution table a marketing pipeline joins
    * spend against, and precisely the append-mode output contract of
    * Spark's watermarked STREAM-STREAM inner interval join. The join
    * shape existed test-only since r4 ([[streamingPurchaseClickJoin]],
    * verified against a batch pair COUNT); st10 promotes it to a
    * first-class registered query: the batch form is oracle-gated row by
    * row against DuckDB, [[streamingAttributedPairs]] runs the same
    * [[attributionJoin]] over two `readStream` sources with watermarks on
    * both event-time columns and is asserted equal as an exact row
    * MULTISET in StreamingSpec, and the state-EVICTION half of the
    * bounded-state claim — previously prose — is proven on a MemoryStream
    * pair via state-operator row counts.
    *
    * Scale shape: one shuffle on `user_id` per side; pair volume per user
    * is clicks×purchases WITHIN the window, not across history, and the
    * streaming form's state is bounded by watermark + window — the
    * impression-attribution shape that runs forever on a firehose.
    */
  def attributedPairs(spark: SparkSession, dir: String,
                      windowMinutes: Long = AttributionWindowMinutes): DataFrame = {
    val ev = Tables.events(spark, dir)
    attributionJoin(
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts")),
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts")),
      windowMinutes)
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** [[attributedPairs]]' streaming twin: ONE file source, two filtered
    * branches (the stream self-join shape), each branch watermarking its
    * own event-time column, append mode. One source is load-bearing, not
    * style: two INDEPENDENT file sources over the same directory list
    * files sorted by modification time with nondeterministic tie-breaks,
    * so under `maxFilesPerTrigger` the sides drift onto DIFFERENT files in
    * the same micro-batch — and once the watermark (driven by the
    * furthest-ahead file either side has seen) passes a not-yet-delivered
    * file's span, that file's matches are unrecoverable: in-batch join
    * never sees both sides together and the state needed for a cross-batch
    * match is already evicted. Measured on the sf1 soak corpus staged as
    * 64 ts-sorted files: the two-source form silently emitted 930 of
    * 3,710 pairs — exactly the pairs of the files both sources happened to
    * deliver in the same trigger; the one-source form emits all of them
    * (streamed = batch count at every soak scale). The inner join with the event-time range condition is the
    * canonical Spark stream-stream join: each side's state is retained
    * only while the other side's watermark still admits a match inside
    * the window, then evicted (StreamingSpec proves the eviction on a
    * MemoryStream pair).
    */
  def streamingAttributedPairs(spark: SparkSession, dir: String,
                               windowMinutes: Long = AttributionWindowMinutes,
                               delayUs: Option[Long] = None): DataFrame = {
    val d = watermarkDelayString(
      delayUs.getOrElse(twinDelayUs(spark, dir)))
    val src = eventsStream(spark, dir)
    attributionJoin(
      src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", d),
      src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", d),
      windowMinutes)
  }

  /** Reserved user id of the finite-replay DRAIN sentinels — negative,
    * so it can never equi-join the generator's (or any production) key
    * space. The sentinels are NOT filtered out of the twins: a `user_id`
    * filter placed between `withWatermark` and the join gets pushed BELOW
    * the watermark node into the parquet scan by Catalyst
    * (PushPredicateThroughNonJoin moves any predicate that doesn't
    * reference the event-time column), which prunes the sentinels before
    * they can advance the watermark — measured exactly so in r12: the
    * drain file committed as its own micro-batch with numInputRows = 0
    * and the two trailing verdicts never emitted. Instead the sentinels
    * are invisible by CONSTRUCTION ([[drainSentinelEvents]]).
    */
  val DrainUserId = -1L

  /** The finite-replay drain (r11 verdict #4): on an unbounded firehose
    * every purchase's outer-join verdict arrives within (window + delay)
    * of event time, but a finite replay's watermark dies with the data —
    * each event-time column's watermark can never pass its own last
    * observation minus the delay, so the trailing ~delay of purchases
    * never hears "no click is coming." A backfill is finite ON PURPOSE,
    * and owes every purchase its verdict; this closes the horizon the
    * streaming-native way: one sentinel click + one sentinel purchase on
    * the reserved [[DrainUserId]], timestamped past the last real
    * event's match horizon, appended as the replay's final arrival. Both
    * event-time watermarks observe the sentinels, so the global
    * watermark sweeps past every real purchase's horizon and every owed
    * null verdict emits exactly once. No sentinel row can reach the sink
    * — by construction, not by filter (see [[DrainUserId]] for why a
    * filter is unsound):
    *
    *   - the sentinel PURCHASE is stamped `maxTs + window + delay + 1 s`
    *     and the sentinel CLICK one second LATER, so the attribution
    *     predicate `purchase_ts >= click_ts` fails between them and
    *     their reserved user id equi-joins no real row — neither join
    *     emits a sentinel match;
    *   - the sentinel purchase is its column's maximum, and a watermark
    *     can never pass its own column's max minus the delay, so the
    *     outer join can never evict-and-emit it as an organic row. It
    *     retires as one permanent state row when the query stops.
    *
    * Emitted rows therefore equal the batch query's EXACTLY
    * (StreamingSpec pins it, including sentinel absence).
    *
    * The second bullet assumes the GLOBAL watermark is the MINIMUM of
    * the per-column watermarks — Spark's default
    * (`spark.sql.streaming.multipleWatermarkPolicy=min`), and what the
    * rest of this argument already relies on (the drain works at all
    * because the min-combined watermark is held back by BOTH columns
    * until both sentinels arrive). Under `policy=max` with a derived
    * delay under 1 s, the global watermark would follow the sentinel
    * CLICK (`drainUs + 1 s − delay`), pass the sentinel purchase's match
    * horizon, and the outer join would emit a `user_id = -1`
    * null-verdict row — breaking the exact-equality-with-batch contract.
    * The method asserts the session is on min policy rather than
    * silently producing that row.
    *
    * `schema` is the staged replay's file schema — the sentinels carry
    * the four live columns and null elsewhere, so the frame appends to
    * the staging directory as one more (last-mtime) file.
    */
  def drainSentinelEvents(spark: SparkSession,
                          schema: org.apache.spark.sql.types.StructType,
                          maxTsUs: Long, windowMinutes: Long,
                          delayUs: Long): DataFrame = {
    val policy =
      spark.conf.get("spark.sql.streaming.multipleWatermarkPolicy", "min")
    require(policy == "min",
      s"drainSentinelEvents requires multipleWatermarkPolicy=min (got " +
        s"'$policy'): under max-combining the global watermark follows " +
        "the sentinel click past the sentinel purchase's horizon and the " +
        "outer join emits a sentinel null-verdict row at the sink")
    val drainUs = maxTsUs + windowMinutes * 60000000L + delayUs + 1000000L
    val base = spark.range(2).select(
      (col("id") - 2L).as("event_id"),
      lit(DrainUserId).as("user_id"),
      when(col("id") === 0L, "click").otherwise("purchase").as("event_type"),
      // click at drainUs + 1 s, purchase at drainUs — purchase strictly
      // BEFORE click, so the pair can never satisfy purchase_ts >= click_ts
      timestamp_micros(lit(drainUs) + (lit(1L) - col("id")) * 1000000L).as("ts"))
    val live = Set("event_id", "user_id", "event_type", "ts")
    base.select(schema.fields.map { f =>
      if (live(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }
}
