package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Time-series / sessionization operators over the `events` fixture.
  *
  * These are the batch twins of the streaming surface
  * (graft.streaming.EventStream): identical session semantics, expressed
  * with lag + windowed prefix sums so the DuckDB oracle can verify them.
  *
  * Scale design: everything partitions by user_id (the natural key at
  * 100 TB — sessions never cross users, so a single hash shuffle on
  * user_id serves every window here); bucketed aggregations go through
  * exact integer epoch arithmetic, never float time math.
  */
object EventOps {

  private val GapUs = 30L * 60 * 1000000 // 30-minute session gap, microseconds

  /** Gap-based sessionization: lag → new-session flag → prefix-sum
    * session ids → per-session aggregates. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > GapUs, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(
        count(lit(1)).as("n_events"),
        // Epoch-µs longs, not raw timestamps: projecting integers keeps the
        // oracle comparison in one exact domain regardless of how each engine
        // serializes TIMESTAMP. (The fixture carries no sub-µs precision —
        // every ts has ns % 1000 == 0 across all SFs, measured round 2 — so
        // this is a serialization convention, not a precision guard.)
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        asDbl(sum(dec("value"))).as("sum_value"))
      .orderBy("user_id", "sess_id")
  }

  /** Tumbling 1-hour windows via exact integer epoch bucketing. */
  def hourlyEventStats(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("hr_bucket", floor(unix_micros(col("ts")) / lit(3600000000L)))
      .groupBy("hr_bucket", "event_type")
      .agg(count(lit(1)).as("n"), asDbl(sum(dec("value"))).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("hr_bucket", "event_type")

  /** Native Spark `window()` tumbling aggregation, projected to epoch
    * seconds so the oracle can reproduce it with integer arithmetic. */
  def tumbling5min(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        (unix_micros(col("w.start")) / 1000000L).cast("long").as("w_start_epoch"),
        col("event_type"), col("n"))
      .orderBy("w_start_epoch", "event_type")

  /** Markov-style transition counts: lag(event_type) per user → bigram
    * frequencies. */
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("prev_type", "event_type")
  }

  /** Top-5 users by total event value (exact decimal), with dense rank.
    * The rank window deliberately does NOT run over the full per-user
    * aggregate (|users| rows — an unpartitioned row_number funnels them
    * all through one task): (sv desc, user_id asc) is a total order, so
    * orderBy+limit(5) plans as TakeOrderedAndProject (per-partition
    * heaps, no global sort) and selects exactly the rows the old rk<=5
    * filter kept; only the 5 survivors flow through the rank window —
    * a constant-size frame at any user count (t06's discipline). */
  def topUsersByValue(s: SparkSession, d: String): DataFrame = {
    val agg = events(s, d)
      .groupBy("user_id")
      .agg(sum(dec("value")).as("sv"), count(lit(1)).as("n_events"))
    agg
      .orderBy(col("sv").desc, col("user_id").asc).limit(5)
      .withColumn("rk", row_number().over(Window.orderBy(col("sv").desc, col("user_id").asc)))
      .select(col("rk"), col("user_id"), asDbl(col("sv")).as("total_value"), col("n_events"))
      .orderBy("rk")
  }

  /** JSON scalar functions over the props payload (§2.9 capability:
    * absent in the reference, provided by Spark SQL) — extract, type,
    * aggregate with exact integer math. */
  def jsonProps(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** e06's semantics through Spark 4's VARIANT type (the t34-vs-t16
    * pattern: same oracle, alternative engine path): the JSON payload
    * parses ONCE into a variant column and every field reads out of the
    * parsed representation via typed `variant_get` — at 100 TB the
    * difference vs per-field `get_json_object` is one parse per row
    * instead of one per (row × field), and VARIANT columns persist to
    * parquet so downstream queries skip the parse entirely. */
  def variantProps(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("pv", expr("parse_json(props)"))
      .withColumn("k", expr("variant_get(pv, '$.k', 'long')"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Weekly cohort retention: users bucketed by first-seen week, counted
    * per (cohort, active week) — two keyed aggregations over integer
    * epoch weeks, the standard retention triangle. */
  def weeklyCohorts(s: SparkSession, d: String): DataFrame = {
    val wk = floor(unix_micros(col("ts")) / lit(604800000000L))
    val ev = events(s, d).withColumn("wk", wk)
    val cohorts = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    ev.join(cohorts, "user_id")
      .groupBy("cohort_wk", "wk")
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
      .orderBy("cohort_wk", "wk")
  }

  /** Gap-filled dense time series: hourly counts per event type with
    * EMPTY buckets materialized as zero rows (the densification every
    * monitoring/training pipeline needs before windowed models). The
    * dense calendar is generated, not scanned: counts aggregate first
    * (|buckets|×|types| rows), then a tiny sequence×types frame
    * left-joins them — at 100 TB the fact table is touched once by the
    * aggregation and the densify join is metadata×metadata. */
  def gapFilledSeries(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("hr_bucket", floor(unix_micros(col("ts")) / lit(3600000000L)))
    // ONE scan of the fact table: the calendar bounds and the type set
    // both derive from the checkpointed counts aggregate
    // (|buckets|×|types| rows — metadata-sized), not from re-reading
    // events
    val counts = ev.groupBy("hr_bucket", "event_type").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val buckets = counts.agg(min(col("hr_bucket")).as("lo"), max(col("hr_bucket")).as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("hr_bucket"))
    val types = counts.select("event_type").distinct()
    buckets.crossJoin(broadcast(types))
      .join(counts, Seq("hr_bucket", "event_type"), "left")
      .select(col("hr_bucket"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("hr_bucket", "event_type")
  }

  /** Sequential conversion funnel signup → view → click → purchase:
    * stage k's timestamp is the user's FIRST qualifying event strictly
    * after their stage-(k-1) timestamp, so out-of-order events never
    * count (a view before the signup is not a conversion). Each stage is
    * one aggregation keyed on user_id joined to the previous stage's
    * per-user frontier — all four stages reuse the same hash
    * partitioning, so at 100 TB this is one shuffle of per-user
    * frontiers (|users| rows/stage), never a re-scan amplification. */
  /** Per-user stage frontiers of the conversion funnel, shared by e09
    * (stage counts) and e12 (conversion-delay percentiles): returns
    * (stage label, time column, per-user frame) per stage.
    * `pin` localCheckpoints each frontier as it is built, so a consumer
    * that reads every stage MORE THAN ONCE (e12's three legs) evaluates
    * each stage exactly once — the frontiers are |users| rows, cheap to
    * pin. e09 consumes each stage once and keeps the declarative chain
    * (its PlanSpec asserts the type filters reach the parquet scan). */
  private def funnelStages(s: SparkSession, d: String,
      pin: Boolean = false): Seq[(String, String, DataFrame)] = {
    def p(df: DataFrame): DataFrame = if (pin) df.localCheckpoint() else df
    val ev = events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    def stage(evType: String, prev: DataFrame, prevT: String, t: String): DataFrame =
      p(ev.filter(col("event_type") === evType)
        .join(prev, "user_id")
        .filter(col("us") > col(prevT))
        .groupBy("user_id").agg(min(col("us")).as(t)))
    val s1 = p(ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("t1")))
    val s2 = stage("view", s1, "t1", "t2")
    val s3 = stage("click", s2, "t2", "t3")
    val s4 = stage("purchase", s3, "t3", "t4")
    Seq(("1_signup", "t1", s1), ("2_view", "t2", s2),
      ("3_click", "t3", s3), ("4_purchase", "t4", s4))
  }

  def funnel(s: SparkSession, d: String): DataFrame =
    funnelStages(s, d)
      .map { case (n, _, df) =>
        df.agg(count(lit(1)).as("n_users")).select(lit(n).as("stage"), col("n_users"))
      }
      .reduce(_ unionAll _)
      .orderBy("stage")

  /** Conversion-delay percentiles per funnel transition: P50/P90 of the
    * time (seconds) between entering consecutive funnel stages — the
    * "where do users stall" diagnostic read next to e09's counts. The
    * percentiles come from a cumulated (transition, delay_sec) HISTOGRAM
    * (t29's discipline): exact integer rank thresholds (P50 = smallest
    * delay with cum·2 ≥ n), never a per-user global sort, so the
    * cumulative window runs over the bounded delay domain at any event
    * volume. Second granularity is the documented bucketing. */
  def funnelDelays(s: SparkSession, d: String): DataFrame = {
    val st = funnelStages(s, d, pin = true).map { case (_, t, df) => (t, df) }.toMap
    def leg(label: String, prev: String, next: String): DataFrame =
      st(next).join(st(prev), "user_id")
        .select(lit(label).as("transition"),
          floor((col(next) - col(prev)) / lit(1000000L)).cast("long").as("delay_sec"))
    val dl = leg("2_view", "t1", "t2")
      .unionAll(leg("3_click", "t2", "t3"))
      .unionAll(leg("4_purchase", "t3", "t4"))
    // the histogram feeds FIVE evaluations downstream (tot, and hist +
    // tot again inside each percentile leg) — unpinned, the 3-leg
    // frontier join union re-executed per consumer (r13 audit: e12 sat
    // 4× over the family median on repeated subtrees, not data). The
    // pin is ≤|transitions × delay domain| rows — bounded.
    val hist = dl.groupBy("transition", "delay_sec").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = hist.groupBy("transition").agg(sum("c").as("n"))
    val w = Window.partitionBy("transition").orderBy("delay_sec")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(tot), "transition")
    val p50 = cum.filter(col("cum") * 2 >= col("n"))
      .groupBy("transition").agg(min("delay_sec").as("p50_sec"))
    val p90 = cum.filter(col("cum") * 10 >= col("n") * 9)
      .groupBy("transition").agg(min("delay_sec").as("p90_sec"))
    tot.join(p50, "transition").join(p90, "transition")
      .select(col("transition"), col("n"), col("p50_sec"), col("p90_sec"))
      .orderBy("transition")
  }

  /** Cumulative distinct-user reach per event type by day. Spark has no
    * COUNT(DISTINCT) OVER — and the naive frame is a scale trap anyway
    * (it re-deduplicates the entire history for every output row).
    * Restated as first-touch attribution: each (event_type, user)
    * contributes exactly once, on its first day, and the running sum of
    * first-touches IS the running distinct count. Shuffles are keyed on
    * (event_type, user_id) then (event_type, day); the cumulative window
    * runs over the |types|×|days| daily frame — metadata scale. The
    * left join can never drop a first-touch day: a user's first event IS
    * an event that day, so the daily frame always has the matching row. */
  def cumulativeReach(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("day", floor(unix_micros(col("ts")) / lit(86400000000L)))
    val firstTouch = ev
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(col("day")).as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_new"))
    val daily = ev.groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.join(firstTouch, Seq("event_type", "day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .select("event_type", "day", "n_events", "n_new", "cum_users")
      .orderBy("event_type", "day")
  }

  /** Stickiness (DAU / trailing-7-day WAU) per day — the engagement
    * ratio product dashboards publish. The naive shape is a DISTINCT
    * over a sliding 7-day window per day (the oracle restates it as a
    * range-join COUNT DISTINCT); at scale that re-counts every user up
    * to 7× per window through one window-partition task. Restatement:
    * collapse to distinct (user, active-day) rows ONCE, then explode
    * each active day into the ≤ 7 window-ends it supports and distinct
    * again — two keyed aggregations with map-side partials, a fixed 7×
    * fan-out, and no sliding window anywhere. */
  /** Distinct (user, active-day) rows, materialized — the shared input
    * of the engagement metrics (e13 stickiness, e15 retention): one
    * events scan + distinct, |user-days| rows, bounded. */
  private def userDays(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("day", floor(unix_micros(col("ts")) / lit(86400000000L)))
      .select("user_id", "day").distinct()
      .localCheckpoint()

  def stickiness(s: SparkSession, d: String): DataFrame = {
    val ud = userDays(s, d)
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("wday"))
      .distinct()
      .groupBy("wday").agg(count(lit(1)).as("wau"))
    dau.join(wau, col("day") === col("wday"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
      .orderBy("day")
  }

  /** Day-N retention per signup cohort: for users whose FIRST signup
    * event lands on day D, the share active again on exactly D+1 and
    * on D+7 — the cohort curve read next to e13's stickiness. The
    * return checks are user-keyed LEFT joins against the shared
    * distinct (user, day) frame with the day offset folded into the
    * join key: no window, no per-cohort scan, each join is
    * |cohort users| × key lookup. Cohorts with no eligible return day
    * inside the fixture window still report (rate over the full
    * cohort — the standard dashboard convention). */
  def dayNRetention(s: SparkSession, d: String): DataFrame = {
    val ud = userDays(s, d)
    val cohort = events(s, d)
      .filter(col("event_type") === "signup")
      .withColumn("day", floor(unix_micros(col("ts")) / lit(86400000000L)))
      .groupBy("user_id").agg(min(col("day")).as("d0"))
    val r1 = ud.select(col("user_id"), (col("day") - 1).as("d0"), lit(1).as("ret1"))
      .distinct()
    val r7 = ud.select(col("user_id"), (col("day") - 7).as("d0"), lit(1).as("ret7"))
      .distinct()
    cohort
      .join(r1, Seq("user_id", "d0"), "left")
      .join(r7, Seq("user_id", "d0"), "left")
      .groupBy("d0")
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce(col("ret1"), lit(0))).as("n_day1"),
        sum(coalesce(col("ret7"), lit(0))).as("n_day7"))
      .select(col("d0"), col("n_users"),
        round(col("n_day1").cast("double") / col("n_users").cast("double"), 6)
          .as("day1_rate"),
        round(col("n_day7").cast("double") / col("n_users").cast("double"), 6)
          .as("day7_rate"))
      .orderBy("d0")
  }

  /** Inter-event gap percentiles: P50/P90/P99 of the seconds between a
    * user's consecutive events — the distribution whose knee JUSTIFIES
    * the sessionization gap threshold (e01's 30 minutes is a parameter;
    * this is the evidence a pipeline owner reads before setting it).
    *
    * Scale: the lag window partitions by user_id — the one natural
    * shuffle every event operator here shares; percentiles come off the
    * bounded (gap_sec) histogram with exact integer rank thresholds
    * (e12's discipline), never a global sort or percentile_approx. */
  def interEventGaps(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .filter(col("prev_us").isNotNull)
      .select(floor((unix_micros(col("ts")) - col("prev_us")) / lit(1000000L))
        .cast("long").as("gap_sec"))
    val hist = gaps.groupBy("gap_sec").agg(count(lit(1)).as("c"))
    val tot = hist.agg(sum(col("c")).as("n"))
    val w = Window.orderBy("gap_sec").rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(tot))
    cum.agg(
        max(col("n")).as("n_gaps"),
        min(when(col("cum") * 2 >= col("n"), col("gap_sec"))).as("p50_sec"),
        min(when(col("cum") * 10 >= col("n") * 9, col("gap_sec"))).as("p90_sec"),
        min(when(col("cum") * 100 >= col("n") * 99, col("gap_sec"))).as("p99_sec"))
  }

  /** Last-touch attribution: every purchase credits the user's most
    * recent preceding NON-purchase event inside a 7-day lookback; a
    * purchase with no in-window touch is 'direct'. Output is the channel
    * census (touch event_type → purchases, attributed revenue) a
    * marketing team reads to split credit.
    *
    * Scale: one window partitioned by user_id (the shared event-ops
    * shuffle) carrying the last non-null touch via
    * last(_, ignoreNulls) over UNBOUNDED PRECEDING..1 PRECEDING —
    * single pass, no self-join of purchases against touches (the naive
    * as-of join re-shuffles both sides and explodes on active users).
    * touch type and timestamp are null on exactly the same rows, so the
    * two ignoreNulls carries always read the SAME touch row. Revenue
    * sums in exact DECIMAL (the Dec rule). */
  def lastTouchAttribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .withColumn("touch_type",
        when(col("event_type") =!= "purchase", col("event_type")))
      .withColumn("touch_us",
        when(col("event_type") =!= "purchase", unix_micros(col("ts"))))
      .withColumn("lt", last(col("touch_type"), ignoreNulls = true).over(w))
      .withColumn("lt_us", last(col("touch_us"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("lt").isNotNull &&
          unix_micros(col("ts")) - col("lt_us") <= lit(7L * 86400000000L),
          col("lt")).otherwise(lit("direct")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        asDbl(sum(dec("value"))).as("attributed_value"))
      .orderBy("channel")
  }

  /** RFM (recency / frequency / monetary) quintile segmentation — the
    * user-value census a growth team keys campaigns on. Each user gets
    * three 1–5 scores against corpus-wide quintile thresholds; output is
    * the segment census (score triple → user count).
    *
    * Scale: the naive scorer is NTILE(5) OVER (ORDER BY ...) — three
    * GLOBAL sort windows funneling |users| rows through one task (the
    * t18 trap). Instead each threshold quadruple derives from a BOUNDED
    * histogram (e12's discipline): recency lives on the observation
    * window's day domain, frequency on distinct per-user counts,
    * monetary floor-quantized to whole currency units — each histogram
    * is ≪ |users| rows, its cumulative window is metadata-scale, and
    * the 1-row threshold frame broadcasts back. Scores then compare
    * against four constants per dimension — map-only. Boundary ties all
    * land in the lower quintile (deterministic, unlike NTILE's
    * arbitrary tie split); monetary sums in exact DECIMAL before the
    * quantize (the Dec rule). */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("day", floor(unix_micros(col("ts")) / lit(86400000000L)))
    // ONE corpus scan, materialized: `per` feeds four consumers (the
    // readout + three thresholds) and used to re-scan events for each —
    // plus a fifth scan for max_day, which is derivable from the
    // per-user frame (max over users of last_day IS the corpus max).
    // |users| rows — checkpoint is metadata-scale. (round 16; e16 warm
    // 1.4 s → one scan)
    val per0 = ev.groupBy("user_id")
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
        sum(dec("value")).as("mon"))
      .localCheckpoint()
    val maxDay = per0.agg(max(col("last_day")).as("max_day"))
    val per = per0
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        (col("max_day") - col("last_day")).cast("long").as("recency"),
        col("freq"), floor(col("mon")).cast("long").as("mon_d"))
    // quintile thresholds off the bounded value histogram: q_k = min v
    // with cum·5 ≥ k·n — one cumulative window over |distinct values|
    def thresholds(c: String): DataFrame = {
      val hist = per.groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))
      val tot = hist.agg(sum(col("n")).as("tot"))
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
      hist.withColumn("cum", sum(col("n")).over(w))
        .crossJoin(broadcast(tot))
        .agg(
          min(when(col("cum") * 5 >= col("tot"), col("v"))).as(s"${c}_q1"),
          min(when(col("cum") * 5 >= col("tot") * 2, col("v"))).as(s"${c}_q2"),
          min(when(col("cum") * 5 >= col("tot") * 3, col("v"))).as(s"${c}_q3"),
          min(when(col("cum") * 5 >= col("tot") * 4, col("v"))).as(s"${c}_q4"))
    }
    def above(c: String) = (1 to 4)
      .map(k => (col(c) > col(s"${c}_q$k")).cast("int")).reduce(_ + _)
    per
      .crossJoin(broadcast(thresholds("recency")))
      .crossJoin(broadcast(thresholds("freq")))
      .crossJoin(broadcast(thresholds("mon_d")))
      .select(col("user_id"),
        (lit(5) - above("recency")).as("r_score"), // recent = low recency = 5
        (lit(1) + above("freq")).as("f_score"),
        (lit(1) + above("mon_d")).as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Value-concentration (Lorenz) deciles: for k = 1..10, the share of
    * total event value held by the POOREST k·n/10 users — the
    * concentration curve behind "top 10% of users drive X% of revenue",
    * read top-down. Within a straddling value bucket every user has the
    * SAME total, so the partial-bucket mass (target − prev_users)·v is
    * exact, not interpolated.
    *
    * Scale: per-user totals sum in exact DECIMAL then floor-quantize to
    * whole units (e16's discipline); the Lorenz math runs entirely on
    * the bounded value HISTOGRAM — one metadata-scale cumulative
    * window, a 10-row decile frame, and a range join of 10 × |distinct
    * values| — never a global sort of users (the NTILE/percent_rank
    * restatement funnels |users| rows through one task). */
  def lorenzDeciles(s: SparkSession, d: String): DataFrame = {
    val per = events(s, d).groupBy("user_id")
      .agg(sum(dec("value")).as("mon"))
      .select(col("user_id"), floor(col("mon")).cast("long").as("v"))
    val h = per.groupBy("v").agg(count(lit(1)).as("nu"))
      .withColumn("mass", col("v") * col("nu"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val cum = h
      .withColumn("cum_u", sum(col("nu")).over(w))
      .withColumn("cum_m", sum(col("mass")).over(w))
      .withColumn("prev_u", col("cum_u") - col("nu"))
      .withColumn("prev_m", col("cum_m") - col("mass"))
    val tot = h.agg(sum(col("nu")).as("n"), sum(col("mass")).as("m"))
    val ks = s.range(1, 11).toDF("k").crossJoin(broadcast(tot))
      .withColumn("target", floor(col("k") * col("n") / 10).cast("long"))
    ks.join(cum, col("prev_u") < col("target") && col("target") <= col("cum_u"))
      .select(col("k"), col("target").as("n_users"),
        (col("prev_m") + (col("target") - col("prev_u")) * col("v")).as("cum_value"),
        round((col("prev_m") + (col("target") - col("prev_u")) * col("v"))
          .cast("double") / col("m").cast("double"), 6).as("share"))
      .orderBy("k")
  }

  // --- DuckDB oracle twins -------------------------------------------------

  /** e20 — censored time-to-next-purchase (the survival-analysis input
    * churn models train on): per user, each purchase's gap to the NEXT
    * purchase in whole days; the last purchase has no successor and is
    * CENSORED at the observation horizon (max event time) rather than
    * silently dropped — dropping censored tails is the classic
    * survival-data bug, it biases every gap estimate downward.
    *
    * Scale: one user-keyed window (the e01 shuffle), integer epoch-µs
    * gap math (`div`, never float days), and the horizon is a 1-row
    * scalar aggregate broadcast back (the e16 threshold pattern);
    * output is a ≤|days| histogram. */
  def survivalGaps(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val horizon = events(s, d).agg(max(unix_micros(col("ts"))).as("h_us"))
    events(s, d).filter(col("event_type") === "purchase")
      .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(byUser))
      .crossJoin(broadcast(horizon))
      .withColumn("censored", col("next_us").isNull)
      .withColumn("gap_days",
        expr("(coalesce(next_us, h_us) - unix_micros(ts)) div 86400000000"))
      .groupBy("gap_days")
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("n_observed"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
      .orderBy("gap_days")
  }

  /** e21 — seasonality scan: autocorrelation of the daily event-count
    * series at lags 1–7 (the weekly-rhythm detector a forecasting
    * pipeline runs before choosing its seasonal period). q29's
    * discipline at series level: every Σ is exact integer (counts ×
    * counts), the Pearson formula runs ONCE on identical operands in
    * both engines — built-in corr()'s float-moment accumulation is
    * order-dependent and can never hash-match.
    *
    * Scale: the raw pass is one keyed daily count; everything after
    * operates on the |days| series (metadata-scale self-join on day
    * index with a 7-row lag fan-out), so a decade of 100 TB/day events
    * reduces to 3650 rows before any correlation math. */
  def dailyAutocorr(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("di"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // the |days| series feeds 7 lag joins
    val lags = daily.crossJoin(
      org.apache.spark.sql.functions.broadcast(
        s.range(1, 8).select(col("id").as("lag"))))
    val pairs = lags
      .join(daily.select(col("di").as("dj"), col("n").as("m")),
        col("dj") === col("di") - col("lag"))
    pairs.groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum("n").as("sx"), sum("m").as("sy"), sum(col("n") * col("m")).as("sxy"),
        sum(col("n") * col("n")).as("sxx"), sum(col("m") * col("m")).as("syy"))
      .select(col("lag"), col("n_pairs"),
        round((col("n_pairs") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n_pairs") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n_pairs") * col("syy") - col("sy") * col("sy"))), 6).as("autocorr"))
      .orderBy("lag")
  }

  private val D = "DECIMAL(18,2)"

  /** The e09 funnel's stage CTE chain (per-user frontiers s1..s4),
    * shared by the e09 counts and e12 delay-percentile oracles. */
  private val FunnelStagesCtesDuck: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'view' AND e.us > s1.t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM ev e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'click' AND e.us > s2.t2 GROUP BY e.user_id),
      |s4 AS (SELECT e.user_id, MIN(e.us) AS t4 FROM ev e JOIN s3 ON e.user_id = s3.user_id
      |       WHERE e.event_type = 'purchase' AND e.us > s3.t3 GROUP BY e.user_id)""".stripMargin

  /** Integer-exact spike detection over the densified hourly series —
    * the monitoring pass a pipeline runs on its own telemetry, and the
    * reason e08 densifies at all (rolling statistics silently skew when
    * empty buckets vanish). Per event type, each bucket is tested
    * against its trailing 24-hour window:
    *   flag ⇔ (W·x − S)² > 9·(W·SS − S²)      [⇔ (x−μ)² > 9σ², ×W²]
    * with W = 24, S = Σn, SS = Σn² — ALL integer arithmetic, so the
    * flag boundary is exact in every engine (a float z-score would
    * hash-drift exactly at the σ≈0 edge this test exists for). Only
    * full windows test; two-sided (a zero-traffic hour after steady
    * traffic is as much an incident as a surge). BIGINT headroom:
    * 9·W·SS ≤ 5184·x² caps x at ~4·10⁷ events/bucket/type — hourly counts
    * far beyond any single telemetry shard; shard the stream (t21)
    * before that, not the arithmetic.
    * Scale: runs on e08's |buckets|×|types| frame (the fact table was
    * already reduced), one window partitioned by event_type. */
  def spikeDetection(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hr_bucket")
      .rowsBetween(-23, 0)
    gapFilledSeries(s, d)
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("win_sum", sum(col("n")).over(w))
      .withColumn("ss", sum(col("n") * col("n")).over(w))
      .filter(col("wn") === 24)
      .withColumn("dev", lit(24L) * col("n") - col("win_sum"))
      .filter(col("dev") * col("dev") >
        lit(9L) * (lit(24L) * col("ss") - col("win_sum") * col("win_sum")))
      .select(col("hr_bucket"), col("event_type"), col("n"), col("win_sum"),
        when(col("dev") > 0, lit(1)).otherwise(lit(-1)).as("direction"))
      .orderBy("hr_bucket", "event_type")
  }

  /** e22 — EWMA smoothing of the densified hourly series: the trend
    * line a monitoring pass draws next to e10's spike flags. α = 1/2
    * over a 7-bucket trailing window, so the weights are 2^(6−k) for
    * lag k = 0..6 — the weighted sum is EXACT int64 arithmetic
    * (Σ 2^(6−k)·n ≤ 127·n), and the single normalization by 127.0 is
    * one IEEE double division on identical operands in both engines
    * (e10's integer-first discipline: a float recurrence
    * y = αx + (1−α)y would accumulate order-dependent rounding and
    * never hash-match — the closed-form integer window does). Only
    * full 7-bucket frames emit, so the smoothing contract never
    * depends on a partial-window convention.
    *
    * Scale: runs on e08's densified |buckets|×|types| frame (the fact
    * table was already reduced to metadata scale), one window
    * partitioned by event_type — |types| parallel sorted streams. */
  def ewmaSmoothing(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hr_bucket")
    def lg(k: Int) = coalesce(lag(col("n"), k).over(w), lit(0L))
    gapFilledSeries(s, d)
      .withColumn("wn", count(lit(1)).over(w.rowsBetween(-6, 0)))
      .withColumn("wsum",
        col("n") * 64 + lg(1) * 32 + lg(2) * 16 + lg(3) * 8 +
          lg(4) * 4 + lg(5) * 2 + lg(6))
      .filter(col("wn") === 7)
      .select(col("hr_bucket"), col("event_type"), col("n"), col("wsum"),
        round(col("wsum") / lit(127.0), 6).as("ewma"))
      .orderBy("hr_bucket", "event_type")
  }

  /** e26 — CUPED variance-reduced experiment readout: the A/B lift
    * analysis a modern experimentation platform runs. Users split into
    * two variants (user_id parity — the deterministic stand-in for an
    * assignment service); the observation window splits at its midpoint
    * into a PRE period (the covariate) and a POST period (the metric);
    * CUPED adjusts each variant's post-period mean by
    * θ·(pre-mean − overall pre-mean), with θ = cov(pre, post)/var(pre)
    * POOLED across variants — removing the between-user variance the
    * pre-period predicts. Emits per variant: n, raw mean, adjusted
    * mean, plus the pooled θ and ρ² (the classic CUPED variance-
    * reduction fraction).
    *
    * Determinism: per-user pre/post sums are exact integer CENTS; every
    * moment (Σx, Σy, Σx², Σxy, Σy²) is an exact int64 sum, and θ/ρ²/
    * means are SINGLE double expressions over those integers, rounded —
    * never an order-dependent float fold. Users with activity in only
    * one period carry an exact 0 in the other (standard CUPED cohort).
    *
    * Scale: one events scan → one keyed per-user aggregate; moments are
    * ONE mergeable 6-column aggregate over the user frame; variant
    * means are a 2-group keyed agg; the 1-row moment frame broadcasts.
    * At 100 TB one would center the covariate before squaring to keep
    * Σx² in range — at cents scale int64 has headroom through ~10^9
    * users. */
  def cupedLift(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("cents", (dec(col("value")) * 100).cast("long"))
    val mid = broadcast(ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid")))
    val per = ev.crossJoin(mid)
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(col("us") < col("mid"), col("cents"))), lit(0L)).as("pre"),
        coalesce(sum(when(col("us") >= col("mid"), col("cents"))), lit(0L)).as("post"))
      .withColumn("variant", pmod(col("user_id"), lit(2)))
      .localCheckpoint() // feeds the pooled moments AND the variant means
    cupedOn(per)
  }

  /** CUPED moment math over an explicit (user_id, pre, post, variant)
    * cents frame — factored so CupedSpec can plant perfectly-correlated
    * and uncorrelated cohorts (post ≡ pre ⇒ ρ² = 1 and the adjustment
    * removes ALL between-user variance). */
  private[queries] def cupedOn(per: DataFrame): DataFrame = {
    val pooled = broadcast(per.agg(
      count(lit(1)).as("n"),
      sum("pre").as("sx"), sum("post").as("sy"),
      sum(col("pre") * col("pre")).as("sxx"),
      sum(col("pre") * col("post")).as("sxy"),
      sum(col("post") * col("post")).as("syy")))
    val covN = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val varY = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val theta = covN / varX
    per.groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum("pre").as("vx"), sum("post").as("vy"))
      .crossJoin(pooled)
      .select(
        col("variant"), col("n_users"),
        round(col("vy").cast("double") / col("n_users") / 100.0, 6).as("mean_post"),
        round((col("vy").cast("double") / col("n_users") -
          theta * (col("vx").cast("double") / col("n_users") -
            col("sx").cast("double") / col("n"))) / 100.0, 6).as("mean_adj"),
        round(theta, 6).as("theta"),
        round(covN * covN / (varX * varY), 6).as("rho2"))
      .orderBy("variant")
  }

  /** e27 — CUSUM drift detection over the daily value series: the
    * SEQUENTIAL change detector beside t37's distributional PSI drift
    * and e10/e24's pointwise spike tests — a pointwise test misses a
    * sustained small shift; CUSUM accumulates it. Per event type:
    * S_d = max(0, S_{d−1} + x_d − μ − κ) with slack κ = μ/20 and
    * alarm threshold h = μ/2 (both data-derived integers, so the
    * oracle rederives them with subqueries and the knobs cannot
    * drift); emits first alarm day (−1 = none) and the max excursion.
    *
    * Determinism/shape: daily totals are exact cent sums; the
    * recursion is order-dependent BY DEFINITION, so it runs as ONE
    * in-order fold over each type's sorted |days| array (sort_array ∘
    * collect_list — bounded at |days| per type, never corpus-scale;
    * the same bounded-array discipline as e21/e24), with a struct
    * accumulator carrying (S, max, alarm). All integer arithmetic.
    * At 100 TB the daily frame is already metadata-scale — the corpus
    * pays exactly one aggregation. */
  def cusumDrift(s: SparkSession, d: String): DataFrame =
    cusumOn(events(s, d)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("cents", (dec(col("value")) * 100).cast("long"))
      .groupBy("event_type", "day").agg(sum("cents").as("x")))

  /** CUSUM core over an explicit (event_type, day, x) daily frame —
    * factored so CusumSpec can plant shifted/flat/resetting series. */
  private[queries] def cusumOn(daily: DataFrame): DataFrame = {
    val params = daily.groupBy("event_type")
      .agg(expr("CAST(sum(x) AS BIGINT) div count(1)").as("mu"),
        count(lit(1)).as("n_days"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("xs"))
      .join(params, "event_type")
      .withColumn("res", expr(
        """aggregate(xs,
          |  struct(CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS mx,
          |         CAST(-1 AS BIGINT) AS alarm),
          |  (acc, e) -> struct(
          |    greatest(CAST(0 AS BIGINT), acc.s + e.x - mu - mu div 20) AS s,
          |    greatest(acc.mx,
          |      greatest(CAST(0 AS BIGINT), acc.s + e.x - mu - mu div 20)) AS mx,
          |    IF(acc.alarm >= 0, acc.alarm,
          |      IF(greatest(CAST(0 AS BIGINT), acc.s + e.x - mu - mu div 20)
          |           > mu div 2, e.day, CAST(-1 AS BIGINT))) AS alarm))""".stripMargin))
      .select(col("event_type"), col("n_days"), col("mu"),
        col("res.alarm").as("alarm_day"), col("res.mx").as("max_cusum"))
      .orderBy("event_type")
  }

  /** e23 — user-journey path mining: the top-20 three-step event-type
    * sequences users actually walk (consecutive by event time, event_id
    * tie-break — q24's strict-order discipline), with the count of
    * walks and of distinct walkers. The "what do users do before
    * purchasing" readout, and the sequence-level complement of e04's
    * pairwise transition matrix.
    *
    * Scale: ONE window partitioned by user_id builds both lead steps in
    * a single pass (no self-joins — a 3-step path via joins would
    * shuffle events three times); the path census aggregates to
    * ≤ |types|³ rows — metadata scale — and top-20 is
    * TakeOrderedAndProject. */
  def userPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(col("user_id"),
        concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_walks"), countDistinct("user_id").as("n_users"))
      .orderBy(col("n_walks").desc, col("path").asc)
      .limit(20)
  }

  /** e24 — robust anomaly census: per event type, the median and MAD
    * (median absolute deviation) of the densified hourly series, and
    * how many buckets sit beyond 3·MAD on each side. The ROBUST
    * complement of e10's mean/σ z-test: one contaminated spike inflates
    * σ and masks its neighbors, while the median/MAD breakdown point is
    * 50% — the estimator a monitoring pass trusts precisely when the
    * data is already anomalous. Lower-median convention (min value with
    * 2·cum ≥ N), threshold floor MAD ≥ 1 — all integer, so the flag
    * boundary is exact in both engines (e10's discipline).
    *
    * Scale: both medians come from cumulated VALUE HISTOGRAMS (t29's
    * rule — the window runs over ≤|distinct counts| rows per type,
    * never the series), built by keyed partial aggs off e08's already-
    * reduced frame. */
  def robustSpikes(s: SparkSession, d: String): DataFrame = {
    // the densified series feeds tot, the n-median, and (through dev,
    // twice) the MAD + census — ~6 evaluations of the densify join
    // unpinned (the e12 repeated-subtree audit, same round). Both pins
    // are |buckets|×|types| rows — metadata-scale.
    val series = gapFilledSeries(s, d).localCheckpoint()
    val tot = series.groupBy("event_type").agg(count(lit(1)).as("nb"))
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val wv = Window.partitionBy("event_type").orderBy(v)
      df.groupBy("event_type", v).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(wv))
        .join(tot, "event_type")
        .filter(col("cum") * 2 >= col("nb"))
        .groupBy("event_type").agg(min(v).as(out))
    }
    val med = lowerMedian(series, "n", "median_n")
    val dev = series.join(med, "event_type")
      .withColumn("ad", abs(col("n") - col("median_n")))
      .localCheckpoint() // the MAD derivation AND the final census read it
    val mad = lowerMedian(dev, "ad", "mad")
    dev.join(mad, "event_type")
      .withColumn("thr", greatest(col("mad"), lit(1L)) * 3)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_buckets"),
        max(col("median_n")).as("median_n"), max(col("mad")).as("mad"),
        sum(when(col("n") - col("median_n") > col("thr"), 1L).otherwise(0L)).as("n_hi"),
        sum(when(col("median_n") - col("n") > col("thr"), 1L).otherwise(0L)).as("n_lo"))
      .orderBy("event_type")
  }

  /** e25 — the weekly retention TRIANGLE: every (signup-cohort week,
    * week offset) cell of the classic retention matrix — users active
    * again k weeks after their first-ever event — with the cohort size
    * and an integer-permille rate. Generalizes e14's two fixed D+1/D+7
    * probes into the full triangular readout an analytics deliverable
    * ships.
    *
    * Scale: e14's discipline generalized — the (user, week) activity
    * frame materializes ONCE (distinct = one keyed shuffle), the cohort
    * week rides a min-aggregate, and every cell comes from ONE
    * (cohort, offset) aggregation over that frame: no per-offset
    * rescans, no window. |cells| = weeks²/2 — metadata at any scale. */
  def retentionTriangle(s: SparkSession, d: String): DataFrame = {
    val uw = events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("wk"))
      .distinct()
      .localCheckpoint() // feeds the cohort agg AND the offset join
    val cohort = uw.groupBy("user_id").agg(min(col("wk")).as("c_wk"))
    val sizes = cohort.groupBy("c_wk").agg(count(lit(1)).as("n_cohort"))
    uw.join(cohort, "user_id")
      .withColumn("offset", col("wk") - col("c_wk"))
      .groupBy("c_wk", "offset")
      .agg(countDistinct("user_id").as("n_active"))
      .join(sizes, "c_wk")
      .select(col("c_wk").as("cohort_week"), col("offset"),
        col("n_cohort"), col("n_active"),
        floor(col("n_active") * lit(1000) / col("n_cohort")).cast("long")
          .as("retained_permille"))
      .orderBy("cohort_week", "offset")
  }

  val defs: Map[String, QueryDef] = Map(
    // the CUSUM recursion restated as a RECURSIVE CTE over the day
    // index — exact integers throughout, same data-derived μ/κ/h
    "e27_cusum_drift" -> QueryDef(cusumDrift _,
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    CAST(SUM(CAST(CAST(value AS $D) * 100 AS BIGINT)) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |p AS (SELECT event_type, CAST(SUM(x) AS BIGINT) // COUNT(*) AS mu,
         |    CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
         |seq AS (SELECT d.event_type, d.day, d.x, p.mu,
         |    ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS i
         |  FROM daily d JOIN p ON p.event_type = d.event_type),
         |c AS (
         |  SELECT event_type, i, day,
         |    GREATEST(CAST(0 AS BIGINT), x - mu - mu // 20) AS s
         |  FROM seq WHERE i = 1
         |  UNION ALL
         |  SELECT s2.event_type, s2.i, s2.day,
         |    GREATEST(CAST(0 AS BIGINT), c.s + s2.x - s2.mu - s2.mu // 20)
         |  FROM c JOIN seq s2 ON s2.event_type = c.event_type AND s2.i = c.i + 1),
         |agg AS (SELECT c.event_type,
         |    CAST(MAX(c.s) AS BIGINT) AS max_cusum,
         |    CAST(COALESCE(MIN(CASE WHEN c.s > p.mu // 2 THEN c.day END), -1) AS BIGINT) AS alarm_day
         |  FROM c JOIN p ON p.event_type = c.event_type
         |  GROUP BY c.event_type)
         |SELECT p.event_type, p.n_days, p.mu, a.alarm_day, a.max_cusum
         |FROM p JOIN agg a ON a.event_type = p.event_type
         |ORDER BY p.event_type""".stripMargin),
    // every moment an exact int64 cents sum; θ/ρ²/means are single
    // double expressions over those integers — no float folds anywhere
    "e26_cuped_lift" -> QueryDef(cupedLift _,
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us,
         |    CAST(CAST(value AS $D) * 100 AS BIGINT) AS cents FROM events),
         |m AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM e),
         |per AS (SELECT user_id,
         |    CAST(COALESCE(SUM(CASE WHEN us < m.mid THEN cents END), 0) AS BIGINT) AS pre,
         |    CAST(COALESCE(SUM(CASE WHEN us >= m.mid THEN cents END), 0) AS BIGINT) AS post
         |  FROM e, m GROUP BY user_id),
         |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(pre) AS BIGINT) AS sx, CAST(SUM(post) AS BIGINT) AS sy,
         |    CAST(SUM(pre * pre) AS BIGINT) AS sxx,
         |    CAST(SUM(pre * post) AS BIGINT) AS sxy,
         |    CAST(SUM(post * post) AS BIGINT) AS syy FROM per),
         |v AS (SELECT user_id % 2 AS variant, CAST(COUNT(*) AS BIGINT) AS n_users,
         |    CAST(SUM(pre) AS BIGINT) AS vx, CAST(SUM(post) AS BIGINT) AS vy
         |  FROM per GROUP BY 1)
         |SELECT v.variant, v.n_users,
         |  round(CAST(v.vy AS DOUBLE) / v.n_users / CAST(100 AS DOUBLE), 6) AS mean_post,
         |  round((CAST(v.vy AS DOUBLE) / v.n_users
         |    - (CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
         |       / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE))
         |      * (CAST(v.vx AS DOUBLE) / v.n_users - CAST(p.sx AS DOUBLE) / p.n))
         |    / CAST(100 AS DOUBLE), 6) AS mean_adj,
         |  round(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
         |    / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE), 6) AS theta,
         |  round(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
         |      * CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
         |    / (CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE)
         |      * CAST(p.n * p.syy - p.sy * p.sy AS DOUBLE)), 6) AS rho2
         |FROM v, p ORDER BY v.variant""".stripMargin),
    "e25_retention_triangle" -> QueryDef(retentionTriangle _,
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |cohort AS (SELECT user_id, MIN(wk) AS c_wk FROM uw GROUP BY user_id),
        |sizes AS (SELECT c_wk, COUNT(*) AS n_cohort FROM cohort GROUP BY c_wk),
        |cells AS (SELECT c.c_wk, uw.wk - c.c_wk AS "offset",
        |    COUNT(DISTINCT uw.user_id) AS n_active
        |  FROM uw JOIN cohort c ON c.user_id = uw.user_id
        |  GROUP BY 1, 2)
        |SELECT cells.c_wk AS cohort_week, cells."offset",
        |  sizes.n_cohort, cells.n_active,
        |  CAST(FLOOR(cells.n_active * 1000 / sizes.n_cohort) AS BIGINT)
        |    AS retained_permille
        |FROM cells JOIN sizes ON sizes.c_wk = cells.c_wk
        |ORDER BY cohort_week, cells."offset"""".stripMargin),

    "e24_robust_spikes" -> QueryDef(robustSpikes _,
      """WITH ev AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hr_bucket,
        |    event_type FROM events),
        |b AS (SELECT unnest(generate_series(MIN(hr_bucket), MAX(hr_bucket))) AS hr_bucket FROM ev),
        |t AS (SELECT DISTINCT event_type FROM ev),
        |c AS (SELECT hr_bucket, event_type, COUNT(*) AS n FROM ev GROUP BY 1, 2),
        |g AS (SELECT b.hr_bucket, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |  FROM b CROSS JOIN t
        |  LEFT JOIN c ON c.hr_bucket = b.hr_bucket AND c.event_type = t.event_type),
        |tot AS (SELECT event_type, COUNT(*) AS nb FROM g GROUP BY 1),
        |h1 AS (SELECT event_type, n, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |m1 AS (SELECT h1.event_type, MIN(h1.n) AS median_n FROM (
        |    SELECT event_type, n, SUM(c) OVER (PARTITION BY event_type ORDER BY n) AS cum
        |    FROM h1) h1 JOIN tot ON tot.event_type = h1.event_type
        |  WHERE h1.cum * 2 >= tot.nb GROUP BY 1),
        |dev AS (SELECT g.event_type, g.n, m1.median_n, ABS(g.n - m1.median_n) AS ad
        |  FROM g JOIN m1 ON m1.event_type = g.event_type),
        |h2 AS (SELECT event_type, ad, COUNT(*) AS c FROM dev GROUP BY 1, 2),
        |m2 AS (SELECT h2.event_type, MIN(h2.ad) AS mad FROM (
        |    SELECT event_type, ad, SUM(c) OVER (PARTITION BY event_type ORDER BY ad) AS cum
        |    FROM h2) h2 JOIN tot ON tot.event_type = h2.event_type
        |  WHERE h2.cum * 2 >= tot.nb GROUP BY 1)
        |SELECT dev.event_type, COUNT(*) AS n_buckets,
        |  MAX(dev.median_n) AS median_n, MAX(m2.mad) AS mad,
        |  CAST(SUM(CASE WHEN dev.n - dev.median_n > 3 * GREATEST(m2.mad, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  CAST(SUM(CASE WHEN dev.median_n - dev.n > 3 * GREATEST(m2.mad, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_lo
        |FROM dev JOIN m2 ON m2.event_type = dev.event_type
        |GROUP BY dev.event_type ORDER BY dev.event_type""".stripMargin),

    "e23_user_paths" -> QueryDef(userPaths _,
      """WITH ev AS (SELECT user_id, event_type,
        |    LEAD(event_type, 1) OVER w AS t2,
        |    LEAD(event_type, 2) OVER w AS t3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || t2 || '>' || t3 AS path,
        |  COUNT(*) AS n_walks, COUNT(DISTINCT user_id) AS n_users
        |FROM ev WHERE t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n_walks DESC, path ASC LIMIT 20""".stripMargin),

    "e22_ewma_smoothing" -> QueryDef(ewmaSmoothing _,
      """WITH ev AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hr_bucket,
        |    event_type FROM events),
        |b AS (SELECT unnest(generate_series(MIN(hr_bucket), MAX(hr_bucket))) AS hr_bucket FROM ev),
        |t AS (SELECT DISTINCT event_type FROM ev),
        |c AS (SELECT hr_bucket, event_type, COUNT(*) AS n FROM ev GROUP BY 1, 2),
        |g AS (SELECT b.hr_bucket, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |  FROM b CROSS JOIN t
        |  LEFT JOIN c ON c.hr_bucket = b.hr_bucket AND c.event_type = t.event_type),
        |l AS (SELECT hr_bucket, event_type, n,
        |    64*n + 32*LAG(n,1,0) OVER w + 16*LAG(n,2,0) OVER w + 8*LAG(n,3,0) OVER w
        |      + 4*LAG(n,4,0) OVER w + 2*LAG(n,5,0) OVER w + LAG(n,6,0) OVER w AS wsum,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY hr_bucket
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS wn
        |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY hr_bucket))
        |SELECT hr_bucket, event_type, n, CAST(wsum AS BIGINT) AS wsum,
        |  ROUND(wsum / 127.0, 6) AS ewma
        |FROM l WHERE wn = 7 ORDER BY hr_bucket, event_type""".stripMargin),
    "e11_cumulative_reach" -> QueryDef(cumulativeReach _,
      """WITH ev AS (SELECT event_type, user_id,
        |    CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day FROM events),
        |fu AS (SELECT event_type, user_id, MIN(day) AS day FROM ev GROUP BY 1, 2),
        |nn AS (SELECT event_type, day, COUNT(*) AS n_new FROM fu GROUP BY 1, 2),
        |dly AS (SELECT event_type, day, COUNT(*) AS n_events FROM ev GROUP BY 1, 2)
        |SELECT dly.event_type, dly.day, dly.n_events,
        |  CAST(COALESCE(nn.n_new, 0) AS BIGINT) AS n_new,
        |  CAST(SUM(COALESCE(nn.n_new, 0)) OVER (PARTITION BY dly.event_type ORDER BY dly.day
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM dly LEFT JOIN nn ON nn.event_type = dly.event_type AND nn.day = dly.day
        |ORDER BY 1, 2""".stripMargin),
    "e14_day_n_retention" -> QueryDef(dayNRetention _,
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day FROM events),
        |c AS (SELECT user_id, MIN(CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT)) AS d0
        |      FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |r1 AS (SELECT DISTINCT user_id, day - 1 AS d0 FROM ud),
        |r7 AS (SELECT DISTINCT user_id, day - 7 AS d0 FROM ud)
        |SELECT c.d0, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  round(CAST(SUM(CASE WHEN r1.user_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS day1_rate,
        |  round(CAST(SUM(CASE WHEN r7.user_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS day7_rate
        |FROM c LEFT JOIN r1 ON r1.user_id = c.user_id AND r1.d0 = c.d0
        |       LEFT JOIN r7 ON r7.user_id = c.user_id AND r7.d0 = c.d0
        |GROUP BY c.d0 ORDER BY c.d0""".stripMargin),

    // the oracle is the NAIVE sliding-window distinct (range join +
    // COUNT DISTINCT) — the hash match proves the explode restatement
    // is semantically free
    "e13_stickiness" -> QueryDef(stickiness _,
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day FROM events),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
        |wau AS (SELECT w.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
        |        FROM dau w JOIN ud u ON u.day BETWEEN w.day - 6 AND w.day
        |        GROUP BY w.day)
        |SELECT dau.day, dau.dau, wau.wau,
        |  round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
        |FROM dau JOIN wau ON wau.day = dau.day ORDER BY dau.day""".stripMargin),

    "e10_spike_detection" -> QueryDef(spikeDetection _,
      """WITH ev AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hr_bucket,
        |    event_type FROM events),
        |b AS (SELECT unnest(generate_series(MIN(hr_bucket), MAX(hr_bucket))) AS hr_bucket FROM ev),
        |t AS (SELECT DISTINCT event_type FROM ev),
        |c AS (SELECT hr_bucket, event_type, COUNT(*) AS n FROM ev GROUP BY 1, 2),
        |dense AS (SELECT b.hr_bucket, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |  FROM b CROSS JOIN t
        |  LEFT JOIN c ON c.hr_bucket = b.hr_bucket AND c.event_type = t.event_type),
        |w AS (SELECT hr_bucket, event_type, n,
        |    CAST(COUNT(*) OVER win AS BIGINT) AS wn,
        |    CAST(SUM(n) OVER win AS BIGINT) AS win_sum,
        |    CAST(SUM(n * n) OVER win AS BIGINT) AS ss
        |  FROM dense
        |  WINDOW win AS (PARTITION BY event_type ORDER BY hr_bucket
        |                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT hr_bucket, event_type, n, win_sum,
        |  CASE WHEN 24 * n - win_sum > 0 THEN 1 ELSE -1 END AS direction
        |FROM w
        |WHERE wn = 24
        |  AND (24 * n - win_sum) * (24 * n - win_sum) > 9 * (24 * ss - win_sum * win_sum)
        |ORDER BY hr_bucket, event_type""".stripMargin),
    "e01_sessionize" -> QueryDef(sessionize _,
      s"""WITH x AS (SELECT user_id, event_id, ts, value,
         |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
         |  FROM events),
         |f AS (SELECT *, CASE WHEN prev_us IS NULL
         |        OR epoch_us(ts) - prev_us > ${GapUs} THEN 1 ELSE 0 END AS new_sess FROM x),
         |g AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM f)
         |SELECT user_id, sess_id, COUNT(*) AS n_events,
         |  MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM g GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin),

    "e02_hourly_event_stats" -> QueryDef(hourlyEventStats _,
      s"""SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hr_bucket, event_type,
         |  COUNT(*) AS n, CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value,
         |  COUNT(DISTINCT user_id) AS n_users
         |FROM events GROUP BY 1, 2 ORDER BY hr_bucket, event_type""".stripMargin),

    "e03_tumbling_5min" -> QueryDef(tumbling5min _,
      """SELECT CAST(FLOOR(epoch_us(ts) / 300000000) * 300 AS BIGINT) AS w_start_epoch,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY w_start_epoch, event_type""".stripMargin),

    "e04_event_transitions" -> QueryDef(eventTransitions _,
      """WITH x AS (SELECT user_id, event_type, ts, event_id,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, COUNT(*) AS n FROM x
        |WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type ORDER BY prev_type, event_type""".stripMargin),

    "e07_weekly_cohorts" -> QueryDef(weeklyCohorts _,
      """WITH ev AS (SELECT user_id, CAST(FLOOR(epoch_us(ts) / 604800000000) AS BIGINT) AS wk
        |  FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id)
        |SELECT c.cohort_wk, ev.wk, COUNT(DISTINCT ev.user_id) AS n_users,
        |  COUNT(*) AS n_events
        |FROM ev JOIN c ON ev.user_id = c.user_id
        |GROUP BY c.cohort_wk, ev.wk ORDER BY c.cohort_wk, ev.wk""".stripMargin),

    "e06_json_props" -> QueryDef(jsonProps _,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
        |  MAX(CAST(props->>'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // e06's oracle verbatim — VARIANT is the alternative engine path,
    // and both must aggregate the same typed extractions
    "e15_variant_props" -> QueryDef(variantProps _,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
        |  MAX(CAST(props->>'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    "e08_gap_filled_series" -> QueryDef(gapFilledSeries _,
      """WITH ev AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hr_bucket,
        |    event_type FROM events),
        |b AS (SELECT unnest(generate_series(MIN(hr_bucket), MAX(hr_bucket))) AS hr_bucket FROM ev),
        |t AS (SELECT DISTINCT event_type FROM ev),
        |c AS (SELECT hr_bucket, event_type, COUNT(*) AS n FROM ev GROUP BY 1, 2)
        |SELECT b.hr_bucket, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM b CROSS JOIN t
        |LEFT JOIN c ON c.hr_bucket = b.hr_bucket AND c.event_type = t.event_type
        |ORDER BY b.hr_bucket, t.event_type""".stripMargin),

    "e09_funnel" -> QueryDef(funnel _,
      s"""$FunnelStagesCtesDuck
         |SELECT '1_signup' AS stage, COUNT(*) AS n_users FROM s1
         |UNION ALL SELECT '2_view', COUNT(*) FROM s2
         |UNION ALL SELECT '3_click', COUNT(*) FROM s3
         |UNION ALL SELECT '4_purchase', COUNT(*) FROM s4
         |ORDER BY stage""".stripMargin),

    "e12_funnel_delays" -> QueryDef(funnelDelays _,
      s"""$FunnelStagesCtesDuck,
         |dl AS (
         |  SELECT '2_view' AS transition,
         |    CAST(FLOOR((s2.t2 - s1.t1) / 1000000) AS BIGINT) AS delay_sec
         |  FROM s2 JOIN s1 ON s1.user_id = s2.user_id
         |  UNION ALL SELECT '3_click', CAST(FLOOR((s3.t3 - s2.t2) / 1000000) AS BIGINT)
         |  FROM s3 JOIN s2 ON s2.user_id = s3.user_id
         |  UNION ALL SELECT '4_purchase', CAST(FLOOR((s4.t4 - s3.t3) / 1000000) AS BIGINT)
         |  FROM s4 JOIN s3 ON s3.user_id = s4.user_id),
         |h AS (SELECT transition, delay_sec, COUNT(*) AS c FROM dl GROUP BY 1, 2),
         |t AS (SELECT transition, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY 1),
         |cum AS (SELECT h.transition, h.delay_sec, t.n,
         |    CAST(SUM(c) OVER (PARTITION BY h.transition ORDER BY h.delay_sec
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM h JOIN t ON t.transition = h.transition),
         |p50 AS (SELECT transition, MIN(delay_sec) AS p50_sec FROM cum
         |        WHERE cum * 2 >= n GROUP BY 1),
         |p90 AS (SELECT transition, MIN(delay_sec) AS p90_sec FROM cum
         |        WHERE cum * 10 >= 9 * n GROUP BY 1)
         |SELECT t.transition, t.n, p50.p50_sec, p90.p90_sec
         |FROM t
         |JOIN p50 ON p50.transition = t.transition
         |JOIN p90 ON p90.transition = t.transition
         |ORDER BY 1""".stripMargin),

    "e05_top_users_by_value" -> QueryDef(topUsersByValue _,
      s"""WITH a AS (SELECT user_id, SUM(CAST(value AS $D)) AS sv, COUNT(*) AS n_events
         |  FROM events GROUP BY user_id),
         |r AS (SELECT user_id, sv, n_events,
         |    ROW_NUMBER() OVER (ORDER BY sv DESC, user_id ASC) AS rk FROM a)
         |SELECT rk, user_id, CAST(sv AS DOUBLE) AS total_value, n_events
         |FROM r WHERE rk <= 5 ORDER BY rk""".stripMargin),

    // exact integer rank thresholds over the bounded gap histogram
    // (e12's discipline); the lag partitions per user in both engines
    "e18_inter_event_gaps" -> QueryDef(interEventGaps _,
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |lg AS (SELECT user_id, us,
        |    LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
        |  FROM ev),
        |g AS (SELECT CAST(FLOOR((us - prev_us) / 1000000) AS BIGINT) AS gap_sec
        |      FROM lg WHERE prev_us IS NOT NULL),
        |h AS (SELECT gap_sec, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1),
        |cum AS (SELECT gap_sec, c, SUM(c) OVER (ORDER BY gap_sec) AS cum,
        |        (SELECT SUM(c) FROM h) AS n FROM h)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_gaps,
        |  MIN(CASE WHEN cum * 2 >= n THEN gap_sec END) AS p50_sec,
        |  MIN(CASE WHEN cum * 10 >= n * 9 THEN gap_sec END) AS p90_sec,
        |  MIN(CASE WHEN cum * 100 >= n * 99 THEN gap_sec END) AS p99_sec
        |FROM cum""".stripMargin),
    // integer Σs; the one float expression runs on identical operands
    // in both engines (q29's discipline at series level)
    "e21_daily_autocorr" -> QueryDef(dailyAutocorr _,
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS di, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |lagged AS (SELECT l.lag, a.n, b.n AS m
        |  FROM daily a
        |  CROSS JOIN (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS lag) l
        |  JOIN daily b ON b.di = a.di - l.lag)
        |SELECT lag, COUNT(*) AS n_pairs,
        |  round((COUNT(*) * SUM(n * m) - SUM(n) * SUM(m)) /
        |    (sqrt(COUNT(*) * SUM(n * n) - SUM(n) * SUM(n)) *
        |     sqrt(COUNT(*) * SUM(m * m) - SUM(m) * SUM(m))), 6) AS autocorr
        |FROM lagged GROUP BY lag ORDER BY lag""".stripMargin),

    // the oracle keeps censored tails (coalesce to the horizon), the
    // survival-data contract the engine must reproduce
    "e20_survival_gaps" -> QueryDef(survivalGaps _,
      """WITH p AS (SELECT user_id, ts, event_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'purchase'),
        |h AS (SELECT MAX(epoch_us(ts)) AS h_us FROM events),
        |g AS (SELECT p.us,
        |    LEAD(p.us) OVER (PARTITION BY p.user_id ORDER BY p.ts, p.event_id) AS next_us,
        |    h.h_us
        |  FROM p, h)
        |SELECT (COALESCE(next_us, h_us) - us) // 86400000000 AS gap_days,
        |  CAST(SUM(CASE WHEN next_us IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_observed,
        |  CAST(SUM(CASE WHEN next_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    "e19_last_touch_attribution" -> QueryDef(lastTouchAttribution _,
      s"""WITH t AS (SELECT user_id, ts, event_id, event_type, value,
         |    CASE WHEN event_type <> 'purchase' THEN event_type END AS touch_type,
         |    CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END AS touch_us
         |  FROM events),
         |l AS (SELECT *,
         |    LAST_VALUE(touch_type IGNORE NULLS) OVER w AS lt,
         |    LAST_VALUE(touch_us IGNORE NULLS) OVER w AS lt_us
         |  FROM t
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |p AS (SELECT CASE WHEN lt IS NOT NULL AND epoch_us(ts) - lt_us <= 604800000000
         |        THEN lt ELSE 'direct' END AS channel, value
         |  FROM l WHERE event_type = 'purchase')
         |SELECT channel, COUNT(*) AS n_purchases,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS attributed_value
         |FROM p GROUP BY channel ORDER BY channel""".stripMargin),

    // same bounded-histogram discipline as e16; the straddling bucket's
    // partial mass is exact because co-bucketed users share one total
    "e17_lorenz_deciles" -> QueryDef(lorenzDeciles _,
      s"""WITH per AS (SELECT user_id,
         |    CAST(FLOOR(SUM(CAST(value AS $D))) AS BIGINT) AS v
         |  FROM events GROUP BY user_id),
         |h AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS nu,
         |    CAST(v * COUNT(*) AS BIGINT) AS mass FROM per GROUP BY v),
         |cum AS (SELECT v, nu, mass,
         |    SUM(nu) OVER (ORDER BY v) AS cum_u,
         |    SUM(mass) OVER (ORDER BY v) AS cum_m FROM h),
         |tot AS (SELECT CAST(SUM(nu) AS BIGINT) AS n,
         |    CAST(SUM(mass) AS BIGINT) AS m FROM h),
         |ks AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS k),
         |tg AS (SELECT k, CAST(FLOOR(k * n / 10) AS BIGINT) AS target, m
         |       FROM ks CROSS JOIN tot)
         |SELECT tg.k, tg.target AS n_users,
         |  CAST(cum.cum_m - cum.mass + (tg.target - (cum.cum_u - cum.nu)) * cum.v AS BIGINT) AS cum_value,
         |  round(CAST(cum.cum_m - cum.mass + (tg.target - (cum.cum_u - cum.nu)) * cum.v AS DOUBLE)
         |    / CAST(tg.m AS DOUBLE), 6) AS share
         |FROM tg JOIN cum ON (cum.cum_u - cum.nu) < tg.target AND tg.target <= cum.cum_u
         |ORDER BY tg.k""".stripMargin),

    // thresholds restate the engine's bounded-histogram quintiles
    // verbatim (q_k = min v with cum·5 ≥ k·n); boundary ties land low
    // in both engines, so the census is tie-stable
    "e16_rfm_segments" -> QueryDef(rfmSegments _, {
      def th(src: String, c: String) =
        s"""${c}h AS (SELECT $c AS v, COUNT(*) AS n FROM $src GROUP BY 1),
           |${c}c AS (SELECT v, SUM(n) OVER (ORDER BY v) AS cum,
           |          (SELECT SUM(n) FROM ${c}h) AS tot FROM ${c}h),
           |${c}t AS (SELECT
           |    MIN(CASE WHEN cum*5 >= tot THEN v END) AS ${c}_q1,
           |    MIN(CASE WHEN cum*5 >= tot*2 THEN v END) AS ${c}_q2,
           |    MIN(CASE WHEN cum*5 >= tot*3 THEN v END) AS ${c}_q3,
           |    MIN(CASE WHEN cum*5 >= tot*4 THEN v END) AS ${c}_q4 FROM ${c}c)"""
      def above(c: String) = (1 to 4)
        .map(k => s"(CASE WHEN $c > ${c}_q$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH ev AS (SELECT user_id,
         |    CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day, value
         |  FROM events),
         |mx AS (SELECT MAX(day) AS max_day FROM ev),
         |per AS (SELECT user_id,
         |    CAST(mx.max_day - MAX(day) AS BIGINT) AS recency,
         |    CAST(COUNT(*) AS BIGINT) AS freq,
         |    CAST(FLOOR(SUM(CAST(value AS $D))) AS BIGINT) AS mon_d
         |  FROM ev CROSS JOIN mx GROUP BY user_id, mx.max_day),
         |${th("per", "recency")},
         |${th("per", "freq")},
         |${th("per", "mon_d")},
         |sc AS (SELECT user_id,
         |    5 - (${above("recency")}) AS r_score,
         |    1 + (${above("freq")}) AS f_score,
         |    1 + (${above("mon_d")}) AS m_score
         |  FROM per CROSS JOIN recencyt CROSS JOIN freqt CROSS JOIN mon_dt)
         |SELECT r_score, f_score, m_score, CAST(COUNT(*) AS BIGINT) AS n_users
         |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    })
  )
}
