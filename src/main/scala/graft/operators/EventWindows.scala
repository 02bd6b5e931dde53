package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Event-time windowing over the `events` stream table — the batch view of
  * the reference's windowing surface (SURVEY §2.4/§2.5):
  *   A1 non-keyed tumbling  → [[tumbling]]
  *   A2 keyed tumbling      → [[tumblingKeyed]]
  *   A3 sliding             → [[sliding]]
  *   A4 count-trigger       → [[countTrigger]] (streaming variant in
  *                            graft.streaming.CountTriggerStream)
  *   A5 session windows     → [[sessions]]
  * The same plans run unchanged on `readStream` inputs (Structured
  * Streaming) with `withWatermark` — see graft.streaming.StreamingWindows;
  * batch mode is what the DuckDB oracle checks.
  *
  * Window starts are emitted as epoch seconds (BIGINT) — portable across
  * engines and exactly what Spark's epoch-aligned `window()` computes.
  * The reference counts `activity == "register"` per window
  * (FlinkWindowLearning.scala:82); here the analog is
  * `event_type = 'signup'` over events.
  */
object EventWindows {

  /** A1/F1: non-keyed tumbling window, conditional count + total count. */
  def tumbling(s: SparkSession, dir: String, size: String = "1 hour"): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), size).as("w"))
      .agg(
        count(when(col("event_type") === "signup", 1)).as("signups"),
        count(lit(1)).as("n_events")
      )
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("signups"), col("n_events"))
      .orderBy(col("window_start"))

  /** A2/F4: keyed tumbling window — per event_type counts + value sum. */
  def tumblingKeyed(s: SparkSession, dir: String, size: String = "1 hour"): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), window(col("ts"), size).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(Relational.dec2(col("value"))).cast(DoubleType).as("sum_value"))
      .select(col("event_type"), unix_timestamp(col("w.start")).as("window_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("event_type"), col("window_start"))

  /** A3/F5: sliding window (size 1 h, slide 15 min) — each event lands in 4
    * overlapping windows. Spark keeps state O(windows), not O(events).
    */
  def sliding(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(when(col("event_type") === "signup", 1)).as("signups"),
        count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("signups"), col("n_events"))
      .orderBy(col("window_start"))

  /** A5: session windows per user, 30-minute gap (built-in since Spark 3.2;
    * the reference only *names* this as a goal, README.md:33).
    * Spark's session = [min ts, max ts + gap); we emit start, the event
    * count, and the span in seconds (max ts − min ts, gap excluded) so the
    * oracle can recompute it with gaps-and-islands SQL.
    */
  def sessions(s: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        // session end = last event + gap; subtract it back out for a
        // gap-independent, integer-exact span
        (unix_millis(col("w.end")) - unix_millis(col("w.start")) - lit(gapMinutes * 60000L))
          .as("span_ms"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start_ms"))

  /** A4/F6: count-triggered global "window", batch semantics. Flink's
    * CountTrigger(5) on a global window FIREs without purging: after every
    * 5th element it re-counts ALL elements seen so far
    * (FlinkWindowLearning.scala:242-255 — cumulative 3, then 6 on the
    * sample). Batch equivalent: order events globally, emit the running
    * signup count at every 5th row.
    *
    * The global running count is a distributed two-pass prefix sum, NOT a
    * single-partition Window sort (which moves every event to one task):
    *  1. events land in hour buckets — monotone in the global sort key
    *     (ts, event_id), so per-bucket order + bucket offsets == global
    *     order. Running counts within a bucket are an ordinary
    *     partitioned Window;
    *  2. per-bucket totals (one row per hour) get exclusive prefix sums
    *     via an unpartitioned Window over O(hours) rows — bounded by the
    *     corpus time span, never by event count — and broadcast back.
    * (Flink's windowAll is parallelism-1; this form is what it can't do.)
    */
  def countTrigger(s: SparkSession, dir: String, every: Int = 5): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("ts"), col("event_id"),
        when(col("event_type") === "signup", 1L).otherwise(0L).as("is_signup"))
      .withColumn("bkt", expr("unix_millis(ts) div 3600000"))
    // tiny side: one row per hour bucket, exclusive running offsets
    val wb = Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ev.groupBy(col("bkt"))
      .agg(count(lit(1)).as("n"), sum(col("is_signup")).as("sg"))
      .select(col("bkt"),
        coalesce(sum(col("n")).over(wb), lit(0L)).as("row_off"),
        coalesce(sum(col("sg")).over(wb), lit(0L)).as("sig_off"))
    // big side: running counts inside each bucket, then add the offsets
    val wi = Window.partitionBy(col("bkt")).orderBy(col("ts"), col("event_id"))
    ev
      .withColumn("rn_in", row_number().over(wi))
      .withColumn("cum_in",
        sum(col("is_signup")).over(wi.rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(offsets), "bkt")
      .withColumn("rn", col("row_off") + col("rn_in"))
      .filter(col("rn") % every === 0)
      .select((col("rn") / every).cast(LongType).as("fire_seq"),
        (col("sig_off") + col("cum_in")).as("cum_signups"))
      .orderBy(col("fire_seq"))
  }

  /** S5/R7 analog: extract the numeric `k` property from the JSON props
    * string with a regex (the reference parses its JSON with per-field
    * regexes, package.scala:19-36), bucket it, aggregate.
    */
  def propsExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast(LongType))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(Relational.dec2(col("value"))).cast(DoubleType).as("sum_value"))
      .orderBy(col("k_bucket"))

  /** Per-type value stats (min/max exact doubles, decimal-exact sum/avg). */
  def typeStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(Relational.dec2(col("value"))).cast(DoubleType).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        countDistinct(col("user_id")).as("n_users")
      )
      .orderBy(col("event_type"))

  /** As-of join (no Spark built-in — composed per SURVEY §7.4 preference
    * (a)): for each purchase, the most recent signup by the same user at
    * or before the purchase time. One shuffle on user_id + an in-partition
    * RANGE-frame max — the scalable as-of design (no per-row lookups, no
    * cross join). The RANGE frame (not ROWS) makes equal-timestamp
    * matches identical to ASOF's `s.ts <= p.ts` semantics.
    */
  def asofSignupToPurchase(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("last_signup_ts",
        max(when(col("event_type") === "signup", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        (unix_millis(col("ts")) - unix_millis(col("last_signup_ts"))).as("since_ms"))
      .orderBy(col("user_id"), col("ts_ms"))
  }

  /** Range join: events by the same user within 30 minutes after each
    * signup. The equi-key (user_id) carries the shuffle; the time range is
    * a post-join predicate — the plan stays a hash/sort-merge join, never
    * a cross join. (A range join with NO equi key would instead bucket
    * both sides by time-bucket and join bucket b to b and b+1.)
    */
  def signupFollowups(s: SparkSession, dir: String, minutes: Int = 30): DataFrame = {
    val ev = Tables.events(s, dir)
    val su = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    val e = ev.select(col("user_id").as("e_user"), col("ts").as("e_ts"))
    su.join(e, col("s_user") === col("e_user") &&
        col("e_ts") > col("s_ts") &&
        col("e_ts") <= col("s_ts") + expr(s"INTERVAL $minutes MINUTES"), "left")
      .groupBy(col("s_user"), col("s_ts"))
      .agg(count(col("e_ts")).as("n_following"))
      .select(col("s_user").as("user_id"), unix_millis(col("s_ts")).as("signup_ms"),
        col("n_following"))
      .orderBy(col("user_id"), col("signup_ms"))
  }

  /** NO-equi-key temporal range join (q149) — the other half of the
    * range-join story q29 leaves open: for each error event, how many
    * events by ANY user landed within ±`seconds` of it (plus how many
    * of those were themselves errors — the burst signal an incident
    * pipeline wants). With no user key to carry the shuffle, the naive
    * spelling is a cross join with a time predicate — quadratic in the
    * corpus. The scalable spelling BUCKETS time at the range width:
    * every event lands in bucket floor(ms/Δ); each probe row fans out
    * to buckets {b−1, b, b+1}; the join is a plain equi-join on the
    * bucket (|diff| ≤ Δ ⇒ bucket distance ≤ 1, and each build event
    * matches exactly ONE of the probe's three distinct buckets, so no
    * pair is produced twice); the exact |diff| ≤ Δ cut is a post-join
    * filter folded into the aggregate. The probe's own bucket always
    * contains the probe itself, so the inner join is TOTAL over errors
    * (zero-neighbor errors report n_nearby = 0, not a dropped row).
    * At 100 TB: one shuffle on a uniformly-distributed time bucket —
    * hot buckets (event storms) are exactly the skew AQE's skew-join
    * splitting handles, since the key is synthetic and order-free.
    */
  def nearbyEventPressure(s: SparkSession, dir: String,
      seconds: Int = 60): DataFrame = {
    val bucketMs = seconds * 1000L
    val ev = Tables.events(s, dir)
      .select(col("event_id"), unix_millis(col("ts")).as("ms"),
        col("event_type"))
    val probe = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ms").as("err_ms"),
        explode(array(lit(-1L), lit(0L), lit(1L))).as("off"))
      .withColumn("bucket", floor(col("err_ms") / bucketMs) + col("off"))
      .drop("off")
    val build = ev
      .select(col("event_id").as("e_id"), col("ms").as("e_ms"),
        col("event_type").as("e_type"))
      .withColumn("bucket", floor(col("e_ms") / bucketMs))
    val near = col("e_id") =!= col("err_id") &&
      abs(col("e_ms") - col("err_ms")) <= bucketMs
    probe.join(build, "bucket")
      .groupBy(col("err_id"), col("err_ms"))
      .agg(count(when(near, 1)).as("n_nearby"),
        count(when(near && col("e_type") === "error", 1))
          .as("n_errors_nearby"))
      .select(col("err_id").as("event_id"), col("err_ms").as("ts_ms"),
        col("n_nearby"), col("n_errors_nearby"))
      .orderBy(col("event_id"))
  }

  /** Trailing event-time window: for every event, the count and value sum
    * of the same user's events in the preceding hour (inclusive RANGE
    * frame over epoch seconds — sliding analytics without materializing
    * overlapping windows; state is one sort per user partition).
    */
  def trailingUserActivity(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
      .rangeBetween(-3600L, 0L)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("ts_s"),
        Relational.dec2(col("value")).as("v"))
      .withColumn("n_trailing_1h", count(lit(1)).over(w))
      .withColumn("sum_trailing_1h", sum(col("v")).over(w).cast(DoubleType))
      .select(col("user_id"), col("event_id"), col("ts_s"),
        col("n_trailing_1h"), round(col("sum_trailing_1h"), 6).as("sum_trailing_1h"))
      .orderBy(col("user_id"), col("ts_s"), col("event_id"))
  }

  /** Top-k users by purchase value — filter → group → TakeOrdered. */
  def topPurchasers(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(Relational.dec2(col("value"))).cast(DoubleType).as("purchase_total"),
        count(lit(1)).as("n_purchases"))
      .orderBy(col("purchase_total").desc, col("user_id"))
      .limit(k)

  /** Ordered conversion funnel view → click → purchase: a user converts a
    * stage only with an event strictly after their previous stage's first
    * completion (the classic product-analytics semantics, not mere
    * set-membership). Conversion rates in integer micro units.
    *
    * Shape at scale: three keyed aggregations + two joins, all hashed on
    * `user_id` — one co-partitioned shuffle key end to end, so stages 2
    * and 3 reuse stage 1's exchange rather than re-shuffling the events.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val counts = s1.agg(count(lit(1)).as("n")).withColumn("stage", lit("1_view"))
      .unionByName(s2.agg(count(lit(1)).as("n")).withColumn("stage", lit("2_click")))
      .unionByName(s3.agg(count(lit(1)).as("n")).withColumn("stage", lit("3_purchase")))
    val w = Window.orderBy(col("stage")) // 3 rows — bounded, never data-sized
    counts
      .withColumn("conv_from_prev_micro",
        coalesce(expr("(n * 1000000) div (lag(n) over (order by stage))"),
          lit(1000000L)))
      .select(col("stage"), col("n").as("n_users"), col("conv_from_prev_micro"))
      .orderBy(col("stage"))
  }

  /** Weekly cohort retention: users bucketed by first-activity week
    * (integer weeks since the corpus epoch — no engine-specific week
    * conventions), counted per (cohort, offset) on distinct activity.
    *
    * Shape at scale: distinct (user, week) first — the heavy reduction —
    * then a user-keyed min + self-join reusing the same hash key, then
    * the small rollup. Events never shuffle twice.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(s, dir)
      .select(col("user_id"),
        expr("datediff(CAST(ts AS DATE), DATE'2024-01-01') div 7").as("wk"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    uw.join(cohort, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  /** Next-event transition matrix with per-from-state probabilities in
    * integer micro units — the Markov view of user behavior that feeds
    * next-action prediction and bot detection.
    *
    * Shape at scale: one user-keyed window (each partition is one user's
    * events) + one small aggregation over the 5×6 state space.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type",
        coalesce(lead(col("event_type"), 1).over(w), lit("END")))
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy(col("event_type"))
      .agg(sum(col("n")).cast(LongType).as("row_total"))
    pairs.join(broadcast(tot), "event_type")
      .withColumn("p_micro", expr("(n * 1000000) div row_total"))
      .select(col("event_type"), col("next_type"), col("n"), col("p_micro"))
      .orderBy(col("event_type"), col("next_type"))
  }

  /** Hourly volume anomalies per event type: hours where the count
    * deviates from that type's mean by more than 2σ. The z-score test is
    * exact 64-bit integer arithmetic — `(n·c − S)² > 4·(n·SS − S²)`
    * multiplies out |c − μ| > 2σ with no float division — so both
    * engines flag identical hours.
    *
    * Shape at scale: hourly pre-aggregation first (the corpus-sized
    * reduction), then per-type moments over the tiny (type × hour)
    * table; the moment table broadcasts back for the flag pass. The
    * raw-moment products stay inside int64 up to ~3×10⁹ events per
    * type; past that, switch the moment pass to centered accumulation
    * (same plan shape, subtract a per-type pivot first).
    */
  def hourlyAnomalies(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_millis(ts) div 3600000").as("hr"))
      .agg(count(lit(1)).as("c"))
    val moments = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("c")).cast(LongType).as("s"),
        sum(col("c") * col("c")).cast(LongType).as("ss"))
    hourly.join(broadcast(moments), "event_type")
      .withColumn("anomalous",
        (col("n_hours") * col("c") - col("s")) *
          (col("n_hours") * col("c") - col("s")) >
          lit(4L) * (col("n_hours") * col("ss") - col("s") * col("s")))
      .groupBy(col("event_type"))
      .agg(max(col("n_hours")).as("n_hours"),
        expr("(max(s) * 1000000) div max(n_hours)").as("mean_micro"),
        sum(when(col("anomalous"), 1L).otherwise(0L)).cast(LongType)
          .as("n_anomalous"))
      .orderBy(col("event_type"))
  }

  /** RFM segmentation — the marketing-analytics staple: every purchaser
    * scored 1–4 on Recency (days since last purchase), Frequency
    * (purchase count) and Monetary (lifetime spend), quartiles assigned
    * by EXACT global rank. The naive spelling — `ntile(4) OVER (ORDER BY
    * metric)` — is a partition-less window that drags every user onto
    * one task; this uses the q24 two-pass shape instead, three times:
    * rows rank inside their metric bucket (partitioned window), buckets
    * carry exclusive running offsets (a global window over the O(buckets)
    * summary only), and global rank = offset + in-bucket rank. Quartile
    * = `(4·(rank−1)) div N + 1` in exact integer math.
    *
    * Buckets: r_days and f_cnt are their own buckets (low cardinality);
    * monetary buckets to whole dollars (`cents div 10000` keeps ~10⁴
    * buckets at any corpus size). Descending metrics negate the bucket
    * so bucket order stays ascending-global-rank.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), Relational.dec2(col("value")).as("v"))
    val mx = p.agg(max(col("ts")).as("mx"))
    val u = p.groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("f_cnt"),
        sum(col("v")).as("m_total"))
      .crossJoin(broadcast(mx))
      .withColumn("r_days",
        expr("(unix_millis(mx) - unix_millis(last_ts)) div 86400000"))
      .withColumn("m_cents", expr("CAST(m_total * 100 AS BIGINT)"))
    // One row per purchasing user. Every consumer (three chained rank
    // passes, each with a bucket-offsets branch, plus the n_total
    // scalar) references this SAME subtree, so AQE exchange reuse runs
    // the corpus-sized purchase aggregation's scan + shuffle once and
    // replays only post-shuffle user-summary work per branch. r15
    // eager-localCheckpoint'd here, which serialized the query behind a
    // driver-blocking materialization (26 jobs measured, now one
    // pipelined query) and pinned a users-sized table in unevictable
    // BlockManager storage at scale — the round-15 q94 lesson.
    val n = u.agg(count(lit(1)).as("n_total"))

    // global rank without a global window: in-bucket rank + broadcast
    // exclusive bucket offsets (the bucket summary is the only thing a
    // partition-less window ever sees). All three bucket columns are
    // pinned on u up front, and ONE exploded histogram shuffle computes
    // all three bucket-count tables at once (r15 ran one offsets shuffle
    // per metric — three passes over the user summary for three tiny
    // histograms); each metric's offsets then filter out of the shared
    // histogram and broadcast into its rank join.
    // ONE exploded pass ranks all three metrics (optimization round 16,
    // second step — the first respelling still ran three chained
    // bucket-window + broadcast-join passes, 23 AQE stage jobs for
    // 0.36 s of CPU; stage latency WAS the query). Each user explodes to
    // three (metric, bkt, o1) rows where o1 encodes the metric-specific
    // tie-break (0 for R/F → order by user_id; −m_cents for M →
    // m_cents desc, user_id): a single (metric, bkt)-partitioned window
    // ranks everything, ONE broadcast attaches all exclusive bucket
    // offsets, and a per-user pivot-back restores the three rank
    // columns. Two narrow 3N-row shuffles replace three user-table
    // window shuffles + three broadcast builds — fewer exchanges at ANY
    // scale, not an artifact of 32 local cores.
    val ex = u.select(col("user_id"), col("m_cents"), explode(array(
        struct(lit("r").as("metric"), col("r_days").as("bkt"),
          lit(0L).as("o1")),
        struct(lit("f").as("metric"), (-col("f_cnt")).as("bkt"),
          lit(0L).as("o1")),
        struct(lit("m").as("metric"), (-expr("m_cents div 10000")).as("bkt"),
          (-col("m_cents")).as("o1")))).as("mb"))
      .select(col("user_id"), col("m_cents"), col("mb.metric").as("metric"),
        col("mb.bkt").as("bkt"), col("mb.o1").as("o1"))
    val wOff = Window.partitionBy(col("metric")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ex.groupBy(col("metric"), col("bkt"))
      .agg(count(lit(1)).as("bn"))
      .select(col("metric"), col("bkt"),
        coalesce(sum(col("bn")).over(wOff), lit(0L)).as("off"))
    val wIn = Window.partitionBy(col("metric"), col("bkt"))
      .orderBy(col("o1"), col("user_id"))
    val ranked = ex.withColumn("rn_in", row_number().over(wIn))
      .join(broadcast(offsets), Seq("metric", "bkt"))
      .withColumn("rank", col("off") + col("rn_in"))
      .groupBy(col("user_id"), col("m_cents"))
      .agg(max(when(col("metric") === "r", col("rank"))).as("r_rank"),
        max(when(col("metric") === "f", col("rank"))).as("f_rank"),
        max(when(col("metric") === "m", col("rank"))).as("m_rank"))

    ranked.crossJoin(broadcast(n))
      .select(concat(lit("R"), expr("(4 * (r_rank - 1)) div n_total + 1"),
        lit("F"), expr("(4 * (f_rank - 1)) div n_total + 1"),
        lit("M"), expr("(4 * (m_rank - 1)) div n_total + 1")).as("segment"),
        col("m_cents"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("m_cents")).cast(LongType).as("sum_cents"))
      .orderBy(col("segment"))
  }

  /** Last-click attribution (q57): for every purchase, the clicks by the
    * same user in the trailing `minutes` window — count and most recent
    * click time (−1 when unattributed). The batch form of a
    * stream-stream interval join: user_id is the equi key (carries the
    * one shuffle), the time bound is a post-join predicate, so the plan
    * is a hash join, never a cross join. The streaming twin
    * (EventStreams.clickAttribution) runs the identical interval-join
    * condition with watermarks bounding both sides' state — asserted
    * equivalent on the events table in EventStreamsSpec.
    */
  def clickAttribution(s: SparkSession, dir: String, minutes: Int = 10): DataFrame = {
    val ev = Tables.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    p.join(c, col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") > col("p_ts") - expr(s"INTERVAL $minutes MINUTES"), "left")
      .groupBy(col("p_user"), col("p_id"), col("p_ts"))
      .agg(count(col("c_ts")).as("n_clicks"), max(col("c_ts")).as("last_click"))
      .select(col("p_user").as("user_id"), col("p_id").as("event_id"),
        unix_millis(col("p_ts")).as("purchase_ms"), col("n_clicks"),
        coalesce(unix_millis(col("last_click")), lit(-1L)).as("last_click_ms"))
      .orderBy(col("user_id"), col("purchase_ms"), col("event_id"))
  }

  /** Watermark-delay audit (q114) — the tuning table for the
    * reference's W2 bounded out-of-orderness: for each candidate delay
    * D, how many events would arrive LATE (event time below the
    * watermark max-seen-ts − D at their arrival position) and be
    * silently dropped (W3). The generator emits in event-time order, so
    * out-of-orderness is modeled the way it arises in production — a
    * deterministic per-event transit jitter (hash of the event id,
    * 0–10 s) reorders arrivals; the watermark then tracks the max EVENT
    * time in ARRIVAL order. The reference hardcodes 500 ms; this is the
    * report that justifies or indicts that choice.
    *
    * Shape at scale: the running "max ts so far" is computed WITHOUT a
    * partition-less window — arrivals bucket by hour, the window runs
    * inside each bucket, and a broadcast prefix-max over the O(buckets)
    * summary lifts local maxima to global ones (the q89 two-pass
    * pattern). The delay grid is folded into ONE aggregation pass over
    * the corpus (one conditional sum per delay, unpivoted with stack) —
    * no row-multiplying join at any grid size.
    */
  def watermarkAudit(s: SparkSession, dir: String,
      jitterMs: Long = 10000): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("arrival",
        col("ms") + graft.operators.Text.hash60(
          col("event_id").cast(StringType)) % jitterMs)
      .withColumn("bk", expr("arrival div 3600000"))
    val w = Window.partitionBy(col("bk")).orderBy(col("arrival"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ev.withColumn("lmax", max(col("ms")).over(w))
    val bmax = ev.groupBy(col("bk")).agg(max(col("ms")).as("m"))
    // prefix-max over the O(buckets) summary: a partition-less running-max
    // window is fine HERE because bmax is bucket-granular (corpus hours),
    // not data-sized — the q24/q89 two-pass spelling, O(B) not O(B²)
    val wb = Window.orderBy(col("bk")).rowsBetween(Window.unboundedPreceding, -1)
    val pmax = bmax
      .withColumn("pmax", max(col("m")).over(wb))
      .select(col("bk"), col("pmax"))
    // greatest() skips nulls in Spark: prior is null only for the very
    // first arrivals (nothing seen yet -> never late)
    val run = local.join(broadcast(pmax), Seq("bk"), "left")
      .withColumn("prior", greatest(col("lmax"), col("pmax")))
    // One pass over the corpus: the 4-delay grid is four conditional
    // sums in a single aggregation (no row-multiplying crossJoin), then
    // stack() unpivots the 1-row summary into the 4-row report.
    val delays = Seq(500L, 1000L, 5000L, 30000L)
    def late(d: Long) = sum(when(col("prior").isNotNull &&
      col("ms") < col("prior") - lit(d), 1L).otherwise(0L)).as(s"l$d")
    val one = run.agg(count(lit(1)).as("n_events"), delays.map(late): _*)
    val pairs = delays.map(d => s"${d}L, l$d").mkString(", ")
    // agg over empty input yields one all-NULL row; filtering n_events>0
    // keeps the empty-corpus result EMPTY, matching the grouped oracle
    // shape (and avoiding a NULL-n_late / div-by-zero report row)
    one.filter(col("n_events") > 0)
      .selectExpr("n_events",
        s"stack(${delays.size}, $pairs) AS (delay_ms, n_late)")
      .select(col("delay_ms"), col("n_events"), col("n_late"),
        expr("(n_late * 1000000) div n_events").as("late_micro"))
      .orderBy(col("delay_ms"))
  }

  /** Inter-event gap distribution per event type (q109) — the tuning
    * table for the session-window gap (q23) and the watermark delay: a
    * session gap should sit between the p90/p99 within-session gap and
    * the typical between-session gap, and this is the report that shows
    * where that knee is. Gap = time since the same USER's previous
    * event (any type), attributed to the later event's type.
    *
    * Shape at scale: the lag window partitions by user_id — state is one
    * previous-row per user per partition, fully parallel (contrast a
    * global ORDER BY). Exact interpolated percentiles over integer
    * millisecond gaps match DuckDB's `quantile_cont` at 6 dp.
    */
  def gapPercentiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("gap_ms", unix_millis(col("ts")) - unix_millis(col("prev")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_ms, 0.5)"), 6).as("p50_ms"),
        round(expr("percentile(gap_ms, 0.9)"), 6).as("p90_ms"),
        round(expr("percentile(gap_ms, 0.99)"), 6).as("p99_ms"),
        max(col("gap_ms")).as("max_ms"))
      .orderBy(col("event_type"))
  }
}
