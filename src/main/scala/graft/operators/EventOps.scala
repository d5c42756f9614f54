package graft.operators

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators over the `events` table — the net-new streaming/
  * windowing surface (SURVEY.md §2.5: the reference has no windows, no
  * aggregation, no event-time notion at all). Batch forms here are the
  * correctness-gated queries; [[graft.streaming.EventStream]] exposes the
  * same windowed aggregation as a Structured Streaming query (watermark +
  * tumbling window), exercised by the test suite.
  *
  * Scale design: tumbling-window aggs are a single hash shuffle on
  * (window, key) with map-side partial aggregation; sessionization is a
  * window function over (user, time) — one shuffle partitioned by user,
  * in-partition sort, no driver state. E12 entropy is two aggregations.
  */
object EventOps {
  /** Session gap for sessionization. */
  val GAP_MIN = 30

  /** Tumbling 1-hour window counts + decimal-exact value sums per type.
    * Output window start as epoch seconds so Spark and DuckDB compare
    * timestamps as plain integers. */
  val qWindowAgg: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("ws"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy("ws", "event_type")

  /** Top event type per 1-hour window by count (row_number, deterministic
    * tiebreak on type). */
  val qWindowTop: Q = (s, d) => {
    val counts = Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("w.start")).as("ws"), col("event_type"), col("cnt"))
    val rn = Window.partitionBy(col("ws")).orderBy(col("cnt").desc, col("event_type").asc)
    counts.withColumn("rn", row_number().over(rn))
      .filter(col("rn") === 1)
      .select("ws", "event_type", "cnt")
      .orderBy("ws")
  }

  /** Sessionization: per-user session count with a GAP_MIN-minute idle gap.
    * lag() over (user, ts, event_id) — a new session starts when the gap
    * from the previous event exceeds the threshold. */
  val qSessionize: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        // exact integer micros on both engines — second-granularity
        // conversions round differently near boundaries
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > GAP_MIN * 60L * 1000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** E12 — Shannon entropy of the event-type distribution
    * (reference src/base/math/Entropy.cpp:11-25): H = -sum p*log2(p).
    * Counts are exact; the five p*log2(p) terms are decimal-summed so
    * aggregation order cannot perturb the result. */
  val qEntropy: Q = (s, d) => {
    val counts = Tables.events(s, d)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val total = Tables.events(s, d).agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .select((col("cnt").cast("double") / col("total")).as("p"))
      .agg(Fns.roundP(
        sum((-col("p") * log2(col("p"))).cast("decimal(28,18)")).cast("double"), 6)
        .as("entropy"))
  }

  /** Exact distinct-users per event type, two-phase: dedup on the compound
    * (type, user) key first, then count per type. With only a handful of
    * event types a direct groupBy(type).agg(countDistinct) funnels every
    * row through ~5 hot reducers; the compound-key first phase spreads the
    * shuffle across type×user cardinality — the de-skew pattern (salting
    * with a natural salt). */
  val qDistinctUsers: Q = (s, d) =>
    Tables.events(s, d)
      .select("event_type", "user_id")
      .distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")

  /** E12 (full) — information gain of event_type for predicting a binary
    * label (value >= 50), the reference's GGain feature ranking
    * (Entropy.cpp:27-77): IG = H(label) - Σ_type p(type)·H(label|type).
    * All probabilities come from exact counts; entropy terms decimal-summed
    * like qEntropy. Two aggregations over one scan. */
  val qInfoGain: Q = (s, d) => {
    val labeled = Tables.events(s, d)
      .select(col("event_type"), (col("value") >= 50.0).cast("int").as("hi"))
    val joint = labeled.groupBy("event_type", "hi").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val typeTot = joint.groupBy("event_type").agg(sum("cnt").as("ttot"))
    val total = joint.agg(sum("cnt").as("total"))
    def hTerm(p: org.apache.spark.sql.Column) =
      (-p * log2(p)).cast("decimal(28,18)")
    val hLabel = joint.groupBy("hi").agg(sum("cnt").as("lcnt"))
      .crossJoin(broadcast(total))
      .agg(sum(hTerm(col("lcnt").cast("double") / col("total"))).cast("double").as("h_label"))
    val hCond = joint.join(typeTot, "event_type")
      .groupBy(col("event_type"), col("ttot"))
      .agg(sum(hTerm(col("cnt").cast("double") / col("ttot"))).cast("double").as("h_type"))
      .crossJoin(broadcast(total))
      .agg(sum((col("ttot").cast("double") / col("total") * col("h_type"))
        .cast("decimal(28,18)")).cast("double").as("h_cond"))
    hLabel.crossJoin(hCond)
      .select(Fns.roundP(col("h_label") - col("h_cond"), 6).as("info_gain"))
  }

  /** Microseconds per day — day bucketing via integer division on the
    * epoch-micros value, so the day key is timezone-free on both engines
    * (Spark `date_trunc`/`to_date` render in the session timezone; this
    * does not). */
  val DAY_US = 86400000000L

  /** Funnel conversion — users reaching each step of view → click →
    * purchase, where each step must STRICTLY follow the user's first
    * event of the previous step. Three aggregations chained by user-keyed
    * joins: the standard shuffle-by-user funnel shape (each stage's state
    * is one row per surviving user, never the raw event stream). */
  val qFunnel: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t2 = e.filter(col("event_type") === "click").join(t1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t3 = e.filter(col("event_type") === "purchase").join(t2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    def cnt(df: DataFrame, step: Int, name: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).as("step"), lit(name).as("step_name"), col("n_users"))
    cnt(t1, 1, "view").unionAll(cnt(t2, 2, "click")).unionAll(cnt(t3, 3, "purchase"))
      .orderBy("step")
  }

  /** Day-over-day retention — for each day, how many distinct active users
    * return the next day. The (user, day) dedup is the only pass over the
    * raw events; the self-join moves one row per user-day, keyed by
    * user_id — the cohort-retention shape that survives a 100× event
    * volume because its working set is active-users, not events. */
  val qRetention: Q = (s, d) => {
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr(s"unix_micros(ts) div $DAY_US").as("day_idx"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val act = ud.groupBy("day_idx").agg(count(lit(1)).as("n_active"))
    val ret = ud.as("a")
      .join(ud.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.day_idx") + 1 === col("b.day_idx"))
      .groupBy(col("a.day_idx")).agg(count(lit(1)).as("n_retained"))
      .select(col("a.day_idx").as("day_idx"), col("n_retained"))
    act.join(ret, Seq("day_idx"), "left")
      .withColumn("n_retained", coalesce(col("n_retained"), lit(0L)))
      .select(col("day_idx"), col("n_active"), col("n_retained"),
        Fns.roundP(col("n_retained").cast("double") / col("n_active"), 4)
          .as("retention_rate"))
      .orderBy("day_idx")
  }

  /** Per-group OLS regression + Pearson correlation of event value against
    * hour-of-day — grouped statistics as one partial+final aggregation.
    * The five moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are decimal-summed so
    * shuffle order cannot perturb them; the closed-form slope/intercept/r
    * then runs on identical doubles in both engines. Hour comes from
    * epoch-micros integer division — timezone-free (the [[DAY_US]] note).
    * One scan, one shuffle of 5 groups × 6 numbers. */
  val qRegression: Q = (s, d) => {
    val x = expr("unix_micros(ts) div 3600000000") % 24
    val m = Tables.events(s, d)
      .select(col("event_type"), x.cast("double").as("x"), col("value").as("y"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast("decimal(18,6)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(18,6)")).cast("double").as("sy"),
        sum((col("x") * col("y")).cast("decimal(28,6)")).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast("decimal(18,6)")).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast("decimal(28,6)")).cast("double").as("syy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val varx = col("n") * col("sxx") - col("sx") * col("sx")
    val vary = col("n") * col("syy") - col("sy") * col("sy")
    m.select(col("event_type"),
        col("n").cast("long").as("n_events"),
        Fns.roundP(cov / varx, 6).as("slope"),
        Fns.roundP((col("sy") - (cov / varx) * col("sx")) / col("n"), 6).as("intercept"),
        Fns.roundP(cov / sqrt(varx * vary), 6).as("pearson_r"))
      .orderBy("event_type")
  }

  /** Anomaly threshold in sample standard deviations. */
  val Z_T = 3.0

  /** Per-group z-score anomaly report — mean/std from decimal-exact moment
    * sums, then one re-scan counting events beyond [[Z_T]]σ. The stats side
    * is groups×3 numbers (broadcast); the events side is scanned twice from
    * the persisted stage — the standard two-pass anomaly shape (a streaming
    * deployment would feed the same stats from the previous window). The
    * flag compares identically-derived doubles, so the outlier COUNTS gate
    * exactly — no epsilon anywhere. */
  val qAnomaly: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_type"), col("value").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = ev.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("y").cast("decimal(18,6)")).cast("double").as("sy"),
        sum((col("y") * col("y")).cast("decimal(28,6)")).cast("double").as("syy"))
      .select(col("event_type"), col("n"),
        (col("sy") / col("n")).as("mean"),
        sqrt((col("syy") - col("sy") * col("sy") / col("n")) / (col("n") - 1)).as("std"))
    // stage the outlier flag BEFORE the agg that re-aliases mean/std to
    // their rounded forms — referencing those names inside the same agg is
    // the lateral-alias trap (CLAUDE.md; the q_embed_quantize failure mode)
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("is_out",
        (abs(col("y") - col("mean")) > lit(Z_T) * col("std")).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        Fns.roundP(first(col("mean")), 4).as("mean"),
        Fns.roundP(first(col("std")), 4).as("std"),
        sum(col("is_out")).as("n_outliers"))
      .orderBy("event_type")
  }

  /** Point-in-time feature lookback window (micros) and the label rows'
    * event type for [[qSlidingFeatures]]. 24 h covers 87% of purchases
    * with ≥1 prior event at sf0.01 (max 10 in frame). */
  val FEAT_WINDOW_US = 24L * 3600000000L
  val FEAT_LABEL = "purchase"

  /** Point-in-time feature generation — for every [[FEAT_LABEL]] event,
    * aggregate the SAME user's full activity stream (all event types) over
    * the preceding [[FEAT_WINDOW_US]]: prior-event count, value sum, value
    * max. The time-range window frame ends at `ts − 1 µs`, so the label
    * row never leaks into its own features and events at the exact label
    * timestamp are excluded on both engines (value-based RANGE frame, not
    * row-based — tie-safe). This is the training-set construction step for
    * churn/propensity models: features computed over the full stream,
    * training rows filtered to labels afterwards. Value sums go through
    * decimal so frame iteration order can't perturb the doubles.
    *
    * Plan: ONE shuffle (window partition by user_id), no join, no label
    * leakage; at 100 TB the frame state per user is bounded by the
    * lookback horizon — the same posture as the streaming sessionizer. */
  val qSlidingFeatures: Q = (s, d) => {
    val win = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      .rangeBetween(-FEAT_WINDOW_US, -1L)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("tsu"))
      .withColumn("n_prev_1d", count(lit(1)).over(win))
      .withColumn("sum_prev",
        sum(col("value").cast("decimal(28,12)")).over(win).cast("double"))
      .withColumn("max_prev_1d", max(col("value")).over(win))
      .filter(col("event_type") === FEAT_LABEL)
      .select(col("event_id"), col("user_id"), col("n_prev_1d"),
        Fns.roundP(col("sum_prev"), 6).as("sum_prev_1d"), col("max_prev_1d"))
      .orderBy("event_id")
  }

  /** Truncated-EWMA horizon: terms beyond the [[EWMA_W]] newest events
    * carry weight < 2^-12 ≈ 2.4e-4 and are dropped — the standard
    * truncated form of the smoother. */
  val EWMA_W = 12

  /** Per-user EWMA of `value` (Roberts 1959, the EWMA control-chart
    * smoother; the feature-freshness signal online feature stores serve).
    * α = 1/2 deliberately: each weight is 2^-k, so `value / 2^k` is an
    * EXACT IEEE operation (scaling by a power of two never rounds), and
    * the decimal(28,18)-cast terms sum identically on both engines in
    * any aggregation order — the smoother gates on arithmetic, not libm.
    * Newest-first rank comes from one row_number over (user, ts desc,
    * event_id desc) — event_id breaks ts ties so the weighting is
    * deterministic under any partitioning.
    *
    * Scale shape: ONE user-keyed shuffle; the groupBy reuses the window's
    * hash(user_id) partitioning (no second exchange — pinned by
    * PlanSpec), state per user is a running sum, and the horizon bounds
    * per-row work at W terms regardless of history length. */
  val qEwma: Q = (s, d) => ewmaCore(Tables.events(s, d))

  /** Table-agnostic core of [[qEwma]] — shared with the streaming twin's
    * parity spec so batch and stream run the same definition over the
    * same fixture frame. */
  def ewmaCore(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    // ALL-INTEGER rendering: Σ value/2^k = (Σ cents·2^(W−k)) / (100·2^W).
    // The first cut cast each value/2^k term to decimal(28,18) — but the
    // exact sum is a rational over 100·2^W, so sum·10^6 lands EXACTLY on
    // roundP's .5 boundaries for a structural fraction of users, and
    // there the engines' 1e-18-level term-cast disagreements (Spark
    // rounds the double's SHORTEST string, DuckDB rounds the binary
    // value) decided the floor differently — caught by the sf1 sweep
    // (1 user in 15k; sf0.01's 150 users never hit a boundary). Integer
    // terms + ONE final IEEE division are bit-identical at any SF.
    events
      .withColumn("k", row_number().over(w))
      .withColumn("cents",
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        Fns.roundP(
          sum(when(col("k") <= EWMA_W, expr(s"shiftleft(cents, $EWMA_W - k)")))
            .cast("double") / lit((100L * (1L << EWMA_W)).toDouble), 6)
          .as("ewma"))
      .orderBy("user_id")
  }

  /** ANSI window-function surface over the per-user event stream — the
    * lag/lead/rank/cume_dist family every sequential feature pipeline
    * leans on (previous-event deltas, position-in-history features).
    * One user-keyed shuffle + in-partition sort serves ALL the window
    * functions (same frame spec ⇒ one Window operator); ties broken by
    * event_id so every column is deterministic under any partitioning.
    * cume_dist is an exact n/N IEEE division on both engines. */
  val qUserLag: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        row_number().over(w).as("pos"),
        Fns.roundP(cume_dist().over(w), 6).as("cume"))
      .orderBy("event_id")
  }

  /** Autocorrelation horizon (hours). */
  val AC_LAGS = 6

  /** Lag-k autocorrelation of the hourly event-count series, k = 1..
    * [[AC_LAGS]] — the seasonality/periodicity probe a monitoring or
    * forecasting pipeline runs before fitting anything (Box & Jenkins'
    * identification step). Pairs are TIME-keyed, not position-keyed: the
    * pair for lag k is (count@h, count@h+k) where both hours exist, so a
    * gap in the series drops pairs instead of silently misaligning them.
    *
    * Parity: every moment (n, Σx, Σy, Σxy, Σx², Σy²) is an exact integer
    * sum of integer counts (decimal(38,0), HUGEINT on DuckDB — no corpus
    * size wraps them); Pearson r assembles them in ONE fixed double
    * expression tree (products of exactly-equal operands round
    * identically), nullif-guarded against a constant series. Scale shape:
    * the hourly count agg is the only data-sized shuffle (map-side
    * combined); the pair join runs over the O(hours) count table. */
  val qAutocorr: Q = (s, d) => {
    val cnts = Tables.events(s, d)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("sec"))
      .groupBy(expr("sec div 3600").as("hr"))
      .agg(count(lit(1)).as("c"))
      .persist()
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val lagged = cnts.select(col("hr"), col("c").as("x"),
      explode(array((1 to AC_LAGS).map(lit(_)): _*)).as("lag"))
    val m = lagged
      .join(cnts.select(col("hr").as("hr2"), col("c").as("y")),
        col("hr2") === col("hr") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("y"))).as("sxy"),
        sum(dec(col("x") * col("x"))).as("sxx"),
        sum(dec(col("y") * col("y"))).as("syy"))
    val D = (n: String) => col(n).cast("double")
    m.select(col("lag"), col("n_pairs"),
      Fns.roundP(
        (D("n_pairs") * D("sxy") - D("sx") * D("sy")) /
          expr("nullif(sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
            "(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - " +
            "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0)"), 6).as("acf"))
      .orderBy("lag")
  }

  /** Last-touch attribution (the marketing-analytics join every event
    * warehouse runs): each purchase is credited to the SAME USER's most
    * recent click strictly earlier in the (ts, event_id) total order —
    * event_id breaks timestamp ties so attribution is deterministic under
    * any partitioning. Report = purchases and gap mass per attributed
    * click hour-of-day, with the never-touched bucket kept visible at
    * hod = -1 (a funnel that silently drops unattributed conversions
    * overstates every channel).
    *
    * Implementation is one per-user window pass (`last(..., ignoreNulls)`
    * over ROWS UNBOUNDED PRECEDING..1 PRECEDING carries the latest click
    * id AND its timestamp from the same row), then an O(24) aggregation —
    * one user-keyed shuffle total, no join. The oracle derives the same
    * attribution as a ground-truth ranked join (candidate clicks ranked
    * per purchase), so the gate proves the window form against the
    * definitional form. Gaps stay exact integer micros end-to-end. */
  val qAttribution: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val attributed = ev
      .withColumn("cid",
        last(when(col("event_type") === "click", col("event_id")), true).over(w))
      .withColumn("cus",
        last(when(col("event_type") === "click", col("us")), true).over(w))
      .withColumn("chod",
        last(when(col("event_type") === "click", hour(col("ts"))), true).over(w))
      .filter(col("event_type") === "purchase")
    val gap = (col("us") - col("cus")).cast("decimal(38,0)")
    attributed
      .groupBy(coalesce(col("chod"), lit(-1)).cast("int").as("hod"))
      .agg(count(lit(1)).as("purchases"),
        sum(gap).cast("long").as("sum_gap_us"),
        Fns.roundP(
          (sum(gap).cast("double") /
            count(when(col("cid").isNotNull, lit(1))).cast("double")) / lit(1e6),
          6).as("avg_gap_s"))
      .orderBy("hod")
  }

  /** CUSUM reference level, slack and alarm threshold, all in centi-units
    * (value × 100): target μ0 = 50.00, slack k = 10.00, alarm h = 200.00
    * above drift — tuned so the heavy upper tail of `value` (max ≈ 490)
    * trips alarms while the ~49.6 bulk drifts S back to 0. */
  val CUSUM_MU = 5000L
  val CUSUM_K = 1000L
  val CUSUM_H = 20000L

  /** One-sided CUSUM change detection (Page, Biometrika 1954) per user —
    * the sequential drift detector monitoring pipelines run where
    * [[qAnomaly]]'s 3σ rule scores points independently: S_i =
    * max(0, S_{i-1} + (x_i − μ0 − k)) accumulates evidence across
    * consecutive observations, so a sustained small shift alarms even
    * when no single point is an outlier.
    *
    * The recursion is NOT a plain window sum, but it has a closed
    * prefix form: S_i = cum_i − min(0, min_{j≤i} cum_j) with cum the
    * ordinary prefix sum of z = x − μ0 − k. That turns the sequential
    * definition into two stock window aggregates (running sum + running
    * min) over the (ts, event_id) total order — one user-keyed shuffle,
    * no recursion, no state. Values are centi-quantized to integers
    * first (the streaming anomaly detector's discipline), so every
    * prefix quantity is exact on both engines and the gate needs no
    * rounding at all. */
  val qCusum: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        (floor(col("value") * lit(100) + lit(0.5)).cast("long")
          - lit(CUSUM_MU) - lit(CUSUM_K)).as("z"))
      .withColumn("cum", sum(col("z")).over(w))
      .withColumn("s", col("cum") - least(lit(0L), min(col("cum")).over(w)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(col("s")).as("max_s"),
        count(when(col("s") > CUSUM_H, lit(1))).as("n_alarms"))
      .orderBy("user_id")
  }

  /** Robust outlier detection via median / MAD (Hampel's rule — the
    * estimator monitoring uses where [[qAnomaly]]'s mean/σ is itself
    * dragged by the outliers it hunts: median and median-absolute-
    * deviation have a 50% breakdown point). Per event type: med =
    * median(x), mad = median(|x − med|), outliers = count(|x − med| >
    * 3·mad).
    *
    * Parity: values are centi-quantized to integers first, so both
    * medians interpolate (a+b)/2 over integer order statistics — an
    * exact IEEE operation — and every deviation is an exact double;
    * the 3·mad threshold is one multiplication of identical operands.
    * No rounding is load-bearing anywhere. Scale shape: exact medians
    * sort WITHIN each type partition (types are low-cardinality — at
    * real scale the exact percentile swaps for the gated
    * percentile_approx twin, same plan otherwise); the med/mad tables
    * are O(types) broadcasts onto re-scans, never a corpus shuffle. */
  val qMadOutliers: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_type"),
      floor(col("value") * lit(100) + lit(0.5)).cast("long").as("xq"))
      .persist()
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(xq, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("xq").cast("double") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(dev, 0.5)").as("mad"), count(lit(1)).as("n"))
    dev.join(broadcast(mad.select(col("event_type"), col("mad"))), "event_type")
      .groupBy("event_type")
      .agg(count(when(col("dev") > lit(3.0) * col("mad"), lit(1))).as("n_outliers"))
      .join(med, "event_type").join(mad.select("event_type", "mad", "n"), "event_type")
      .select(col("event_type"), col("n"),
        Fns.roundP(col("med"), 4).as("med_centi"),
        Fns.roundP(col("mad"), 4).as("mad_centi"),
        col("n_outliers"))
      .orderBy("event_type")
  }

  /** Wilson-score CTR ranking (Wilson, JASA 1927; the "how not to rank
    * by raw average" estimator every ranking/AB system uses): per
    * hour-of-day, the click share of view+click traffic (clicks are not
    * a subset of views in this stream, so the honest binomial proportion
    * is clicks out of views+clicks) with the 95% Wilson LOWER bound —
    * low-traffic hours with lucky ratios rank below high-traffic hours
    * with solid ones. Counts are exact integers; p̂, the z²-corrected
    * numerator and the bound assemble in ONE fixed double tree (z = 1.96
    * enters as the same literal on both engines and z² as the same
    * multiplication; sqrt is correctly rounded IEEE), so the ranking
    * key itself is deterministic. One scan, O(24) agg. */
  val qWilsonCtr: Q = (s, d) => {
    val agg = Tables.events(s, d)
      .groupBy(hour(col("ts")).as("hod"))
      .agg(count(when(col("event_type") === "view", lit(1))).as("views"),
        count(when(col("event_type") === "click", lit(1))).as("clicks"))
      .filter(col("views") + col("clicks") > 0)
    val n = (col("views") + col("clicks")).cast("double")
    val p = col("clicks").cast("double") / n
    val z = lit(1.96)
    val z2 = z * z
    val lb = (p + z2 / (lit(2.0) * n) -
      z * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * n)) / n)) /
      (lit(1.0) + z2 / n)
    agg.select(col("hod").cast("int").as("hod"), col("views"), col("clicks"),
      Fns.roundP(p, 6).as("ctr"), Fns.roundP(lb, 6).as("wilson_lb"))
      .orderBy(desc("wilson_lb"), col("hod"))
  }

  /** Benford expected first-digit probabilities log10(1 + 1/d), baked as
    * 12-dp literals into BOTH engines' plans — the constants enter as
    * identical decimal strings, so no libm log10 call exists anywhere in
    * the gated pipeline. */
  private[operators] val BENFORD_P: Seq[(Int, String)] =
    (1 to 9).map(dd => dd -> f"${math.log10(1.0 + 1.0 / dd)}%.12f")

  /** Benford first-digit screening (Newcomb 1881 / Benford 1938; the
    * fabricated-data test auditors run — heavily non-Benford value
    * columns flag synthetic or truncated feeds): per event type, the
    * observed leading-digit histogram of the centi-quantized values and
    * the χ² statistic against Benford's law.
    *
    * The leading digit comes from INTEGER arithmetic (xq div
    * 10^(digits−1), with the digit count read off the exact integer's
    * string length) — never from float formatting or log10 of the value,
    * the two nondeterminism traps. χ² sums its 9 per-digit terms through
    * decimal(28,12) so aggregation order cannot perturb it. One scan,
    * O(types×9) agg. */
  val qBenford: Q = (s, d) => {
    import s.implicits._
    val expected = BENFORD_P.map { case (dd, p) => (dd, p) }
      .toDF("digit", "p_str")
      .select(col("digit"), col("p_str").cast("double").as("p"))
    val digits = Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") * lit(100) + lit(0.5)).cast("long").as("xq"))
      .filter(col("xq") >= 1)
      .withColumn("nd", length(col("xq").cast("string")))
      .withColumn("digit",
        expr("CAST(xq div CAST(pow(10, nd - 1) AS LONG) AS INT)"))
    val obs = digits.groupBy("event_type", "digit")
      .agg(count(lit(1)).as("obs"))
    val tot = digits.groupBy("event_type").agg(count(lit(1)).as("n"))
    // dense digit grid so absent digits contribute their full (0−np)²/np
    val grid = tot.crossJoin(broadcast(expected))
    val term = grid
      .join(obs, Seq("event_type", "digit"), "left")
      .select(col("event_type"), col("n"), col("digit"),
        coalesce(col("obs"), lit(0L)).as("obs"), col("p"))
      .withColumn("exp", col("n").cast("double") * col("p"))
      .withColumn("t",
        (col("obs").cast("double") - col("exp")) *
          (col("obs").cast("double") - col("exp")) / col("exp"))
    term.groupBy("event_type", "n")
      .agg(sum(col("t").cast("decimal(28,12)")).cast("double").as("chi2d"),
        max(when(col("digit") === 1,
          Fns.roundP(col("obs").cast("double") / col("n").cast("double"), 6)))
          .as("d1_share"))
      .select(col("event_type"), col("n"), Fns.roundP(col("chi2d"), 4).as("chi2"),
        col("d1_share"))
      .orderBy("event_type")
  }

  /** Seasonal-naive backtest — forecast each hour's per-type value sum by
    * the SAME hour one day earlier (the standard m=24 seasonal-naive
    * baseline every forecasting pipeline scores first), and report the
    * mean absolute error per type. The prediction is matched by HOUR
    * VALUE via a self-join of the hourly aggregate (not a lag-24-rows
    * window — gaps in the series would silently shift a positional lag),
    * so the semantics are calendar-correct. Scale shape: the heavy input
    * scan collapses to one (type × hour) partial+final agg; the self-join
    * runs on that bounded hourly frame (persisted once, consumed twice)
    * keyed on (type, hour) — at 100 TB the joined state is still only
    * types × hours rows. Error sums ride exact decimals; only the final
    * MAE division is a double. */
  val qSeasonalError: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("hr"),
        col("event_type"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("v"))
      .persist()
    hourly
      .join(hourly.select(col("event_type").as("et2"),
          (col("hr") + 24).as("hr2"), col("v").as("pred")),
        col("event_type") === col("et2") && col("hr") === col("hr2"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        Fns.roundP(sum(abs(col("v") - col("pred"))).cast("double")
          / count(lit(1)), 6).as("mae"))
      .orderBy("event_type")
  }

  /** Holt smoothing coefficients — powers of two, so each blend is exact
    * IEEE scaling. The sequential recurrence still rounds eventually, so
    * correctness rests on BOTH engines executing the IDENTICAL operation
    * sequence (driver fold here, recursive CTE in the twin, same literal
    * expression trees) — bit-identical doubles at every step. */
  val HOLT_ALPHA = 0.5
  val HOLT_BETA = 0.25

  /** Holt LINEAR double-exponential smoothing backtest (Holt 1957) — the
    * level+trend forecaster one rung above [[qSeasonalError]]'s
    * seasonal-naive baseline: per event type, one-step-ahead forecasts
    * over the DENSE hourly count series (zero-filled across the global
    * hour span, so silence is data, not a gap) with l₀=y₀, b₀=y₁−y₀ and
    * the standard recurrences; reports per-type MAE and the final
    * level/trend state a serving job would carry forward.
    *
    * Scale posture: the ONLY corpus-scale stage is the (hour, type)
    * count agg; the series itself is CALENDAR-bounded (|types| × hours —
    * thousands of rows at any corpus size, the q_changepoint /
    * q_theil_sen tier), so the inherently sequential fold runs on the
    * driver over that bounded collect, exactly like the PCA power
    * iteration rides the D×D matrix. */
  val qHoltForecast: Q = (s, d) => {
    import s.implicits._
    val rows = Tables.events(s, d)
      .groupBy(expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("hr"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // degenerate span (empty corpus / single hourly bucket): EMPTY result,
    // matching the oracle CTE, whose recursion base needs an i=1 row — the
    // r12 advice's engine-divergence fix (a require here threw where the
    // oracle silently emitted nothing)
    val out =
      if (rows.isEmpty || rows.map(_._1).min == rows.map(_._1).max)
        Seq.empty[(String, Long, Double, Double, Double)]
      else {
        val h0 = rows.map(_._1).min
        val h1 = rows.map(_._1).max
        rows.map(_._2).distinct.sorted.map { t =>
          val m = rows.collect { case (h, `t`, n) => h -> n }.toMap
          val y = (h0 to h1).map(h => m.getOrElse(h, 0L).toDouble)
          var l = y(0)
          var b = y(1) - y(0)
          var sae = 0.0
          var i = 1
          while (i < y.length) {
            sae += math.abs(y(i) - (l + b))
            val lNew = HOLT_ALPHA * y(i) + (1 - HOLT_ALPHA) * (l + b)
            b = HOLT_BETA * (lNew - l) + (1 - HOLT_BETA) * b
            l = lNew
            i += 1
          }
          (t, y.length.toLong, sae / (y.length - 1), l, b)
        }.toSeq
      }
    out.toDF("event_type", "n_hours", "mae_raw", "l_raw", "b_raw")
      .select(col("event_type"), col("n_hours"),
        Fns.roundP(col("mae_raw"), 6).as("mae"),
        Fns.roundP(col("l_raw"), 6).as("level"),
        Fns.roundP(col("b_raw"), 6).as("trend"))
      .orderBy("event_type")
  }

  /** Holt–Winters coefficients — dyadic like [[HOLT_ALPHA]]/[[HOLT_BETA]],
    * same op-order-identity discipline. */
  val HW_ALPHA = 0.5
  val HW_BETA = 0.25
  val HW_GAMMA = 0.5
  /** Season length: the daily cycle over hourly buckets. */
  val HW_M = 24

  /** Holt–Winters ADDITIVE seasonal backtest (Winters 1960) — the third
    * rung of the forecasting ladder (seasonal-naive → Holt linear → HW),
    * the model that actually fits traffic with a daily cycle: per event
    * type, one-step-ahead forecasts f = l + b + s[t mod 24] over the
    * dense hourly count series, standard first-day initialization
    * (l₀ = day-1 mean, b₀ = (day-2 mean − day-1 mean)/24, s_j = y_j − l₀)
    * with forecasting starting AFTER both init windows (t ≥ 48) so no
    * forecast scores data its own initialization saw. Reports per-type
    * MAE, final level/trend, and the seasonal profile's amplitude and
    * peak hour — the state and shape a capacity planner reads.
    *
    * Scale posture identical to [[qHoltForecast]]: one corpus-scale
    * (hour, type) count agg, then the sequential fold rides the
    * calendar-bounded driver collect. Cross-engine exactness by op-order
    * identity — the twin's recursive CTE repeats these expression trees
    * verbatim, with the 24-slot seasonal state as a list column updated
    * one slot per step. */
  val qHoltWinters: Q = (s, d) => {
    import s.implicits._
    val rows = Tables.events(s, d)
      .groupBy(expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("hr"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // degenerate span (≤ 2·HW_M hourly buckets — not enough for both init
    // windows plus one forecast): EMPTY result, mirrored by the oracle's
    // `ln.len > 2m` guard — engines must agree on degenerate corpora
    // instead of one throwing while the other emits (r12 advice)
    val span =
      if (rows.isEmpty) 0L
      else rows.map(_._1).max - rows.map(_._1).min + 1
    val out =
      if (span <= 2 * HW_M) Seq.empty[(String, Long, Long, Double, Double, Double, Double, Long)]
      else {
        val h0 = rows.map(_._1).min
        val h1 = rows.map(_._1).max
        rows.map(_._2).distinct.sorted.toSeq.map { t =>
      val byHr = rows.collect { case (h, `t`, n) => h -> n }.toMap
      val y = (h0 to h1).map(h => byHr.getOrElse(h, 0L).toDouble)
      // season-length-derived divisors (HW_M, not a 24.0 literal): a
      // retuned season length cannot silently keep a stale init divisor
      // in one engine (r12 advice; the oracle interpolates the same $m)
      val l0 = y.slice(0, HW_M).sum / HW_M.toDouble
      var l = l0
      var b = (y.slice(HW_M, 2 * HW_M).sum / HW_M.toDouble - l0) / HW_M.toDouble
      val sArr = Array.tabulate(HW_M)(j => y(j) - l0)
      var sae = 0.0
      var i = 2 * HW_M
      while (i < y.length) {
        val idx = i % HW_M
        sae += math.abs(y(i) - (l + b + sArr(idx)))
        val lNew = HW_ALPHA * (y(i) - sArr(idx)) + (1 - HW_ALPHA) * (l + b)
        val bNew = HW_BETA * (lNew - l) + (1 - HW_BETA) * b
        sArr(idx) = HW_GAMMA * (y(i) - lNew) + (1 - HW_GAMMA) * sArr(idx)
        l = lNew; b = bNew
        i += 1
      }
      val n = y.length
      (t, n.toLong, (n - 2 * HW_M).toLong, sae / (n - 2 * HW_M), l, b,
        sArr.max - sArr.min, sArr.indexOf(sArr.max).toLong)
        }
      }
    out
      .toDF("event_type", "n_hours", "n_forecasts", "mae_raw", "l_raw", "b_raw",
        "amp_raw", "peak_hour")
      .select(col("event_type"), col("n_hours"), col("n_forecasts"),
        Fns.roundP(col("mae_raw"), 6).as("mae"),
        Fns.roundP(col("l_raw"), 6).as("level"),
        Fns.roundP(col("b_raw"), 6).as("trend"),
        Fns.roundP(col("amp_raw"), 6).as("season_amp"),
        col("peak_hour"))
      .orderBy("event_type")
  }

  /** Journey-path prefix length for [[qEventPaths]]. */
  val PATH_LEN = 5

  /** Top user-journey paths — each user's first [[PATH_LEN]] events (by
    * ts, event_id tie-break) joined into a `a>b>c` path string, then the
    * 20 most common paths. The product-analytics "top flows" report that
    * generalizes [[qFunnel]] from one fixed sequence to all observed
    * ones. Per-user ordering runs in a user-keyed window whose rank≤N
    * predicate plans as WindowGroupLimit (per-partition top-N before the
    * exchange); the path agg groups on the SAME user key (exchange
    * reuse), and the final count groups on path strings whose cardinality
    * is ≤ |event types|^N — a broadcast-sized rollup no matter the corpus
    * size. collect_list order is pinned by sorting (rn, type) structs —
    * never trust shuffle arrival order. */
  val qEventPaths: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PATH_LEN)
      .groupBy("user_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path")).limit(20)
  }

  /** Time-to-convert report — the temporal companion of [[qFunnel]]:
    * for users who progressed view→click→purchase (identical chained
    * min-ts state machine), the count and MEAN latency of each step
    * transition. Gaps are exact integer micros (no float until the one
    * final mean division), summed as longs — a 90-day gap is 7.8e12 µs,
    * so even 10^6 converting users stay within int64. Same scale shape
    * as the funnel: user-keyed joins over per-user first-hit state. */
  val qFunnelTime: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t2 = e.filter(col("event_type") === "click").join(t1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"), min("t1").as("t1k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t3 = e.filter(col("event_type") === "purchase").join(t2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"), min("t2").as("t2k"))
    def leg(df: DataFrame, a: String, b: String, name: String) =
      df.select((unix_micros(col(b)) - unix_micros(col(a))).as("gap_us"))
        .agg(count(lit(1)).as("n_users"), sum(col("gap_us")).as("sum_us"))
        .select(lit(name).as("leg"), col("n_users"),
          Fns.roundP(col("sum_us").cast("double") / col("n_users") / 1e6, 3)
            .as("mean_gap_s"))
    leg(t2, "t1k", "t2", "view>click")
      .unionAll(leg(t3, "t2k", "t3", "click>purchase"))
      .orderBy("leg")
  }

  /** First-order Markov transition matrix over the per-user event stream
    * — P(next=b | cur=a) estimated from adjacent pairs in the (ts,
    * event_id) total order. The behavioral-model summary every session
    * recommender / anomaly baseline starts from, and the probabilistic
    * generalization of [[qEventPaths]]' discrete flows. One user-keyed
    * window pass makes the pairs; counts collapse to the |types|²
    * matrix (map-side combine absorbs the stream); the row-total join
    * is over ≤|types| rows, broadcast. Counts exact; the probability is
    * the single double division, mirrored in the oracle. */
  val qTransitions: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("cnt"))
    val totals = pairs.groupBy("cur").agg(sum(col("cnt")).as("tot"))
    pairs.join(broadcast(totals), Seq("cur"))
      .select(col("cur"), col("nxt"), col("cnt"),
        Fns.roundP(col("cnt").cast("double") / col("tot").cast("double"), 6)
          .as("prob"))
      .orderBy("cur", "nxt")
  }

  /** Micros per week, for cohort bucketing. */
  val WEEK_US = 604800000000L

  /** Cohort LTV matrix — users bucketed by FIRST-SEEN week, value summed
    * per (cohort, week offset): the lifetime-value triangle every growth
    * team reads (row = acquisition cohort, column = age). Two passes:
    * per-user first-week agg (user-keyed), then the value stream joins
    * its user's cohort and collapses to the cohorts×offsets matrix —
    * the working set after the first agg is one row per user, and the
    * matrix is calendar-bounded. Distinct-user counts are exact
    * (keyed by the same user_id the join shuffled on). */
  val qCohortLtv: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr(s"unix_micros(ts) div $WEEK_US").as("wk"),
        col("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    ev.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .orderBy("cohort_wk", "wk_offset")
  }

  /** Two-sample A/B z-test — the experimentation primitive: users split
    * by the deterministic user_id parity, per-variant mean event value
    * compared with the unpooled z statistic. All moments are exact
    * decimal sums collected in ONE conditional-aggregation pass (no
    * per-variant rescan, no pivot); mean/variance/z assemble in a fixed
    * double tree mirrored verbatim in the oracle. At 100 TB this is a
    * single partial+final agg over the event stream — the entire test
    * reduces to six numbers. */
  val qAbTest: Q = (s, d) => {
    val dec6 = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,6)")
    val dec28 = (c: org.apache.spark.sql.Column) => c.cast("decimal(28,6)")
    val v = pmod(col("user_id"), lit(2))
    val m = Tables.events(s, d).select(v.as("variant"), col("value"))
      .agg(
        count(when(col("variant") === 0, 1)).as("n0"),
        count(when(col("variant") === 1, 1)).as("n1"),
        sum(when(col("variant") === 0, dec6(col("value")))).as("s0"),
        sum(when(col("variant") === 1, dec6(col("value")))).as("s1"),
        sum(when(col("variant") === 0, dec28(col("value") * col("value")))).as("q0"),
        sum(when(col("variant") === 1, dec28(col("value") * col("value")))).as("q1"))
    val D = (n: String) => col(n).cast("double")
    m.withColumn("m0", D("s0") / D("n0"))
      .withColumn("m1", D("s1") / D("n1"))
      // a variant with ≤1 row: Spark double x/0 yields NaN where DuckDB
      // yields NULL — guard the variance to NULL on both engines
      .withColumn("v0", when(col("n0") > 1,
        (D("q0") - D("s0") * D("s0") / D("n0")) / (D("n0") - 1)))
      .withColumn("v1", when(col("n1") > 1,
        (D("q1") - D("s1") * D("s1") / D("n1")) / (D("n1") - 1)))
      .select(col("n0"), col("n1"),
        Fns.roundP(col("m0"), 6).as("mean0"),
        Fns.roundP(col("m1"), 6).as("mean1"),
        Fns.roundP((col("m0") - col("m1")) /
          sqrt(col("v0") / D("n0") + col("v1") / D("n1")), 4).as("z"))
  }

  /** CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker, WSDM
    * 2013) — the industry-standard pre-experiment covariate adjustment:
    * unit = user, variant = user_id mod 2 (the [[qAbTest]] split), the
    * calendar midpoint of the event span divides a PRE period (covariate
    * X = the user's pre-period value sum) from the EXPERIMENT period
    * (metric Y = post-period value sum); θ = cov(X,Y)/var(X) pooled over
    * all units, Ycuped = Y − θ(X − mean X), and the readout is the Welch
    * z on the adjusted per-user metric beside the naive one — the same
    * decision statistic with (1 − ρ²) of the variance, free at scale
    * because X is historical data the warehouse already has.
    *
    * Exactness: per-user X/Y are decimal-exact 2-dp event sums re-cast
    * to decimal(18,2); every second moment (X², Y², XY) sums exact
    * decimal(37,4) products (re-cast BEFORE multiplying so no
    * allowPrecisionLoss rounding — the q_sax lesson); θ, both z's, and
    * the variance-reduction assemble in fixed double trees mirrored
    * op-for-op, with the [[qAbTest]] n>1 variance guard and a var(X)≠0
    * guard on θ so degenerate inputs NULL identically on both engines.
    *
    * Scale shape: one cheap min/max-day agg + one user-keyed agg that
    * collapses straight into ONE global moment row — two exchanges, no
    * windows, nothing driver-side; the adjusted z costs the same plan as
    * the naive one. */
  val qCuped: Q = (s, d) => {
    import org.apache.spark.sql.Column
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("value"),
        expr(s"unix_micros(ts) div $DAY_US").as("di"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mid = broadcast(ev.agg(expr("(min(di) + max(di)) div 2").as("mid")))
    val dec2 = (c: Column) => c.cast("decimal(18,2)")
    val per = ev.crossJoin(mid)
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(col("di") < col("mid"), dec2(col("value")))),
          lit(0).cast("decimal(18,2)")).as("x0"),
        coalesce(sum(when(col("di") >= col("mid"), dec2(col("value")))),
          lit(0).cast("decimal(18,2)")).as("y0"))
      .select(pmod(col("user_id"), lit(2)).as("variant"),
        dec2(col("x0")).as("x"), dec2(col("y0")).as("y"))
    val m = per.agg(
      count(lit(1)).as("n"),
      count(when(col("variant") === 0, 1)).as("n0"),
      count(when(col("variant") === 1, 1)).as("n1"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(when(col("variant") === 0, col("x"))).as("sx0"),
      sum(when(col("variant") === 0, col("y"))).as("sy0"),
      sum(when(col("variant") === 0, col("x") * col("x"))).as("sxx0"),
      sum(when(col("variant") === 0, col("y") * col("y"))).as("syy0"),
      sum(when(col("variant") === 0, col("x") * col("y"))).as("sxy0"),
      sum(when(col("variant") === 1, col("x"))).as("sx1"),
      sum(when(col("variant") === 1, col("y"))).as("sy1"),
      sum(when(col("variant") === 1, col("x") * col("x"))).as("sxx1"),
      sum(when(col("variant") === 1, col("y") * col("y"))).as("syy1"),
      sum(when(col("variant") === 1, col("x") * col("y"))).as("sxy1"))
    val D = (nm: String) => col(nm).cast("double")
    def svar(sq: String, sm: String, nn: String): Column =
      when(col(nn) > 1,
        (D(sq) - D(sm) * D(sm) / D(nn)) / (D(nn) - 1))
    def scov(sp: String, sa: String, sb: String, nn: String): Column =
      when(col(nn) > 1,
        (D(sp) - D(sa) * D(sb) / D(nn)) / (D(nn) - 1))
    m.withColumn("mx", D("sx") / D("n"))
      .withColumn("vx", svar("sxx", "sx", "n"))
      .withColumn("vy", svar("syy", "sy", "n"))
      .withColumn("cv", scov("sxy", "sx", "sy", "n"))
      .withColumn("theta", when(col("vx") =!= 0.0, col("cv") / col("vx")))
      .withColumn("my0", D("sy0") / D("n0"))
      .withColumn("my1", D("sy1") / D("n1"))
      .withColumn("vy0", svar("syy0", "sy0", "n0"))
      .withColumn("vy1", svar("syy1", "sy1", "n1"))
      .withColumn("vx0", svar("sxx0", "sx0", "n0"))
      .withColumn("vx1", svar("sxx1", "sx1", "n1"))
      .withColumn("cv0", scov("sxy0", "sx0", "sy0", "n0"))
      .withColumn("cv1", scov("sxy1", "sx1", "sy1", "n1"))
      .withColumn("ma0",
        col("my0") - col("theta") * (D("sx0") / D("n0") - col("mx")))
      .withColumn("ma1",
        col("my1") - col("theta") * (D("sx1") / D("n1") - col("mx")))
      .withColumn("va0", col("vy0") - lit(2.0) * col("theta") * col("cv0") +
        col("theta") * col("theta") * col("vx0"))
      .withColumn("va1", col("vy1") - lit(2.0) * col("theta") * col("cv1") +
        col("theta") * col("theta") * col("vx1"))
      .withColumn("vyc", col("vy") - lit(2.0) * col("theta") * col("cv") +
        col("theta") * col("theta") * col("vx"))
      .select(col("n0"), col("n1"),
        Fns.roundP(col("theta"), 6).as("theta"),
        Fns.roundP(col("ma0"), 6).as("mean0_adj"),
        Fns.roundP(col("ma1"), 6).as("mean1_adj"),
        Fns.roundP((col("my0") - col("my1")) /
          sqrt(col("vy0") / D("n0") + col("vy1") / D("n1")), 4).as("z_naive"),
        Fns.roundP((col("ma0") - col("ma1")) /
          sqrt(col("va0") / D("n0") + col("va1") / D("n1")), 4).as("z_cuped"),
        Fns.roundP(lit(1.0) - col("vyc") / col("vy"), 6).as("var_reduction"))
  }

  /** Bootstrap replicate count for [[qBootstrapCi]] — the budget knob:
    * per-row work is 1 md5 + B integer ops, so cost scales linearly in B
    * with NO extra shuffle volume (partial aggregation collapses the
    * B-way expansion to B rows per partition before the exchange). */
  val BOOT_B = 40
  /** Knuth multiplicative-hash odd constant — steps one md5-uniform into
    * B per-replicate uniforms (a Weyl sequence mod 2^32): u_b =
    * (h + b·STEP) mod 2^32. One md5 per ROW, not per (row, replicate). */
  val BOOT_STEP = 2654435761L
  /** Poisson(1) CDF thresholds scaled to the 2^32 hash space, so the
    * weight draw is an exact INTEGER comparison in both engines (no
    * float rounding can flip a draw): w = #{thresholds ≤ r}, capped at
    * [[BOOT_CDF]].length. */
  val BOOT_CDF: Array[Long] = {
    val e = math.exp(-1.0)
    (0 to 5).map(k =>
      ((0 to k).map(i => e / (1 to i).product).sum * 4294967296.0).toLong)
      .toArray
  }
  /** Percentile-CI rank indices at α = 0.05: lo = ⌈0.025·B⌉, hi =
    * ⌊0.975·B⌋. */
  val BOOT_LO = 1
  val BOOT_HI = 39

  /** Poisson-bootstrap confidence interval for the mean event value
    * (Efron 1979; the Poisson(1)-weight approximation to multinomial
    * resampling is THE distributed form — Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams", Google 2012): every row gets
    * [[BOOT_B]] deterministic Poisson(1) weights (md5 hash-uniform
    * stepped by a Weyl sequence, inverse-CDF via exact integer threshold
    * comparisons), each replicate's weighted mean is an exact
    * decimal-sum ratio, and the report is the point estimate, bootstrap
    * SE, and the rank-based 95% percentile interval.
    *
    * Exactness: weights are integers from integer comparisons; Σw·value
    * sums exact decimals; replicate means are single double divisions;
    * SE moments sum through decimal(28,18); the CI bounds are ORDER
    * STATISTICS (rank 1/39 of 40, ties broken by replicate id) — every
    * number either exact or one fixed double tree.
    *
    * Scale shape: one corpus scan; the B-way expansion collapses to
    * B rows per partition map-side (partial agg before the exchange), so
    * shuffle volume is O(B·partitions) regardless of input size;
    * everything downstream rides the B-row frame (single-partition
    * window over 40 rows). */
  val qBootstrapCi: Q = (s, d) => {
    import org.apache.spark.sql.Column
    val dec2 = (c: Column) => c.cast("decimal(18,2)")
    val ev = Tables.events(s, d).select(col("event_id"), col("value"))
    val pt = broadcast(ev.agg(count(lit(1)).as("n_events"),
      sum(dec2(col("value"))).as("sv")))
    val wCase = BOOT_CDF.tail.zipWithIndex
      .foldLeft(when(col("r") < BOOT_CDF(0), 0)) {
        case (acc, (c, i)) => acc.when(col("r") < c, i + 1)
      }.otherwise(BOOT_CDF.length)
    val reps = ev
      .select(col("value"),
        Fns.hash32(concat(lit("boot_"), col("event_id").cast("string")))
          .as("h"))
      .select(col("value"), col("h"),
        explode(sequence(lit(0), lit(BOOT_B - 1))).as("b"))
      .withColumn("r",
        pmod(col("h") + col("b") * lit(BOOT_STEP), lit(4294967296L)))
      .withColumn("w", wCase)
      .groupBy("b")
      .agg(sum(col("w").cast("long")).as("sw"),
        sum(col("w").cast("decimal(3,0)") * dec2(col("value"))).as("swv"))
      .withColumn("m", when(col("sw") > 0,
        col("swv").cast("double") / col("sw").cast("double")))
      .filter(col("m").isNotNull)
      .withColumn("rn", row_number().over(Window.orderBy(col("m"), col("b"))))
    val D = (nm: String) => col(nm).cast("double")
    reps.agg(
        count(lit(1)).as("b_n"),
        sum(col("m").cast("decimal(28,18)")).as("sm"),
        sum((col("m") * col("m")).cast("decimal(28,18)")).as("smm"),
        max(when(col("rn") === BOOT_LO, col("m"))).as("lo"),
        max(when(col("rn") === BOOT_HI, col("m"))).as("hi"))
      .crossJoin(pt)
      .select(col("n_events"), col("b_n"),
        Fns.roundP(col("sv").cast("double") / D("n_events"), 6).as("est"),
        Fns.roundP(col("sm").cast("double") / D("b_n"), 6).as("boot_mean"),
        Fns.roundP(sqrt((col("smm").cast("double") -
          col("sm").cast("double") * col("sm").cast("double") / D("b_n")) /
          (D("b_n") - 1)), 6).as("se"),
        Fns.roundP(col("lo"), 6).as("ci_lo"),
        Fns.roundP(col("hi"), 6).as("ci_hi"))
  }

  /** Burstiness per event type — the Fano factor (index of dispersion,
    * var/mean) of the hourly count series: 1 for a Poisson arrival
    * process, >1 for bursty traffic, <1 for regular — the one-number
    * arrival-process QA beside [[qAutocorr]]'s correlogram. Counts are
    * integers, so ALL moments are exact (decimal(38,0) sums over the
    * calendar-bounded hourly frame); mean, sample variance, and fano
    * assemble in one fixed double tree. */
  val qBurstiness: Q = (s, d) => {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("hr"))
      .agg(count(lit(1)).as("c"))
    val m = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(dec(col("c"))).as("sc"),
        sum(dec(col("c") * col("c"))).as("scc"))
    val D = (n: String) => col(n).cast("double")
    m.withColumn("mean_c", D("sc") / D("n_hours"))
      // an event type with exactly one hourly bucket: Spark double x/0
      // yields NaN/Infinity where DuckDB yields NULL — guard to NULL
      .withColumn("var_c", when(col("n_hours") > 1,
        (D("scc") - D("sc") * D("sc") / D("n_hours")) / (D("n_hours") - 1)))
      .select(col("event_type"), col("n_hours"),
        Fns.roundP(col("mean_c"), 4).as("mean_c"),
        Fns.roundP(col("var_c") / col("mean_c"), 4).as("fano"))
      .orderBy("event_type")
  }

  /** Exact single-changepoint detection (binary segmentation, first
    * split) on the per-type hourly value series: the split k minimizing
    * total within-segment SSE, computed in CLOSED FORM from prefix sums
    * — SSE(k) = (S2ₖ−S1ₖ²/k) + ((S2ₙ−S2ₖ)−(S1ₙ−S1ₖ)²/(n−k)) — so the
    * whole scan of candidate splits is one window pass over the
    * calendar-bounded series, no per-split rescan (the naive form is
    * O(n²)). Prefix sums ride exact decimals; the SSE tree and the two
    * segment means are the only doubles; argmin tie-breaks on the
    * EARLIEST split so both engines pick the same k. */
  val qChangepoint: Q = (s, d) => {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,6)")
    val dec2 = (c: org.apache.spark.sql.Column) => c.cast("decimal(28,6)")
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("hr"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("v"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hr")
    val wCum = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val staged = hourly
      .withColumn("k", row_number().over(wOrd))
      .withColumn("s1", sum(dec(col("v"))).over(wCum))
      .withColumn("s2", sum(dec2(col("v") * col("v"))).over(wCum))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("t1", sum(dec(col("v"))).over(wAll))
      .withColumn("t2", sum(dec2(col("v") * col("v"))).over(wAll))
    val D = (n: String) => col(n).cast("double")
    val sse = staged.filter(col("k") < col("n"))
      .withColumn("kd", col("k").cast("double"))
      .withColumn("rd", (col("n") - col("k")).cast("double"))
      .withColumn("sse",
        (D("s2") - D("s1") * D("s1") / col("kd")) +
          ((D("t2") - D("s2")) -
            (D("t1") - D("s1")) * (D("t1") - D("s1")) / col("rd")))
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("sse").asc, col("k").asc)
    sse.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("n_hours"), col("k").as("best_k"),
        col("hr").as("split_hr"),
        Fns.roundP(col("sse"), 4).as("sse_best"),
        Fns.roundP(D("s1") / col("kd"), 4).as("mean_left"),
        Fns.roundP((D("t1") - D("s1")) / col("rd"), 4).as("mean_right"))
      .orderBy("event_type")
  }

  /** Theil–Sen robust trend of the hourly count series — the median of
    * all pairwise slopes (Δc/Δhr over i<j), 29% breakdown where OLS is
    * dragged by any single outlier hour; the robust companion to
    * [[qRegression]]. Pair volume is CALENDAR² (hours², not events²) —
    * bounded at any corpus size — and the median is positional over the
    * sorted slope values, so duplicate slopes make the tie order
    * irrelevant (the value at a position is the same under any
    * permutation of equals): both engines agree with a bare
    * ORDER BY slope. Even counts average the two middle values. */
  val qTheilSen: Q = (s, d) => {
    // persisted (r16, guide §2.4): the pair self-join consumes hourly on
    // BOTH sides — without the persist the events scan + hourly agg ran
    // twice. The frame is calendar-bounded (hours × types), tiny.
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("hr"))
      .agg(count(lit(1)).cast("double").as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = hourly.select(col("event_type"), col("hr").as("h1"), col("c").as("c1"))
    val b = hourly.select(col("event_type"), col("hr").as("h2"), col("c").as("c2"))
    val slopes = a.join(b, Seq("event_type"))
      .filter(col("h1") < col("h2"))
      .select(col("event_type"),
        ((col("c2") - col("c1")) / (col("h2") - col("h1")).cast("double"))
          .as("slope"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("slope")
    val wN = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    slopes.withColumn("rn", row_number().over(wS))
      .withColumn("m", count(lit(1)).over(wN))
      .filter(col("rn") === expr("(m + 1) div 2") || col("rn") === expr("m div 2 + 1"))
      .groupBy(col("event_type"), col("m").as("n_pairs"))
      .agg(Fns.roundP(sum(col("slope")) / count(lit(1)), 6).as("ts_slope"))
      .select(col("event_type"), col("n_pairs"), col("ts_slope"))
      .orderBy("event_type")
  }

  /** Right-censoring horizon for [[qKaplanMeier]]: a user whose last event
    * falls within this many days of the corpus end is censored (still
    * alive), not churned. */
  val KM_CENSOR_DAYS = 7

  /** Kaplan–Meier survival curve over per-user purchase lifetimes — the
    * churn estimator an events pipeline publishes beside the day-over-day
    * [[qRetention]] rate. Cohort = users with ≥ 1 purchase; lifetime =
    * days from a user's first event (any type) to their last purchase
    * ([[DAY_US]] epoch-day indexes, timezone-free); users whose last
    * purchase falls within [[KM_CENSOR_DAYS]] of the cohort's last
    * purchase day are right-censored (still buying), the rest churned.
    * At each churn time t: n_risk = users with lifetime ≥ t, d = churns
    * at t, Ŝ(t) = Π(1 − d/n_risk).
    *
    * Exactness: d/n are exact integers; each ln(1 − d/n) is one fixed
    * double tree; the cumulative product runs as a decimal(28,18) ln-sum
    * window (the q_surprisal exp/ln parity posture) so term order cannot
    * perturb it; the final-row d = n_risk case (survival exactly 0) is
    * emitted as a literal instead of exp(ln 0) = exp(−∞), which a decimal
    * cast would NULL on Spark and error on DuckDB.
    *
    * Scale shape: one (user)-keyed partial+final agg to lifetimes, one
    * day-keyed agg, then all windows ride the day-keyed frame — bounded
    * by the corpus calendar span (the q_changepoint hourly precedent),
    * never by users. */
  val qKaplanMeier: Q = (s, d) => {
    val spans = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        expr(s"unix_micros(ts) div $DAY_US").as("di"))
      .groupBy("user_id").agg(
        min(col("di")).as("d0"),
        max(when(col("event_type") === "purchase", col("di"))).as("d1"))
      .filter(col("d1").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hz = spans.agg(max(col("d1")).as("dmax"), count(lit(1)).as("n_total"))
    val lif = spans.crossJoin(broadcast(hz))
      .select((col("d1") - col("d0")).as("dur"),
        when(col("dmax") - col("d1") >= KM_CENSOR_DAYS, lit(1L))
          .otherwise(lit(0L)).as("churn"),
        col("n_total"))
    val byT = lif.groupBy("dur")
      .agg(sum(col("churn")).as("d"), count(lit(1)).as("ended"),
        max(col("n_total")).as("n_total"))
    val wOrd = Window.orderBy("dur")
    val risk = byT
      .withColumn("n_risk", col("n_total") -
        coalesce(sum(col("ended")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("d") > 0)
      .withColumn("lt",
        when(col("d") < col("n_risk"),
          log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
            .cast("decimal(28,18)")))
    risk
      .withColumn("cl", sum(col("lt")).over(wOrd.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .select(col("dur").as("t_days"), col("n_risk"), col("d").as("d_events"),
        Fns.roundP(when(col("d") === col("n_risk"), lit(0.0))
          .otherwise(exp(col("cl").cast("double"))), 6).as("survival"))
      .orderBy("t_days")
  }

  /** PAA word length for [[qSax]]. */
  val SAX_SEGS = 8

  /** N(0,1) quartile breakpoints for the 4-letter SAX alphabet —
    * literal constants on both engines (the standard published table,
    * Lin et al. 2003), never computed. */
  val SAX_BP = 0.6745

  /** SAX symbolization (Lin et al., DMKD 2003) of each event type's
    * hourly value series — the discretization step motif/anomaly mining
    * runs before comparing series symbolically. Pipeline: hourly decimal
    * value sums (the q_changepoint frame) → per-type series stats
    * (n, Σv, Σv² through exact decimals; v is a 2-dp-exact decimal so
    * v·v stays exact at scale 12) → PAA segments by integer index split
    * ⌊idx·SEGS/n⌋ → per-segment mean z-scored with the population μ/σ as
    * one fixed double tree → symbol by [[SAX_BP]] breakpoint CASE.
    * Identical double trees on identical decimal-exact inputs ⇒ the
    * symbols match engine-for-engine (boundary hits behave the same
    * because both evaluate the same comparison on the same double).
    *
    * Scale shape: one scan into the (type, hour)-keyed agg; everything
    * downstream rides calendar-bounded frames (hours × types), the
    * q_changepoint posture. */
  val qSax: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("v"))
    // v is bounded well inside (18,6) (hourly 2-dp sums), so the re-cast is
    // lossless and makes the square type decimal(37,12) on BOTH engines:
    // without it Spark's allowPrecisionLoss types (28,6)×(28,6) as (38,6),
    // rounding the product at 6 dp while DuckDB keeps 12.
    val v18 = col("v").cast("decimal(18,6)")
    val st = hourly.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("v")).cast("double").as("s1"),
      sum((v18 * v18).cast("decimal(38,12)")).cast("double").as("s2"))
    val wT = Window.partitionBy("event_type").orderBy("hr")
    val D = (c: org.apache.spark.sql.Column) => c.cast("double")
    hourly
      .withColumn("idx", row_number().over(wT).cast("long") - 1)
      .join(broadcast(st), Seq("event_type"))
      .withColumn("seg", expr(s"(idx * $SAX_SEGS) div n"))
      .groupBy(col("event_type"), col("seg"))
      .agg(count(lit(1)).as("n_hours"),
        (sum(col("v")).cast("double") / count(lit(1))).as("paa"),
        max(col("n")).as("n"), max(col("s1")).as("s1"), max(col("s2")).as("s2"))
      .withColumn("mu", col("s1") / D(col("n")))
      .withColumn("sd", sqrt(col("s2") / D(col("n")) - col("mu") * col("mu")))
      .withColumn("z", (col("paa") - col("mu")) / col("sd"))
      .select(col("event_type"), col("seg"), col("n_hours"),
        Fns.roundP(col("paa"), 6).as("paa"),
        Fns.roundP(col("z"), 6).as("z"),
        when(col("z") < -SAX_BP, lit("a"))
          .when(col("z") < 0.0, lit("b"))
          .when(col("z") < SAX_BP, lit("c"))
          .otherwise(lit("d")).as("sym"))
      .orderBy("event_type", "seg")
  }

  /** Mann–Whitney U rank-sum test of purchase vs click event values —
    * the nonparametric complement to [[qAbTest]]'s Welch t (heavy-tailed
    * revenue metrics violate the t-test's normality premise; the U test
    * compares distributions by rank only). Tie-corrected normal
    * approximation: with per-distinct-value tie counts t,
    * U = R_A − n_A(n_A+1)/2,  μ = n_A·n_B/2,
    * σ² = n_A·n_B/12 · ((N+1) − Σ(t³−t)/(N(N−1))),  z = (U − μ)/σ.
    *
    * Exactness: ranks never materialize per event — average ranks come
    * from cumulative tie counts over the DISTINCT-value frame, and
    * 2·R_A = Σ cntA·(2c+t+1) stays an exact BIGINT (every term integer;
    * ≤ 2N² ≪ 2⁶³); Σ(t³−t) rides decimal(38,0) (t³ would overflow long
    * at t > 2 M); the final μ/σ²/z are one fixed double tree over those
    * exact integers, identical on both engines.
    *
    * Scale shape: one scan into a (value)-keyed agg; every later frame
    * is value-DOMAIN-bounded (2-dp grid — the q_decile posture), so the
    * no-partition cumulative window never sees event-stream cardinality. */
  val qMannWhitney: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "click")
        && col("value").isNotNull) // no-op on shipped data; pins the contract
      // (a NULL group would otherwise enter the rank math, and Spark's
      // NULLS FIRST ascending window order diverges from DuckDB's NULLS LAST)
      .select((col("event_type") === "purchase").as("isA"), col("value").as("v"))
    val byV = ev.groupBy("v").agg(
      sum(when(col("isA"), 1L).otherwise(0L)).as("ca"),
      count(lit(1)).as("t"))
    val wv = Window.orderBy("v")
    val D = (c: org.apache.spark.sql.Column) => c.cast("double")
    byV
      .withColumn("c", coalesce(sum(col("t")).over(
        wv.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .agg(
        sum(col("ca")).as("na"),
        sum(col("t") - col("ca")).as("nb"),
        sum(col("ca") * (lit(2L) * col("c") + col("t") + lit(1L))).as("r2a"),
        sum(col("t").cast("decimal(12,0)") * col("t").cast("decimal(12,0)")
          * col("t").cast("decimal(12,0)")
          - col("t").cast("decimal(12,0)")).as("tie3"))
      .withColumn("n", col("na") + col("nb"))
      .withColumn("ua", D(col("r2a")) / lit(2.0)
        - D(col("na")) * (D(col("na")) + lit(1.0)) / lit(2.0))
      .withColumn("mu", D(col("na")) * D(col("nb")) / lit(2.0))
      .withColumn("va", D(col("na")) * D(col("nb")) / lit(12.0)
        * ((D(col("n")) + lit(1.0))
          - D(col("tie3")) / (D(col("n")) * (D(col("n")) - lit(1.0)))))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("ua").as("u_a"),
        Fns.roundP((col("ua") - col("mu")) / sqrt(col("va")), 6).as("z"))
  }

  /** Split-conformal target coverage 1−α = CONF_NUM/CONF_DEN (90%). */
  val CONF_NUM = 9
  val CONF_DEN = 10

  /** Split conformal prediction intervals (Papadopoulos et al. 2002;
    * Lei et al., JASA 2018) over the q_regression hour→value model — the
    * distribution-free uncertainty quantification a scoring pipeline
    * attaches to any point predictor. Three disjoint hash splits per
    * event type: TRAIN fits the OLS (the q_regression moment sums,
    * decimal-exact), CAL takes q̂ = the ⌈(n_cal+1)·0.9⌉-th smallest
    * absolute residual (integer-exact rank arithmetic, the finite-sample
    * correction), TEST reports empirical coverage of ŷ ± q̂ — the
    * theorem says ≥ 90% in expectation, and the gate pins the realized
    * number as data.
    *
    * Exactness: coefficients come from exact decimal moment sums;
    * per-row residuals are one fixed double tree; the rank-k order
    * statistic is well-defined under ties (equal doubles occupy the tied
    * ranks); coverage compares the UNROUNDED q̂ against exact residuals
    * and only the outputs are rounded.
    *
    * Scale shape: one scan into the persisted split frame; the fit is a
    * partial+final moment agg; the only sort is the per-type calibration
    * rank (the q_decile documented posture — |types| reducers; bucket
    * two-level like q_bleu if types are few and CAL is huge). */
  val qConformal: Q = (s, d) => {
    val base = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        (expr("unix_micros(ts) div 3600000000") % 24).cast("double").as("x"),
        col("value").as("y"))
      .withColumn("split",
        Fns.hash32(concat(lit("cal_"), col("event_id").cast("string"))) % 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fit = base.filter(col("split") === 0)
      .groupBy("event_type")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast("decimal(18,6)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(18,6)")).cast("double").as("sy"),
        sum((col("x") * col("y")).cast("decimal(28,6)")).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast("decimal(18,6)")).cast("double").as("sxx"))
      .withColumn("b", (col("n") * col("sxy") - col("sx") * col("sy"))
        / (col("n") * col("sxx") - col("sx") * col("sx")))
      .select(col("event_type"), col("n").cast("long").as("n_train"),
        col("b"), ((col("sy") - col("b") * col("sx")) / col("n")).as("a"))
    val resid = base.filter(col("split") =!= 0)
      .join(broadcast(fit), Seq("event_type"))
      .withColumn("r", abs(col("y") - (col("a") + col("b") * col("x"))))
    val cal = resid.filter(col("split") === 1)
    val ncal = cal.groupBy("event_type").agg(count(lit(1)).as("n_cal"))
    val wr = Window.partitionBy("event_type").orderBy("r")
    val qhat = cal
      .join(broadcast(ncal), Seq("event_type"))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") ===
        expr(s"($CONF_NUM * (n_cal + 1) + $CONF_DEN - 1) div $CONF_DEN"))
      .select(col("event_type"), col("n_cal"), col("r").as("qh"))
    resid.filter(col("split") === 2)
      .join(broadcast(qhat), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n_train")).as("n_train"), max(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("qh"), 1L).otherwise(0L)).as("n_cov"),
        max(col("qh")).as("qh"))
      .select(col("event_type"), col("n_train"), col("n_cal"), col("n_test"),
        Fns.roundP(col("qh"), 6).as("qhat"),
        Fns.roundP(col("n_cov").cast("double") / col("n_test"), 4).as("coverage"))
      .orderBy("event_type")
  }

  // ---- DuckDB oracles ------------------------------------------------------
  // DuckDB reads the nanos parquet natively; CAST to micros timestamp
  // matches Spark's div-1000 conversion (Tables.events).

  private val sqlWs =
    "epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))::BIGINT"

  val gates: Seq[Gate] = Seq(
    // the b expression is repeated verbatim inside a (op-order identity:
    // Spark names the column and reuses it; the same deterministic tree
    // evaluates to the same double)
    Gate("q_conformal", qConformal,
      s"""WITH e0 AS (
         |  SELECT event_type, event_id,
         |    CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS DOUBLE) AS x,
         |    value AS y,
         |    CAST('0x' || substr(md5('cal_' || CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) % 3 AS split
         |  FROM events),
         |m AS (
         |  SELECT event_type,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
         |    CAST(sum(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) AS sxx
         |  FROM e0 WHERE split = 0 GROUP BY 1),
         |ab AS (
         |  SELECT event_type, CAST(n AS BIGINT) AS n_train,
         |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
         |    (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS a
         |  FROM m),
         |rs AS (
         |  SELECT e0.event_type, split, abs(y - (a + b * x)) AS r
         |  FROM e0 JOIN ab USING (event_type) WHERE split <> 0),
         |nc AS (SELECT event_type, count(*) AS n_cal FROM rs WHERE split = 1 GROUP BY 1),
         |qh AS (
         |  SELECT event_type, n_cal, r AS qh FROM (
         |    SELECT rs.event_type, nc.n_cal, r,
         |      row_number() OVER (PARTITION BY rs.event_type ORDER BY r) AS rk
         |    FROM rs JOIN nc USING (event_type) WHERE split = 1)
         |  WHERE rk = ($CONF_NUM * (n_cal + 1) + $CONF_DEN - 1) // $CONF_DEN),
         |tc AS (
         |  SELECT rs.event_type, count(*) AS n_test,
         |    CAST(sum(CASE WHEN rs.r <= q.qh THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
         |  FROM rs JOIN qh q USING (event_type) WHERE rs.split = 2 GROUP BY 1)
         |SELECT q.event_type, ab.n_train, q.n_cal, tc.n_test,
         |  ${Fns.roundPSql("q.qh", 6)} AS qhat,
         |  ${Fns.roundPSql("CAST(tc.n_cov AS DOUBLE) / tc.n_test", 4)} AS coverage
         |FROM qh q JOIN ab USING (event_type) JOIN tc USING (event_type)
         |ORDER BY event_type""".stripMargin),
    Gate("q_mann_whitney", qMannWhitney,
      s"""WITH ev AS (
         |  SELECT event_type = 'purchase' AS isa, value AS v FROM events
         |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
         |byv AS (
         |  SELECT v, CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    count(*) AS t
         |  FROM ev GROUP BY 1),
         |cw AS (
         |  SELECT ca, t,
         |    CAST(coalesce(sum(t) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c
         |  FROM byv),
         |ag AS (
         |  SELECT CAST(sum(ca) AS BIGINT) AS na,
         |    CAST(sum(t - ca) AS BIGINT) AS nb,
         |    CAST(sum(ca * (2 * c + t + 1)) AS BIGINT) AS r2a,
         |    sum(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))
         |      * CAST(t AS DECIMAL(12,0)) - CAST(t AS DECIMAL(12,0))) AS tie3
         |  FROM cw),
         |fx AS (
         |  SELECT na, nb, na + nb AS n,
         |    CAST(r2a AS DOUBLE) / 2.0
         |      - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0) / 2.0 AS ua,
         |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0 AS mu,
         |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
         |      * ((CAST(na + nb AS DOUBLE) + 1.0)
         |        - CAST(tie3 AS DOUBLE) / (CAST(na + nb AS DOUBLE)
         |          * (CAST(na + nb AS DOUBLE) - 1.0))) AS va
         |  FROM ag)
         |SELECT na AS n_a, nb AS n_b, ua AS u_a,
         |  ${Fns.roundPSql("(ua - mu) / sqrt(va)", 6)} AS z
         |FROM fx""".stripMargin),
    Gate("q_sax", qSax,
      s"""WITH hourly AS (
         |  SELECT event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
         |    sum(CAST(value AS DECIMAL(18,6))) AS v
         |  FROM events GROUP BY 1, 2),
         |st AS (
         |  SELECT event_type, count(*) AS n,
         |    CAST(sum(v) AS DOUBLE) AS s1,
         |    CAST(sum(CAST(CAST(v AS DECIMAL(18,6)) * CAST(v AS DECIMAL(18,6))
         |      AS DECIMAL(38,12))) AS DOUBLE) AS s2
         |  FROM hourly GROUP BY 1),
         |ix AS (
         |  SELECT event_type, v,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hr) - 1 AS idx
         |  FROM hourly),
         |pa AS (
         |  SELECT i.event_type, (idx * $SAX_SEGS) // n AS seg,
         |    count(*) AS n_hours, CAST(sum(v) AS DOUBLE) / count(*) AS paa,
         |    max(n) AS n, max(s1) AS s1, max(s2) AS s2
         |  FROM ix i JOIN st USING (event_type) GROUP BY 1, 2),
         |zz AS (
         |  SELECT event_type, seg, n_hours, paa,
         |    (paa - s1 / CAST(n AS DOUBLE)) /
         |      sqrt(s2 / CAST(n AS DOUBLE)
         |        - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))) AS z
         |  FROM pa)
         |SELECT event_type, seg, n_hours,
         |  ${Fns.roundPSql("paa", 6)} AS paa, ${Fns.roundPSql("z", 6)} AS z,
         |  CASE WHEN z < -$SAX_BP THEN 'a' WHEN z < 0 THEN 'b'
         |       WHEN z < $SAX_BP THEN 'c' ELSE 'd' END AS sym
         |FROM zz ORDER BY event_type, seg""".stripMargin),
    Gate("q_kaplan_meier", qKaplanMeier,
      s"""WITH sp AS (
         |  SELECT user_id,
         |    min(epoch_us(CAST(ts AS TIMESTAMP)) // $DAY_US) AS d0,
         |    max(CASE WHEN event_type = 'purchase'
         |        THEN epoch_us(CAST(ts AS TIMESTAMP)) // $DAY_US END) AS d1
         |  FROM events GROUP BY 1 HAVING d1 IS NOT NULL),
         |hz AS (SELECT max(d1) AS dmax, count(*) AS n_total FROM sp),
         |lif AS (
         |  SELECT d1 - d0 AS dur,
         |    CASE WHEN dmax - d1 >= $KM_CENSOR_DAYS THEN 1 ELSE 0 END AS churn
         |  FROM sp CROSS JOIN hz),
         |byt AS (SELECT dur, CAST(sum(churn) AS BIGINT) AS d,
         |    count(*) AS ended FROM lif GROUP BY 1),
         |rk AS (
         |  SELECT dur, d,
         |    CAST(hz.n_total - coalesce(sum(ended) OVER (ORDER BY dur
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
         |  FROM byt CROSS JOIN hz),
         |km AS (
         |  SELECT dur, d, n_risk,
         |    CASE WHEN d < n_risk THEN CAST(ln(1.0::DOUBLE - CAST(d AS DOUBLE) / n_risk)
         |      AS DECIMAL(28,18)) END AS lt
         |  FROM rk WHERE d > 0),
         |cum AS (
         |  SELECT dur, d, n_risk,
         |    sum(lt) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS cl
         |  FROM km)
         |SELECT dur AS t_days, n_risk, d AS d_events,
         |  ${Fns.roundPSql(
             "CASE WHEN d = n_risk THEN 0.0::DOUBLE ELSE exp(CAST(cl AS DOUBLE)) END", 6)} AS survival
         |FROM cum ORDER BY t_days""".stripMargin),
    Gate("q_changepoint", qChangepoint,
      s"""WITH hourly AS (
         |  SELECT event_type, $sqlWs // 3600 AS hr,
         |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
         |  FROM events GROUP BY 1, 2),
         |st AS (
         |  SELECT event_type, hr, v,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hr) AS k,
         |    sum(CAST(v AS DECIMAL(18,6))) OVER
         |      (PARTITION BY event_type ORDER BY hr ROWS UNBOUNDED PRECEDING) AS s1,
         |    sum(CAST(v * v AS DECIMAL(28,6))) OVER
         |      (PARTITION BY event_type ORDER BY hr ROWS UNBOUNDED PRECEDING) AS s2,
         |    count(*) OVER (PARTITION BY event_type) AS n,
         |    sum(CAST(v AS DECIMAL(18,6))) OVER (PARTITION BY event_type) AS t1,
         |    sum(CAST(v * v AS DECIMAL(28,6))) OVER (PARTITION BY event_type) AS t2
         |  FROM hourly),
         |sse AS (
         |  SELECT event_type, hr, k, n,
         |    CAST(k AS DOUBLE) AS kd, CAST(n - k AS DOUBLE) AS rd,
         |    CAST(s1 AS DOUBLE) AS s1d, CAST(t1 AS DOUBLE) AS t1d,
         |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
         |    + ((CAST(t2 AS DOUBLE) - CAST(s2 AS DOUBLE))
         |       - (CAST(t1 AS DOUBLE) - CAST(s1 AS DOUBLE)) * (CAST(t1 AS DOUBLE) - CAST(s1 AS DOUBLE))
         |         / CAST(n - k AS DOUBLE)) AS sse
         |  FROM st WHERE k < n),
         |best AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY sse ASC, k ASC) AS rn
         |  FROM sse)
         |SELECT event_type, n AS n_hours, k AS best_k, hr AS split_hr,
         |  ${Fns.roundPSql("sse", 4)} AS sse_best,
         |  ${Fns.roundPSql("s1d / kd", 4)} AS mean_left,
         |  ${Fns.roundPSql("(t1d - s1d) / rd", 4)} AS mean_right
         |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin),
    Gate("q_theil_sen", qTheilSen,
      s"""WITH hourly AS (
         |  SELECT event_type, $sqlWs // 3600 AS hr, CAST(count(*) AS DOUBLE) AS c
         |  FROM events GROUP BY 1, 2),
         |slopes AS (
         |  SELECT a.event_type,
         |    (b.c - a.c) / CAST(b.hr - a.hr AS DOUBLE) AS slope
         |  FROM hourly a JOIN hourly b
         |    ON a.event_type = b.event_type AND a.hr < b.hr),
         |r AS (
         |  SELECT event_type, slope,
         |    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS m
         |  FROM slopes)
         |SELECT event_type, m AS n_pairs,
         |  ${Fns.roundPSql("sum(slope) / count(*)", 6)} AS ts_slope
         |FROM r WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    Gate("q_burstiness", qBurstiness,
      s"""WITH hourly AS (
         |  SELECT event_type, $sqlWs // 3600 AS hr, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |m AS (
         |  SELECT event_type, count(*) AS n_hours,
         |    sum(CAST(c AS DECIMAL(38,0))) AS sc,
         |    sum(CAST(c * c AS DECIMAL(38,0))) AS scc
         |  FROM hourly GROUP BY 1),
         |t AS (
         |  SELECT event_type, n_hours,
         |    CAST(sc AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean_c,
         |    CASE WHEN n_hours > 1 THEN
         |      (CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(n_hours AS DOUBLE))
         |        / (CAST(n_hours AS DOUBLE) - 1) END AS var_c
         |  FROM m)
         |SELECT event_type, n_hours,
         |  ${Fns.roundPSql("mean_c", 4)} AS mean_c,
         |  ${Fns.roundPSql("var_c / mean_c", 4)} AS fano
         |FROM t ORDER BY 1""".stripMargin),
    Gate("q_cohort_ltv", qCohortLtv,
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // $WEEK_US AS wk, value
         |  FROM events),
         |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
         |SELECT c.cohort_wk, e.wk - c.cohort_wk AS wk_offset,
         |  count(DISTINCT e.user_id) AS n_users,
         |  CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
         |FROM ev e JOIN cohort c USING (user_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q_ab_test", qAbTest,
      s"""WITH m AS (
         |  SELECT
         |    count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n0,
         |    count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS n1,
         |    sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,6)) END) AS s0,
         |    sum(CASE WHEN user_id % 2 = 1 THEN CAST(value AS DECIMAL(18,6)) END) AS s1,
         |    sum(CASE WHEN user_id % 2 = 0 THEN CAST(value * value AS DECIMAL(28,6)) END) AS q0,
         |    sum(CASE WHEN user_id % 2 = 1 THEN CAST(value * value AS DECIMAL(28,6)) END) AS q1
         |  FROM events),
         |t AS (
         |  SELECT n0, n1,
         |    CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0,
         |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         |    CASE WHEN n0 > 1 THEN
         |      (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         |        / (CAST(n0 AS DOUBLE) - 1) END AS v0,
         |    CASE WHEN n1 > 1 THEN
         |      (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
         |        / (CAST(n1 AS DOUBLE) - 1) END AS v1
         |  FROM m)
         |SELECT n0, n1,
         |  ${Fns.roundPSql("m0", 6)} AS mean0,
         |  ${Fns.roundPSql("m1", 6)} AS mean1,
         |  ${Fns.roundPSql("(m0 - m1) / sqrt(v0 / CAST(n0 AS DOUBLE) + v1 / CAST(n1 AS DOUBLE))", 4)} AS z
         |FROM t""".stripMargin),
    Gate("q_cuped", qCuped,
      s"""WITH ev AS (
         |  SELECT user_id, value,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // $DAY_US AS di FROM events),
         |md AS (SELECT (min(di) + max(di)) // 2 AS mid FROM ev),
         |per AS (
         |  SELECT user_id % 2 AS variant,
         |    CAST(coalesce(sum(CASE WHEN di < mid
         |      THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS x,
         |    CAST(coalesce(sum(CASE WHEN di >= mid
         |      THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS y
         |  FROM ev CROSS JOIN md GROUP BY user_id),
         |m AS (
         |  SELECT count(*) AS n,
         |    count(CASE WHEN variant = 0 THEN 1 END) AS n0,
         |    count(CASE WHEN variant = 1 THEN 1 END) AS n1,
         |    sum(x) AS sx, sum(y) AS sy,
         |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy,
         |    sum(CASE WHEN variant = 0 THEN x END) AS sx0,
         |    sum(CASE WHEN variant = 0 THEN y END) AS sy0,
         |    sum(CASE WHEN variant = 0 THEN x * x END) AS sxx0,
         |    sum(CASE WHEN variant = 0 THEN y * y END) AS syy0,
         |    sum(CASE WHEN variant = 0 THEN x * y END) AS sxy0,
         |    sum(CASE WHEN variant = 1 THEN x END) AS sx1,
         |    sum(CASE WHEN variant = 1 THEN y END) AS sy1,
         |    sum(CASE WHEN variant = 1 THEN x * x END) AS sxx1,
         |    sum(CASE WHEN variant = 1 THEN y * y END) AS syy1,
         |    sum(CASE WHEN variant = 1 THEN x * y END) AS sxy1
         |  FROM per),
         |t1 AS (
         |  SELECT n, n0, n1, sx0, sx1,
         |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
         |    CASE WHEN n > 1 THEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) END AS vx,
         |    CASE WHEN n > 1 THEN (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) END AS vy,
         |    CASE WHEN n > 1 THEN (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) END AS cv,
         |    CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS my0,
         |    CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS my1,
         |    CASE WHEN n0 > 1 THEN (CAST(syy0 AS DOUBLE) - CAST(sy0 AS DOUBLE) * CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1) END AS vy0,
         |    CASE WHEN n1 > 1 THEN (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) END AS vy1,
         |    CASE WHEN n0 > 1 THEN (CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1) END AS vx0,
         |    CASE WHEN n1 > 1 THEN (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) END AS vx1,
         |    CASE WHEN n0 > 1 THEN (CAST(sxy0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1) END AS cv0,
         |    CASE WHEN n1 > 1 THEN (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) END AS cv1
         |  FROM m),
         |t2 AS (SELECT *, CASE WHEN vx <> 0 THEN cv / vx END AS theta FROM t1),
         |t3 AS (
         |  SELECT *,
         |    my0 - theta * (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) - mx) AS ma0,
         |    my1 - theta * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) - mx) AS ma1,
         |    vy0 - 2.0 * theta * cv0 + theta * theta * vx0 AS va0,
         |    vy1 - 2.0 * theta * cv1 + theta * theta * vx1 AS va1,
         |    vy - 2.0 * theta * cv + theta * theta * vx AS vyc
         |  FROM t2)
         |SELECT n0, n1,
         |  ${Fns.roundPSql("theta", 6)} AS theta,
         |  ${Fns.roundPSql("ma0", 6)} AS mean0_adj,
         |  ${Fns.roundPSql("ma1", 6)} AS mean1_adj,
         |  ${Fns.roundPSql("(my0 - my1) / sqrt(vy0 / CAST(n0 AS DOUBLE) + vy1 / CAST(n1 AS DOUBLE))", 4)} AS z_naive,
         |  ${Fns.roundPSql("(ma0 - ma1) / sqrt(va0 / CAST(n0 AS DOUBLE) + va1 / CAST(n1 AS DOUBLE))", 4)} AS z_cuped,
         |  ${Fns.roundPSql("1.0::DOUBLE - vyc / vy", 6)} AS var_reduction
         |FROM t3""".stripMargin),
    Gate("q_bootstrap_ci", qBootstrapCi,
      s"""WITH ev AS (SELECT event_id, value FROM events),
         |pt AS (SELECT count(*) AS n_events,
         |    sum(CAST(value AS DECIMAL(18,2))) AS sv FROM ev),
         |base AS (SELECT value,
         |    CAST('0x' || substr(md5('boot_' || CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
         |  FROM ev),
         |reps0 AS (
         |  SELECT value, h, b,
         |    (h + b * $BOOT_STEP) % 4294967296 AS r
         |  FROM base CROSS JOIN
         |    (SELECT unnest([${(0 until BOOT_B).mkString(",")}]) AS b) bs),
         |wts AS (
         |  SELECT value, b,
         |    CASE ${BOOT_CDF.zipWithIndex.map { case (c, k) =>
                  s"WHEN r < $c THEN $k" }.mkString(" ")}
         |      ELSE ${BOOT_CDF.length} END AS w
         |  FROM reps0),
         |agg AS (
         |  SELECT b, sum(CAST(w AS BIGINT)) AS sw,
         |    sum(CAST(w AS DECIMAL(3,0)) * CAST(value AS DECIMAL(18,2))) AS swv
         |  FROM wts GROUP BY b),
         |mm AS (
         |  SELECT b, CASE WHEN sw > 0
         |      THEN CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) END AS m
         |  FROM agg),
         |rk AS (
         |  SELECT b, m, row_number() OVER (ORDER BY m, b) AS rn
         |  FROM mm WHERE m IS NOT NULL),
         |st AS (
         |  SELECT count(*) AS b_n,
         |    sum(CAST(m AS DECIMAL(28,18))) AS sm,
         |    sum(CAST(m * m AS DECIMAL(28,18))) AS smm,
         |    max(CASE WHEN rn = $BOOT_LO THEN m END) AS lo,
         |    max(CASE WHEN rn = $BOOT_HI THEN m END) AS hi
         |  FROM rk)
         |SELECT n_events, b_n,
         |  ${Fns.roundPSql("CAST(sv AS DOUBLE) / CAST(n_events AS DOUBLE)", 6)} AS est,
         |  ${Fns.roundPSql("CAST(sm AS DOUBLE) / CAST(b_n AS DOUBLE)", 6)} AS boot_mean,
         |  ${Fns.roundPSql("sqrt((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / CAST(b_n AS DOUBLE)) / (CAST(b_n AS DOUBLE) - 1))", 6)} AS se,
         |  ${Fns.roundPSql("lo", 6)} AS ci_lo,
         |  ${Fns.roundPSql("hi", 6)} AS ci_hi
         |FROM st CROSS JOIN pt""".stripMargin),
    Gate("q_transitions", qTransitions,
      s"""WITH r AS (
         |  SELECT event_type, lead(event_type) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS nxt
         |  FROM events),
         |p AS (SELECT event_type AS cur, nxt, count(*) AS cnt
         |      FROM r WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT cur, sum(cnt) AS tot FROM p GROUP BY 1)
         |SELECT p.cur, p.nxt, p.cnt,
         |  ${Fns.roundPSql("CAST(p.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE)", 6)} AS prob
         |FROM p JOIN t USING (cur) ORDER BY 1, 2""".stripMargin),
    Gate("q_funnel_time", qFunnelTime,
      s"""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
         |t1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
         |t2 AS (SELECT e.user_id, min(t) AS t2, min(t1) AS t1k FROM e JOIN t1 USING (user_id)
         |       WHERE event_type = 'click' AND t > t1 GROUP BY 1),
         |t3 AS (SELECT e.user_id, min(t) AS t3, min(t2) AS t2k FROM e JOIN t2 USING (user_id)
         |       WHERE event_type = 'purchase' AND t > t2 GROUP BY 1)
         |SELECT 'view>click' AS leg, count(*) AS n_users,
         |  ${Fns.roundPSql("sum(epoch_us(t2) - epoch_us(t1k))::DOUBLE / count(*) / 1e6", 3)} AS mean_gap_s
         |FROM t2
         |UNION ALL
         |SELECT 'click>purchase', count(*),
         |  ${Fns.roundPSql("sum(epoch_us(t3) - epoch_us(t2k))::DOUBLE / count(*) / 1e6", 3)}
         |FROM t3
         |ORDER BY leg""".stripMargin),
    Gate("q_event_paths", qEventPaths,
      s"""WITH r AS (
         |  SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
         |      FROM r WHERE rn <= $PATH_LEN GROUP BY 1)
         |SELECT path, count(*) AS n_users FROM p
         |GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20""".stripMargin),
    Gate("q_seasonal_error", qSeasonalError,
      s"""WITH hourly AS (
         |  SELECT $sqlWs // 3600 AS hr, event_type,
         |         sum(CAST(value AS DECIMAL(18,6))) AS v
         |  FROM events GROUP BY 1, 2)
         |SELECT a.event_type AS event_type, count(*) AS n_hours,
         |  floor(CAST(sum(abs(a.v - b.v)) AS DOUBLE) / count(*) * 1000000 + 0.5)
         |    / 1000000 AS mae
         |FROM hourly a
         |JOIN hourly b ON a.event_type = b.event_type AND a.hr = b.hr + 24
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Holt recurrence: the recursive CTE's expression trees repeat the
    // driver fold's literal op order exactly (f = l+b reused, lNew
    // repeated verbatim inside bNew), so every intermediate double is
    // bit-identical; base = state after step 1 with l0=y0, b0=y1-y0
    Gate("q_holt_forecast", qHoltForecast, {
      val (a, a1, bc, b1) =
        (HOLT_ALPHA, 1 - HOLT_ALPHA, HOLT_BETA, 1 - HOLT_BETA)
      s"""WITH RECURSIVE
         |h AS (SELECT event_type, $sqlWs // 3600 AS hr, CAST(count(*) AS BIGINT) AS n
         |      FROM events GROUP BY 1, 2),
         |bounds AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM h),
         |grid AS (SELECT t.event_type, g.hr
         |  FROM (SELECT DISTINCT event_type FROM h) t,
         |       (SELECT unnest(range((SELECT h0 FROM bounds),
         |                            (SELECT h1 FROM bounds) + 1)) AS hr) g),
         |y AS (SELECT grid.event_type,
         |        row_number() OVER (PARTITION BY grid.event_type ORDER BY grid.hr) - 1 AS i,
         |        CAST(COALESCE(h.n, 0) AS DOUBLE) AS y
         |  FROM grid LEFT JOIN h ON h.event_type = grid.event_type AND h.hr = grid.hr),
         |ln AS (SELECT event_type, count(*) AS len FROM y GROUP BY 1),
         |rec AS (
         |  SELECT y0.event_type, 1 AS i,
         |    abs(y1.y - (y0.y + (y1.y - y0.y))) AS sae,
         |    $a::DOUBLE * y1.y + $a1::DOUBLE * (y0.y + (y1.y - y0.y)) AS l,
         |    $bc::DOUBLE * (($a::DOUBLE * y1.y + $a1::DOUBLE * (y0.y + (y1.y - y0.y))) - y0.y)
         |      + $b1::DOUBLE * (y1.y - y0.y) AS b
         |  FROM (SELECT event_type, y FROM y WHERE i = 0) y0
         |  JOIN (SELECT event_type, y FROM y WHERE i = 1) y1 USING (event_type)
         |  UNION ALL
         |  SELECT r.event_type, r.i + 1,
         |    r.sae + abs(yy.y - (r.l + r.b)),
         |    $a::DOUBLE * yy.y + $a1::DOUBLE * (r.l + r.b),
         |    $bc::DOUBLE * (($a::DOUBLE * yy.y + $a1::DOUBLE * (r.l + r.b)) - r.l)
         |      + $b1::DOUBLE * r.b
         |  FROM rec r JOIN y yy ON yy.event_type = r.event_type AND yy.i = r.i + 1)
         |SELECT r.event_type, ln.len AS n_hours,
         |  ${Fns.roundPSql("r.sae / CAST(ln.len - 1 AS DOUBLE)", 6)} AS mae,
         |  ${Fns.roundPSql("r.l", 6)} AS level,
         |  ${Fns.roundPSql("r.b", 6)} AS trend
         |FROM rec r JOIN ln USING (event_type)
         |WHERE r.i = ln.len - 1 ORDER BY r.event_type""".stripMargin
    }),
    // Holt–Winters: same op-order-identity discipline as q_holt_forecast,
    // with the 24-slot seasonal state carried as a DOUBLE list updated one
    // slot per step; every expression tree repeats the driver fold's
    // literal op order (lNew's tree verbatim inside bNew and the s update)
    Gate("q_holt_winters", qHoltWinters, {
      val (a, a1, bc, b1, g, g1) = (HW_ALPHA, 1 - HW_ALPHA, HW_BETA,
        1 - HW_BETA, HW_GAMMA, 1 - HW_GAMMA)
      val m = HW_M
      val idx = s"((r.i + 1) % $m) + 1"
      val lNew = s"$a::DOUBLE * (yy.y - r.s[$idx]) + $a1::DOUBLE * (r.l + r.b)"
      s"""WITH RECURSIVE
         |h AS (SELECT event_type, $sqlWs // 3600 AS hr, CAST(count(*) AS BIGINT) AS n
         |      FROM events GROUP BY 1, 2),
         |bounds AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM h),
         |grid AS (SELECT t.event_type, g.hr
         |  FROM (SELECT DISTINCT event_type FROM h) t,
         |       (SELECT unnest(range((SELECT h0 FROM bounds),
         |                            (SELECT h1 FROM bounds) + 1)) AS hr) g),
         |y AS (SELECT grid.event_type,
         |        row_number() OVER (PARTITION BY grid.event_type ORDER BY grid.hr) - 1 AS i,
         |        CAST(COALESCE(h.n, 0) AS DOUBLE) AS y
         |  FROM grid LEFT JOIN h ON h.event_type = grid.event_type AND h.hr = grid.hr),
         |ln AS (SELECT event_type, count(*) AS len FROM y GROUP BY 1),
         |d1 AS (SELECT event_type, list(y ORDER BY i) AS ys FROM y WHERE i < $m GROUP BY 1),
         |d2 AS (SELECT event_type, list(y ORDER BY i) AS ys FROM y
         |       WHERE i >= $m AND i < ${2 * m} GROUP BY 1),
         |init AS (SELECT d1.event_type,
         |    list_sum(d1.ys) / $m.0::DOUBLE AS l0,
         |    (list_sum(d2.ys) / $m.0::DOUBLE - list_sum(d1.ys) / $m.0::DOUBLE)
         |      / $m.0::DOUBLE AS b0,
         |    list_transform(range(1, ${m + 1}),
         |      j -> d1.ys[j] - list_sum(d1.ys) / $m.0::DOUBLE) AS s0
         |  FROM d1 JOIN d2 USING (event_type)),
         |rec AS (
         |  SELECT event_type, ${2 * m - 1} AS i, 0.0::DOUBLE AS sae,
         |         l0 AS l, b0 AS b, s0 AS s
         |  FROM init
         |  UNION ALL
         |  SELECT r.event_type, r.i + 1,
         |    r.sae + abs(yy.y - (r.l + r.b + r.s[$idx])),
         |    $lNew,
         |    $bc::DOUBLE * (($lNew) - r.l) + $b1::DOUBLE * r.b,
         |    list_transform(range(1, ${m + 1}), j -> CASE WHEN j = $idx
         |      THEN $g::DOUBLE * (yy.y - ($lNew)) + $g1::DOUBLE * r.s[$idx]
         |      ELSE r.s[j] END)
         |  FROM rec r JOIN y yy ON yy.event_type = r.event_type AND yy.i = r.i + 1)
         |SELECT r.event_type, ln.len AS n_hours,
         |  CAST(ln.len - ${2 * m} AS BIGINT) AS n_forecasts,
         |  ${Fns.roundPSql(s"r.sae / CAST(ln.len - ${2 * m} AS DOUBLE)", 6)} AS mae,
         |  ${Fns.roundPSql("r.l", 6)} AS level,
         |  ${Fns.roundPSql("r.b", 6)} AS trend,
         |  ${Fns.roundPSql(
             "list_aggregate(r.s, 'max') - list_aggregate(r.s, 'min')", 6)} AS season_amp,
         |  CAST(list_position(r.s, list_aggregate(r.s, 'max')) - 1 AS BIGINT) AS peak_hour
         |FROM rec r JOIN ln USING (event_type)
         |WHERE r.i = ln.len - 1 AND ln.len > ${2 * m}
         |ORDER BY r.event_type""".stripMargin
    }),
    // Benford: integer leading digit, literal-baked expectations, decimal-
    // summed chi-square terms
    Gate("q_benford", qBenford, {
      val vals = BENFORD_P
        .map { case (dd, p) => s"($dd, $p::DOUBLE)" }.mkString(", ")
      s"""WITH q AS (
         |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS xq
         |  FROM events),
         |f AS (
         |  SELECT event_type, xq, length(CAST(xq AS VARCHAR)) AS nd
         |  FROM q WHERE xq >= 1),
         |dg AS (
         |  SELECT event_type,
         |    CAST(xq // CAST(power(10, nd - 1) AS BIGINT) AS INT) AS digit
         |  FROM f),
         |obs AS (SELECT event_type, digit, count(*) AS obs FROM dg GROUP BY 1, 2),
         |tot AS (SELECT event_type, count(*) AS n FROM dg GROUP BY 1),
         |bp(digit, p) AS (VALUES $vals),
         |term AS (
         |  SELECT t.event_type, t.n, b.digit, coalesce(o.obs, 0) AS obs,
         |    CAST(t.n AS DOUBLE) * b.p AS ex
         |  FROM tot t CROSS JOIN bp b
         |  LEFT JOIN obs o ON o.event_type = t.event_type AND o.digit = b.digit),
         |tv AS (
         |  SELECT event_type, n, digit, obs,
         |    (CAST(obs AS DOUBLE) - ex) * (CAST(obs AS DOUBLE) - ex) / ex AS t
         |  FROM term)
         |SELECT event_type, n,
         |  ${Fns.roundPSql("CAST(sum(CAST(t AS DECIMAL(28,12))) AS DOUBLE)", 4)} AS chi2,
         |  max(CASE WHEN digit = 1 THEN ${Fns.roundPSql(
             "CAST(obs AS DOUBLE) / CAST(n AS DOUBLE)", 6)} END) AS d1_share
         |FROM tv GROUP BY 1, 2 ORDER BY 1""".stripMargin
    }),
    // Wilson bound: the identical double expression tree, z as the same
    // 1.96 literal, ranking on the rounded bound
    Gate("q_wilson_ctr", qWilsonCtr, {
      val n = "CAST(views + clicks AS DOUBLE)"
      val p = s"(CAST(clicks AS DOUBLE) / $n)"
      val z = "1.96::DOUBLE"
      val z2 = s"($z * $z)"
      val lb = s"(($p + $z2 / (2.0::DOUBLE * $n) - " +
        s"$z * sqrt(($p * (1.0::DOUBLE - $p) + $z2 / (4.0::DOUBLE * $n)) / $n)) / " +
        s"(1.0::DOUBLE + $z2 / $n))"
      s"""WITH a AS (
         |  SELECT hour(CAST(ts AS TIMESTAMP)) AS hod,
         |    count(CASE WHEN event_type = 'view' THEN 1 END) AS views,
         |    count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks
         |  FROM events GROUP BY 1)
         |SELECT CAST(hod AS INT) AS hod, views, clicks,
         |  ${Fns.roundPSql(p, 6)} AS ctr,
         |  ${Fns.roundPSql(lb, 6)} AS wilson_lb
         |FROM a WHERE views + clicks > 0
         |ORDER BY wilson_lb DESC, hod""".stripMargin
    }),
    // median/MAD: quantile_cont over centi-integers — (a+b)/2 is exact
    // IEEE, deviations are exact doubles, one threshold multiply
    Gate("q_mad_outliers", qMadOutliers,
      s"""WITH q AS (
         |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS xq
         |  FROM events),
         |med AS (
         |  SELECT event_type, quantile_cont(xq, 0.5) AS med, count(*) AS n
         |  FROM q GROUP BY 1),
         |dev AS (
         |  SELECT q.event_type, abs(CAST(q.xq AS DOUBLE) - m.med) AS dev
         |  FROM q JOIN med m USING (event_type)),
         |mad AS (
         |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
         |  FROM dev GROUP BY 1)
         |SELECT m.event_type, m.n,
         |  ${Fns.roundPSql("m.med", 4)} AS med_centi,
         |  ${Fns.roundPSql("a.mad", 4)} AS mad_centi,
         |  (SELECT count(*) FROM dev d
         |   WHERE d.event_type = m.event_type AND d.dev > 3.0::DOUBLE * a.mad)
         |    AS n_outliers
         |FROM med m JOIN mad a USING (event_type)
         |ORDER BY m.event_type""".stripMargin),
    // CUSUM via the prefix closed form: S = cum − min(0, running-min cum),
    // exact centi-integers end to end
    Gate("q_cusum", qCusum,
      s"""WITH z AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) - $CUSUM_MU - $CUSUM_K AS z
         |  FROM events),
         |c AS (
         |  SELECT user_id, ts, event_id,
         |    sum(z) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM z),
         |p AS (
         |  SELECT user_id, cum,
         |    min(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
         |  FROM c),
         |sv AS (
         |  SELECT user_id, cum - least(0, runmin) AS s FROM p)
         |SELECT user_id, count(*) AS n_events,
         |  CAST(max(s) AS BIGINT) AS max_s,
         |  count(CASE WHEN s > $CUSUM_H THEN 1 END) AS n_alarms
         |FROM sv GROUP BY 1 ORDER BY 1""".stripMargin),
    // autocorrelation: exact HUGEINT moments, one fixed double tree for r
    Gate("q_autocorr", qAutocorr, {
      val D = (n: String) => s"CAST($n AS DOUBLE)"
      s"""WITH c AS (
         |  SELECT $sqlWs // 3600 AS hr, count(*) AS cnt
         |  FROM events GROUP BY 1),
         |l AS (SELECT CAST(range AS INT) AS lag FROM range(1, ${AC_LAGS + 1})),
         |p AS (
         |  SELECT l.lag, a.cnt AS x, b.cnt AS y
         |  FROM c a CROSS JOIN l JOIN c b ON b.hr = a.hr + l.lag),
         |m AS (
         |  SELECT lag, count(*) AS n_pairs, sum(x) AS sx, sum(y) AS sy,
         |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
         |  FROM p GROUP BY 1)
         |SELECT lag, CAST(n_pairs AS BIGINT) AS n_pairs,
         |  ${Fns.roundPSql(
             s"(${D("n_pairs")} * ${D("sxy")} - ${D("sx")} * ${D("sy")}) / " +
               s"nullif(sqrt((${D("n_pairs")} * ${D("sxx")} - ${D("sx")} * ${D("sx")}) * " +
               s"(${D("n_pairs")} * ${D("syy")} - ${D("sy")} * ${D("sy")})), 0.0)", 6)} AS acf
         |FROM m ORDER BY lag""".stripMargin
    }),
    // last-touch attribution, derived as the DEFINITIONAL ranked join
    // (candidate clicks ranked per purchase) rather than the window form
    Gate("q_attribution", qAttribution,
      s"""WITH ev AS (
         |  SELECT user_id, event_type, event_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         |    hour(CAST(ts AS TIMESTAMP)) AS hod
         |  FROM events),
         |pur AS (SELECT * FROM ev WHERE event_type = 'purchase'),
         |clk AS (SELECT * FROM ev WHERE event_type = 'click'),
         |cand AS (
         |  SELECT p.event_id AS pid, c.event_id AS cid, c.us AS cus, c.hod AS chod,
         |    row_number() OVER (
         |      PARTITION BY p.event_id ORDER BY c.us DESC, c.event_id DESC) AS rn
         |  FROM pur p JOIN clk c ON c.user_id = p.user_id
         |    AND (c.us < p.us OR (c.us = p.us AND c.event_id < p.event_id))),
         |att AS (
         |  SELECT p.us, b.cid, b.cus, b.chod
         |  FROM pur p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) b
         |    ON b.pid = p.event_id)
         |SELECT CAST(coalesce(chod, -1) AS INT) AS hod,
         |  count(*) AS purchases,
         |  CAST(sum(us - cus) AS BIGINT) AS sum_gap_us,
         |  ${Fns.roundPSql(
             "(CAST(sum(us - cus) AS DOUBLE) / CAST(count(cid) AS DOUBLE)) / 1000000.0",
             6)} AS avg_gap_s
         |FROM att GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_user_lag", qUserLag,
      s"""SELECT event_id, user_id, value,
         |  lag(value, 1) OVER w AS prev_value,
         |  lead(value, 1) OVER w AS next_value,
         |  CAST(row_number() OVER w AS INT) AS pos,
         |  ${Fns.roundPSql("cume_dist() OVER w", 6)} AS cume
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY event_id""".stripMargin),
    // EWMA: value / 2^k is exact IEEE scaling; decimal-cast terms sum
    // order-independently (ties on ts broken by event_id on both sides)
    Gate("q_ewma", qEwma,
      s"""WITH r AS (
         |  SELECT user_id, value,
         |    row_number() OVER (
         |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS k
         |  FROM events)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |  ${Fns.roundPSql(
            s"CAST(sum(CASE WHEN k <= $EWMA_W THEN " +
              s"CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) << ($EWMA_W - k) " +
              s"END) AS DOUBLE) / CAST(${100L * (1L << EWMA_W)} AS DOUBLE)", 6)} AS ewma
         |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin),
    Gate("q_distinct_users", qDistinctUsers,
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_info_gain", qInfoGain,
      s"""WITH j AS (
         |  SELECT event_type, CAST(value >= 50.0 AS INT) AS hi, count(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |tt AS (SELECT event_type, sum(cnt) AS ttot FROM j GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS total FROM j),
         |hl AS (
         |  SELECT CAST(sum(CAST(-(lcnt::DOUBLE / total) * log2(lcnt::DOUBLE / total)
         |    AS DECIMAL(28,18))) AS DOUBLE) AS h_label
         |  FROM (SELECT hi, sum(cnt) AS lcnt FROM j GROUP BY 1), tot),
         |ht AS (
         |  SELECT j.event_type, tt.ttot,
         |    CAST(sum(CAST(-(cnt::DOUBLE / ttot) * log2(cnt::DOUBLE / ttot)
         |      AS DECIMAL(28,18))) AS DOUBLE) AS h_type
         |  FROM j JOIN tt ON j.event_type = tt.event_type GROUP BY 1, 2),
         |hc AS (
         |  SELECT CAST(sum(CAST((ttot::DOUBLE / total) * h_type
         |    AS DECIMAL(28,18))) AS DOUBLE) AS h_cond
         |  FROM ht, tot)
         |SELECT ${Fns.roundPSql("h_label - h_cond", 6)} AS info_gain FROM hl, hc""".stripMargin),
    Gate("q_sliding_features", qSlidingFeatures,
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, value,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
         |  FROM events),
         |w AS (
         |  SELECT event_id, user_id, event_type,
         |    count(*) OVER win AS n_prev_1d,
         |    CAST(sum(CAST(value AS DECIMAL(28,12))) OVER win AS DOUBLE) AS sum_prev,
         |    max(value) OVER win AS max_prev_1d
         |  FROM e
         |  WINDOW win AS (PARTITION BY user_id ORDER BY tsu
         |    RANGE BETWEEN $FEAT_WINDOW_US PRECEDING AND 1 PRECEDING))
         |SELECT event_id, user_id, n_prev_1d,
         |  ${Fns.roundPSql("sum_prev", 6)} AS sum_prev_1d, max_prev_1d
         |FROM w WHERE event_type = '$FEAT_LABEL' ORDER BY event_id""".stripMargin),
    Gate("q_window_agg", qWindowAgg,
      s"""SELECT $sqlWs AS ws, event_type, count(*) AS cnt,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin),
    Gate("q_window_top", qWindowTop,
      s"""WITH c AS (
         |  SELECT $sqlWs AS ws, event_type, count(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT ws, event_type, cnt,
         |  row_number() OVER (PARTITION BY ws ORDER BY cnt DESC, event_type ASC) AS rn
         |  FROM c)
         |SELECT ws, event_type, cnt FROM r WHERE rn = 1 ORDER BY ws""".stripMargin),
    Gate("q_sessionize", qSessionize,
      s"""WITH l AS (
         |  SELECT user_id,
         |    CAST(ts AS TIMESTAMP) AS t,
         |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_t
         |  FROM events)
         |SELECT user_id,
         |  CAST(sum(CASE WHEN prev_t IS NULL
         |        OR epoch_us(t) - epoch_us(prev_t) > ${GAP_MIN * 60L * 1000000L} THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
         |  count(*) AS n_events
         |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin),
    Gate("q_entropy", qEntropy,
      s"""WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1),
         |t AS (SELECT count(*) AS total FROM events),
         |p AS (SELECT cnt::DOUBLE / total AS p FROM c, t)
         |SELECT ${Fns.roundPSql(
               "CAST(sum(CAST(-p * log2(p) AS DECIMAL(28,18))) AS DOUBLE)", 6)} AS entropy
         |FROM p""".stripMargin),
    Gate("q_anomaly", qAnomaly,
      s"""WITH st AS (
         |  SELECT event_type,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS syy
         |  FROM events GROUP BY 1),
         |s2 AS (SELECT event_type, sy / n AS mean,
         |       sqrt((syy - sy * sy / n) / (n - 1)) AS std FROM st)
         |SELECT e.event_type, count(*) AS n_events,
         |  ${Fns.roundPSql("min(s2.mean)", 4)} AS mean,
         |  ${Fns.roundPSql("min(s2.std)", 4)} AS std,
         |  CAST(sum(CASE WHEN abs(e.value - s2.mean) > $Z_T::DOUBLE * s2.std
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM events e JOIN s2 USING (event_type)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_regression", qRegression,
      s"""WITH b AS (
         |  SELECT event_type,
         |    CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS DOUBLE) AS x,
         |    value AS y
         |  FROM events),
         |m AS (
         |  SELECT event_type,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
         |    CAST(sum(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         |    CAST(sum(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) AS syy
         |  FROM b GROUP BY 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n_events,
         |  ${Fns.roundPSql("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)} AS slope,
         |  ${Fns.roundPSql(
             "(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n", 6)} AS intercept,
         |  ${Fns.roundPSql(
             "(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)} AS pearson_r
         |FROM m ORDER BY event_type""".stripMargin),
    Gate("q_funnel", qFunnel,
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
        |t1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND t > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND t > t2 GROUP BY 1)
        |SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM t1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3)
        |ORDER BY step""".stripMargin),
    Gate("q_retention", qRetention,
      s"""WITH ud AS (SELECT DISTINCT user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // $DAY_US AS day_idx FROM events),
         |act AS (SELECT day_idx, count(*) AS n_active FROM ud GROUP BY 1),
         |ret AS (SELECT a.day_idx, count(*) AS n_retained FROM ud a
         |        JOIN ud b ON a.user_id = b.user_id AND a.day_idx + 1 = b.day_idx
         |        GROUP BY 1)
         |SELECT act.day_idx, act.n_active, COALESCE(ret.n_retained, 0) AS n_retained,
         |  ${Fns.roundPSql("COALESCE(ret.n_retained, 0)::DOUBLE / act.n_active", 4)} AS retention_rate
         |FROM act LEFT JOIN ret USING (day_idx) ORDER BY day_idx""".stripMargin),
  )
}
