package graft.operators

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators over the events table — the brief's "as-of
  * join, range join" examples of operators Spark lacks as built-ins
  * (SURVEY.md §2.5 north-star surface; the reference has no temporal
  * joins at all). Both are composed from existing relational operators
  * (preference order (a) in the brief) rather than custom plans:
  *
  *  - AS-OF via the union+window technique: tag both sides, sort each
  *    user's timeline once, carry the last reference row forward with
  *    `last(..., ignoreNulls)`. ONE shuffle keyed by user, no join node
  *    at all — at 100 TB this beats any join-shaped rendering because
  *    the probe side is never replicated and there is no range predicate
  *    for the optimizer to mis-plan as a cartesian.
  *  - RANGE via time-bucketing: quantize both sides to window-width
  *    buckets, equi-join on (user, bucket±1), exact residual filter.
  *    The executed plan is a plain shuffled equi-join — candidate pairs
  *    are bounded by per-bucket density, never |A|×|B|.
  */
object TemporalOps {
  /** Range-join half-window in microseconds (±24 h — sized to the
    * testdata's ~1 click/user/2 days density; at 100 TB the bucket count
    * scales with the time span, not the row count). */
  val RANGE_US = 86400000000L

  /** As-of join: for every click, the most recent purchase by the same
    * user at-or-before the click (purchase at the identical micro wins —
    * kind 0 sorts before kind 1). Clicks with no preceding purchase keep
    * a null purchase_id, as a user of an as-of join expects. */
  val qAsofJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val ref = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        lit(0).as("kind"), col("event_id").as("ref_id"),
        lit(null).cast("long").as("probe_id"))
    val probe = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        lit(1).as("kind"), lit(null).cast("long").as("ref_id"),
        col("event_id").as("probe_id"))
    // identical-ts purchases tiebreak on ref_id so both engines carry the
    // same row forward; NULLS LAST matches DuckDB's ASC default
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us").asc, col("kind").asc, col("ref_id").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref.unionByName(probe)
      .withColumn("purchase_id", last(col("ref_id"), ignoreNulls = true).over(w))
      .withColumn("ref_us",
        last(when(col("kind") === 0, col("t_us")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("probe_id").as("event_id"), col("user_id"),
        col("purchase_id"), (col("t_us") - col("ref_us")).as("gap_us"))
      .orderBy("event_id")
  }

  /** Range join: per error event, how many clicks by the same user fall
    * within ±RANGE_US. Errors explode to buckets {b-1, b, b+1}; a click
    * lives in exactly one bucket, so each (error, click) candidate pair
    * joins exactly once and the residual |dt| filter is exact. */
  val qRangeJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id"),
        unix_micros(col("ts")).as("e_us"))
      .withColumn("b", floor(col("e_us") / lit(RANGE_US)))
      .withColumn("bucket", explode(array(col("b") - 1, col("b"), col("b") + 1)))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        unix_micros(col("ts")).as("c_us"))
      .withColumn("bucket", floor(col("c_us") / lit(RANGE_US)))
    err.join(clicks, Seq("user_id", "bucket"), "left_outer")
      .groupBy(col("e_id"))
      .agg(count(when(abs(col("c_us") - col("e_us")) <= RANGE_US, col("c_id")))
        .as("n_near_clicks"))
      .select(col("e_id").as("event_id"), col("n_near_clicks"))
      .orderBy("event_id")
  }

  /** Forward-tolerance bound for [[qAsofForward]]: 1 hour in micros. */
  val ASOF_TOL_US = 3600000000L

  /** Forward as-of join with tolerance — each click matched to the SAME
    * user's NEXT purchase at-or-after it, kept only within
    * [[ASOF_TOL_US]] (the SLA/conversion-window matching shape;
    * [[qAsofJoin]] is its backward mirror). Same union + single-window
    * rendering — a carry-BACKWARD `first(ignoreNulls)` over
    * (current..following) — so the per-user stream is sorted once and no
    * join materializes click×purchase pairs; out-of-tolerance clicks
    * stay visible with NULL match (the left semantics a conversion
    * report needs). Refs sort AFTER probes at equal ts (kind 1 > 0), so
    * a same-instant purchase matches with gap 0 on both engines. */
  val qAsofForward: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val probe = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        lit(0).as("kind"), lit(null).cast("long").as("ref_id"),
        col("event_id").as("probe_id"))
    val ref = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        lit(1).as("kind"), col("event_id").as("ref_id"),
        lit(null).cast("long").as("probe_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us").asc, col("kind").asc, col("ref_id").asc_nulls_last)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    probe.unionByName(ref)
      .withColumn("nref", first(col("ref_id"), ignoreNulls = true).over(w))
      .withColumn("nref_us",
        first(when(col("kind") === 1, col("t_us")), ignoreNulls = true).over(w))
      .filter(col("kind") === 0)
      .select(col("probe_id").as("event_id"), col("user_id"),
        when(col("nref_us") - col("t_us") <= ASOF_TOL_US, col("nref"))
          .as("purchase_id"),
        when(col("nref_us") - col("t_us") <= ASOF_TOL_US,
          col("nref_us") - col("t_us")).as("gap_us"))
      .orderBy("event_id")
  }

  /** Microseconds per day (the timezone-free integer-day convention the
    * event family uses — EventOps.DAY_US twin, duplicated as a literal so
    * the two files stay independently readable). */
  val GAP_DAY_US = 86400000000L

  /** User-id stride selecting the gap-fill cohort — purchases are 1/5 of
    * events, so a stride-37 user cohort leaves real day gaps to fill at
    * every SF while the output stays (cohort × days)-bounded. */
  val GAP_STRIDE = 37

  /** Time-series regularization — resample each cohort user's purchase
    * stream onto the common daily grid and fill the gaps BOTH ways a
    * feature pipeline needs: forward-fill (last observation carried
    * forward) and linear interpolation between the surrounding
    * observations (null at the edges, where no anchor exists). This is
    * the gap-fill pass that turns irregular event streams into the
    * fixed-step series the temporal family (EWMA/Holt/autocorr) assumes.
    *
    * Exactness: day keys are integer epoch-day buckets (timezone-free on
    * both engines); daily values are decimal(18,2) sums cast to double;
    * the interpolation is a fixed double expression over those exact
    * anchors with integer day distances. Scale shape: one filtered scan
    * into a (user, day)-keyed agg, a bounds agg broadcast into the
    * calendar explode, and two passes of a user-partitioned window — the
    * grid is (cohort × days)-bounded, never event-bounded, and the
    * cohort stride keeps per-reducer volume flat as the corpus grows. */
  val qGapfill: Q = (s, d) => gapfillOf(Tables.events(s, d))

  /** The regularization chain over an arbitrary (user_id, event_type, ts,
    * value) frame — factored so GapfillSpec can drive constructed series
    * with known gap geometry. */
  private[graft] def gapfillOf(events: DataFrame): DataFrame = {
    val obs = events
      .filter(col("event_type") === "purchase" &&
        col("user_id") % GAP_STRIDE === 0)
      .groupBy(col("user_id"),
        expr(s"unix_micros(ts) div $GAP_DAY_US").as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = obs.agg(min("day").as("d0"), max("day").as("d1"))
    val grid = obs.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val wb = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(obs, Seq("user_id", "day"), "left")
      .withColumn("fv", last(col("v"), ignoreNulls = true).over(wb))
      .withColumn("pd",
        last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wb))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wf))
      .withColumn("nd",
        first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wf))
      .select(col("user_id"), col("day"),
        Fns.roundP(col("v"), 6).as("v"),
        Fns.roundP(col("fv"), 6).as("ffill_v"),
        Fns.roundP(
          when(col("v").isNotNull, col("v"))
            .otherwise(when(col("pd").isNotNull && col("nd").isNotNull,
              col("fv") + (col("nv") - col("fv")) *
                ((col("day") - col("pd")).cast("double") /
                  (col("nd") - col("pd")).cast("double")))),
          6).as("interp_v"))
      .orderBy("user_id", "day")
  }

  val gates: Seq[Gate] = Seq(
    // the identical union+window rendering (DuckDB's native ASOF JOIN has
    // its own tie semantics; spelling the window out keeps both engines on
    // one definition)
    Gate("q_asof_join", qAsofJoin,
      """WITH u AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, 0 AS kind,
        |         event_id AS ref_id, NULL::BIGINT AS probe_id
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)), 1, NULL::BIGINT, event_id
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT probe_id, user_id, t_us, kind,
        |    last_value(ref_id IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t_us, kind, ref_id ASC NULLS LAST
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_id,
        |    last_value(CASE WHEN kind = 0 THEN t_us END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t_us, kind, ref_id ASC NULLS LAST
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ref_us
        |  FROM u)
        |SELECT probe_id AS event_id, user_id, purchase_id, t_us - ref_us AS gap_us
        |FROM w WHERE kind = 1 ORDER BY event_id""".stripMargin),
    Gate("q_asof_forward", qAsofForward,
      s"""WITH u AS (
         |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, 0 AS kind,
         |         NULL::BIGINT AS ref_id, event_id AS probe_id
         |  FROM events WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)), 1, event_id, NULL::BIGINT
         |  FROM events WHERE event_type = 'purchase'),
         |w AS (
         |  SELECT probe_id, user_id, t_us, kind,
         |    first_value(ref_id IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY t_us, kind, ref_id ASC NULLS LAST
         |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nref,
         |    first_value(CASE WHEN kind = 1 THEN t_us END IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY t_us, kind, ref_id ASC NULLS LAST
         |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nref_us
         |  FROM u)
         |SELECT probe_id AS event_id, user_id,
         |  CASE WHEN nref_us - t_us <= $ASOF_TOL_US THEN nref END AS purchase_id,
         |  CASE WHEN nref_us - t_us <= $ASOF_TOL_US THEN nref_us - t_us END AS gap_us
         |FROM w WHERE kind = 0 ORDER BY event_id""".stripMargin),
    Gate("q_range_join", qRangeJoin,
      s"""SELECT e.event_id, count(c.event_id) AS n_near_clicks
         |FROM events e LEFT JOIN events c
         |  ON c.user_id = e.user_id AND c.event_type = 'click'
         |  AND abs(epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(e.ts AS TIMESTAMP))) <= $RANGE_US
         |WHERE e.event_type = 'error'
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_gapfill", qGapfill,
      s"""WITH obs AS (
         |  SELECT user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // $GAP_DAY_US AS day,
         |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
         |  FROM events
         |  WHERE event_type = 'purchase' AND user_id % $GAP_STRIDE = 0
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM obs),
         |grid AS (
         |  SELECT u.user_id, g.day
         |  FROM (SELECT DISTINCT user_id FROM obs) u
         |  CROSS JOIN (SELECT unnest(range(d0, d1 + 1)) AS day FROM b) g),
         |j AS (SELECT grid.user_id, grid.day, obs.v
         |      FROM grid LEFT JOIN obs USING (user_id, day)),
         |w AS (
         |  SELECT user_id, day, v,
         |    last_value(v IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY day
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv,
         |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY day
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         |    first_value(v IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY day
         |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY day
         |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
         |  FROM j)
         |SELECT user_id, day,
         |  ${Fns.roundPSql("v", 6)} AS v,
         |  ${Fns.roundPSql("fv", 6)} AS ffill_v,
         |  ${Fns.roundPSql(
            """CASE WHEN v IS NOT NULL THEN v
              |       WHEN pd IS NOT NULL AND nd IS NOT NULL
              |       THEN fv + (nv - fv) * (CAST(day - pd AS DOUBLE)
              |                              / CAST(nd - pd AS DOUBLE))
              |       END""".stripMargin, 6)} AS interp_v
         |FROM w ORDER BY user_id, day""".stripMargin),
  )
}
