package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming rendering of the events pipeline (SURVEY.md §7.1
  * scale-out posture: the `events` table is the streaming surface the
  * reference lacks entirely).
  *
  * The same tumbling-window aggregation as
  * [[graft.operators.EventOps.qWindowAgg]], expressed over `readStream` with
  * an event-time watermark: at scale this runs continuously with bounded
  * state (the watermark lets Spark drop window state once event time passes
  * window end + delay). The test suite drives it with a memory sink via
  * `processAllAvailable()` and checks it agrees with the batch query.
  */
object EventStream {

  /** Streaming read of an events parquet directory with `ts` normalized to
    * the session TIMESTAMP regardless of the on-disk physical type by
    * [[graft.Tables.eventsTs]], the rule [[graft.Tables.events]] applies
    * (the testdata's `ts` type has shifted across generations). The file
    * streaming source requires an explicit schema, so the on-disk type is
    * probed with a batch footer read of the directory first. */
  def rawEvents(s: SparkSession, dir: String,
                options: Map[String, String] = Map.empty): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = s.read.parquet(dir).schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    graft.Tables.eventsTs(s.readStream.schema(schema).options(options).parquet(dir))
  }

  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Custom-state sessionization via flatMapGroupsWithState (SURVEY §2.5
    * streaming surface: `KeyValueGroupedDataset` stateful processing). Each
    * user's events are gap-split (30 min, microsecond-exact) inside the
    * group function; `GroupState` carries (sessions, events, lastTs) so a
    * session spanning two micro-batches is NOT double-counted — the first
    * event of a new batch only opens a session if it is beyond the gap
    * from the stored last timestamp. Exercised single- and multi-batch
    * against the batch oracle (EventOps.qSessionize). */
  def sessionCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gapUs = 30 * 60L * 1000000L
    rawEvents(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long)], state: GroupState[(Long, Long, Long)]) =>
          val tss = it.map(_._2).toArray.sorted
          val (prevS, prevE, lastTs) = state.getOption.getOrElse((0L, 0L, Long.MinValue))
          var sessions = 0L
          var prev = lastTs
          tss.foreach { t =>
            if (prev == Long.MinValue || t - prev > gapUs) sessions += 1
            prev = t
          }
          val total = (prevS + sessions, prevE + tss.length, prev)
          state.update(total)
          Iterator(UserSessions(uid, total._1, total._2))
      }
      .toDF()
  }

  /** Streaming exact dedup — drop re-delivered events by event_id with
    * BOUNDED state: `dropDuplicatesWithinWatermark` keeps a key in the
    * dedup state only until the event-time watermark passes it, so the
    * state never grows with the stream (a plain streaming dropDuplicates
    * would retain every key forever — the classic unbounded-state trap).
    * The batch twin is a `groupBy(event_id).agg(first)` exact dedup; a
    * duplicate arriving after its key aged out of state would also be
    * watermark-late, so output semantics stay "one row per event_id". */
  def dedupedEvents(s: SparkSession, dir: String): DataFrame =
    // deliver file-at-a-time (tests re-delivery across micro-batches)
    dedupedEventsOf(rawEvents(s, dir, Map("maxFilesPerTrigger" -> "1")))

  /** Source-agnostic core of [[dedupedEvents]] — takes any streaming frame
    * with (event_id, user_id, event_type, value, ts timestamp) so the soak
    * suite can drive it from a MemoryStream and watch the state plateau. */
  def dedupedEventsOf(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** Stream-stream interval self-join — the streaming rendering of the
    * batch range/as-of joins ([[graft.operators.TemporalOps]]): every
    * (click, purchase) pair by the same user where the purchase falls in
    * the 24 h BEFORE the click. Both sides carry an event-time watermark
    * and the join condition bounds `p_ts` relative to `c_ts`, which is
    * what lets Spark age out join state: a buffered purchase is dropped
    * once the click-side watermark passes p_ts + 24 h. Without the time
    * bound this would be the unbounded-state stream-join trap. */
  def clickPurchaseJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = rawEvents(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      expr("c_user = p_user AND p_ts >= c_ts - INTERVAL 24 HOURS AND p_ts <= c_ts"))
      .select(col("click_id"), col("purchase_id"))
  }

  /** Stream-stream LEFT OUTER interval join — [[clickPurchaseJoin]] with
    * the unmatched side emitted: a click with NO purchase in its 24 h
    * lookback surfaces as (click_id, null) once the purchase-side
    * watermark has passed the end of its join window, which is the only
    * moment a streaming engine can PROVE the absence (the outer-join
    * semantics Structured Streaming gates on the watermark + time bound;
    * without them the null rows could never be emitted). Same bounded
    * state as the inner form — a buffered row ages out when the opposite
    * watermark passes its window. The batch twin is a plain left join
    * with the identical time bound (spec-asserted equal once the stream
    * is drained past the watermark). */
  def clickPurchaseLeftJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = rawEvents(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      expr("c_user = p_user AND p_ts >= c_ts - INTERVAL 24 HOURS AND p_ts <= c_ts"),
      "leftOuter")
      .select(col("click_id"), col("purchase_id"))
  }

  /** Streaming tumbling-window counts/sums per event type, 10-minute
    * watermark. Identical output columns to EventOps.qWindowAgg. */
  def windowedCounts(s: SparkSession, dir: String): DataFrame =
    windowedCountsOf(rawEvents(s, dir))

  /** Source-agnostic core of [[windowedCounts]]: any streaming frame with
    * (ts timestamp, event_type, value). The 10-minute watermark is what
    * bounds state — a window's rows drop once the watermark passes window
    * end + 10 min, which the soak suite asserts as a numRowsTotal plateau
    * across watermark advances. */
  def windowedCountsOf(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("ws"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Shared CMS-counter build (no watermark — works on batch and stream):
    * hourly-windowed Count-Min counters over the event-type stream, the
    * streaming face of [[graft.operators.SketchOps.qCmsTopk]]. The sketch
    * is mergeable BY CONSTRUCTION (counters are counts), so the streaming
    * partial aggregation is the same D×W-bounded state per window that the
    * batch map-side combine produces — this is the property that makes CMS
    * the streaming heavy-hitter structure. */
  def cmsCountersCore(events: DataFrame): DataFrame = {
    import graft.operators.SketchOps
    events
      .select(col("ts"), graft.functions.Fns.hash32(col("event_type")).as("h"))
      .select(col("ts"), posexplode(
        array((0 until SketchOps.CMS_D).map(i => SketchOps.cmsBucket(col("h"), i)): _*)))
      .select(col("ts"), col("pos").as("row_i"), col("col").as("bucket"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("bsum"))
      .select(unix_timestamp(col("w.start")).as("ws"),
        col("row_i"), col("bucket"), col("bsum"))
  }

  case class AnomalyUpdate(event_type: String, n_prior: Long, n_batch: Long,
    n_outliers: Long)

  /** Streaming z-score anomaly detector — the deployed form of
    * [[graft.operators.EventOps.qAnomaly]]: per event type, `GroupState`
    * carries the running value moments from ALL PRIOR batches, and each
    * new micro-batch is scored against that history (the "stats from the
    * previous window" posture the batch op's doc names). State is three
    * longs per key — moments are integer-exact (values quantized to
    * centi-units), so the emitted outlier counts are deterministic
    * regardless of partition or iterator order. A batch seen before ≥2
    * prior observations emits n_outliers = -1 (no baseline yet) rather
    * than a fake 0. */
  def anomalyUpdatesOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("event_type"), col("value")).as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[(String, Double)],
         state: GroupState[(Long, Long, Long)]) =>
          val vs = it.map(_._2).toArray
          val (n0, s0, q0) = state.getOption.getOrElse((0L, 0L, 0L))
          val nOut = if (n0 >= 2) {
            val mean = s0.toDouble / 100.0 / n0
            val variance = (q0.toDouble / 10000.0 - n0 * mean * mean) / (n0 - 1)
            val std = math.sqrt(math.max(variance, 0.0))
            // score the QUANTIZED value against the quantized moments —
            // scoring raw doubles against centi-unit moments would let a
            // boundary event classify differently from its own state
            // contribution (internal consistency over raw fidelity; the
            // batch twin scores unquantized values against exact moments)
            vs.count(v => math.abs(math.round(v * 100) / 100.0 - mean) > 3.0 * std).toLong
          } else -1L
          // exact arithmetic that FAILS LOUDLY on Long overflow instead of
          // silently wrapping (wraparound would clamp std to 0 and flag
          // every event an outlier forever); the batch twin's decimal sums
          // have the same no-silent-corruption property
          val cents = vs.map(v => math.round(v * 100))
          val s1 = cents.foldLeft(s0)(Math.addExact)
          val q1 = cents.foldLeft(q0)((acc, x) =>
            Math.addExact(acc, Math.multiplyExact(x, x)))
          state.update((n0 + vs.length, s1, q1))
          Iterator(AnomalyUpdate(typ, n0, vs.length, nOut))
      }
      .toDF()
  }

  /** Streaming wrapper of [[cmsCountersCore]]: event-time watermark bounds
    * the per-window counter state exactly like the windowed aggregation. */
  def cmsCounters(s: SparkSession, dir: String): DataFrame =
    cmsCountersCore(rawEvents(s, dir).withWatermark("ts", "10 minutes"))

  case class EwmaUpdate(user_id: Long, n_events: Long, ewma: Double)

  /** Streaming per-user truncated EWMA — the deployed (feature-store
    * freshness) form of [[graft.operators.EventOps.qEwma]]. `GroupState`
    * carries the newest [[graft.operators.EventOps.EWMA_W]] (ts, event_id,
    * value) triples plus a running event count; each batch merges its
    * arrivals and re-emits the user's current smoothed value with the
    * batch gate's EXACT arithmetic (integer cents shifted by 2^(W−k) and
    * ONE final IEEE division — the all-integer rendering the sf1 sweep
    * forced on the batch gate, see ewmaCore — so stream and batch agree
    * to the last rounded digit at any scale).
    *
    * The keep-newest-W merge is order-correct across any batch split: the
    * state always holds the top-W of everything seen (a discarded event is
    * older than all kept, so no later arrival can make it top-W again),
    * which is why the final emission equals the batch query no matter how
    * the stream was micro-batched (spec-asserted). State is W triples +
    * one long per user — bounded by construction. Assumes exactly-once
    * input; compose with [[dedupedEventsOf]] upstream when the transport
    * can re-deliver (same contract as the batch table). */
  def ewmaUpdatesOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val W = graft.operators.EventOps.EWMA_W
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, Double)],
         state: GroupState[(Long, List[(Long, Long, Double)])]) =>
          val (n0, kept0) = state.getOption.getOrElse((0L, List.empty[(Long, Long, Double)]))
          val incoming = it.map(t => (t._2, t._3, t._4)).toList
          val merged = (incoming ++ kept0)
            .sortBy { case (ts, id, _) => (-ts, -id) }
            .take(W)
          val n = n0 + incoming.length
          state.update((n, merged))
          val sumInt = merged.zipWithIndex
            .map { case ((_, _, v), i) =>
              // cents via Double.toString + HALF_UP — the exact twin of
              // Spark's cast(value as decimal(18,2)) in the batch gate
              val cents = java.math.BigDecimal.valueOf(v)
                .setScale(2, java.math.RoundingMode.HALF_UP)
                .movePointRight(2).longValueExact()
              cents << (W - (i + 1))
            }.sum
          // the batch gate's division + roundP: floor(x·10^6 + 0.5)/10^6
          val x = sumInt.toDouble / (100L * (1L << W)).toDouble
          Iterator(EwmaUpdate(uid, n, math.floor(x * 1e6 + 0.5) / 1e6))
      }
      .toDF()
  }

  /** Declarative sessionization via Spark's NATIVE `session_window` — the
    * Catalyst-planned twin of [[sessionCounts]]'s hand-rolled
    * flatMapGroupsWithState: the gap-merge logic lives in the engine's
    * SessionWindow state store (mergeable per-key session state, aged by
    * the watermark) instead of user code, so it gets codegen, state
    * cleanup, and AQE for free. Works identically over a batch frame —
    * the spec pins batch session_window ≡ the window-function
    * formulation (EventOps.qSessionize) per user, and the streaming run
    * against the same data converges to the same sessions.
    *
    * Boundary note: session_window treats a gap of EXACTLY 30 min as a
    * new session ([start, end) intervals) where qSessionize's `diff >
    * gap` merges it — indistinguishable on microsecond event data (an
    * exact 1.8e9-µs gap), documented rather than papered over. */
  def sessionWindowsOf(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"), col("n_events"))

  def sessionWindows(s: SparkSession, dir: String): DataFrame =
    sessionWindowsOf(rawEvents(s, dir))

  /** Stream-static dimension enrichment — the feature/profile lookup every
    * ingest path runs (attach a user's segment/profile to each arriving
    * event). The static side is broadcast into every micro-batch, so the
    * streaming plan gains NO stateful operator and no shuffle: per-batch
    * cost is one broadcast hash join probe per row regardless of stream
    * volume, and the join is LEFT so an unknown user degrades to an
    * explicit 'unknown' segment instead of silently dropping the event
    * (the inner-join data-loss bug this pattern exists to avoid). At
    * cluster scale the dimension refreshes by swapping the static frame
    * between restarts — the standard slowly-changing-dimension posture
    * for stream enrichment. */
  def enrichedOf(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("segment"), lit("unknown")).as("segment"))

  def enrichedEvents(s: SparkSession, dir: String, dim: DataFrame): DataFrame =
    enrichedOf(rawEvents(s, dir), dim)

  case class FunnelUpdate(user_id: Long, stage: Int,
                          t1_us: Long, t2_us: Long, t3_us: Long)

  /** Streaming funnel conversion state machine — the deployed form of
    * [[graft.operators.EventOps.qFunnel]]'s chained min-ts definition:
    * per user, GroupState carries exactly three longs (first view ts,
    * first strictly-later click ts, first strictly-later purchase ts;
    * MaxValue = not reached), and each micro-batch folds its arrivals in
    * (ts, event_id) order on top of that state, re-emitting the user's
    * current stage. State is 3 longs/user — bounded by construction, the
    * canonical flatMapGroupsWithState sequence-detection shape.
    *
    * Ordering contract, stated honestly: intra-batch disorder is
    * IMMATERIAL (the handler sorts each batch's arrivals), and the spec
    * proves batch-split independence on per-user time-ordered streams —
    * the per-key-ordered delivery a keyed log (e.g. a partitioned
    * commit log keyed by user) actually provides. CROSS-batch late
    * events are a different regime: a view arriving after a
    * chronologically-later click was already folded can lower t1 but
    * cannot resurrect the discarded click — exact unordered funnel
    * semantics provably needs the full per-user click history (any
    * discarded click can become the answer when t1 later drops), which
    * is the batch query's job. The streaming form trades that
    * completeness for O(1) state, the same trade every production
    * funnel processor makes; compose with a watermark-delay sorter
    * upstream when the transport reorders across keys. */
  def funnelStagesOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val UNSET = Long.MaxValue
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, String)],
         state: GroupState[(Long, Long, Long)]) =>
          var (t1, t2, t3) = state.getOption.getOrElse((UNSET, UNSET, UNSET))
          it.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, ts, _, tpe) =>
            tpe match {
              case "view"     => if (ts < t1) t1 = ts
              case "click"    => if (t1 != UNSET && ts > t1 && ts < t2) t2 = ts
              case "purchase" => if (t2 != UNSET && ts > t2 && ts < t3) t3 = ts
              case _          =>
            }
          }
          state.update((t1, t2, t3))
          val stage = if (t3 != UNSET) 3 else if (t2 != UNSET) 2
                      else if (t1 != UNSET) 1 else 0
          def o(t: Long) = if (t == UNSET) -1L else t
          Iterator(FunnelUpdate(uid, stage, o(t1), o(t2), o(t3)))
      }
      .toDF()
  }

  /** Streaming CARDINALITY MONITOR — the production form of
    * [[graft.operators.SketchOps.qHllDistinct]]: cumulative distinct
    * (user, day) pairs per event type as every ingest batch arrives,
    * carried as HLL REGISTERS instead of raw keys. Each micro-batch
    * writes its own (group, bucket, max-rank) registers to a register
    * store keyed by batch id, then the cumulative estimate is read off
    * the element-wise max of all registers ≤ this batch — HLL union is
    * exactly that max, which is what makes the sketch the streaming
    * answer where exact distinct-state grows with the key space. Register
    * math and estimator are the gate's own [[SketchOps.hllRegisters]] /
    * [[SketchOps.hllEstimate]], so monitor and gate cannot diverge.
    * Registers and report follow [[Ledger]]'s exactly-once protocol
    * through [[foldRegisters]]. State is bounded by construction: ≤
    * m=1024 rows per (group, batch), never keys. */
  def startCardinalityMonitor(s: SparkSession, srcDir: String, regDir: String,
                              reportDir: String, checkpointDir: String): StreamingQuery = {
    import graft.operators.SketchOps
    Ledger.run(rawEvents(s, srcDir, Map("maxFilesPerTrigger" -> "1")), checkpointDir) {
      (batch, bid) =>
        val regs = SketchOps.hllRegisters(SketchOps.hllHashes(batch), "event_type")
        val merged = foldRegisters(regs, regDir, bid, Seq("event_type", "bucket"), "r", max)
        SketchOps.hllEstimate(merged, "event_type")
          .select(col("event_type"), col("v_zero"),
            graft.functions.Fns.roundP(col("hll_raw"), 4).as("hll_est"))
          .withColumn("batch_id", lit(bid))
          .write.mode("overwrite").parquet(s"$reportDir/batch=$bid")
    }
  }

  /** Streaming latency-quantile monitor — the p50/p90/p99 dashboard a
    * serving pipeline keeps over a latency-like measure (`value` here),
    * riding the SAME mergeable-register discipline as
    * [[startCardinalityMonitor]]: per batch, the events collapse to
    * DDSketch log-γ bucket COUNTS per event_type
    * ([[graft.operators.SketchOps.ddBuckets]]); the cumulative sketch
    * folds forward by plain SUM (counts are sum-mergeable exactly as HLL
    * registers are max-mergeable), and each trigger emits the quantile
    * report from the merged registers. State is O(types × log_γ range)
    * rows regardless of stream length (StreamingSpec proves stream ≡
    * batch and byte-identical crash replay). */
  def startLatencyMonitor(s: SparkSession, srcDir: String, bucketDir: String,
                          reportDir: String, checkpointDir: String): StreamingQuery = {
    import graft.operators.SketchOps
    Ledger.run(rawEvents(s, srcDir, Map("maxFilesPerTrigger" -> "1")), checkpointDir) {
      (batch, bid) =>
        val regs = SketchOps.ddBuckets(batch, "event_type", "value")
        val merged = foldRegisters(regs, bucketDir, bid, Seq("event_type", "i"), "bc", sum)
        SketchOps.ddReport(merged, "event_type")
          .withColumn("batch_id", lit(bid))
          .write.mode("overwrite").parquet(s"$reportDir/batch=$bid")
    }
  }

  /** One monitor batch's register fold: writes the batch's registers to
    * `dir/batch=<bid>`, merges them (`merge` over `reg`, per `keys`) into
    * the newest cumulative snapshot strictly before `bid`, writes that to
    * `dir/_cum/batch=<bid>` and returns it read back. The `_` prefix keeps
    * Spark's file listing from mixing snapshots into a wholesale read of
    * the per-batch store. Per-batch work is O(1) in delivered batches:
    * two bounded frames per trigger, never O(B) batch dirs. The merge is
    * associative, so fold-forward ≡ merging every batch ≤ bid, and a
    * replayed batch merges against the same finished snapshot (a
    * half-written own snapshot from a crashed attempt is skipped) and
    * overwrites identical bytes. */
  private def foldRegisters(regs: DataFrame, dir: String, bid: Long, keys: Seq[String],
                            reg: String, merge: Column => Column): DataFrame = {
    val spark = regs.sparkSession
    regs.withColumn("batch_id", lit(bid))
      .write.mode("overwrite").parquet(s"$dir/batch=$bid")
    val own = regs.select((keys :+ reg).map(col): _*)
    val cum = Ledger.batchIds(spark, s"$dir/_cum").filter(_ < bid).maxOption match {
      case Some(pb) =>
        spark.read.parquet(s"$dir/_cum/batch=$pb").unionByName(own)
          .groupBy(keys.map(col): _*).agg(merge(col(reg)).as(reg))
      case None => own
    }
    cum.write.mode("overwrite").parquet(s"$dir/_cum/batch=$bid")
    spark.read.parquet(s"$dir/_cum/batch=$bid")
  }
}
