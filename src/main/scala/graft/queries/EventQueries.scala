package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Time-series / event-stream operators. The reference has no
  * streaming (SURVEY §2.6) — these are the beyond-reference
  * operators a training-data pipeline needs, written batch-first so
  * the identical column expressions lift into Structured Streaming
  * (`readStream` + watermark) unchanged; see graft.streaming.
  */
object EventQueries {

  /** Tumbling-window aggregate: 1-hour buckets per event type.
    * `window()` is a plain projection before the hash agg — one
    * shuffle, partial aggregation on the map side. The window start
    * is emitted as a formatted string so the DuckDB oracle
    * (`time_bucket`) hashes identically. */
  def e1TumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sessionization: a 30-minute inactivity gap starts a new
    * session. Classic gaps-and-islands — lag + running conditional
    * sum, all window functions over one (user_id, ts) sort; scales
    * as one shuffle by user_id (the per-user partition is the only
    * ordering scope, never a global sort). */
  def e2Sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionizeOf(Tables.events(spark, dir))

  /** The one-pass sessionize core over any (user_id, ts, event_id,
    * value) frame — ground truth for the two-phase e13 specs. */
  private[graft] def sessionizeOf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapped = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800d, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    sessionRollup(gapped)
  }

  /** The shared session→user aggregation tail: grouping by the
    * computed session_id, then the per-user summary. One definition
    * so the one-pass and two-phase forms cannot diverge on the
    * rollup. */
  private def sessionRollup(withSid: DataFrame): DataFrame =
    withSid.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        round(max(col("session_value")), 2).as("max_session_value"))

  /** E13: sessionize as the SKEW-SAFE two-phase decomposition — the
    * fourth member of the w4/e11/e12 family, and a CORRECTION to the
    * first version of e11's infeasibility note: gaps-and-islands DOES
    * decompose, via GLOBAL SESSION RENUMBERING rather than session
    * merging. The insight: an event's one-pass `new_session` flag is
    * purely local — for a bucket-interior event it compares against
    * the previous event in the same bucket; for a bucket-FIRST event
    * it compares against the previous bucket's last event. So phase 1
    * computes within-bucket flags and running counts inside
    * (user, day) partitions (the hot user spreads across days) plus a
    * 3-value bucket summary (first_ts, last_ts, internal flag count);
    * phase 2 derives each bucket's boundary flag from its
    * predecessor's last_ts (one lag) and prefix-sums flag counts into
    * a per-bucket session-id BASE — O(1) state per bucket, the thing
    * the session-MERGING formulation (re-aggregating straddling
    * half-sessions) obscured; phase 3 stitches the base back
    * (w4's join shape): global session_id = base + local running
    * count, IDENTICAL to the one-pass numbering, and the shared
    * rollup finishes. Oracle is deliberately e2's ONE-PASS SQL —
    * agreement proves the renumbering. Ties bucket-safe as in
    * e11/e12 (equal ts ⟹ same bucket). */
  def e13SessionizeTwoPhase(spark: SparkSession, dir: String): DataFrame =
    sessionizeTwoPhaseOf(Tables.events(spark, dir))

  private[graft] def sessionizeTwoPhaseOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("d", to_date(col("ts")))
    val wb = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("ts"), col("event_id"))
    val local = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(wb))
      // has_prev distinguishes "no within-bucket predecessor" (the
      // bucket-first event, whose flag is the BUCKET's boundary flag,
      // decided in phase 2) from "predecessor with NULL ts" — in the
      // null day-bucket prev_ts is null for interior rows too, and
      // the one-pass form opens a session per null-ts row (its lag is
      // null), so those interior rows must flag 1 here
      .withColumn("has_prev", lag(lit(1), 1).over(wb).isNotNull)
      .withColumn("local_new",
        when(col("has_prev") && (col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800d), 1L)
          .otherwise(0L))
      .withColumn("local_cum",
        sum(col("local_new")).over(wb.rowsBetween(Window.unboundedPreceding, 0)))
    val buckets = local.groupBy(col("user_id"), col("d"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
        sum(col("local_new")).as("internal_new"))
    val wu = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val based = buckets
      .withColumn("prev_last", lag(col("last_ts"), 1).over(wu))
      .withColumn("boundary_new",
        when(col("prev_last").isNull ||
          col("first_ts").cast("double") - col("prev_last").cast("double") > 1800d, 1L)
          .otherwise(0L))
      // base(b) = sessions started strictly before bucket b, plus
      // b's own boundary flag — so base + local_cum reproduces the
      // one-pass running count exactly
      .withColumn("base",
        sum(col("boundary_new") + col("internal_new"))
          .over(wu.rowsBetween(Window.unboundedPreceding, 0)) - col("internal_new"))
      .select(col("user_id").as("b_uid"), col("d").as("b_d"), col("base"))
    val withSid = local
      .join(based, col("user_id") <=> col("b_uid") && col("d") <=> col("b_d"))
      .withColumn("session_id", col("base") + col("local_cum"))
    sessionRollup(withSid)
  }

  /** As-of join (backward): for every click, the most recent error
    * at-or-before it for the same user. Spark lacks a native as-of
    * join; rather than a custom SparkPlan, this composes built-ins:
    * union both sides tagged, one window sort per user carries the
    * last error id/ts forward via last(ignoreNulls) — a single
    * shuffle on user_id, no range explosion, no cartesian. At 100 TB
    * this beats the naive t1⋈t2-then-max plan (which shuffles the
    * full pair product); cost is one sort of |clicks|+|errors| per
    * user partition. */
  def e3AsofJoin(spark: SparkSession, dir: String): DataFrame =
    e3AsofJoinOf(Tables.events(spark, dir))

  /** The side-tagged click∪error frame both as-of forms order over —
    * ONE definition, so the one-pass oracle form and the two-phase
    * engine can never diverge on the tagging or tie-order
    * convention. Errors (side 0) sort before clicks (side 1) at an
    * identical timestamp → "<= ts" inclusive as-of, matching ASOF
    * JOIN. */
  private def asofTagged(ev: DataFrame): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("ts"))
    clicks
      .withColumn("side", lit(1)).withColumn("err_id", lit(null).cast("long"))
      .unionByName(errors
        .withColumn("side", lit(0)).withColumn("event_id", lit(null).cast("long")))
  }

  /** The one-pass as-of core over any (user_id, ts, event_id,
    * event_type) frame — the ground truth the two-phase e12 specs
    * compare against. */
  private[graft] def e3AsofJoinOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), coalesce(col("event_id"), col("err_id")))
      .rowsBetween(Window.unboundedPreceding, 0)
    asofTagged(ev)
      .withColumn("asof_err_id", last(col("err_id"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("asof_err_id"))
  }

  /** E12: the as-of join again, as the SKEW-SAFE two-phase
    * decomposition — the third member of the w4/e11 family, and the
    * one that completes the pattern's taxonomy: w4's combine is an
    * associative SUM, e11's a fixed set of MINs, and the as-of
    * combine is LAST-NON-NULL — associative with O(1) state (the
    * latest error's (ts, err_id)), which is exactly what sessionize
    * lacks (see e11's Scaladoc). Phase 1 runs the one-pass
    * carry-forward INSIDE (user, day) partitions — a pathological
    * user's history spreads across its days — and reduces each
    * bucket to its last error (one max(struct) on the same shuffle
    * key). Phase 2 prefix-carries that last error over the tiny
    * (user, day) frame. Phase 3 joins the carry back: each click
    * takes its within-bucket as-of error if one exists (it is later
    * than anything in earlier buckets) else the bucket's carry —
    * w4's stitch shape, one join against a frame of |users|×|days|
    * rows. Ties are bucket-safe (same ts ⟹ same bucket; within a
    * bucket the order is the one-pass (ts, side, id) order; across
    * buckets every earlier-bucket position precedes every later
    * one). Oracle is deliberately e3's ONE-PASS ASOF SQL —
    * agreement proves the decomposition. */
  def e12AsofTwoPhase(spark: SparkSession, dir: String): DataFrame =
    asofTwoPhaseOf(Tables.events(spark, dir))

  /** The two-phase as-of core over any (user_id, ts, event_id,
    * event_type) frame — exposed for fixture specs against
    * the one-pass form. */
  private[graft] def asofTwoPhaseOf(events: DataFrame): DataFrame = {
    val unioned = asofTagged(events).withColumn("d", to_date(col("ts")))
    // phase 1: the one-pass order, restricted to the bucket
    val wb = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("ts"), col("side"), coalesce(col("event_id"), col("err_id")))
      .rowsBetween(Window.unboundedPreceding, 0)
    val staged = unioned
      .withColumn("local_err", last(col("err_id"), ignoreNulls = true).over(wb))
    // per-bucket last error — max (ts, err_id) over error rows, a
    // groupBy on the SAME (user_id, d) key the window shuffled on
    val bucketLast = staged.groupBy(col("user_id"), col("d"))
      .agg(max(when(col("side") === 0, struct(col("ts"), col("err_id")))).as("le"))
    // phase 2: carry = the latest error in any STRICTLY EARLIER bucket
    val wpre = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = bucketLast
      .withColumn("carry", last(col("le"), ignoreNulls = true).over(wpre))
      .select(col("user_id").as("c_uid"), col("d").as("c_d"),
        col("carry.err_id").as("carry_err"))
    // phase 3: within-bucket as-of wins (it is later than any earlier
    // bucket's error); else the carry. Null-safe keys like w4.
    staged.filter(col("side") === 1)
      .join(carries, col("user_id") <=> col("c_uid") && col("d") <=> col("c_d"))
      .select(col("event_id"), col("user_id"),
        coalesce(col("local_err"), col("carry_err")).as("asof_err_id"))
  }

  /** Skew-aware heavy-hitter rollup: per (user, event_type) counts
    * with a two-phase salted aggregation. At local scale AQE handles
    * skew; the explicit salt documents the 100 TB pattern (hot keys
    * pre-aggregated across `salt` buckets before the final combine)
    * and costs one extra narrow agg. */
  def e4SaltedRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(8)))
      .groupBy(col("user_id"), col("event_type"), col("salt"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("n")).as("n_events"), round(sum(col("v")), 2).as("sum_value"))

  /** E5: range join with NO equi key — every error event opens a
    * global 10-minute incident window; count the clicks (any user)
    * landing inside it. Spark plans a bare interval predicate as a
    * broadcast-nested-loop join — the pair product, quadratic at
    * scale. The scale path used here quantizes time into
    * interval-width buckets: a window [s, s+W) covers exactly two
    * bucket keys, so intervals explode ×2, probes key by their own
    * single bucket, and the theta join becomes an EQUI join on the
    * bucket followed by the exact range filter. A probe's one bucket
    * matches at most one of an interval's two rows — no dedup
    * needed. Shuffle volume is 2·|intervals| + |probes| rows, never
    * the product (the bucketed rewrite behind industrial range-join
    * optimizations, made explicit and planner-independent; PlanSpec
    * pins the no-BNLJ/no-cartesian plan shape). */
  def e5RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val windowSec = 600L
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("s"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"), col("value"))
    val bErr = errors.withColumn("bkt",
      explode(array(
        floor(col("s").cast("double") / windowSec).cast("long"),
        floor(col("s").cast("double") / windowSec).cast("long") + 1)))
    val bClk = clicks.withColumn("bkt",
      floor(col("ts").cast("double") / windowSec).cast("long"))
    val matched = bErr.join(bClk, Seq("bkt"))
      .filter(col("ts") >= col("s") &&
        col("ts") < col("s") + expr("INTERVAL 10 MINUTES"))
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    errors.select(col("err_id"))
      .join(matched, Seq("err_id"), "left")
      .select(col("err_id"),
        coalesce(col("n"), lit(0L)).as("n_clicks"),
        round(coalesce(col("v"), lit(0.0)), 2).as("click_value"))
  }

  /** E6: ordered conversion funnel view → click → purchase, per
    * user. A step counts only if it happens at-or-after the
    * previous step's first qualifying event. One shuffle + one sort
    * per user carries all three stages as running conditional mins
    * over the same window frame — never a per-step self-join (k-step
    * funnels as k self-joins shuffle the event table k times and
    * explode on hot users; this is one pass at any k). Timestamps
    * emitted as epoch micros so the DuckDB oracle (`epoch_us`)
    * hashes identically. */
  def e6Funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(Tables.events(spark, dir))

  /** The funnel core over any (user_id, ts, event_id, event_type)
    * frame — split out so specs can feed hand-built fixtures. */
  def funnelOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val staged = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("view_ts",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("click_ts",
        min(when(col("event_type") === "click" && col("view_ts").isNotNull,
          col("ts"))).over(w))
      .withColumn("purchase_ts",
        min(when(col("event_type") === "purchase" && col("click_ts").isNotNull,
          col("ts"))).over(w))
    staged.groupBy(col("user_id"))
      .agg(
        unix_micros(min(col("view_ts"))).as("view_us"),
        unix_micros(min(col("click_ts"))).as("click_us"),
        unix_micros(min(col("purchase_ts"))).as("purchase_us"))
      .withColumn("depth",
        when(col("purchase_us").isNotNull, 3L)
          .when(col("click_us").isNotNull, 2L)
          .when(col("view_us").isNotNull, 1L)
          .otherwise(0L))
  }

  /** E11: the funnel again, as the SKEW-SAFE two-phase decomposition —
    * the w4 pattern extended to the next ordered-window family
    * (PROFILE_SKEW's structural limit: Spark cannot split a window
    * partition, so e6's per-user frame puts a pathological user's
    * whole history in ONE task). The funnel's algebra admits a
    * (user, day-bucket) split because stage qualification needs only
    * that SOME prior-stage event exists at-or-before, not WHICH one:
    * any view in an EARLIER bucket precedes every position in this
    * bucket, so once one exists, ALL of this bucket's clicks qualify —
    * and likewise for purchases once an earlier qualifying click
    * exists. A bucket's contribution to each stage therefore
    * collapses to six fixed partials:
    *   pv  — min view ts
    *   ca  — min click ts            (used when an earlier bucket has a view)
    *   cv  — min click after a within-bucket view        (nothing earlier)
    *   pa  — min purchase ts         (earlier qualifying click exists)
    *   puv — min purchase after any within-bucket click  (earlier view only)
    *   pu0 — min purchase after a within-bucket qualified click (nothing earlier)
    * Phase 1 computes them with the one-pass window logic inside
    * (user, day) partitions — the hot user's work spreads across its
    * days, bounded by its busiest day. Phase 2 selects per bucket by
    * prefix-min state and aggregates the tiny (user, day) frame.
    * Unlike w4 there is no phase-3 join back to events: the output is
    * per-user, so a groupBy finishes it. Exact by min's associativity
    * (no arithmetic at all); the DuckDB oracle is deliberately e6's
    * ONE-PASS form — agreement proves the decomposition. Ties are
    * safe at bucket boundaries by construction: equal timestamps land
    * in the same bucket, and within a bucket the window order is the
    * same (ts, event_id) as the one-pass form.
    *
    * HOW FAR THE PATTERN REACHES — each family member has a
    * different O(1)-per-bucket combine: w4 an associative decimal
    * SUM, e11 a fixed set of MINs, e12 a LAST-NON-NULL carry, and
    * e13 (sessionize) a session-count BASE — gaps-and-islands
    * decomposes too, but only once reformulated as global session
    * RENUMBERING (prefix-summed per-bucket flag counts + a boundary
    * flag from the predecessor bucket's last_ts) rather than session
    * MERGING, whose straddling half-session re-aggregation is not
    * O(1). See e13SessionizeTwoPhase for the derivation. */
  def e11FunnelTwoPhase(spark: SparkSession, dir: String): DataFrame =
    funnelTwoPhaseOf(Tables.events(spark, dir))

  /** The two-phase funnel core over any (user_id, ts, event_id,
    * event_type) frame — exposed so specs can drive it with hot-user
    * fixtures against funnelOf. */
  private[graft] def funnelTwoPhaseOf(events: DataFrame): DataFrame = {
    val wb = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val staged = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("d", to_date(col("ts")))
      // running within-bucket state at each row: a view / any click /
      // a within-bucket-qualified click at-or-before this position
      .withColumn("rv", min(when(col("event_type") === "view", col("ts"))).over(wb))
      .withColumn("rc", min(when(col("event_type") === "click", col("ts"))).over(wb))
      .withColumn("rq", min(when(col("event_type") === "click" &&
        col("rv").isNotNull, col("ts"))).over(wb))
    val partials = staged.groupBy(col("user_id"), col("d")).agg(
      min(when(col("event_type") === "view", col("ts"))).as("pv"),
      min(when(col("event_type") === "click", col("ts"))).as("ca"),
      min(when(col("event_type") === "click" &&
        col("rv").isNotNull, col("ts"))).as("cv"),
      min(when(col("event_type") === "purchase", col("ts"))).as("pa"),
      min(when(col("event_type") === "purchase" &&
        col("rc").isNotNull, col("ts"))).as("puv"),
      min(when(col("event_type") === "purchase" &&
        col("rq").isNotNull, col("ts"))).as("pu0"))
    val wpre = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val selected = partials
      .withColumn("v_prev", min(col("pv")).over(wpre))
      .withColumn("qc", when(col("v_prev").isNotNull, col("ca")).otherwise(col("cv")))
      .withColumn("c_prev", min(col("qc")).over(wpre))
      .withColumn("qp",
        when(col("c_prev").isNotNull, col("pa"))
          .when(col("v_prev").isNotNull, col("puv"))
          .otherwise(col("pu0")))
    selected.groupBy(col("user_id")).agg(
        unix_micros(min(col("pv"))).as("view_us"),
        unix_micros(min(col("qc"))).as("click_us"),
        unix_micros(min(col("qp"))).as("purchase_us"))
      .withColumn("depth",
        when(col("purchase_us").isNotNull, 3L)
          .when(col("click_us").isNotNull, 2L)
          .when(col("view_us").isNotNull, 1L)
          .otherwise(0L))
  }

  /** E14/E15/E16: the three event-family two-phase decompositions
    * with AUTOMATIC route selection — w6/w7's stats-driven dispatch
    * (the skew gate, CoreQueries.twoPhase: keySkewRatio ≥
    * AutoSkewThreshold → the bucketed two-phase form; uniform keys →
    * the one-pass window, whose single ordered scan per key is
    * optimal). The probe is the same exact
    * per-key count (one narrow map-side-combinable agg — a rounding
    * error next to the window it sizes). All three decompositions are
    * proven result-identical to their one-pass forms (the e11/e12/e13
    * oracle trick: the oracle IS the one-pass text), so routing can
    * never leak into the result. */
  def e14FunnelAuto(spark: SparkSession, dir: String): DataFrame =
    funnelAutoOf(Tables.events(spark, dir))

  private[graft] def funnelAutoOf(events: DataFrame): DataFrame = {
    if (CoreQueries.twoPhase("funnel", events, col("user_id"))) funnelTwoPhaseOf(events)
    else funnelOf(events)
  }

  /** See [[e14FunnelAuto]]. */
  def e15AsofAuto(spark: SparkSession, dir: String): DataFrame =
    asofAutoOf(Tables.events(spark, dir))

  private[graft] def asofAutoOf(events: DataFrame): DataFrame = {
    if (CoreQueries.twoPhase("asof", events, col("user_id"))) asofTwoPhaseOf(events)
    else e3AsofJoinOf(events)
  }

  /** See [[e14FunnelAuto]]. */
  def e16SessionizeAuto(spark: SparkSession, dir: String): DataFrame =
    sessionizeAutoOf(Tables.events(spark, dir))

  private[graft] def sessionizeAutoOf(events: DataFrame): DataFrame = {
    if (CoreQueries.twoPhase("sessionize", events, col("user_id"))) sessionizeTwoPhaseOf(events)
    else sessionizeOf(events)
  }

  /** E8: traffic-burst anomaly detection. An (event_type, hour)
    * bucket is a spike when its count reaches `factor`× that type's
    * mean per-hour count. The burst ratio is n·n_buckets/total —
    * exact integer arithmetic until ONE IEEE division, so the DuckDB
    * oracle hashes bit-identically (a z-score variant would stack
    * libm ops whose last bit differs across engines). Two aggs: the
    * per-bucket count on a uniform (type, hour) key, and a
    * 5-row per-type stats frame broadcast back — the corpus shuffles
    * once, the stats join moves nothing. */
  def e8Spike(spark: SparkSession, dir: String, factor: Double = 2.0): DataFrame = {
    // persisted: the bucket-count frame (types × hours rows — tiny at
    // any corpus size) feeds both the stats rollup and the final
    // join; without it the stats side re-scans the event corpus
    val perHour = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = perHour.groupBy(col("event_type"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("n_buckets"))
    perHour.join(broadcast(stats), Seq("event_type"))
      .withColumn("burst", round(col("n") * col("n_buckets") / col("total"), 4))
      .filter(col("burst") >= factor)
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n"), col("burst"))
      .transform(graft.ops.CacheScope.owned(_, perHour))
  }

  /** E9: resample + gap-fill. Events are resampled onto a dense
    * 15-minute grid per event type: empty buckets appear with a zero
    * count and the last observed bucket value carried forward
    * (nulls before a type's first observation stay null). The dense
    * grid is generated from the per-type [min, max] bucket bounds —
    * a |types|-row frame — via `sequence`+`explode`, so grid size is
    * (time-range / interval) × |types|, independent of corpus size;
    * the observed aggregate is one uniform-key (type, bucket)
    * shuffle, and the forward-fill window sorts grid rows (bounded
    * by the time range), never corpus rows. The bucket value is
    * rounded BEFORE the fill so carried copies hash identically to
    * the oracle's. */
  def e9Resample(spark: SparkSession, dir: String, intervalSec: Long = 900L): DataFrame =
    resampleOf(Tables.events(spark, dir), intervalSec)

  /** The resample core over any (event_type, ts, value) frame. */
  def resampleOf(events: DataFrame, intervalSec: Long): DataFrame = {
    val obs = events
      .select(col("event_type"),
        floor(col("ts").cast("double") / intervalSec).cast("long").as("bkt"),
        col("value"))
      .groupBy(col("event_type"), col("bkt"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
    val bounds = obs.groupBy(col("event_type"))
      .agg(min(col("bkt")).as("lo"), max(col("bkt")).as("hi"))
    val grid = bounds.select(col("event_type"),
      explode(sequence(col("lo"), col("hi"))).as("bkt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(obs, Seq("event_type", "bkt"), "left")
      .withColumn("fill_value", last(col("v"), ignoreNulls = true).over(w))
      .select(
        date_format(timestamp_seconds(col("bkt") * intervalSec),
          "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
        col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        when(col("n").isNull, 1L).otherwise(0L).as("is_gap"),
        col("fill_value"))
  }

  /** E7: weekly cohort retention. Cohort = the Monday-truncated week
    * of a user's first event; a (cohort, offset) cell counts the
    * users active `offset` weeks after their cohort week. Two
    * uniform-key aggregations (per-user first week; distinct
    * user-weeks) joined on user_id — the cohort frame is |users|
    * rows, so AQE broadcasts it against the activity side at scale;
    * no window, no self-join, nothing keyed by the (tiny, hot)
    * cohort-week value until the final vocabulary-sized rollup. */
  def e7Retention(spark: SparkSession, dir: String): DataFrame =
    retentionOf(Tables.events(spark, dir))

  /** The retention core over any (user_id, ts) frame. */
  def retentionOf(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    val active = ev.distinct()
    active.join(cohort, Seq("user_id"))
      .withColumn("week_offset",
        ((unix_micros(col("wk")) - unix_micros(col("cohort_wk")))
          / (7L * 86400L * 1000000L)).cast("long"))
      .groupBy(date_format(col("cohort_wk"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** K7: SCD Type-2 reconstruction from an event stream — the
    * warehouse shape a sync service maintains for every dimension it
    * tracks: each user's purchase "tier" (a value bucket) becomes a
    * validity-interval table — one row per CHANGE, [valid_from,
    * valid_to) half-open, `valid_to` null on the current row.
    * Gaps-and-islands again: change detection is one lag() and the
    * interval close is one lead(), both over the same (user_id)
    * partition — ONE shuffle keyed by the uniform user_id carries
    * the whole reconstruction; nothing global, no self-join.
    * Timestamps are emitted as formatted strings so the DuckDB
    * oracle hashes identically (e1's deal). */
  def k7Scd2(spark: SparkSession, dir: String): DataFrame = {
    // Interval strings render in UTC regardless of the caller's
    // session timezone — scd2Stream renders UTC explicitly, and batch
    // and stream closed rows must stay byte-identical in ANY session,
    // not just the UTC-pinned harnesses. Thread-scoped pin semantics
    // (and the internal-API fence) live in SparkInternals.
    graft.ops.SparkInternals.withUtcRendering(spark) {
      k7Scd2Local(spark, dir)
    }
  }

  private def k7Scd2Local(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") / 100).cast("int").as("tier"))
      .withColumn("prev_tier", lag(col("tier"), 1).over(byUser))
      .filter(col("prev_tier").isNull || col("prev_tier") =!= col("tier"))
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(byUser))
      .select(col("user_id"), col("tier"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("valid_to_ts").isNull.as("is_current"))
  }

  /** E10: distribution-drift audit — the monitor a continuously-
    * ingesting pipeline runs before trusting a new data window: per
    * event type, the `value` histogram of the first half of the time
    * range against the second half, binned on a fixed grid. Output
    * is the per-(type, bin) comparison matrix — counts, within-half
    * rates, absolute rate delta — from which TVD/PSI-style scalars
    * are one rollup away; emitting the matrix (not a summed scalar)
    * keeps every number an exact integer count or a single IEEE
    * division, so the DuckDB oracle hash-matches without depending
    * on cross-engine log() or summation-order agreement.
    *
    * Scale shape: one pass for the global time bounds (a 1-row
    * broadcast), one corpus scan into a (type, bin) grid agg with
    * map-side partials — output is |types|×|bins| rows regardless of
    * corpus size, and the rate normalization is a window over that
    * tiny grid, never over events. */
  /** The drift grid's bin expression — ONE definition shared by the
    * batch audit and the streaming monitor (StreamOps.driftBatch). */
  private[graft] def valueBin(value: org.apache.spark.sql.Column,
      binWidth: Double, nBins: Int): org.apache.spark.sql.Column =
    least(floor(value / binWidth).cast("int"), lit(nBins - 1))

  def e10Drift(spark: SparkSession, dir: String,
      binWidth: Double = 25.0, nBins: Int = 20): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
    // shiftright = floor division by 2 for any sign, matching the
    // oracle's DuckDB `//` (floor); `div` truncates toward zero and
    // would flip boundary rows when min+max is negative (pre-1970 data)
    val mid = ev.agg(expr("shiftright(min(us) + max(us), 1)").as("mid"))
    val g = ev.crossJoin(broadcast(mid))
      .select(col("event_type"),
        (col("us") >= col("mid")).as("late"),
        valueBin(col("value"), binWidth, nBins).as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(when(!col("late"), 1)).as("n_early"),
        count(when(col("late"), 1)).as("n_late"))
    val byType = Window.partitionBy(col("event_type"))
    g.withColumn("te", sum(col("n_early")).over(byType))
      .withColumn("tl", sum(col("n_late")).over(byType))
      .select(col("event_type"), col("bin"), col("n_early"), col("n_late"),
        round(col("n_early") / col("te"), 6).as("rate_early"),
        round(col("n_late") / col("tl"), 6).as("rate_late"),
        round(abs(col("n_early") / col("te") - col("n_late") / col("tl")), 6)
          .as("delta"))
  }
}
