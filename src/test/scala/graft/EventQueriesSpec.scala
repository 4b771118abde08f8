package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.queries.EventQueries

/** Hand-computed fixtures for the ordered-funnel and cohort-retention
  * semantics (the DuckDB oracles check the full corpus at sf0.01;
  * these pin the stage-ordering corner cases a random corpus may not
  * exercise). */
class EventQueriesSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def eventsDf(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.map { case (uid, at, tpe) => (uid, ts(at), tpe) }
      .zipWithIndex
      .map { case ((uid, at, tpe), i) => (uid, at, i.toLong, tpe) }
      .toDF("user_id", "ts", "event_id", "event_type")
  }

  test("funnel stages only count at-or-after the previous stage") {
    val df = eventsDf(Seq(
      // u1: clean view -> click -> purchase
      (1L, "2024-01-01 10:00:00", "view"),
      (1L, "2024-01-01 10:05:00", "click"),
      (1L, "2024-01-01 10:10:00", "purchase"),
      // u2: purchase BEFORE any click — depth stops at 2; a later
      // purchase completes it only if after the qualifying click
      (2L, "2024-01-01 09:00:00", "view"),
      (2L, "2024-01-01 09:30:00", "purchase"),
      (2L, "2024-01-01 09:45:00", "click"),
      // u3: click before any view never qualifies — depth 1 from the
      // later view alone
      (3L, "2024-01-01 08:00:00", "click"),
      (3L, "2024-01-01 08:30:00", "view"),
      // u4: no funnel events at all
      (4L, "2024-01-01 07:00:00", "error")))
    val out = EventQueries.funnelOf(df)
      .select("user_id", "depth").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 0L))
  }

  test("funnel: same-timestamp stage events qualify (at-or-after)") {
    val df = eventsDf(Seq(
      (1L, "2024-01-01 10:00:00", "view"),
      (1L, "2024-01-01 10:00:00", "click"),
      (1L, "2024-01-01 10:00:00", "purchase")))
    // event_id ordering puts view first at the shared timestamp, so
    // the click sees view_ts set on its own row and qualifies
    val out = EventQueries.funnelOf(df).select("depth").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("two-phase funnel equals the one-pass funnel on cross-bucket stage placements") {
    // every cross-day case the decomposition must get right:
    // u1: view day1, click day2, purchase day3 — pure cross-bucket
    //     chain (qc via v_prev/ca, qp via c_prev/pa)
    // u2: view day1; day2 has click-before-purchase — earlier view
    //     qualifies the click, purchase must use puv (c_prev null)
    // u3: day1 click BEFORE its view (unqualified), view later that
    //     day; day2 purchase-before-click then click — the purchase
    //     must NOT count (no qualifying click at-or-before it), a
    //     day3 purchase must
    // u4: everything in one bucket (pu0 path), including the
    //     same-timestamp tie broken by event_id
    // u5: click day1 with NO view ever — stays unqualified across
    //     buckets
    // u6: purchase day2, click day3 — order across buckets respected
    val df = eventsDf(Seq(
      (1L, "2024-01-01 10:00:00", "view"),
      (1L, "2024-01-02 10:00:00", "click"),
      (1L, "2024-01-03 10:00:00", "purchase"),
      (2L, "2024-01-01 09:00:00", "view"),
      (2L, "2024-01-02 09:00:00", "click"),
      (2L, "2024-01-02 09:30:00", "purchase"),
      (3L, "2024-01-01 08:00:00", "click"),
      (3L, "2024-01-01 09:00:00", "view"),
      (3L, "2024-01-02 07:00:00", "purchase"),
      (3L, "2024-01-02 08:00:00", "click"),
      (3L, "2024-01-03 08:00:00", "purchase"),
      (4L, "2024-01-01 10:00:00", "view"),
      (4L, "2024-01-01 10:00:00", "click"),
      (4L, "2024-01-01 10:00:00", "purchase"),
      (5L, "2024-01-01 10:00:00", "click"),
      (5L, "2024-01-02 10:00:00", "purchase"),
      (6L, "2024-01-01 10:00:00", "view"),
      (6L, "2024-01-02 10:00:00", "purchase"),
      (6L, "2024-01-03 10:00:00", "click")))
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getLong(4))).toSet
    val onePass = rows(EventQueries.funnelOf(df))
    val twoPhase = rows(EventQueries.funnelTwoPhaseOf(df))
    assert(twoPhase == onePass,
      s"missed=${onePass -- twoPhase} extra=${twoPhase -- onePass}")
    // the interesting depths really happened
    val depth = twoPhase.map(t => t._1 -> t._5).toMap
    assert(depth === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L, 6L -> 2L))
    // u3's purchase is day3's, not day2's early one
    val u3p = twoPhase.find(_._1 == 3L).get._4
    assert(u3p.contains(ts("2024-01-03 08:00:00").getTime * 1000L))
  }

  test("two-phase funnel equals the one-pass funnel on the real corpus (sf0.001)") {
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getLong(4))).toSet
    val onePass = rows(EventQueries.funnelOf(ev))
    val twoPhase = rows(EventQueries.funnelTwoPhaseOf(ev))
    assert(onePass.nonEmpty)
    assert(twoPhase == onePass,
      s"missed=${(onePass -- twoPhase).size} extra=${(twoPhase -- onePass).size}")
  }

  test("two-phase as-of join equals the one-pass form on cross-bucket placements") {
    // u1: error day1, clicks day1 (after) + day2 (no day-2 error) —
    //     within-bucket win on day1, carry on day2
    // u2: errors day1 AND day2; day2 click BEFORE day2's error takes
    //     day1's carry, a later day2 click takes day2's error
    // u3: click with NO error ever — null asof_err_id survives
    // u4: same-timestamp error+click (error sorts first: inclusive
    //     as-of) and two same-timestamp errors (max err_id wins)
    val df = eventsDf(Seq(
      (1L, "2024-01-01 10:00:00", "error"),
      (1L, "2024-01-01 11:00:00", "click"),
      (1L, "2024-01-02 09:00:00", "click"),
      (2L, "2024-01-01 08:00:00", "error"),
      (2L, "2024-01-02 07:00:00", "click"),
      (2L, "2024-01-02 08:00:00", "error"),
      (2L, "2024-01-02 09:00:00", "click"),
      (3L, "2024-01-01 10:00:00", "click"),
      (4L, "2024-01-03 10:00:00", "error"),
      (4L, "2024-01-03 10:00:00", "error"),
      (4L, "2024-01-03 10:00:00", "click")))
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    val onePass = rows(EventQueries.e3AsofJoinOf(df))
    val twoPhase = rows(EventQueries.asofTwoPhaseOf(df))
    assert(twoPhase == onePass,
      s"missed=${onePass -- twoPhase} extra=${twoPhase -- onePass}")
    // the interesting cases really happened: u2's early day-2 click
    // carried day-1's error; u3 is null; u4 took the larger err_id
    val byClick = twoPhase.map(t => t._1 -> t._3).toMap
    assert(byClick(4L) == Some(3L))  // u2 day-2 07:00 click -> day-1 error (id 3)
    assert(byClick(6L) == Some(5L))  // u2 day-2 09:00 click -> day-2 error (id 5)
    assert(byClick(7L) == None)      // u3: no error ever
    assert(byClick(10L) == Some(9L)) // u4: same-ts errors 8,9 -> max id 9
  }

  test("two-phase as-of join equals the one-pass form on the real corpus (sf0.001)") {
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    val onePass = rows(EventQueries.e3AsofJoinOf(ev))
    val twoPhase = rows(EventQueries.asofTwoPhaseOf(ev))
    assert(onePass.nonEmpty)
    assert(twoPhase == onePass,
      s"missed=${(onePass -- twoPhase).size} extra=${(twoPhase -- onePass).size}")
  }

  test("two-phase sessionize equals the one-pass form on cross-bucket placements") {
    // u1: one session spanning midnight (23:50 -> 00:10 gap 20min —
    //     boundary link) then a real gap into a second session
    // u2: bucket ends early (10:00), next bucket starts 09:00+1d —
    //     boundary gap > 30min opens a session even though both
    //     buckets are internally gapless
    // u3: three buckets chained by <=30min boundary links into ONE
    //     session (base must propagate through multiple links)
    // u4: single event (one session of one event)
    val df = eventsDf(Seq(
      (1L, "2024-01-01 23:50:00", "view"),
      (1L, "2024-01-02 00:10:00", "view"),
      (1L, "2024-01-02 09:00:00", "view"),
      (2L, "2024-01-01 10:00:00", "view"),
      (2L, "2024-01-02 09:00:00", "view"),
      (3L, "2024-01-01 23:45:00", "view"),
      (3L, "2024-01-02 00:05:00", "view"),
      (3L, "2024-01-02 23:55:00", "view"), // same-bucket gap: new session
      (3L, "2024-01-03 00:15:00", "view"),
      (4L, "2024-01-01 12:00:00", "view")))
      .withColumn("value", col("event_id").cast("double") + lit(0.25))
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val onePass = rows(EventQueries.sessionizeOf(df))
    val twoPhase = rows(EventQueries.sessionizeTwoPhaseOf(df))
    assert(twoPhase == onePass,
      s"missed=${onePass -- twoPhase} extra=${twoPhase -- onePass}")
    val byUser = twoPhase.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byUser(1L) == ((2L, 3L))) // midnight-link session + later one
    assert(byUser(2L) == ((2L, 2L))) // boundary gap opened a session
    assert(byUser(3L) == ((2L, 4L))) // two midnight links, one interior gap
    assert(byUser(4L) == ((1L, 1L)))
  }

  test("two-phase sessionize matches the one-pass form on null timestamps") {
    // one-pass semantics: a null-ts row's lag is null, so EVERY
    // null-ts row opens its own session, and the first timed row
    // after them opens another — the two-phase null day-bucket must
    // reproduce that (its interior rows see a null prev_ts and must
    // flag, distinguished from bucket-first rows by has_prev)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    val rows = Seq(
      Row(1L, null, 1L, 1.25), Row(1L, null, 2L, 2.5),
      Row(1L, ts("2024-01-01 10:00:00"), 3L, 4.0),
      Row(2L, ts("2024-01-01 09:00:00"), 4L, 8.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    def out(o: org.apache.spark.sql.DataFrame) = o.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val onePass = out(EventQueries.sessionizeOf(df))
    val twoPhase = out(EventQueries.sessionizeTwoPhaseOf(df))
    assert(twoPhase == onePass, s"one=$onePass two=$twoPhase")
    assert(twoPhase.contains((1L, 3L, 3L, 4.0)),
      "null-ts rows must each open a session")
  }

  test("two-phase sessionize equals the one-pass form on the real corpus (sf0.001)") {
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val onePass = rows(EventQueries.sessionizeOf(ev))
    val twoPhase = rows(EventQueries.sessionizeTwoPhaseOf(ev))
    assert(onePass.nonEmpty)
    assert(twoPhase == onePass,
      s"missed=${(onePass -- twoPhase).size} extra=${(twoPhase -- onePass).size}")
  }

  test("resample fills gaps with zero counts and carries the last value forward") {
    import spark.implicits._
    // 15-min buckets; type A observed at 10:00 and 10:45 → two gap
    // buckets between them carrying 1.5 forward; type B has a single
    // bucket → no gaps, no fill rows
    val df = Seq(
      ("A", ts("2024-01-01 10:01:00"), 1.0),
      ("A", ts("2024-01-01 10:07:00"), 0.5),
      ("A", ts("2024-01-01 10:46:00"), 7.0),
      ("B", ts("2024-01-01 12:00:00"), 3.0))
      .toDF("event_type", "ts", "value")
    val out = EventQueries.resampleOf(df, 900L)
      .collect()
      .map(r => (r.getString(1), r.getString(0)) ->
        ((r.getLong(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out === Map(
      ("A", "2024-01-01 10:00:00") -> ((2L, 0L, Some(1.5))),
      ("A", "2024-01-01 10:15:00") -> ((0L, 1L, Some(1.5))),
      ("A", "2024-01-01 10:30:00") -> ((0L, 1L, Some(1.5))),
      ("A", "2024-01-01 10:45:00") -> ((1L, 0L, Some(7.0))),
      ("B", "2024-01-01 12:00:00") -> ((1L, 0L, Some(3.0)))))
  }

  test("k7Scd2 core: change detection, interval chaining, ties, oscillation") {
    import spark.implicits._
    // windows run over any (user_id, ts, event_id, event_type, value)
    // frame — drive the production expressions through a fixture
    val df = Seq(
      // user 1: tier 1 -> 1 (no change) -> 2 -> 1 (oscillation back)
      (1L, "2026-01-01 10:00:00", 1L, "purchase", 150.0),
      (1L, "2026-01-01 11:00:00", 2L, "purchase", 199.0),
      (1L, "2026-01-01 12:00:00", 3L, "purchase", 250.0),
      (1L, "2026-01-01 13:00:00", 4L, "purchase", 120.0),
      // user 2: one purchase -> a single current row
      (2L, "2026-01-02 09:00:00", 5L, "purchase", 10.0),
      // user 2: non-purchase events never open intervals
      (2L, "2026-01-02 10:00:00", 6L, "click", 999.0),
      // user 3: same-timestamp tie broken by event_id (tier 3 then 4)
      (3L, "2026-01-03 08:00:00", 7L, "purchase", 310.0),
      (3L, "2026-01-03 08:00:00", 8L, "purchase", 420.0))
      .map { case (u, t, e, tp, v) =>
        (u, java.sql.Timestamp.valueOf(t), e, tp, v) }
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val fixture = s"${sys.props("java.io.tmpdir")}/graft_scd2_fixture"
    df.write.mode("overwrite").parquet(s"$fixture/events.parquet")
    val got = EventQueries.k7Scd2(spark, fixture)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        Option(r.getString(3)).orNull, r.getBoolean(4))).toSet
    assert(got == Set(
      (1L, 1, "2026-01-01 10:00:00", "2026-01-01 12:00:00", false),
      (1L, 2, "2026-01-01 12:00:00", "2026-01-01 13:00:00", false),
      (1L, 1, "2026-01-01 13:00:00", null, true),
      (2L, 0, "2026-01-02 09:00:00", null, true),
      (3L, 3, "2026-01-03 08:00:00", "2026-01-03 08:00:00", false),
      (3L, 4, "2026-01-03 08:00:00", null, true)), s"got $got")
  }

  test("e10Drift matrix equals a driver-side histogram recompute at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val raw = graft.sources.Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val mid = (raw.map(_._2).min + raw.map(_._2).max) / 2
    def bin(v: Double): Int = math.min(math.floor(v / 25.0).toInt, 19)
    val cells = raw.groupBy(e => (e._1, bin(e._3))).map { case ((t, b), es) =>
      (t, b, es.count(_._2 < mid).toLong, es.count(_._2 >= mid).toLong)
    }.toSeq
    val totals = cells.groupBy(_._1).map { case (t, cs) =>
      t -> (cs.map(_._3).sum, cs.map(_._4).sum) }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = cells.map { case (t, b, ne, nl) =>
      val (te, tl) = totals(t)
      (t, b, ne, nl, r6(ne.toDouble / te), r6(nl.toDouble / tl),
        r6(math.abs(ne.toDouble / te - nl.toDouble / tl)))
    }.toSet
    val got = EventQueries.e10Drift(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"missed=${(want -- got).size} extra=${(got -- want).size}")
  }

  test("retention cells count users active k weeks after their cohort week") {
    val df = eventsDf(Seq(
      // u1 first active week of Jan 1 (a Monday), returns at offset 2
      (1L, "2024-01-02 10:00:00", "view"),
      (1L, "2024-01-16 10:00:00", "click"),
      // u2 same cohort, active weeks 0 and 1
      (2L, "2024-01-03 10:00:00", "view"),
      (2L, "2024-01-08 10:00:00", "view"),
      // u3 cohort of Jan 8, active that week only (two events, one
      // distinct user-week)
      (3L, "2024-01-09 10:00:00", "view"),
      (3L, "2024-01-10 10:00:00", "click")))
    val out = EventQueries.retentionOf(df)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      ("2024-01-01", 0L) -> 2L,
      ("2024-01-01", 1L) -> 1L,
      ("2024-01-01", 2L) -> 1L,
      ("2024-01-08", 0L) -> 1L))
  }

  test("auto routing (funnel/asof/sessionize): uniform users plan one-pass, " +
      "a hot user plans two-phase, and the answer is identical either way") {
    import spark.implicits._
    import graft.queries.CoreQueries
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // uniform: the real events table routes one-pass on every family,
    // and the two routes agree there too
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val fu = EventQueries.funnelAutoOf(ev)
    assert(routeOf("funnel") == "local")
    assert(canon(fu) == canon(EventQueries.funnelTwoPhaseOf(ev)))
    val au = EventQueries.asofAutoOf(ev)
    assert(routeOf("asof") == "local")
    assert(canon(au) == canon(EventQueries.asofTwoPhaseOf(ev)))
    val su = EventQueries.sessionizeAutoOf(ev)
    assert(routeOf("sessionize") == "local")
    assert(canon(su) == canon(EventQueries.sessionizeTwoPhaseOf(ev)))

    // hot fixture: user 1 owns 900 of 999 events (hot/mean ≈ 90×),
    // spread across many day buckets with a mix of within-bucket
    // session breaks (45-minute steps) and quiet stretches, event
    // types cycling so funnel stages and asof sides all engage
    val types = Seq("view", "click", "purchase", "error")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    var acc = 0L
    val hotRows = (1 to 900).map { i =>
      acc += (if (i % 7 == 0) 45L else 25L) * 60000L
      (1L, new java.sql.Timestamp(t0 + acc), i.toLong, types(i % 4),
        (i % 13).toDouble)
    } ++ (2 to 100).map { u =>
      (u.toLong, new java.sql.Timestamp(t0 + u * 3600000L),
        10000L + u, types(u % 4), 1.0)
    }
    val hot = hotRows
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val fh = EventQueries.funnelAutoOf(hot)
    assert(routeOf("funnel") == "dist",
      "hot user should route the funnel two-phase")
    assert(canon(fh) == canon(EventQueries.funnelOf(hot)),
      "two-phase funnel diverged from one-pass on the hot fixture")
    val ah = EventQueries.asofAutoOf(hot)
    assert(routeOf("asof") == "dist")
    assert(canon(ah) == canon(EventQueries.e3AsofJoinOf(hot)),
      "two-phase asof diverged from one-pass on the hot fixture")
    val sh = EventQueries.sessionizeAutoOf(hot)
    assert(routeOf("sessionize") == "dist")
    assert(canon(sh) == canon(EventQueries.sessionizeOf(hot)),
      "two-phase sessionize diverged from one-pass on the hot fixture")
  }
}
