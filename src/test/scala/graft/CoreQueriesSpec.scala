package graft

import org.apache.spark.sql.functions._
import graft.queries.CoreQueries

/** Ground truth for the hash-defined relational variants (the
  * oracle-checked queries live in CORRECTNESS; this covers the ones a
  * SQL oracle cannot express). */
class CoreQueriesSpec extends SparkSpec {

  test("qQuantilesApprox brackets the exact quartiles within the documented rank error") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      def byStatus(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => r.getString(0) ->
          Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      val exact = byStatus(CoreQueries.qQuantiles(spark, dir))
      val approx = byStatus(CoreQueries.qQuantilesApprox(spark, dir))
      assert(approx.keySet == exact.keySet)
      for ((status, e) <- exact; (ev, av) <- e.zip(approx(status))) {
        // rank error ≤ 1/accuracy maps to a small value error on this
        // smooth distribution; 1% relative value error is generous
        // and deterministic (the sketch is seed-free)
        assert(math.abs(av - ev) <= math.abs(ev) * 0.01 + 1.0,
          s"$dir/$status: approx $av vs exact $ev")
      }
    }
  }

  test("qHllDistinct: estimates track exact counts, small cardinalities are LC-exact, and the sketch is order-invariant") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val est = CoreQueries.qHllDistinct(spark, dir)
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
      val orders = graft.sources.Tables.orders(spark, dir)
      val exact = est.keySet.map(c =>
        c -> orders.select(countDistinct(col(c))).collect()(0).getLong(0)).toMap
      // m = 1024 → rsd ≈ 1.04/√1024 ≈ 3.25%; 5× is a deterministic
      // bound (the hash is fixed, so this is a measurement)
      for ((c, n) <- exact if n > 100)
        assert(math.abs(est(c) - n) <= n * 0.163,
          s"$dir/$c: hll ${est(c)} vs exact $n")
      // tiny cardinalities ride the linear-counting branch and are
      // near-exact: 1024·ln(1024/(1024−n)) ≈ n to well under 1
      for ((c, n) <- exact if n <= 100)
        assert(math.abs(est(c) - n) <= 0.5,
          s"$dir/$c: linear-counting ${est(c)} vs exact $n")
    }
    // order/partitioning invariance: registers are a max per bucket
    // and the harmonic sum is exact in integers, so a different
    // physical layout of the same rows CANNOT move any output bit —
    // the second run builds the sketch from a repartitioned,
    // reverse-sorted copy of the same table so the layout actually
    // differs
    val a = CoreQueries.qHllDistinct(spark, "/root/testdata/sf0.01")
      .collect().map(_.toString).sorted
    val shuffled = graft.sources.Tables.orders(spark, "/root/testdata/sf0.01")
      .repartition(7).sortWithinPartitions(col("o_orderkey").desc)
    val b = CoreQueries.hllEstimate(CoreQueries.hllRegisters(shuffled))
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("q_hll_grouped: per-slice estimates track exact distinct users; " +
      "layout invariant") {
    val dir = "/root/testdata/sf0.01"
    val est = CoreQueries.qHllGrouped(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val ev = graft.sources.Tables.events(spark, dir)
    val exact = ev.filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet, "group sets differ")
    for ((g, n) <- exact)
      if (n > 100)
        assert(math.abs(est(g) - n) <= n * 0.163,
          s"$g: grouped hll ${est(g)} vs exact $n")
      else
        assert(math.abs(est(g) - n) <= 0.5,
          s"$g: linear-counting ${est(g)} vs exact $n")
    // layout invariance, same argument as the ungrouped sketch
    val shuffled = ev.repartition(7)
      .sortWithinPartitions(col("event_id").desc)
    val b = CoreQueries.hllEstimate(
        CoreQueries.hllGroupRegisters(shuffled, "event_type", "user_id"))
      .withColumnRenamed("col_name", "event_type")
      .collect().map(_.toString).sorted
    assert(CoreQueries.qHllGrouped(spark, dir)
      .collect().map(_.toString).sorted.sameElements(b))
  }

  test("qProfileApprox estimates every distinct count within the documented error") {
    // HLL++ at rsd=0.02 has std error 2%; 5× that is a generous
    // deterministic bound (the sketch is seed-free, so this is a
    // stable measurement, not a flaky probabilistic assertion). Both
    // SFs guard against a bound that only holds at one cardinality
    // range.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val exact = CoreQueries.qProfile(spark, dir)
        .select(col("col_name"), col("n_rows"), col("n_null"), col("n_distinct"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val approx = CoreQueries.qProfileApprox(spark, dir)
        .select(col("col_name"), col("n_rows"), col("n_null"), col("n_distinct"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(approx.keySet == exact.keySet)
      for ((c, (nRows, nNull, nd)) <- exact) {
        val (aRows, aNull, and) = approx(c)
        // row/null counts are exact on both paths — identical
        assert(aRows == nRows && aNull == nNull, s"$dir/$c exact counters diverge")
        val relErr = math.abs(and - nd).toDouble / math.max(nd, 1L)
        assert(relErr <= 0.10,
          s"$dir/$c: approx $and vs exact $nd (rel err $relErr)")
      }
    }
  }

  test("w4 two-phase running total: exact on a hot-key fixture, month split in the plan") {
    import spark.implicits._
    // one customer owns 80% of the orders, spread across 12 months —
    // the shape whose single w2-style window partition is the 100 TB
    // straggler; the two-phase form must produce the EXACT same
    // running totals while partitioning by (customer, month)
    val rows = (1 to 2000).map { i =>
      val cust = if (i % 5 != 0) 1L else 100L + i % 7
      val day = 1 + i % 28; val mon = 1 + i % 12
      (cust, i.toLong, java.sql.Date.valueOf(f"2025-$mon%02d-$day%02d"),
        (i % 997) + 0.25)
    }
    val orders = rows.toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val got = CoreQueries.runningTotalTwoPhaseOf(orders).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // driver ground truth: BigDecimal running sums in (date, orderkey)
    // order per customer — the one-pass definition
    val want = rows.groupBy(_._1).flatMap { case (_, os) =>
      var acc = BigDecimal(0)
      os.sortBy(o => (o._3.toString, o._2)).map { o =>
        acc += BigDecimal(o._4).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        (o._1, o._2) -> acc.toDouble
      }
    }
    assert(got.size == want.size)
    val bad = want.collect { case (k, w) if math.abs(got(k) - w) > 1e-9 => (k, w, got(k)) }
    assert(bad.isEmpty, s"two-phase diverged on ${bad.take(5)}")
    // the WITHIN-MONTH window really partitions by (custkey, bucket):
    // its spec lists b as a bare PARTITION column followed by the
    // o_orderdate sort — the phase-2 offsets window (which has b only
    // as an ORDER column, "b#N ASC") must not satisfy this
    val plan = CoreQueries.runningTotalTwoPhaseOf(orders)
      .queryExecution.executedPlan.toString
    val withinMonthSpec =
      """windowspecdefinition\(o_custkey#\d+L?, b#\d+, o_orderdate#""".r
    assert(withinMonthSpec.findFirstIn(plan).isDefined,
      "within-month window lost its bucket partition key:\n" + plan.take(1500))
    // null keys flow through the null-safe join instead of vanishing:
    // a null date lands in the null bucket, a null customer stays its
    // own group — row count must match the one-pass semantics
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val nSchema = StructType(Seq(StructField("o_custkey", LongType),
      StructField("o_orderkey", LongType), StructField("o_orderdate", DateType),
      StructField("o_totalprice", DoubleType)))
    val nRows = rows.take(10).map(r => Row(r._1, r._2, r._3, r._4)) ++ Seq(
      Row(1L, 9001L, null, 10.25),
      Row(null, 9002L, java.sql.Date.valueOf("2025-06-15"), 20.50))
    val withNulls = spark.createDataFrame(
      spark.sparkContext.parallelize(nRows), nSchema)
    assert(CoreQueries.runningTotalTwoPhaseOf(withNulls).count() == 12,
      "null o_orderdate/o_custkey rows were dropped by the offset join")
  }

  test("q_quantiles two-phase: exact on a hot-group fixture incl. edge shapes") {
    import spark.implicits._
    // one group owns 90% of the rows (the one-pass percentile's
    // single-buffer straggler); add a 1-row group (k1 == k2 == 0 for
    // every q), a 2-row group (every q interpolates between the same
    // two values), and duplicate-heavy values (ties inside a bucket)
    val rows: Seq[(String, Option[Double])] = (1L to 3000L).map { i =>
      val g = if (i % 10 < 9) "HOT" else if (i % 2 == 0) "S1" else "S2"
      (g, Some(((i * 104729L) % 90017L).toDouble / 7.0))
    } ++ Seq.fill(200)(("HOT", Some(1234.56))) ++
      Seq(("ONE", Some(42.5))) ++ Seq(("TWO", Some(10.0)), ("TWO", Some(20.0))) ++
      // null-value shapes the one-pass percentile defines: ignored
      // within a group, but an ALL-null group still emits its row
      Seq(("MIX", None), ("MIX", Some(7.0)), ("MIX", None), ("MIX", Some(9.0))) ++
      Seq(("NUL", None), ("NUL", None))
    val orders = rows.toDF("o_orderstatus", "o_totalprice")
    val got = CoreQueries.quantilesTwoPhaseOf(orders).collect()
      .map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))
      .toMap
    def r2(x: Double) =
      BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    // driver ground truth: percentile_cont from a full sort per group
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val vs = rs.flatMap(_._2).sorted.toIndexedSeq
      def q(p: Double): Option[Any] =
        if (vs.isEmpty) None
        else {
          val rk = p * (vs.length - 1)
          val k1 = rk.toLong.toInt
          val k2 = math.min(math.ceil(rk).toLong.toInt, vs.length - 1)
          Some(r2(vs(k1) + (vs(k2) - vs(k1)) * (rk - k1)))
        }
      g -> (q(0.25), q(0.5), q(0.75),
        if (vs.isEmpty) None else Some(r2(vs.max)))
    }
    assert(got.keySet == want.keySet,
      s"group sets diverge: ${got.keySet} vs ${want.keySet}")
    val bad = want.collect { case (g, w) if got(g) != w => (g, w, got(g)) }
    assert(bad.isEmpty, s"two-phase quantiles diverged on ${bad.take(5)}")
  }

  test("w5 two-phase top-k: exact on a hot-segment fixture, shard window in the plan") {
    import spark.implicits._
    // one segment owns 90% of the customers — the 5-value partition
    // key whose one-pass window funnels the corpus into 5 sort tasks;
    // the salted two-phase form must produce the EXACT same top-3
    val rows = (1L to 2000L).map { ck =>
      val seg = if (ck % 10 < 9) "HOT" else s"SEG${ck % 10}"
      (seg, ck, (ck * 7919 % 100000).toDouble / 100.0)
    }
    val customer = rows.toDF("c_mktsegment", "c_custkey", "c_acctbal")
    val got = CoreQueries.topkTwoPhaseOf(customer).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // driver ground truth: the one-pass definition per segment
    val want = rows.groupBy(_._1).flatMap { case (seg, cs) =>
      cs.sortBy(c => (-c._3, c._2)).take(3).zipWithIndex.map {
        case ((_, ck, bal), i) =>
          (seg, (i + 1).toLong) ->
            (ck, BigDecimal(bal).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    assert(got.size == want.size)
    val bad = want.collect { case (k, w) if got(k) != w => (k, w, got(k)) }
    assert(bad.isEmpty, s"two-phase top-k diverged on ${bad.take(5)}")
    // phase 1 really partitions by (segment, salt) — its window spec
    // lists salt as a bare PARTITION column; phase 2 (segment only,
    // rank over survivors) must not satisfy this
    val plan = CoreQueries.topkTwoPhaseOf(customer)
      .queryExecution.executedPlan.toString
    val shardSpec =
      """windowspecdefinition\(c_mktsegment#\d+, salt#\d+L?, c_acctbal#""".r
    assert(shardSpec.findFirstIn(plan).isDefined,
      "phase-1 window lost its salt partition key:\n" + plan.take(1500))
    // and WindowGroupLimit pre-prunes BOTH phases ahead of their
    // exchanges (the w1 scale property, preserved shard-wise)
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
  }

  test("k5SnapshotDiff classifies exactly the keys the modular rules predict") {
    val dir = "/root/testdata/sf0.001"
    val keys = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val expected = keys.iterator.map { k =>
      if (k % 13 == 0 && k % 11 == 0) k -> None         // in neither snapshot
      else if (k % 13 == 0) k -> Some("removed")        // old only
      else if (k % 11 == 0) k -> Some("added")          // new only
      else if (k % 7 == 0) k -> Some("changed")         // price bumped
      else k -> None                                    // identical both sides
    }.collect { case (k, Some(c)) => k -> c }.toMap
    val got = CoreQueries.k5SnapshotDiff(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expected)
    // change rows carry both prices, with the exact +1.5 delta
    val changed = CoreQueries.k5SnapshotDiff(spark, dir)
      .filter(col("change_type") === "changed")
      .select(col("old_price"), col("new_price")).collect()
    assert(changed.nonEmpty)
    changed.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(0) - 1.5) < 1e-9)
    }
  }

  test("auto window routing: uniform keys plan one-pass, a hot key plans " +
      "two-phase, and the answer is identical either way") {
    import spark.implicits._
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.size
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq

    // ---- running total ----
    val orders = graft.sources.Tables.orders(spark, "/root/testdata/sf0.001")
    val uni = CoreQueries.runningTotalAutoOf(orders)
    assert(routeOf("running_total") == "local",
      "uniform orders should route one-pass")
    assert(windows(uni) == 1, "one-pass route should plan exactly one Window")
    assert(canon(uni) == canon(CoreQueries.runningTotalTwoPhaseOf(orders)),
      "routes disagree on uniform orders")
    // hot fixture: customer 1 owns 900 of ~1000 rows (skew ~90x)
    def d(m: Int) = java.sql.Date.valueOf(f"2024-$m%02d-05")
    val hot = ((1 to 900).map(i => (1L, i.toLong, d(i % 12 + 1), 100.0 + i)) ++
        (2 to 100).map(c => (c.toLong, 1000L + c, d(1), 50.0)))
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val auto = CoreQueries.runningTotalAutoOf(hot)
    assert(routeOf("running_total") == "dist",
      "hot-key orders should route two-phase")
    assert(windows(auto) == 2,
      "two-phase route should plan the offset + within-bucket windows")
    assert(canon(auto) == canon(CoreQueries.runningTotalTwoPhaseOf(hot)))
    // the dispatch cannot leak: the one-pass decimal form on the SAME
    // hot fixture is row-identical (decimal sums are associative)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val onePassHot = hot.select(col("o_custkey"), col("o_orderkey"),
      round(sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double"), 2).as("running_total"))
    assert(canon(auto) == canon(onePassHot),
      "two-phase route diverged from the one-pass window on the hot fixture")

    // ---- top-k per group ----
    val customer = graft.sources.Tables.customer(spark, "/root/testdata/sf0.001")
    val uniK = CoreQueries.topkAutoOf(customer)
    assert(routeOf("topk") == "local",
      "uniform segments should route one-pass")
    assert(windows(uniK) == 1)
    assert(canon(uniK) == canon(CoreQueries.topkTwoPhaseOf(customer)))
    // hot fixture: one segment owns 950 of 1000 customers, the tail
    // spreads over 25 segments (hot/mean ≈ 25× — well past the 8× cut)
    val hotSeg = ((1 to 950).map(i => ("HOT", i.toLong, 1000.0 + i)) ++
        (951 to 1000).map(i => (s"S${i % 25}", i.toLong, 500.0 + i)))
      .toDF("c_mktsegment", "c_custkey", "c_acctbal")
    val autoK = CoreQueries.topkAutoOf(hotSeg)
    assert(routeOf("topk") == "dist",
      "hot segment should route two-phase")
    assert(windows(autoK) == 2)
    assert(canon(autoK) == canon(CoreQueries.topkTwoPhaseOf(hotSeg)))

    // ---- exact quantiles (the order-statistic member) ----
    val uniQ = CoreQueries.quantilesAutoOf(orders)
    assert(routeOf("quantiles") == "local",
      "uniform statuses should route one-pass")
    assert(windows(uniQ) == 0,
      "one-pass quantiles is a plain percentile agg — no Window")
    assert(canon(uniQ) == canon(CoreQueries.quantilesTwoPhaseOf(orders)),
      "quantile routes disagree on uniform orders")
    // hot fixture: one status owns 900 rows, 56 cold statuses own 5
    // each (hot/mean ≈ 43× — well past the 8× cut)
    val hotQ = ((1 to 900).map(i => ("HOT", 100.0 + i)) ++
        (1 to 280).map(i => (s"S${i % 56}", 50.0 + i)))
      .toDF("o_orderstatus", "o_totalprice")
    val autoQ = CoreQueries.quantilesAutoOf(hotQ)
    assert(routeOf("quantiles") == "dist",
      "hot status should route two-phase")
    // the dispatch cannot leak: equal to the ONE-PASS exact
    // percentile on the same hot fixture
    assert(canon(autoQ) == canon(CoreQueries.quantilesOnePassOf(hotQ)),
      "two-phase quantiles diverged from the one-pass percentile")
  }

  test("auto-routing skew probe memo: a repeat call on unchanged data " +
      "runs no probe scan and routes identically") {
    CoreQueries.clearSkewCache()
    val before = CoreQueries.probeScanCount.get()
    val r1 = CoreQueries.w6RunningTotalAuto(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted.toSeq
    val route1 = routeOf("running_total")
    val afterFirst = CoreQueries.probeScanCount.get()
    assert(afterFirst == before + 1,
      "first auto call must pay exactly one probe scan")
    val r2 = CoreQueries.w6RunningTotalAuto(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted.toSeq
    assert(CoreQueries.probeScanCount.get() == afterFirst,
      "repeat auto call on unchanged files must be a memo hit — zero probe scans")
    assert(routeOf("running_total") == route1,
      "memo hit changed the route")
    assert(r1 == r2, "memo hit changed the answer")
    // a frame with NO backing files can't prove input identity — it
    // must probe every time, never hitting or filling the memo
    import spark.implicits._
    val mem = (1 to 50)
      .map(i => (i.toLong, i.toLong, java.sql.Date.valueOf("2024-01-05"), 1.0))
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val b2 = CoreQueries.probeScanCount.get()
    CoreQueries.runningTotalAutoOf(mem).collect()
    CoreQueries.runningTotalAutoOf(mem).collect()
    assert(CoreQueries.probeScanCount.get() == b2 + 2,
      "fileless frames must stay exact: one probe per call")
  }

  test("skew probe memo: an external in-place rewrite under the SAME " +
      "file name moves the signature (length+mtime are bound)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("skewsig")
      .toFile.getAbsolutePath
    def write(rows: Seq[(Long, Long)], sub: String): Unit =
      rows.map { case (ck, ok) =>
        (ck, ok, java.sql.Date.valueOf("2024-01-05"), 1.0)
      }.toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$sub")
    write((1 to 40).map(i => (i.toLong % 4, i.toLong)), "t")
    // a DIFFERENT, heavily-skewed payload to copy over t's part file
    // (one hot key with 300 rows, ten cold keys with one each)
    write((1 to 300).map(i => (1L, i.toLong)) ++
      (1 to 10).map(i => (100L + i, 1000L + i)), "u")
    def part(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .filter(_.getName.startsWith("part-")).head
    CoreQueries.clearSkewCache()
    val b = CoreQueries.probeScanCount.get()
    val r1 = CoreQueries.keySkewRatio(
      spark.read.parquet(s"$dir/t"), col("o_custkey"))
    assert(CoreQueries.probeScanCount.get() == b + 1)
    assert(CoreQueries.keySkewRatio(
      spark.read.parquet(s"$dir/t"), col("o_custkey")) == r1)
    assert(CoreQueries.probeScanCount.get() == b + 1,
      "fresh read of unchanged files must memo-hit")
    // the external-writer scenario: same part NAME, new bytes (drop
    // the local-FS checksum sidecars — a real external writer's FS
    // would rewrite them; stale ones would fail the read itself)
    java.nio.file.Files.copy(part("u").toPath, part("t").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val r2 = CoreQueries.keySkewRatio(
      spark.read.parquet(s"$dir/t"), col("o_custkey"))
    assert(CoreQueries.probeScanCount.get() == b + 2,
      "in-place rewrite under the same name must be a memo MISS")
    assert(r2 > r1, "rewritten (all-hot) payload must read as more skewed")
  }
}
