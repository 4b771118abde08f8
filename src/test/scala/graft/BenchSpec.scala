package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, raise_error}

/** The bench harness's load-variance / auto-retry decision logic (pure
  * functions) and its measure step. The retry exists because two
  * recorded rounds shipped co-tenant-polluted numbers; these pin the
  * signal that triggers it and the pick-the-calmer-pass rule. */
class BenchSpec extends SparkSpec {

  private def q(name: String, cold: Double, warms: Double*) =
    (name, cold, warms.toSeq)

  test("loadVariance is the worst warm/warm ratio across queries") {
    val calm = Seq(q("a", 1.0, 0.50, 0.55), q("b", 2.0, 1.00, 1.10))
    assert(math.abs(Bench.loadVarianceOf(calm) - 1.1) < 1e-9)
    val spiked = Seq(q("a", 1.0, 0.50, 0.55), q("b", 2.0, 1.00, 9.00))
    assert(math.abs(Bench.loadVarianceOf(spiked) - 9.0) < 1e-9)
  }

  test("sub-50ms warm runs are noise-floor, never variance signal") {
    // a 4ms vs 40ms spread is scheduler jitter on an empty query, not
    // load — a 10x ratio here must NOT mark the whole bench noisy
    val tiny = Seq(q("w2", 0.1, 0.004, 0.040), q("b", 2.0, 1.00, 1.05))
    assert(math.abs(Bench.loadVarianceOf(tiny) - 1.05) < 1e-9)
    // no query with two above-floor warm runs → neutral 1.0
    assert(math.abs(Bench.loadVarianceOf(Seq(q("w2", 0.1, 0.004, 0.010))) - 1.0) < 1e-9)
  }

  test("calmestOf keeps the pass with the lowest variance; ties keep the earliest") {
    val noisy = Seq(q("a", 1.0, 1.0, 8.0))
    val calm = Seq(q("a", 1.0, 1.0, 1.1))
    assert(Bench.calmestOf(Seq(noisy, calm))._1 eq calm)
    assert(Bench.calmestOf(Seq(calm, noisy))._1 eq calm)
    assert(math.abs(Bench.calmestOf(Seq(noisy, noisy))._2 - 8.0) < 1e-9)
    // equal variance: earliest pass wins (no churn on a calm box)
    val calm2 = Seq(q("a", 2.0, 2.0, 2.2))
    assert(Bench.calmestOf(Seq(calm, calm2))._1 eq calm)
  }

  test("crossAttemptBest takes the per-query min over every attempt's runs") {
    // a burst during pass 1 poisons q "a"; pass 2 is calm for "a" but
    // spikes "b" — each query's best must come from its OWN calm pass
    val p1 = Seq(q("a", 9.0, 8.5, 9.1), q("b", 2.0, 1.0, 1.1))
    val p2 = Seq(q("a", 1.2, 1.0, 1.1), q("b", 7.0, 6.5, 7.2))
    val best = Bench.crossAttemptBest(Seq(p1, p2)).toMap
    assert(math.abs(best("a") - 1.0) < 1e-9)
    assert(math.abs(best("b") - 1.0) < 1e-9)
  }

  test("trailerJson fits the tail budget, dropping fastest entries first") {
    val best = (1 to 96).map(i => (f"query_name_number_$i%02d", i * 0.1))
    val line = Bench.trailerJson(best, 60.0, 51.3, 1.78, noisy = false,
      retried = false, budget = 1900)
    assert(line.length <= 1900)
    assert(line.contains("\"queries_ds\":"))
    // deciseconds: 9.6s -> 96; the SLOWEST entries always survive
    assert(line.contains("\"query_name_number_96\":96"))
    // the omitted count, when present, accounts for exactly the gap
    val kept = "\"query_name_number_".r.findAllIn(line).size
    if (kept < 96) assert(line.contains(s""""omitted":${96 - kept}"""))
    // un-truncated case: small suites keep every entry, no omitted key
    val tiny = Bench.trailerJson(best.take(3), 1.0, 0.9, 1.0, noisy = false, retried = false)
    assert(!tiny.contains("omitted") && tiny.contains("\"query_name_number_01\":1"))
  }

  test("trailerJson rolls dropped rows into per-family decisecond sums — " +
      "no row is driver-invisible") {
    // two families; a tight budget forces drops from the fast family
    val best = (1 to 40).map(i => (f"slowfam_q$i%02d", 5.0 + i * 0.1)) ++
      (1 to 40).map(i => (f"fastfam_q$i%02d", 0.1 * i))
    val line = Bench.trailerJson(best.sortBy(_._1), 300.0, 280.0, 1.5,
      noisy = false, retried = false, budget = 800)
    assert(line.length <= 800)
    assert(line.contains("\"omitted\":") && line.contains("\"omitted_fams_ds\":"),
      s"dropped rows must surface as a family digest: $line")
    // every dropped row's time is accounted for: kept ds + family ds
    // sums to the suite total (±1 ds per entry from rounding)
    val dsVals = """:(\d+)""".r.findAllMatchIn(
      line.substring(line.indexOf("queries_ds")))
      .map(_.group(1).toLong).toSeq
    val totalDs = math.round(best.map(_._2).sum * 10)
    val omitted = """"omitted":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
    assert(math.abs(dsVals.sum - omitted - totalDs) <= best.size,
      s"family digest loses time: kept+fams=${dsVals.sum} vs total=$totalDs")
    // the fast family dominates the drops, so its family key exists
    assert(line.contains("\"fastfam\":"), s"missing family rollup: $line")
  }

  test("the retry threshold matches the recorded-pollution bar") {
    // variance 3.0 exactly is NOT noisy (strict >): warm spreads up to
    // 3x are within this box's observed calm-day jitter
    assert(!(3.0 > Bench.NoisyThreshold))
    assert(28.8 > Bench.NoisyThreshold) // the round-4 polluted run
  }

  test("measurePass names a query that throws and still times every run") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("x")
    val boom: (SparkSession, String) => DataFrame = (s, _) =>
      s.range(1).select(raise_error(lit("boom")))
    // a query behind a route gate: its cold run's decision is recorded
    val gated: (SparkSession, String) => DataFrame = (s, _) =>
      graft.queries.TextQueries.clustersOf(
        s.range(3).select(col("id").as("a_id"), (col("id") + 1).as("b_id")))
    // a query over a derived root: its cold run builds it, and that is
    // recorded; its warm runs hit it
    val in = java.nio.file.Files.createTempDirectory("bench-derived").toString
    spark.range(5).write.parquet(s"$in/t.parquet")
    val derivedQ: (SparkSession, String) => DataFrame = (s, _) =>
      s.read.parquet(DerivedCache.ensure(s, "benchspec", in, Seq("t.parquet")) { out =>
        s.read.parquet(s"$in/t.parquet").write.parquet(s"$out/t")
      } + "/t")
    val (measured, failed, routes, derived) = Bench.measurePass(spark, "unused",
      Seq("a_ok" -> ok, "b_boom" -> boom, "c_gated" -> gated, "d_derived" -> derivedQ),
      runsPerQuery = 3)
    assert(failed == Set("b_boom"))
    assert(measured.map(_._1) == Seq("a_ok", "b_boom", "c_gated", "d_derived"))
    assert(measured.forall(r => r._2 >= 0 && r._3.size == 2))
    assert(derived("a_ok").isEmpty && derived("c_gated").isEmpty)
    val built = derived("d_derived")("benchspec")
    assert(built.built && built.buildSeconds > 0, built)
    assert(DerivedCache.take() == Map("benchspec" -> DerivedCache.Record(false, 0.0)))
    assert(DerivedCache.json(derived - "b_boom") == "{\"a_ok\":{},\"c_gated\":{}," +
      s""""d_derived":{"benchspec":{"built":true,"build_s":${built.buildSeconds}}}}""")
    assert(routes("a_ok").isEmpty)
    val d = routes("c_gated")("local_finish")
    assert(d.local && !d.forced && d.estimate == Seq(3.0), d)
    assert(Verify.routesJson(routes).contains(
      "\"c_gated\":{\"local_finish\":{\"estimate\":3,\"budget\":1000000," +
        "\"route\":\"local\",\"forced\":false}}"), Verify.routesJson(routes))
  }
}
