package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark main. Prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},
  *  "queries_warm":{...},"failed":[...],"sf":...}.
  *
  * Isolation rules (round-1 bench overstated per-query cost ~3×
  * without them): `spark.catalog.clearCache()` between queries so one
  * query's persisted intermediates (MinHash/langid pipelines use
  * MEMORY_AND_DISK) neither occupy memory during, nor get double-
  * counted against, the next query. Each query is then timed twice:
  * `queries` is the COLD run (plan + codegen/JIT + scan), and
  * `queries_warm` re-runs the same plan immediately after (its own
  * persists still live), separating steady-state plan cost from
  * first-touch warmup. `value` totals the cold runs.
  * `BENCH_SELF.json` also carries each query's `routes`: the route
  * gates' decisions in its cold run (see [[Route]]), and its
  * `derived`: per DerivedCache kind, whether its cold run built the
  * root or hit it, and the build seconds.
  */
object Bench {

  /** One measured query: (name, cold seconds, warm seconds per rerun). */
  private[graft] type Measured = Seq[(String, Double, Seq[Double])]

  /** Warm-run spread above which the whole bench is considered
    * load-polluted: warm re-runs of an identical plan only diverge
    * under external load. Two recorded rounds shipped numbers above
    * this before the auto-retry existed; both re-measured at
    * round-baseline levels on a calm box. */
  private[graft] val NoisyThreshold = 3.0

  /** Worst warm/warm ratio across queries — the per-run load-variance
    * signal. Sub-50ms runs are excluded (pure noise floor: their
    * ratios measure scheduler jitter, not load). 1.0 when no query
    * has two above-floor warm runs. */
  private[graft] def loadVarianceOf(results: Measured): Double =
    results.flatMap { r =>
      val ws = r._3.filter(_ > 0.05)
      if (ws.size >= 2) Some(ws.max / ws.min) else None
    }.foldLeft(1.0)(math.max)

  /** Pick the calmest of N full-suite measurements (the auto-retry
    * decision): the pass with the LOWEST load variance is the one whose
    * absolute numbers are least contended. Ties keep the earliest. */
  private[graft] def calmestOf(passes: Seq[Measured]): (Measured, Double) =
    passes.map(p => (p, loadVarianceOf(p))).minBy(_._2)

  /** Per-query best across ALL attempts: a load burst during one pass
    * cannot poison a query's best-of, because a later calm pass's
    * minimum replaces it. Sorted by name. */
  private[graft] def crossAttemptBest(passes: Seq[Measured]): Seq[(String, Double)] =
    passes.flatten
      .groupMapReduce(_._1)(r => (r._2 +: r._3).min)(math.min)
      .toSeq.sortBy(_._1)

  /** The self-sufficient trailer line: the driver records only the LAST
    * 2000 chars of stdout (minus sbt's trailing "[success] ..." line),
    * so the complete per-query map must fit ~1900 chars. 96+ query
    * names alone are ~1700 chars of JSON, which is why values are
    * integer DECISECONDS under "queries_ds" (5 = 0.5s) — the only
    * encoding that fits. When the suite outgrows even that (125
    * queries at round 14 dropped 34 fastest rows), the FASTEST
    * entries are dropped first — the slow queries are the signal —
    * but no row goes driver-INVISIBLE: the dropped rows are rolled up
    * into "omitted_fams_ds", per-FAMILY decisecond sums keyed by the
    * query-name prefix (everything before the first '_': ann, dedup,
    * emb, g, t, w, …), alongside the "omitted" count. A fast row that
    * regresses past the heavy rows re-enters the individual map by
    * construction (drop order is by time), and one that regresses
    * within the omitted tail moves its family sum — either way the
    * round-over-round diff sees it. Full-precision maps live in the
    * earlier stdout line and BENCH_SELF.json. */
  private[graft] def trailerJson(best: Seq[(String, Double)], value: Double,
      totalBest: Double, loadVariance: Double, noisy: Boolean,
      retried: Boolean, budget: Int = 1915): String = {
    def r2(v: Double): String = (math.round(v * 100) / 100.0).toString
    def famOf(name: String): String = name.takeWhile(_ != '_')
    def render(kept: Seq[(String, Double)]): String = {
      val m = kept.map { case (k, v) =>
        "\"" + k + "\":" + math.round(v * 10) }.mkString("{", ",", "}")
      val dropped = best.filterNot(b => kept.exists(_._1 == b._1))
      val om = if (dropped.isEmpty) "" else {
        val fams = dropped.groupBy(b => famOf(b._1)).toSeq.sortBy(_._1)
          .map { case (f, rs) =>
            "\"" + f + "\":" + math.round(rs.map(_._2).sum * 10) }
          .mkString("{", ",", "}")
        s""","omitted":${dropped.size},"omitted_fams_ds":$fams"""
      }
      s"""{"metric":"total","value":${r2(value)},"unit":"sec","total_best":${r2(totalBest)},"lv":${r2(loadVariance)},"noisy":$noisy,"retried":$retried,"queries_ds":$m$om}"""
    }
    // drop fastest-first until the line fits the tail budget
    var kept = best
    var line = render(kept)
    while (line.length > budget && kept.nonEmpty) {
      kept = kept.sortBy(-_._2).dropRight(1).sortBy(_._1)
      line = render(kept)
    }
    line
  }

  /** One bench pass: each query run once cold and `runsPerQuery - 1`
    * times warm, caches cleared after each query. A noop sink forces
    * full materialization of every column — count() would let
    * Catalyst prune projection-only queries to a metadata scan and
    * under-report them. A run that throws still yields its
    * time-to-failure, so every map keeps one row per query, and the
    * query's name is returned beside the measurements so the record
    * can say that its time is not a measurement. Each query's route
    * decisions and derived-cache records in its cold run come back
    * keyed by name. */
  private[graft] def measurePass(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      runsPerQuery: Int): (Measured, Set[String], Map[String, Map[String, Route.Decision]],
      Map[String, Map[String, DerivedCache.Record]]) = {
    var failed = Set.empty[String]
    var routes = Map.empty[String, Map[String, Route.Decision]]
    var derived = Map.empty[String, Map[String, DerivedCache.Record]]
    val measured = queries.map { case (name, fn) =>
      def timed(run: String): Double = {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name ($run) failed: ${e.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }
      Route.take(); DerivedCache.take()
      val cold = timed("cold")
      routes += name -> Route.take()
      derived += name -> DerivedCache.take()
      val warms = (1 until runsPerQuery).map(i => timed(s"warm$i"))
      spark.catalog.clearCache()
      System.err.println(f"[bench] $name%-24s cold $cold%8.2fs  warm " +
        warms.map(w => f"$w%.2fs").mkString(" "))
      (name, cold, warms)
    }
    (measured, failed, routes, derived)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup so the first timed query doesn't absorb the
    // JIT/codegen/session warmup. One query per table family:
    // measured ~8s of one-time JVM JIT (regex/md5/vector codegen
    // paths) otherwise lands on whichever query touches the family
    // first and misreports it as plan cost.
    for (w <- Seq("q1_pricing_summary", "t_fingerprint", "ann_brute_topk"))
      try SparkEntry.queries(w)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => }
    spark.catalog.clearCache()
    // N runs per query (default 3: one cold + two warm). On a noisy
    // shared box (co-tenant load spikes measured 2-27s on identical
    // runs — they twice polluted round-over-round comparisons) the
    // per-query MIN over N real runs is the least-contended estimate
    // of plan cost, and the warm-run spread is a per-run LOAD
    // VARIANCE signal: identical plans re-run back-to-back only
    // diverge under external load.
    // Non-numeric values fall back to 3 rather than crashing the whole
    // bench; values below 2 are clamped (min/variance need one cold +
    // one warm run) and both conditions are logged so the env var's
    // apparent no-op is explained.
    val runsRequested = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map { raw =>
      scala.util.Try(raw.toInt).getOrElse {
        System.err.println(s"[bench] SPARK_GRAFT_BENCH_RUNS='$raw' is not a number; using 3")
        3
      }
    }.getOrElse(3)
    if (runsRequested < 2)
      System.err.println(s"[bench] SPARK_GRAFT_BENCH_RUNS=$runsRequested clamped to 2 (need cold+warm)")
    val runsPerQuery = math.max(2, runsRequested)
    // a query that threw in any pass is listed in `failed`
    var failed = Set.empty[String]
    var routes = Map.empty[String, Map[String, Route.Decision]]
    var derived = Map.empty[String, Map[String, DerivedCache.Record]]
    def measureAll(): Measured = {
      val (m, f, r, d) = measurePass(spark, sfDir, SparkEntry.queries.toSeq.sortBy(_._1),
        runsPerQuery)
      failed ++= f
      routes ++= r
      derived = d ++ derived // the first pass's cold runs are the builds
      m
    }
    // AUTO-RETRY on load pollution: multiple recorded rounds shipped
    // numbers measured under co-tenant spikes (variance 4.7-28.8) that
    // re-measured at baseline on a calm box. Escalate: re-run the WHOLE
    // suite (up to 4 total passes) until one lands under NoisyThreshold
    // — each retry is a fresh same-JVM pass (warm JIT, cold caches via
    // clearCache), i.e. the same measurement protocol as the warm runs
    // it is judged by. Per-query bests carry across ALL passes, so a
    // burst in one pass cannot poison a query's best-of.
    val MaxAttempts = 4
    var passes = Vector(measureAll())
    while (passes.size < MaxAttempts &&
        passes.map(loadVarianceOf).min > NoisyThreshold) {
      System.err.println(f"[bench] load_variance ${passes.map(loadVarianceOf).min}%.2f > " +
        f"$NoisyThreshold%.1f — box contended; retrying the full suite " +
        f"(attempt ${passes.size + 1}/$MaxAttempts)")
      passes :+= measureAll()
    }
    val (results, loadVariance) = calmestOf(passes)
    val retried = passes.size > 1
    def jsonMap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val cold = jsonMap(results.map(r => r._1 -> r._2))
    val warm = jsonMap(results.map(r => r._1 -> r._3.min))
    val bestPairs = crossAttemptBest(passes)
    val best = jsonMap(bestPairs)
    val totalBest = bestPairs.map(_._2).sum
    val noisy = loadVariance > NoisyThreshold
    // Double.toString is locale-independent; the f-interpolator is NOT
    // (a comma-decimal locale would emit "1,43" and break the JSON)
    val loadVarStr = (math.round(loadVariance * 100) / 100.0).toString
    val failedNames = failed.toSeq.sorted
    if (failedNames.nonEmpty)
      System.err.println(s"[bench] ${failedNames.size} of ${SparkEntry.queries.size} " +
        s"queries FAILED: ${failedNames.mkString(", ")}")
    val failedJson = failedNames.map(Verify.jsonStr).mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$cold,"queries_warm":$warm,"queries_best":$best,"total_best":$totalBest,"runs_per_query":$runsPerQuery,"load_variance":$loadVarStr,"noisy":$noisy,"retried":$retried,"failed":$failedJson,"sf":"$sfDir"}"""
    println(json)
    // Self-record the complete JSON to a file as well: the stdout
    // capture path once truncated its tail and silently dropped the
    // first 7 queries from the recorded artifact — the file is the
    // complete record regardless of any pipe buffer length.
    // The file alone also carries each query's route decisions and
    // derived-cache records.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json.dropRight(1) + ",\"routes\":" + Verify.routesJson(routes) +
        ",\"derived\":" + DerivedCache.json(derived) + "}\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    // The full line above is ~8k chars at 96 queries, and the driver
    // records only the LAST 2000 chars of stdout — which truncated
    // the per-query map out of every round's artifact (parsed:null).
    // Emit a self-sufficient TRAILER line LAST, guaranteed (length
    // guard) to fit the 2000-char tail even with sbt's trailing
    // "[success] ..." line, carrying the headline numbers and the
    // complete per-query best map in integer deciseconds.
    println(trailerJson(bestPairs, total, totalBest, loadVariance, noisy, retried))
    spark.stop()
  }
}
