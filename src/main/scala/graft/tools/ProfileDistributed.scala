package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Session

/** Volume rehearsal for the PAST-THE-BOUND distributed legs of the
  * graph/cluster family — the one set of 100 TB paths the ×40
  * ProfileSuite10x pass never measured: at the rehearsal volumes the
  * degrade-don't-break route gates (`model_nodes`, `broadcast_edges`,
  * `local_finish` — see graft.Route) keep the suite on the bounded
  * local-model paths, so the distributed twins
  * (broadcast-rank superstep join + map-side sum with localCheckpoint;
  * wedge-explode + shuffle closing join; min-label propagation with
  * the large-star/small-star handoff) were equality-pinned at 1× but
  * never timed at volume. This tool FORCES each leg's gates to their
  * dist route (`spark.graft.route.dist`) and runs each leg at 1× and
  * `reps`×:
  *
  *   1. 1× canonical-equality gate: the forced-distributed output must
  *      be row-identical (sorted-row MD5) to the default-path output —
  *      the spec identity re-proven on the profiled data;
  *   2. ratio gate: wall(reps×)/wall(1×) of the FORCED leg must stay
  *      inside the linearly-scaled bound, same protocol as
  *      ProfileSuite10x (bounds are per-10×, scaled by reps/10).
  *
  * Bounds: the distributed legs carry per-round fixed costs (a
  * broadcast + an action per superstep / propagation round) that the
  * 1× denominator pays in full while the reps× numerator amortizes,
  * so their ratios tend to read LOWER than the bounded paths'. They
  * still get the same LinearBound the suite pass uses, with g1/g3 on
  * the relaxed graph bound ProfileSuite10x grants g3's handoff.
  *
  * Usage: runMain graft.tools.ProfileDistributed [sfDir] [reps] [runs]
  * Exits non-zero on any 1× equality mismatch or bound violation.
  */
object ProfileDistributed {

  import graft.queries.{GraphQueries, TextQueries}
  import graft.sources.Tables
  import org.apache.spark.sql.functions.col

  /** (name, forced-distributed form, per-10× ratio bound). g3's wedge
    * leg forces the basket gates too, so it times the wedge join at
    * 1× as well, not the driver kernel the 1× basket fits.
    * NaN bound = equality-gate only, no volume leg: dedup_clusters'
    * PAIR SOURCE is the exact n-gram-Jaccard quadratic (the fenced
    * verification-scale ground truth — absent from ProfileSuite10x's
    * plan for the same reason), so replicating it 40× is running the
    * documented-quadratic oracle at volume, not measuring the
    * propagation leg. The propagation leg itself IS volume-measured
    * here through g4_components (same clustersOf engine, tractable
    * support-thresholded pair source) and dedup_clusters_lsh (banded
    * pair source, report-only output-quadratic by contract). */
  val Plan: Seq[(String, (SparkSession, String) => DataFrame, Double)] = Seq(
    ("g1_pagerank[dist]",
      forced("raw_collect", "basket_model", "model_nodes")(GraphQueries.g1PageRank(_, _)),
      30.0),
    ("g3_triangles[wedge]",
      forced("raw_collect", "basket_model", "broadcast_edges")((s, d) =>
        GraphQueries.g3TrianglesOf(s,
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")))),
      30.0),
    ("g4_components[prop]",
      forced("local_finish")(GraphQueries.g4Components(_, _)),
      ProfileSuite10x.LinearBound),
    ("dedup_clusters[prop]",
      forced("local_finish")(TextQueries.dedupClusters),
      Double.NaN),
    ("dedup_clusters_lsh[prop]",
      forced("local_finish")(TextQueries.dedupClustersLsh),
      // output-quadratic under replication by the same contract as the
      // suite pass (near-dup families grow reps×, pair output reps²×) —
      // report-only there, report-only here
      0.0))

  /** The default-path twin for the 1× equality gate: the declared
    * query the leg is named after. */
  def Default(leg: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries(leg.takeWhile(_ != '['))

  /** `fn` with `gates` forced to their dist route. The gates decide
    * when the query is built, so the lazy frame may run after. */
  private def forced(gates: String*)(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, d) => graft.Route.forcingDist(s, gates: _*)(fn(s, d))

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 40
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val bigDir = ProfileSuite10x.replicate(spark, dir, reps)
    println(s"[dist] corpus at ${reps}x -> $bigDir")

    var failures = List.empty[String]

    // 1× equality gate first (and JIT warmup as a side effect)
    Plan.foreach { case (name, forced, _) =>
      spark.catalog.clearCache(); graft.ops.CacheScope.releaseAll(spark)
      val want = Canon.of(Default(name)(spark, dir))
      spark.catalog.clearCache(); graft.ops.CacheScope.releaseAll(spark)
      val got = Canon.of(forced(spark, dir))
      val ok = want == got
      if (!ok) failures ::= s"$name equality"
      println(s"[dist] $name 1x equality vs default path: " +
        (if (ok) s"OK (${want._1} rows)" else s"MISMATCH ($want vs $got)"))
    }

    def bestOf(fn: (SparkSession, String) => DataFrame, d: String): Double =
      (1 to runs).map { _ =>
        spark.catalog.clearCache(); graft.ops.CacheScope.releaseAll(spark)
        val s = System.nanoTime()
        fn(spark, d).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - s) / 1e9
      }.min

    Plan.foreach { case (name, forced, bound10) =>
      if (bound10.isNaN)
        println(f"[dist] $name%-26s equality-gated at 1x only " +
          "(quadratic pair-source contract — see Plan doc)")
      else {
        val bound = if (bound10 <= 0) 0.0 else bound10 * reps / 10.0
        val one = bestOf(forced, dir)
        val ten = bestOf(forced, bigDir)
        val ratio = ten / one
        val verdict =
          if (bound <= 0) "report-only (output-quadratic by contract)"
          else if (ratio <= bound) f"PASS (<= $bound%.0fx)"
          else { failures ::= name; f"FAIL (> $bound%.0fx)" }
        println(f"[dist] $name%-26s 1x $one%7.2fs  ${reps}x $ten%8.2fs  ratio $ratio%6.2f  $verdict")
        System.out.flush()
      }
    }

    if (failures.nonEmpty) {
      System.err.println(s"[dist] FAILURES: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("[dist] PASS: all forced-distributed legs 1x-equal and inside bounds")
    spark.stop()
  }
}
