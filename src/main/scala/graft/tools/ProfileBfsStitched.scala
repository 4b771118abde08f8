package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Session

/** g6 BFS volume rehearsal on a CONNECTED ×reps graph — closes the
  * round-12 gap where ProfileSuite10x's replicas are disjoint
  * components, so the root's traversal touched ONE replica and only
  * the edge build scaled. Here the replicas are stitched into a chain
  * with bridge edges and the FRONTIER ITSELF scales:
  *
  *  - lineitem is replicated `reps`× with key offsets (the suite's
  *    distinct-data semantics, narrowed to the two columns g6 reads);
  *  - for each adjacent replica pair (k, k+1), TWO synthetic bridge
  *    orders each contain replica k's copy of the base BFS ROOT and
  *    replica k+1's copy — two co-occurrences clear the support-2
  *    threshold, so the stitched graph gains exactly one
  *    root_k ↔ root_{k+1} edge per seam;
  *  - the base root stays the global minimum node, so the stitched
  *    traversal starts in replica 0 and must cross every seam.
  *
  * The traversal-scaled witness is EXACT: each replica mirrors the
  * base component, bridges add no nodes, so the stitched reach must
  * equal reps × the base reach (asserted), and the max distance must
  * exceed the base eccentricity (the frontier really left replica 0).
  * The wall-clock ratio gets the suite's linear bound scaled to reps.
  *
  * Usage: runMain graft.tools.ProfileBfsStitched [sfDir] [reps] [runs]
  */
object ProfileBfsStitched {
  private val KeyOffset = 100000000L
  // far above any replica's offset key range (reps × KeyOffset + base
  // keys), so a bridge order can never merge into a replica order's
  // part set (a collision at reps=40 surfaced as one stray edge)
  private val BridgeOrderBase = 10000000000L
  private val LinearBoundPer10x = 14.0

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val reps = if (args.length > 1) args(1).toInt else 10
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val maxHops = 20 + 2 * reps // runaway bound only — the loop exits
                                // at the first empty frontier
    def bfs(d: String): DataFrame =
      graft.queries.GraphQueries.g6BfsDists(spark, d, maxHops = maxHops)
    def best(d: String): (Double, Long, Long) = {
      var bestS = Double.MaxValue; var n = 0L; var mx = 0L
      for (_ <- 1 to runs) {
        val t0 = System.nanoTime()
        val rows = bfs(d).agg(count(lit(1)), max(col("dist"))).collect()(0)
        bestS = math.min(bestS, (System.nanoTime() - t0) / 1e9)
        n = rows.getLong(0); mx = rows.getLong(1)
      }
      (bestS, n, mx)
    }

    val (baseS, baseN, baseMax) = best(dir)

    // build (or reuse) the stitched corpus
    val root = graft.DerivedCache.ensure(spark, s"bfsstitch$reps", dir,
        Seq("lineitem.parquet")) { out =>
      val base = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      val big = (0 until reps).map(k => base
          .select((col("l_orderkey") + lit(k * KeyOffset)).as("l_orderkey"),
            (col("l_partkey") + lit(k * KeyOffset)).as("l_partkey")))
        .reduce(_ unionByName _)
      // the base BFS root: g6's dist-0 row
      val r = bfs(dir).filter(col("dist") === 0)
        .collect()(0).getLong(0)
      import spark.implicits._
      val bridges = (0 until reps - 1).flatMap { k =>
        (0 until 2).flatMap { j =>
          val ok = BridgeOrderBase + 2L * k + j
          Seq((ok, r + k * KeyOffset), (ok, r + (k + 1) * KeyOffset))
        }
      }.toDF("l_orderkey", "l_partkey")
      big.unionByName(bridges).write.mode("overwrite")
        .parquet(s"$out/lineitem.parquet")
    }

    val (bigS, bigN, bigMax) = best(root)
    val ratio = bigS / baseS
    val bound = LinearBoundPer10x * (reps / 10.0)
    val reachOk = bigN == reps.toLong * baseN
    val depthOk = bigMax > baseMax
    val pass = ratio <= bound && reachOk && depthOk
    println(f"[bfs-stitched] g6_bfs_dists 1x $baseS%6.2fs (reach $baseN, " +
      f"maxd $baseMax)  ${reps}x $bigS%6.2fs (reach $bigN, maxd $bigMax)  " +
      f"ratio $ratio%5.2f  " +
      (if (pass) f"PASS (<= $bound%.1fx, reach == ${reps}x base, depth grew)"
       else "FAIL" +
         (if (ratio > bound) f" ratio > $bound%.1f" else "") +
         (if (!reachOk) s" reach $bigN != ${reps.toLong * baseN}" else "") +
         (if (!depthOk) " depth did not grow" else "")))
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
