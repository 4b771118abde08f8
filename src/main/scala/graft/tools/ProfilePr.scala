package graft.tools

import org.apache.spark.sql.functions._
import graft.Session

/** Scale rehearsal for the graph family (the ProfileScale pattern):
  * replicates the basket corpus `reps`× with l_orderkey offsets —
  * same part vocabulary, `reps`× the baskets, so pair volume scales
  * with the corpus while the rank/degree MODEL stays node-sized
  * (exactly the 100 TB shape: corpora grow, vocabularies don't) —
  * then times g1PageRank's bounded-model and distributed superstep
  * paths at 1× and `reps`× and asserts they stay integer-identical
  * on the replicated graph.
  *
  * Results are recorded in BASELINE.md per round.
  * Usage: runMain graft.tools.ProfilePr [sfDir] [reps]
  */
object ProfilePr {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 10
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def t[A](n: String)(f: => A): A = {
      val t0 = System.nanoTime; val r = f
      println(f"PHASE $n ${(System.nanoTime - t0) / 1e9}%.2f s"); r
    }

    val li1 = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    val liN = (0 until reps).map(i =>
      li1.select((col("l_orderkey") + lit(i.toLong * 1000000000L))
        .as("l_orderkey"), col("l_partkey"))).reduce(_ union _)

    // the dist legs force every gate that keeps g1 off the
    // distributed supersteps; the local legs run `auto`
    val distGates = Seq("raw_collect", "basket_model", "model_nodes")
    def run(tag: String, li: org.apache.spark.sql.DataFrame,
        gates: Seq[String]): Map[Long, Long] = {
      spark.catalog.clearCache()
      t(tag)(graft.Route.forcingDist(spark, gates: _*)(graft.queries.GraphQueries
        .g1PageRankOf(spark, li, 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
    }

    val l1 = run("local-1x", li1, Nil)
    val d1 = run("dist-1x", li1, distGates)
    assert(l1 == d1, "1x: paths diverge")
    val lN = run(s"local-${reps}x", liN, Nil)
    val dN = run(s"dist-${reps}x", liN, distGates)
    assert(lN == dN, s"${reps}x: paths diverge")
    println(s"OK nodes=${l1.size} paths identical at 1x and ${reps}x")
    spark.stop()
  }
}
