package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Session

/** Round-17 measurement harness: decompose the expensive query
  * families into named phases and time each phase's noop
  * materialization separately (guide §1.4/§1.5), so optimization
  * effort lands where the seconds are instead of where they are
  * presumed. Phases are cumulative plans (each includes its
  * predecessors' work), so the marginal cost of phase k is
  * t(k) − t(k−1) read down a family's block.
  * Usage: runMain graft.tools.ProfilePhases [sfDir] [family...]
  */
object ProfilePhases {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val fams = if (args.length > 1) args.drop(1).toSet
      else Set("graph", "dedup", "split")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timed(name: String)(fn: => Unit): Unit = {
      spark.sparkContext.setJobDescription(name)
      // run twice, report both: first touch + steady state
      val t0 = System.nanoTime(); fn
      val t1 = System.nanoTime(); fn
      val t2 = System.nanoTime()
      println(f"[phase] $name%-36s first ${(t1 - t0) / 1e9}%6.2fs  " +
        f"second ${(t2 - t1) / 1e9}%6.2fs")
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(null)
    }
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val li = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))

    if (fams("graph")) {
      val sets = li.groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("ps"))
      val pairExpr = flatten(transform(col("ps"), a =>
        transform(filter(col("ps"), b => b > a), b =>
          struct(a.as("src"), b.as("dst")))))
      def pairs = sets.select(explode(pairExpr).as("p"))
        .select(col("p.src"), col("p.dst"))
      timed("graph: order sets only")(noop(sets))
      timed("graph: pair explode")(noop(pairs))
      timed("graph: pairs.distinct")(noop(pairs.distinct()))
      timed("graph: support counts>=2")(noop(
        pairs.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("sup"))
          .filter(col("sup") >= 2)))
      timed("g1_pagerank full")(noop(
        graft.queries.GraphQueries.g1PageRank(spark, dir)))
      timed("g3_triangles full")(noop(
        graft.queries.GraphQueries.g3Triangles(spark, dir)))
      timed("g4_components full")(noop(
        graft.queries.GraphQueries.g4Components(spark, dir)))
      timed("g6_bfs full")(noop(
        graft.queries.GraphQueries.g6BfsDists(spark, dir)))
      timed("g2_copurchase full")(noop(
        graft.queries.GraphQueries.g2CopurchaseLift(spark, dir)))
    }

    if (fams("ngram")) {
      val pairs = graft.queries.TextQueries.dedupNgramJaccard(spark, dir)
      timed("ngram: pair build (full)")(noop(pairs))
      println(s"[phase] ngram: pair count = " +
        graft.queries.TextQueries.dedupNgramJaccard(spark, dir).count())
      spark.catalog.clearCache()
      timed("dedup_clusters full")(noop(
        graft.queries.TextQueries.dedupClusters(spark, dir)))
    }

    if (fams("dedup")) {
      val docs = graft.sources.Tables.documents(spark, dir)
      timed("dedup: hashed shingles")(noop(
        graft.queries.TextQueries.hashedShinglesOf(docs)))
      timed("dedup: minhash bands")(noop(
        graft.queries.TextQueries.minhashBandsOf(
          graft.queries.TextQueries.hashedShinglesOf(docs))))
      timed("dedup: minhash pairs (full)")(noop(
        graft.queries.TextQueries.dedupMinhash(spark, dir)))
      timed("dedup_clusters_lsh full")(noop(
        graft.queries.TextQueries.dedupClustersLsh(spark, dir)))
    }

    if (fams("split")) {
      timed("t_split_safe full")(noop(
        graft.queries.TextQueries.tSplitSafe(spark, dir)))
    }
    spark.stop()
  }
}
