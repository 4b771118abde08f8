package graft.tools

import graft.Session

/** One-shot diagnostic behind SqlGatewaySpec's inventory test: for
  * every SparkEntry.oracleSql text, report whether it runs through
  * spark.sql and whether its rows equal the DataFrame query's —
  * with the first error line when it doesn't.
  * Usage: runMain graft.tools.PortableScan [sfDir] [namePrefix] */
object PortableScan {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val prefix = if (args.length > 1) args(1) else ""
    val spark = Session.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SqlGateway.open(spark, dir)
    graft.SparkEntry.registerGatedQueries.foreach { n =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, dir).count()
      println(f"[portable] GATED $n%-24s ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    // sorted multiset, not a Set: duplicate-row multiplicity counts
    // (matching the driver gate's canon)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix)).foreach { case (name, q) =>
      val t0 = System.nanoTime()
      def secs = f"${(System.nanoTime() - t0) / 1e9}%.1fs "
      val verdict = try {
        val viaSql = rows(spark.sql(q))
        val sqlSecs = secs
        val viaDf = rows(graft.SparkEntry.queries(name)(spark, dir))
        if (viaSql == viaDf) s"PORTABLE sql=$sqlSecs total=$secs"
        else s"DIVERGENT: sql=${viaSql.size} df=${viaDf.size} " +
          s"onlySql=${viaSql.diff(viaDf).take(1).mkString.take(120)} " +
          s"onlyDf=${viaDf.diff(viaSql).take(1).mkString.take(120)}"
      } catch {
        case e: Throwable =>
          "ERROR: " + String.valueOf(e.getMessage).linesIterator
            .take(1).mkString.take(160)
      }
      println(f"[portable] $name%-26s $verdict")
    }
    spark.stop()
  }
}
