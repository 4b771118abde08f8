package graft.tools

import graft.Session

/** One-shot diagnostic: classify WHY each SparkEntry.oracleSql text
  * fails through spark.sql — parse error, unresolved function (and
  * which), or runtime — to size a DuckDB-compat alias shim.
  * Usage: runMain graft.tools.OracleDialectScan [sfDir] */
object OracleDialectScan {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = Session.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SqlGateway.open(spark, dir)
    graft.SparkEntry.registerGatedQueries
      .foreach(n => graft.SparkEntry.queries(n)(spark, dir).count())
    val fnRe = "(?s).*routine `?([A-Za-z0-9_]+)`?.*".r
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val verdict = try { spark.sql(q).collect(); "OK" } catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          "PARSE: " + e.getMessage.linesIterator.take(1).mkString.take(120)
        case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNRESOLVED_ROUTINE") =>
          e.getMessage match {
            case fnRe(f) => s"FUNC: $f"
            case _ => "FUNC: ?" + e.getMessage.take(100)
          }
        case e: org.apache.spark.sql.AnalysisException =>
          "ANALYSIS: " + e.getMessage.linesIterator.take(1).mkString.take(120)
        case e: Throwable =>
          "RUNTIME: " + String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(120)
      }
      println(f"[dialect] $name%-26s $verdict")
    }
    spark.stop()
  }
}
