package graft.tools

import graft.Session

/** Dump `.explain("formatted")` for SparkEntry queries to one file
  * per query — the round-17 optimization evidence trail
  * (plans/r17/<query>_before.txt / _after.txt). Session semantics
  * mirror Bench (local[$SPARK_GRAFT_CPUS], AQE on) so the captured
  * plan is the one the bench actually runs, at the bench's scale
  * factor.
  *
  * NOTE: building some query frames runs driver-side work (iterative
  * supersteps, DerivedCache index builds), so a full dump is minutes,
  * not seconds. Usage:
  *   runMain graft.tools.DumpPlans <outDir> <suffix> [sfDir] [name ...]
  * (no names = all queries; suffix is e.g. "before"/"after").
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val names = if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plans] $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
