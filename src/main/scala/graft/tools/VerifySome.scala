package graft.tools

import graft.Session

/** Prefix-filtered graft.Verify — dump only the named queries (and
  * their oracle texts) so a single family's oracle can be DuckDB-
  * checked in seconds while iterating, instead of paying the full
  * 120-query Verify pass.
  * Usage: runMain graft.tools.VerifySome <sfDir> <outDir> <prefix>[,<prefix>...] */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, prefixes) = args
    val ps = prefixes.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Session.builder("local[16]", 16).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => ps.exists(n.startsWith))
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      spark.catalog.clearCache()
      println(s"[verifysome] dumped $name")
    }
    // ONE manifest writer (escaping included) shared with the full
    // Verify dump — the two can never diverge on JSON rules
    graft.Verify.writeDumpManifests(outDir, names)
    spark.stop()
  }
}
