package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * routes.json — each query's route-gate decisions (see [[Route]]).
  * `-Dspark.graft.route.dist=*` runs every query on its at-scale
  * routes against the same oracle. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var routes = Map.empty[String, Map[String, Route.Decision]]
    val failures = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      Route.take()
      val r = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        // stdout, loudly: a thrown query produces no output dir, and
        // dir-driven checkers would otherwise never mention it
        println(s"[verify] FAILED $name: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
      routes += name -> Route.take()
      // several pipelines persist() intermediates; without clearing,
      // every prior query's cache stays resident for the next one
      // (same isolation rule Bench applies)
      spark.catalog.clearCache()
      r
    }
    if (failures.nonEmpty)
      println(s"[verify] ${failures.size} of ${SparkEntry.queries.size} queries FAILED: " +
        failures.map(_._1).mkString(", "))
    // oracle texts + full query inventory, so checkers can flag
    // queries that threw (no output dir) instead of silently
    // skipping them
    Verify.writeDumpManifests(outDir, SparkEntry.queries.keys.toSeq)
    Files.writeString(Paths.get(s"$outDir/routes.json"), routesJson(routes))
    spark.stop()
  }

  /** query → that query's route decisions, as one JSON object. */
  private[graft] def routesJson(byQuery: Map[String, Map[String, Route.Decision]]): String =
    byQuery.toSeq.sortBy(_._1)
      .map { case (q, ds) => jsonStr(q) + ":" + Route.json(ds) }
      .mkString("{", ",", "}")

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. ONE definition, shared with tools.VerifySome, so
    * the full dump and the prefix-filtered dump can never diverge on
    * escaping. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Write the driver-compare manifests (`oracle_sql.json` restricted
    * to `names`, plus the `queries.json` inventory) into `outDir`. */
  private[graft] def writeDumpManifests(outDir: String, names: Seq[String]): Unit = {
    // the filter below intentionally narrows to `names` (VerifySome
    // passes a prefix subset) — but an oracleSql key with NO queries
    // entry would be dropped by it on the FULL dump too, and the
    // driver would never check that oracle. Fail loudly instead of
    // silently filtering.
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    require(orphaned.isEmpty,
      s"oracleSql entries with no matching queries entry (the driver " +
        s"would never check them): ${orphaned.toSeq.sorted.mkString(", ")}")
    val osql = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      osql.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
        .mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      names.sorted.map(jsonStr).mkString("[", ",", "]"))
  }
}
