package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** Declarative SQL front door: registers every star-schema table of
  * an sf dir as a temp view — through the SAME loaders the DataFrame
  * API uses (NTZ timestamp normalization, under-split fan-out) — plus
  * the graft native functions, so `spark.sql("...")` is a
  * first-class way to drive the engine and the DuckDB-oracle
  * comparison becomes symmetric: the ANSI subset of
  * `SparkEntry.oracleSql` runs verbatim on both engines
  * (SqlGatewaySpec pins that round trip).
  *
  * The engine's contract remains the DataFrame API — this is a
  * convenience surface, not a second query path: a view is just the
  * loader's DataFrame, so Catalyst sees identical plans (pushdown,
  * pruning, AQE) whichever door a query comes through.
  */
object SqlGateway {

  /** Table names registered by [[open]], in registration order. */
  val TableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Register all tables of `dir` as temp views + native functions.
    * Idempotent; re-opening on another dir repoints the views. */
  def open(spark: SparkSession, dir: String): Unit = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    graft.functions.DuckDbCompat.ensureRegistered(spark)
    // DuckDB string literals keep backslashes ('\s+' IS backslash-s-
    // plus); Spark's default parser eats them as escapes, silently
    // turning every regex in a shared oracle text into garbage. This
    // parser mode matches DuckDB (and standard SQL). Engine code is
    // unaffected: DataFrame-API literals never pass through the SQL
    // parser, and no in-repo expr()/selectExpr text uses backslashes.
    // set only when needed: Spark warns that the conf is deprecated
    // on every set, and open runs once per gateway query
    if (spark.conf.get("spark.sql.parser.escapedStringLiterals", "false") != "true")
      spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    for (t <- TableNames) load(spark, dir, t).createOrReplaceTempView(t)
  }

  /** One query through the SQL door. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    open(spark, dir)
    spark.sql(query)
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => Tables.events(spark, dir)
      case "documents" => Tables.documents(spark, dir)
      case "embeddings" => Tables.embeddings(spark, dir)
      case t => Tables.table(spark, dir, t)
    }
}
