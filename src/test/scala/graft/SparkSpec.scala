package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs — small parallelism (tests run on
  * tiny data; 32-way shuffle would be pure overhead here). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  // SqlGateway.open's parser mode is session-wide, and Spark warns
  // that the conf is deprecated on every copy of the session conf
  // (each streaming micro-batch makes one): a suite that opened the
  // gateway hands the shared session on without it
  override def afterAll(): Unit = {
    val escaped = "spark.sql.parser.escapedStringLiterals"
    if (spark.conf.getOption(escaped).contains("true")) spark.conf.unset(escaped)
    super.afterAll()
  }

  /** Runs `body` with the `dist` gates forced to their distributed
    * route, then asserts from the route record that each of them went
    * dist by force and each of `local` was decided local — so a route
    * pin shows which routes it really compared. Route decisions are
    * made when a query is built; collect inside `body` anyway. */
  def withRoutes[T](dist: Seq[String] = Nil, local: Seq[String] = Nil)(
      body: => T): T = {
    Route.take()
    val out = Route.forcingDist(spark, dist: _*)(body)
    val got = Route.take()
    dist.foreach(g => assert(got.get(g).exists(d => !d.local && d.forced),
      s"gate $g was not forced dist: ${got.get(g)}"))
    local.foreach(g => assert(got.get(g).exists(_.local),
      s"gate $g was not decided local: ${got.get(g)}"))
    out
  }

  /** The route `gate` took in its latest decision since the last
    * take — the record is taken, so each call sees fresh decisions. */
  def routeOf(gate: String): String =
    Route.take().get(gate).fold("undecided")(_.route)

  /** Sorted full rows: a multiset, so a route that duplicates or drops
    * a repeated row (or a repeated key) fails the comparison. */
  def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))

  def resourcePath(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  def resourceText(name: String): String = {
    val src = scala.io.Source.fromInputStream(
      getClass.getClassLoader.getResourceAsStream(name), "UTF-8")
    try src.mkString finally src.close()
  }
}

object SparkSpec {
  // the production factory, so specs run the engine Bench and Verify
  // run: graft extensions, optimizer rules and the ASOF-capable parser
  lazy val session: SparkSession = Session.builder("local[4]", 4)
    .appName("graft-test")
    .getOrCreate()
}
