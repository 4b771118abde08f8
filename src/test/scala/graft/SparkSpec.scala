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
