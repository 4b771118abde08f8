package graft.tools

import java.sql.Timestamp
import scala.util.{Success, Try}

import graft.Session
import graft.model.VendorApi
import graft.pipeline.SyncJob
import graft.sink.MergeWriter

/** Consumer-style demo of the sync pipeline: run the full §3.1 DAG
  * over the bundled fixtures and print the per-vendor summary and
  * sink contents. Usage: runMain graft.tools.SyncDemo [sinkDir]
  *
  * With a real vendor API, replace the fixture fetcher with
  * `HttpSource.httpFetcher(baseUrl)`.
  */
object SyncDemo {
  def main(args: Array[String]): Unit = {
    val sink = (if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("graft-demo").toString) + "/vendor_products"
    val spark = Session.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def res(name: String): String = {
      val src = scala.io.Source.fromInputStream(
        getClass.getClassLoader.getResourceAsStream(name), "UTF-8")
      try src.mkString finally src.close()
    }
    // fixtures ship in test resources; fall back to repo-relative path
    def fixture(name: String): String =
      Try(res(name)).getOrElse {
        val p = java.nio.file.Paths.get("src/test/resources", name)
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      }

    spark.conf.set("graft.sync.admin.path",
      new java.io.File("src/test/resources/admin_products.json").getAbsolutePath)

    val apis = Seq(
      VendorApi("va-01", "v-100", "app1", "s1", Some("wholecell")),
      VendorApi("va-02", "v-200", "app2", "s2", None)).toDS()

    val result = SyncJob.sync(spark, apis,
      api => Success(fixture(s"vendor_items_${api.vendorId.replace("-", "")}.json")),
      sink, MergeWriter.Accumulate,
      now = new Timestamp(System.currentTimeMillis()))

    println("=== vendor summaries ===")
    result.summary.foreach(println)
    println("=== sink ===")
    result.sink.orderBy("vendorId", "product").show(50, truncate = false)
    spark.stop()
  }
}
