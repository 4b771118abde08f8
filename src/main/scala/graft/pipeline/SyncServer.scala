package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.Session
import graft.model.{VendorApi, VendorSummary}
import graft.sink.MergeWriter
import graft.sources.HttpSource

/** The reference's deployment shape — a long-running HTTP service
  * (`/root/reference/src/index.js:12-31`: Express app with
  * `GET /health`, `GET /products`, `GET /products/wholecell`) — on
  * the JDK's built-in `com.sun.net.httpserver` (zero added
  * dependencies; the engine stays a library, this is the thin
  * service skin over `SyncJob`):
  *
  *  - `GET /health` → `{"ok": true, ...}` (index.js:12-14);
  *  - `GET /products` → full sync, responds
  *    `{message, summary, timestamp}` (products.js:408-412);
  *  - `GET /products/wholecell` → filtered sync, wholecell vendors
  *    only (products.js:425-463), incl. the dedicated
  *    "No Wholecell vendors found" empty-summary response;
  *  - errors → 500 `{error, message, timestamp}` envelope
  *    (products.js:414-420) — the K4 error row machinery already
  *    isolates per-vendor failures inside the 200 path, exactly like
  *    the reference's allSettled.
  *
  * Requests serialize through one sync at a time (the reference's
  * node event loop does the same); each request is one Spark job
  * DAG, so throughput scales with the cluster, not the service. */
object SyncServer {

  /** JSON string escaping per RFC 8259 (the only JSON writing this
    * service does — no library needed for a fixed shape). */
  private def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** One summary entry in the reference's response field names
    * (products.js:343-353 for ok rows; :400-405 error rows carry
    * vendorId/database/error only). */
  private[pipeline] def summaryJson(s: VendorSummary): String =
    if (s.status == "ok")
      s"""{"vendorId":"${esc(s.vendorId)}","database":"${esc(s.database)}",""" +
        s""""totalFetched":${s.totalFetched},"validProducts":${s.validProducts},""" +
        s""""skippedProducts":${s.skippedProducts},"newVendorProducts":${s.newVendorProducts},""" +
        s""""updatedVendorProducts":${s.updatedVendorProducts},""" +
        s""""totalStockProcessed":${s.totalStockProcessed},"totalOperations":${s.totalOperations}}"""
    else
      s"""{"vendorId":"${esc(s.vendorId)}","database":"${esc(s.database)}",""" +
        s""""error":"${esc(s.error.getOrElse(s.status))}"}"""

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length)
    try x.getResponseBody.write(bytes) finally x.close()
  }

  private def nowIso(): String = java.time.Instant.now().toString

  /** Start the service; returns the server (caller stops it).
    * `apis`/`fetch`/`sinkPath` are injected so tests drive the
    * service with fixtures and production wires the real HTTP
    * fetcher — same separation as `SyncJob.sync` itself. */
  def start(spark: SparkSession, port: Int, apis: () => Dataset[VendorApi],
      fetch: HttpSource.Fetcher, sinkPath: String,
      mode: MergeWriter.MergeMode = MergeWriter.Accumulate): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val lock = new Object

    def runSync(filterDb: Option[String], doneMsg: String, x: HttpExchange): Unit =
      try {
        val res = lock.synchronized {
          SyncJob.sync(spark, apis(), fetch, sinkPath, mode, filterDb)
        }
        if (filterDb.isDefined && res.summary.isEmpty)
          respond(x, 200, s"""{"message":"No Wholecell vendors found","summary":[],"timestamp":"${nowIso()}"}""")
        else
          respond(x, 200, s"""{"message":"${esc(doneMsg)}","summary":[""" +
            res.summary.map(summaryJson).mkString(",") +
            s"""],"timestamp":"${nowIso()}"}""")
      } catch { case e: Exception =>
        respond(x, 500, s"""{"error":"Failed to sync vendors","message":"${esc(String.valueOf(e.getMessage))}","timestamp":"${nowIso()}"}""")
      }

    server.createContext("/health", (x: HttpExchange) =>
      respond(x, 200, s"""{"ok":true,"timestamp":"${nowIso()}"}"""))
    server.createContext("/products", { (x: HttpExchange) =>
      (x.getRequestMethod, x.getRequestURI.getPath) match {
        case ("GET", "/products") =>
          runSync(None, "Vendor sync complete", x)
        case ("GET", "/products/wholecell") =>
          runSync(Some(graft.model.Schemas.WholecellDb),
            "Wholecell vendor sync complete", x)
        case ("GET", p) =>
          respond(x, 404, s"""{"error":"not found","message":"${esc(p)}","timestamp":"${nowIso()}"}""")
        case (m, _) =>
          respond(x, 405, s"""{"error":"method not allowed","message":"${esc(m)}","timestamp":"${nowIso()}"}""")
      }
    })
    // small fixed pool: requests are Spark jobs; the sync lock keeps
    // them serialized while health checks stay responsive
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    server
  }

  /** Production main: credentials from parquet, real HTTP fetcher
    * against the vendor API base URL.
    * Usage: runMain graft.pipeline.SyncServer <credentialsParquet>
    *   <sinkPath> <adminPath> <vendorApiBaseUrl> [port]
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: SyncServer <credentialsParquet> <sinkPath> <adminPath> <vendorApiBaseUrl> [port]")
    val port = if (args.length > 4) args(4).toInt else 8080
    val spark = Session.builder(sys.env.getOrElse("SPARK_MASTER", "local[32]"), 32).getOrCreate()
    spark.conf.set("graft.sync.admin.path", args(2))
    import spark.implicits._
    val creds = () => spark.read.parquet(args(0)).as[VendorApi]
    val server = start(spark, port, creds, HttpSource.httpFetcher(args(3)), args(1))
    println(s"graft sync service listening on port ${server.getAddress.getPort}")
    Thread.currentThread().join()
  }
}
