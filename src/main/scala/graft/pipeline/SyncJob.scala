package graft.pipeline

import java.sql.Timestamp
import scala.util.{Failure, Success}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model.{Schemas, VendorApi, VendorSummary}
import graft.ops.{CatalogMatch, OptionAgg}
import graft.sink.MergeWriter
import graft.sources.HttpSource

/** The full-sync entry point — the §3.1 query lifecycle
  * (GET /products, products.js:358-421) as ONE Spark job instead of
  * the reference's per-vendor event-loop fan-out:
  *
  *  - K2 backfill: credentials with null `database` default to
  *    "wholecell" (products.js:370-380);
  *  - dispatch: non-wholecell vendors become static error rows
  *    (products.js:388-393); fetch failures become error rows too —
  *    the Promise.allSettled per-vendor fault isolation
  *    (products.js:383-395) maps to per-vendor Try around ingest;
  *  - all fetched vendors' items are unioned with vendorId as a
  *    column, so grouping/matching/aggregation run set-oriented
  *    across every vendor at once (partition-parallel at scale,
  *    where the reference is a sequential per-vendor loop);
  *  - CatalogMatch (J1/J2), OptionAgg (A1/A2/P*), MergeWriter
  *    (J4/A4/K1) produce the new sink snapshot;
  *  - the A5 summary (products.js:343-353) is computed per vendor
  *    from tagged intermediates.
  */
object SyncJob {

  final case class SyncResult(summary: Seq[VendorSummary], sink: DataFrame)

  /** Width of the vendor-fetch pool: enough to overlap hundreds of
    * vendors' network waits without stampeding the remote API (the
    * reference fires ALL vendors at once via Promise.allSettled —
    * unbounded; a bound is the polite production version). */
  val FetchParallelism = 16

  /** Default overall deadline for the concurrent vendor-fetch phase.
    * `httpFetcher` has its own per-request timeout and bounded
    * retries, but `fetch` is caller-pluggable and a custom fetcher
    * with no internal timeout would otherwise hang the entire sync
    * forever on one vendor with no diagnostic — the deadline converts
    * that into a per-vendor `fetch_timeout` error row and the sync
    * proceeds with the vendors that did answer. */
  val DefaultFetchDeadline: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(10, java.util.concurrent.TimeUnit.MINUTES)

  private[graft] final case class VendorCounters(fetched: Long, valid: Long,
      skipped: Long, inserted: Long, updated: Long, stock: Long)

  /** Run a full sync.
    *
    * @param vendorApis credentials dimension (Schemas.vendorApi shape)
    * @param fetch      per-vendor item fetch (HttpSource.httpFetcher
    *                   in production, fixture JSON in tests)
    * @param sinkPath   keyed parquet sink table path
    * @param mode       Accumulate (reference semantics) | Replace
    * @param filterDb   when set, sync only vendors whose (backfilled)
    *                   database equals it — the §3.2 filtered route
    * @param now        injected clock for deterministic P12 stamps
    * @param credentialsOutPath when set, the K2-backfilled credentials
    *                   are persisted here as parquet (the reference
    *                   updateOne-writes the default back,
    *                   products.js:370-380); happens even under
    *                   dryRun, matching the reference where backfill
    *                   precedes — and is independent of — the sink
    *                   writes
    * @param dryRun     compute the merge and full summary without
    *                   touching the sink (the reference's `syncToDb`
    *                   config flag, config.js:12)
    * @param executorFetch opt-in EXECUTOR-SIDE fetch fan-out
    *                   (HttpSource.fetchOnExecutors): payloads land
    *                   distributed and never transit the driver — for
    *                   vendor counts / payload sizes that outgrow one
    *                   machine. The fetcher must then be serializable;
    *                   `fetchDeadline` does not apply (bound hangs via
    *                   the fetcher's own timeouts). Default stays the
    *                   driver pool: reference semantics, an overall
    *                   deadline, no serialization demands.
    */
  def sync(spark: SparkSession,
      vendorApis: Dataset[VendorApi],
      fetch: HttpSource.Fetcher,
      sinkPath: String,
      mode: MergeWriter.MergeMode = MergeWriter.Accumulate,
      filterDb: Option[String] = None,
      now: Timestamp = new Timestamp(System.currentTimeMillis()),
      credentialsOutPath: Option[String] = None,
      dryRun: Boolean = false,
      fetchDeadline: scala.concurrent.duration.FiniteDuration = DefaultFetchDeadline,
      executorFetch: Boolean = false): SyncResult =
    syncStore(spark, vendorApis, fetch, MergeWriter.ParquetStore(sinkPath),
      mode, filterDb, now, credentialsOutPath, dryRun, fetchDeadline, executorFetch)

  /** As `sync`, against any snapshot backend (parquet path or JDBC
    * table — the reference's sink is a live DB, so JdbcStore is the
    * closest analog). */
  def syncStore(spark: SparkSession,
      vendorApis: Dataset[VendorApi],
      fetch: HttpSource.Fetcher,
      store: MergeWriter.SnapshotStore,
      mode: MergeWriter.MergeMode = MergeWriter.Accumulate,
      filterDb: Option[String] = None,
      now: Timestamp = new Timestamp(System.currentTimeMillis()),
      credentialsOutPath: Option[String] = None,
      dryRun: Boolean = false,
      fetchDeadline: scala.concurrent.duration.FiniteDuration = DefaultFetchDeadline,
      executorFetch: Boolean = false): SyncResult = {

    // K2: backfill missing database to "wholecell" (the credentials
    // dimension is tiny — driver-side by design, like the reference's
    // single find()).
    val apis = vendorApis.collect().toSeq.map(a =>
      a.copy(database = a.database.orElse(Some(Schemas.WholecellDb))))
    credentialsOutPath.foreach { p =>
      // Safe to overwrite in place: `apis` is already materialized on
      // the driver, so this never reads the files it replaces.
      import spark.implicits._
      apis.toDS().write.mode("overwrite").parquet(p)
    }
    val selected = filterDb match {
      case Some(db) => apis.filter(_.database.contains(db))
      case None     => apis
    }

    // Per-vendor ingest with fault isolation. No Spark action here:
    // a per-vendor items.count() would serialize one blocking job per
    // vendor on the driver (the N+1 shape this engine exists to
    // kill); per-vendor fetch totals come from ONE aggregation over
    // the unioned items below.
    //
    // Fetches run CONCURRENTLY on a bounded pool — the reference
    // overlaps vendor syncs with Promise.allSettled
    // (products.js:383-395), and a sequential loop here serializes N
    // network round-trips on the driver before any Spark work starts.
    // Future.sequence preserves input order, so the summary stays
    // deterministic; per-vendor isolation is unchanged (fetch returns
    // Try — a vendor's failure becomes its error row, never a job
    // failure).
    sealed trait Ingest
    case class Ok(api: VendorApi, items: Option[DataFrame]) extends Ingest
    case class Err(api: VendorApi, status: String, msg: String) extends Ingest

    // EXECUTOR-SIDE branch (opt-in): one fetch job over the
    // credentials, payload statuses collected (tiny projection), the
    // payloads themselves parsed in place by the distributed twin of
    // parseItems. Persisted: the one fetch feeds both the status
    // collect and the items leg. The frame stays cached for the
    // lifetime of the sync (dry-run hands back a plan rooted in it).
    def executorIngests(): (Seq[Ingest], Option[DataFrame]) = {
      val fetchable = selected.filter(_.database.contains(Schemas.WholecellDb))
      val fetched = HttpSource.fetchOnExecutors(spark, fetchable, fetch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val errs = fetched.filter(col("error").isNotNull)
        .select(col("vendorId"), col("error")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val items = graft.ops.CacheScope.owned(
        HttpSource.parseItemsDistributed(
          fetched.filter(col("error").isNull).select(col("vendorId"), col("payload"))),
        fetched)
      val ing = selected.map { api =>
        if (!api.database.contains(Schemas.WholecellDb))
          Err(api, "unsupported_database",
            s"Unsupported database: ${api.database.getOrElse("")}")
        else errs.get(api.vendorId) match {
          case Some(msg) => Err(api, "fetch_failed", msg)
          case None => Ok(api, None)
        }
      }
      (ing, Some(items))
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(FetchParallelism, math.max(1, selected.size)),
      (r: Runnable) => {
        val t = new Thread(r, "graft-vendor-fetch"); t.setDaemon(true); t
      })
    val (ingests: Seq[Ingest], distItems: Option[DataFrame]) =
      if (executorFetch) try executorIngests() finally pool.shutdown()
      else (try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val futures = selected.map { api =>
          if (!api.database.contains(Schemas.WholecellDb))
            scala.concurrent.Future.successful(Err(api, "unsupported_database",
              s"Unsupported database: ${api.database.getOrElse("")}"))
          else scala.concurrent.Future {
            fetch(api) match {
              case Success(json) =>
                Ok(api, Some(HttpSource.parseItems(spark, api.vendorId, json)))
              case Failure(e) =>
                Err(api, "fetch_failed", String.valueOf(e.getMessage))
            }
          }
        }
        // ONE shared deadline across all vendors, harvested per future
        // in input order (order keeps the summary deterministic). A
        // vendor that misses the deadline becomes its own error row —
        // never a hung sync, never a job failure. The abandoned fetch
        // thread keeps running in the daemon pool until its own
        // timeout or JVM exit; it is never joined again.
        val deadlineNanos = System.nanoTime() + fetchDeadline.toNanos
        selected.zip(futures).map { case (api, f) =>
          val remaining = math.max(0L, deadlineNanos - System.nanoTime())
          try scala.concurrent.Await.result(f,
            scala.concurrent.duration.Duration.fromNanos(remaining))
          catch { case _: java.util.concurrent.TimeoutException =>
            Err(api, "fetch_timeout",
              s"vendor fetch incomplete after $fetchDeadline (overall fetch deadline)")
          }
        }
      } finally pool.shutdown(), None)

    val oks = ingests.collect { case o: Ok => o }
    val allItems = distItems.getOrElse(oks.flatMap(_.items) match {
      case Nil => HttpSource.parseItems(spark, "_none", """{"data": []}""")
      case seqs => seqs.reduce(_ unionByName _)
    })

    val okIds = oks.map(_.api.vendorId)
    val (stats, mergedView) =
      mergeItems(spark, allItems, okIds, store, mode, now, dryRun)

    val summaries = ingests.map {
      case Err(api, status, msg) =>
        VendorSummary(api.vendorId, api.database.getOrElse(""), status,
          0, 0, 0, 0, 0, 0, 0, Some(msg))
      case Ok(api, _) =>
        val c = stats.getOrElse(api.vendorId, VendorCounters(0, 0, 0, 0, 0, 0))
        VendorSummary(api.vendorId, api.database.getOrElse(""), "ok",
          c.fetched, c.valid, c.skipped, c.inserted, c.updated, c.stock,
          c.inserted + c.updated, None)
    }

    // Dry-run hands back the computed (unwritten) snapshot: `merged`
    // still lazily reads the untouched sink files, which is exactly
    // what the caller should inspect.
    val sinkView = if (dryRun) mergedView else store.read(spark)
    SyncResult(summaries, sinkView)
  }

  /** The relational core of ONE sync against a store: enrich → match
    * → aggregate → MERGE → one-action A5 stats → k-vendor write.
    * Shared verbatim by the batch path (`syncStore`) and the
    * incremental path (`graft.streaming.StreamOps.syncBatch`):
    * SURVEY §7.4#7 — incremental sync IS the same MERGE writer fed
    * by micro-batches, so batch and streamed syncs can never drift
    * semantically. `token` commits with the written rows (a streamed
    * sync's batch id). Returns the per-vendor counters and the merged
    * (unwritten) snapshot view for dry-run callers. */
  private[graft] def mergeItems(spark: SparkSession, allItems: DataFrame,
      okIds: Seq[String], store: MergeWriter.SnapshotStore,
      mode: MergeWriter.MergeMode, now: Timestamp,
      dryRun: Boolean, token: Option[Long] = None): (Map[String, VendorCounters], DataFrame) = {

    // ONE execution of the relational core: the stats action fills the
    // caches, the write reads `merged` from them. They only accelerate:
    // a lost block recomputes from the OLD snapshot, which every store
    // keeps until its write commits (parquet `__vtmp` + commit rename,
    // JDBC staging table + transaction). Released blocking, merged
    // first (no dependent recache), on success and failure, so nothing
    // leaks into a SyncServer session. `matched` is one row per name,
    // but two joins read it: uncached, each recomputes the match.
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame) = { cached += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    try {
      // Relational core: enrich → match → aggregate.
      val enriched = cache(OptionAgg.enrich(allItems))
      val names = enriched.filter(col("vendorName") =!= "")
        .select(col("vendorName")).distinct()
      val admin = readAdmin(spark)
      val matched = cache(CatalogMatch.matchCatalog(names, admin))
      val withAdmin = enriched.join(matched, Seq("vendorName"), "left")
      val incoming = OptionAgg.aggregate(withAdmin)

      // J5 accounting: groups (vendorId, vendorName, grade) kept vs
      // skipped by catalog existence.
      val groups = enriched.filter(SyncExprsAvailable)
        .select(col("vendorId"), col("vendorName"), col("grade")).distinct()
        .join(matched.select(col("vendorName"), col("admin_id")), Seq("vendorName"), "left")

      // MERGE into the sink snapshot. The snapshot READ is pre-filtered
      // to this sync's vendors — partition pruning skips every other
      // vendor's files — and the WRITE replaces only those vendors. A
      // sync touching k of N vendors then scans and rewrites k
      // partitions, not N (at 100 TB of sink, a bounded incremental sync
      // instead of a full-table rewrite per sync). Untouched vendors
      // never enter the merge: their rows would all be action=keep,
      // which the stats job ignores. A dry run reads every vendor: the
      // view it returns is the whole would-be snapshot.
      val existingAll = store.read(spark)
      val existing =
        if (dryRun) existingAll
        else existingAll.filter(col("vendorId").isin(okIds: _*))
      val merged = cache(MergeWriter.merge(existing, incoming, mode, now))

      // ALL per-vendor A5 counters in ONE action: the three stat
      // families (fetch totals, valid/skipped groups, merge actions +
      // written stock) are tagged into one union and aggregated in a
      // single job — one driver round-trip per sync instead of three.
      // Collected BEFORE the write: the merge leg lazily reads the OLD
      // vendor files, which the write's commit deletes.
      val zero = lit(0L)
      val fetchLeg = enriched.groupBy(col("vendorId"))
        .agg(count(lit(1)).as("fetched"))
        .select(col("vendorId"), col("fetched"), zero.as("valid"), zero.as("skipped"),
          zero.as("inserted"), zero.as("updated"), zero.as("stock"))
      val groupLeg = groups.groupBy(col("vendorId")).agg(
          sum(when(col("admin_id").isNotNull, 1L).otherwise(0L)).as("valid"),
          sum(when(col("admin_id").isNull, 1L).otherwise(0L)).as("skipped"))
        .select(col("vendorId"), zero.as("fetched"), col("valid"), col("skipped"),
          zero.as("inserted"), zero.as("updated"), zero.as("stock"))
      val actionLeg = merged.filter(col("action") =!= "keep")
        .withColumn("optStock", aggregate(
          transform(col("selectedOptions"), o => o.getField("stock").cast("long")),
          lit(0L), (acc, x) => acc + x))
        .groupBy(col("vendorId")).agg(
          sum(when(col("action") === "insert", 1L).otherwise(0L)).as("inserted"),
          sum(when(col("action") === "merge", 1L).otherwise(0L)).as("updated"),
          sum(col("optStock")).as("stock"))
        .select(col("vendorId"), zero.as("fetched"), zero.as("valid"), zero.as("skipped"),
          col("inserted"), col("updated"), col("stock"))
      val stats: Map[String, VendorCounters] =
        fetchLeg.unionByName(groupLeg).unionByName(actionLeg)
          .groupBy(col("vendorId")).agg(
            sum(col("fetched")).as("fetched"), sum(col("valid")).as("valid"),
            sum(col("skipped")).as("skipped"), sum(col("inserted")).as("inserted"),
            sum(col("updated")).as("updated"), sum(col("stock")).as("stock"))
          .collect().map(r => r.getString(0) -> VendorCounters(
            r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getLong(6))).toMap

      if (!dryRun) store.writeVendors(spark, merged.drop("action"), okIds, token)

      (stats, merged.drop("action"))
    } finally cached.reverseIterator.foreach(_.unpersist(blocking = true))
  }

  private val SyncExprsAvailable = graft.expr.SyncExprs.isAvailable(col("status"))

  /** Admin catalog source — `graft.sync.admin.path` in the Spark
    * conf selects the backend by shape: a `jdbc:` URL reads the
    * table named by `graft.sync.admin.table`, a `docs:<root>#<coll>`
    * path reads the collection from a JSON-document directory via
    * the graft-docs DSv2 source (the closest analog of the
    * reference's Mongo-resident catalog, products.js:122-126), a
    * `.json` path reads JSON, anything else reads parquet. All four
    * project to the one adminProduct schema, so CatalogMatch and the
    * rest of the pipeline never see which backend fed them. S6's
    * batch keyed lookup is subsumed by the broadcast join in
    * CatalogMatch. */
  def readAdmin(spark: SparkSession): DataFrame = {
    val path = spark.conf.get("graft.sync.admin.path", "")
    require(path.nonEmpty,
      "set graft.sync.admin.path to the admin catalog (jdbc:URL/docs:root#coll/json/parquet)")
    if (path.startsWith("docs:")) {
      val spec = path.stripPrefix("docs:")
      val (root, coll) = spec.lastIndexOf('#') match {
        case -1 => (spec, "admin_products")
        case i  => (spec.take(i), spec.drop(i + 1))
      }
      graft.sources.DocStore.readCollection(spark, root, coll, Schemas.adminProduct)
    } else if (path.startsWith("jdbc:")) {
      val table = spark.conf.get("graft.sync.admin.table", "")
      require(table.nonEmpty,
        "set graft.sync.admin.table when graft.sync.admin.path is a jdbc: URL")
      // pushdown off for the same reason JdbcSnapshot.read documents:
      // Derby maps strings to CLOB and a pushed-down equality throws;
      // the catalog is broadcast-joined in full anyway. Relational
      // projection: the nested `specifications` struct travels as a
      // flat `storage` column (JDBC carries no structs) and is
      // rebuilt here, so downstream code sees the one schema.
      graft.sink.JdbcSnapshot.readTable(spark, path, table,
        Map("pushDownPredicate" -> "false"))
        .select(col("_id"), col("name"),
          struct(col("storage")).as("specifications"))
    } else if (path.endsWith(".json"))
      spark.read.schema(Schemas.adminProduct).option("multiLine", "true").json(path)
    else spark.read.schema(Schemas.adminProduct).parquet(path)
  }
}
