package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model.{VendorApi, VendorSummary}
import graft.pipeline.SyncJob
import graft.sink.MergeWriter
import graft.streaming.StreamOps

/** SURVEY §7.4#7 pinned: incremental sync IS the batch sync fed by
  * micro-batches. A 3-batch streamed sync (MemoryStream of raw
  * (vendorId, payload) envelopes → foreachBatch → syncBatch) must
  * produce the IDENTICAL sink snapshot and per-vendor summaries as
  * three batch syncStore runs over the same payloads in Accumulate
  * mode — including the accumulate-on-resync quirk when a vendor
  * reappears in a later batch. */
class StreamSyncSpec extends SparkSpec {

  private def now(bid: Long): Timestamp =
    Timestamp.valueOf(s"2026-08-1${bid + 1} 00:00:00")

  // batch 0: v-100; batch 1: v-200; batch 2: BOTH again (re-sync —
  // Accumulate must fold on top of each vendor's existing rows)
  private def payloads(bid: Int): Seq[(String, String)] = bid match {
    case 0 => Seq("v-100" -> resourceText("vendor_items_v100.json"))
    case 1 => Seq("v-200" -> resourceText("vendor_items_v200.json"))
    case 2 => Seq("v-100" -> resourceText("vendor_items_v100.json"),
                  "v-200" -> resourceText("vendor_items_v200.json"))
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("vendorId", "product")
      .collect().map(_.toString).toSeq.sorted

  test("3-batch streamed sync == three batch syncStore runs (sink + summaries)") {
    import spark.implicits._
    spark.conf.set("graft.sync.admin.path", resourcePath("admin_products.json"))
    val streamSink = Files.createTempDirectory("graft-streamsync").toString + "/vp"
    val batchSink = Files.createTempDirectory("graft-batchsync").toString + "/vp"

    // --- streamed: one MemoryStream, three micro-batches ---
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val streamedSummaries =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[VendorSummary])]
    var streamedBatch = -1L
    val q = in.toDF().toDF("vendorId", "payload").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        streamedBatch = bid
        StreamOps.syncBatch(MergeWriter.ParquetStore(streamSink),
          MergeWriter.Accumulate, now,
          s => streamedSummaries += (bid -> s))(b, bid)
      }
      .start()
    for (b <- 0 to 2) { in.addData(payloads(b): _*); q.processAllAvailable() }
    q.stop()
    assert(streamedBatch == 2L, "expected exactly 3 micro-batches")

    // --- batch: three syncStore runs over the same payloads ---
    val batchSummaries = (0 to 2).map { b =>
      val ps = payloads(b).toMap
      val apis = ps.keys.toSeq.sorted.map(v =>
        VendorApi(s"api-$v", v, "app", "sec", Some("wholecell")))
      val fetch: graft.sources.HttpSource.Fetcher =
        api => scala.util.Success(ps(api.vendorId))
      SyncJob.syncStore(spark, apis.toDS(), fetch,
        MergeWriter.ParquetStore(batchSink), MergeWriter.Accumulate,
        now = now(b)).summary
    }

    // summaries: identical counters per vendor per batch (the
    // streamed path reports the same A5 numbers the HTTP route
    // returns; vendorApiId/secret fields differ by construction so
    // compare the summary-proper fields)
    def key(s: VendorSummary) = (s.vendorId, s.database, s.status,
      s.totalFetched, s.validProducts, s.skippedProducts,
      s.newVendorProducts, s.updatedVendorProducts,
      s.totalStockProcessed, s.totalOperations, s.error)
    for (b <- 0 to 2) {
      val streamed = streamedSummaries.filter(_._1 == b).flatMap(_._2).map(key)
      val batch = batchSummaries(b).map(key)
      assert(streamed == batch, s"batch $b summaries diverge:\n$streamed\nvs\n$batch")
    }

    // sink: byte-identical logical content after 3 batches
    val s = canon(MergeWriter.readSnapshot(spark, streamSink))
    val bt = canon(MergeWriter.readSnapshot(spark, batchSink))
    assert(s == bt, "streamed and batch sinks diverge")
    assert(s.nonEmpty)

    // and the accumulate-on-resync quirk really exercised: v-100's
    // batch-2 re-sync must have accumulated stock on top of batch 0
    val v100b2 = streamedSummaries.filter(_._1 == 2).flatMap(_._2)
      .find(_.vendorId == "v-100").get
    assert(v100b2.updatedVendorProducts > 0,
      "re-synced vendor should report merges, not inserts")

    // the batch token was committed with the data
    assert(MergeWriter.readBatchToken(spark, streamSink).contains(2L))
  }

  test("replayed micro-batch is a whole-batch no-op under exactlyOnce") {
    import spark.implicits._
    spark.conf.set("graft.sync.admin.path", resourcePath("admin_products.json"))
    val sink = Files.createTempDirectory("graft-replay").toString + "/vp"
    var summaries = 0
    def run(bid: Long): Unit = StreamOps.syncBatch(
      MergeWriter.ParquetStore(sink), MergeWriter.Accumulate, now,
      _ => summaries += 1)(
      payloads(0).toDF("vendorId", "payload"), bid)
    run(0L)
    val once = canon(MergeWriter.readSnapshot(spark, sink))
    val stockOnce = MergeWriter.readSnapshot(spark, sink)
      .select(explode(col("selectedOptions")).as("o"))
      .agg(sum(col("o.stock"))).collect()(0).getLong(0)
    run(0L)  // foreachBatch replay: same batchId
    assert(summaries == 1, "replayed batch re-emitted its summary")
    assert(canon(MergeWriter.readSnapshot(spark, sink)) == once,
      "replayed batch changed the sink")
    val stockTwice = MergeWriter.readSnapshot(spark, sink)
      .select(explode(col("selectedOptions")).as("o"))
      .agg(sum(col("o.stock"))).collect()(0).getLong(0)
    assert(stockTwice == stockOnce, "Accumulate double-folded on replay")
    // a NEW batch id still merges (and accumulates)
    run(1L)
    assert(summaries == 2)
    assert(MergeWriter.readBatchToken(spark, sink).contains(1L))
  }

  test("JDBC sink: replayed micro-batch is a whole-batch no-op through the DB") {
    import spark.implicits._
    spark.conf.set("graft.sync.admin.path", resourcePath("admin_products.json"))
    val url =
      s"jdbc:derby:${Files.createTempDirectory("graft-derby-replay")}/db;create=true"
    val store = MergeWriter.JdbcStore(url, "vp")
    var summaries = 0
    def run(bid: Long): Unit = StreamOps.syncBatch(
      store, MergeWriter.Accumulate, now, _ => summaries += 1)(
      payloads(0).toDF("vendorId", "payload"), bid)
    run(0L)
    val once = canon(store.read(spark))
    def stock() = store.read(spark)
      .select(explode(col("selectedOptions")).as("o"))
      .agg(sum(col("o.stock"))).collect()(0).getLong(0)
    val stockOnce = stock()
    run(0L)  // foreachBatch replay: same batchId
    assert(summaries == 1, "replayed batch re-emitted its summary")
    assert(canon(store.read(spark)) == once, "replayed batch changed the DB sink")
    assert(stock() == stockOnce, "Accumulate double-folded on replay through the DB")
    // a NEW batch id still merges, and its token commits with the swap
    run(1L)
    assert(summaries == 2)
    assert(graft.sink.JdbcSnapshot.lastToken(url, "vp").contains(1L))
    // pre-commit crash shape: a staged table with NO completed swap
    // leaves live snapshot and token untouched (the transaction is
    // the commit point — nothing became visible)
    val committed = canon(store.read(spark))
    graft.sink.JdbcSnapshot.write(store.read(spark).limit(0), url, "vp_vstg")
    assert(canon(store.read(spark)) == committed,
      "an uncommitted staging table leaked into the live snapshot")
    assert(graft.sink.JdbcSnapshot.lastToken(url, "vp").contains(1L))
  }

  test("a streamed sync writes k of N: the untouched vendor's partition files stay byte-identical") {
    import spark.implicits._
    spark.conf.set("graft.sync.admin.path", resourcePath("admin_products.json"))
    val sink = Files.createTempDirectory("graft-stream-partial").toString + "/vp"
    def run(bid: Int, payload: Int): Unit = StreamOps.syncBatch(
      MergeWriter.ParquetStore(sink), MergeWriter.Accumulate, now)(
      payloads(payload).toDF("vendorId", "payload"), bid.toLong)
    def fingerprint(sub: String): Map[String, String] = {
      val dir = new java.io.File(s"$sink/$sub")
      assert(dir.isDirectory, s"$sub missing")
      dir.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val md = java.security.MessageDigest.getInstance("MD5")
        f.getName -> md.digest(Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
      }.toMap
    }
    run(0, payload = 2) // both vendors land
    val v100Before = fingerprint("vendorId=v-100")
    val v200Before = fingerprint("vendorId=v-200")
    assert(v100Before.nonEmpty)
    run(1, payload = 1) // touches only v-200
    assert(fingerprint("vendorId=v-100") == v100Before,
      "untouched vendor's files were rewritten")
    assert(fingerprint("vendorId=v-200") != v200Before)
    assert(MergeWriter.readBatchToken(spark, sink).contains(1L))
  }

  test("full-swap crash window recovers: snapshot only in __old") {
    import spark.implicits._
    spark.conf.set("graft.sync.admin.path", resourcePath("admin_products.json"))
    val sink = Files.createTempDirectory("graft-crash").toString + "/vp"
    StreamOps.syncBatch(MergeWriter.ParquetStore(sink), MergeWriter.Accumulate,
      now)(payloads(0).toDF("vendorId", "payload"), 0L)
    val before = canon(MergeWriter.readSnapshot(spark, sink))
    // simulate the crash between rename(p, old) and rename(tmp, p)
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(sink),
      new org.apache.hadoop.fs.Path(sink + "__old")))
    assert(canon(MergeWriter.readSnapshot(spark, sink)) == before,
      "crashed swap not recovered from __old")
    // token recovered with it: the replay gate still holds
    assert(MergeWriter.readBatchToken(spark, sink).contains(0L))
  }
}
