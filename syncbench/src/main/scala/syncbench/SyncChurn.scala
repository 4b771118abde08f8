package syncbench

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Schemas, VendorApi, VendorSummary}
import graft.ops.{CatalogMatch, OptionAgg}
import graft.pipeline.SyncJob
import graft.sink.MergeWriter
import graft.sources.HttpSource
import graft.streaming.StreamOps
import syncbench.Main.{Op, Opts, runOp, timed}

/** The sync_churn workload: one full `SyncJob.sync` of every vendor
  * into an empty parquet sink (the cold op), then one warm-up round and
  * `Main.units(seconds, NominalRoundS)` measured rounds. Each round
  * churns `PerRound` seeded vendors, syncs their payload envelopes
  * through `StreamOps.syncBatch`, then reads the rows of `VendorReads`
  * seeded vendors and a per-vendor rollup of the whole sink. (Rounds
  * stream rather than alternate with `SyncJob.sync`: one sync costs
  * seconds here, and a run holds one full sync and two rounds.) Every
  * summary and read is checked against the generator's expected
  * counts; a mismatch fails the op. */
object SyncChurn {
  val Vendors = 8
  val ItemsPerVendor = 1200
  val CatalogSize = 1000
  val PerRound = 1
  val VendorReads = 8
  /** Length of one round at the reference speed (4 cores). */
  val NominalRoundS = 10.0

  /** Fixed sync clock, so the sink's bytes depend on the seed only. */
  private def clock(round: Int) = new Timestamp(1767225600000L + round * 60000L)

  /** Thread-safe in-process fetcher over prepared payloads, counting
    * calls and bytes served. */
  final class Fetcher(payloads: Map[String, String]) extends (VendorApi => Try[String]) {
    val calls = new AtomicLong
    val bytes = new AtomicLong
    def apply(api: VendorApi): Try[String] = Try {
      val p = payloads.getOrElse(api.vendorId, throw new NoSuchElementException(api.vendorId))
      calls.incrementAndGet(); bytes.addAndGet(p.length)
      p
    }
  }

  def run(spark: SparkSession, o: Opts, rec: mutable.Map[String, Any]): Unit = {
    import spark.implicits._
    val sinkPath = s"${o.work}/sink"
    val catalogPath = s"${o.work}/catalog"

    // staging, three times for a steady median: generate the instance
    // and write the admin catalog
    var gen: SyncGen = null
    val stageS = (0 until 3).map(_ => timed {
      gen = new SyncGen(o.seed, Vendors, ItemsPerVendor, CatalogSize)
      writeCatalog(spark, gen, catalogPath)
    }._2)
    spark.conf.set("graft.sync.admin.path", catalogPath)
    Main.deleteTree(sinkPath)
    val all = 0 until Vendors
    val fullPayloads = all.map(v => SyncGen.vendorIdOf(v) -> gen.payload(v)).toMap
    rec("inputs") = Map("vendors" -> Vendors, "unsupported_vendors" -> (gen.apis.size - Vendors),
      "items" -> all.map(gen.itemCount).sum, "catalog" -> CatalogSize, "per_round" -> PerRound,
      "vendor_reads_per_round" -> VendorReads,
      "payload_bytes" -> fullPayloads.values.map(_.length.toLong).sum)

    val tracer = new Tracer(spark)
    if (o.trace) tracer.start()
    val fullFetch = new Fetcher(fullPayloads)
    val fullExpected = all.map(gen.expect)
    val cold = tracer.op(0, "full_sync")(runOp("full_sync", "sync") {
      tracer.span("pipeline.sync") {
        val res = SyncJob.sync(spark, gen.apis.toDS(), fullFetch, sinkPath, now = clock(0))
        check(res.summary, fullExpected, gen.apis.filter(_.database.contains("other-db")).map(_.vendorId))
      }
    })
    if (cold.ok) all.foreach(gen.commit)
    rec("cold") = Seq(Main.opRecord(cold))
    tracer.pause()

    var round = 0
    val layerTimes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val sinkDeltas = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var batchBytes = 0L
    val reads = new scala.util.Random(o.seed)

    /** One round; returns its ops and the seconds spent preparing inputs,
      * probing layers or measuring the sink, which the window clock
      * excludes. */
    def doRound(): (Seq[Op], Double) = {
      round += 1
      val r = round
      val ((vendors, batch, expected), prepS) = timed {
        val vs = gen.pickVendors(PerRound)
        vs.foreach(gen.churn)
        val payloads = vs.map(v => SyncGen.vendorIdOf(v) -> gen.payload(v))
        if (tracer.enabled) batchBytes += payloads.map(_._2.length.toLong).sum
        (vs, payloads.toDF("vendorId", "payload"), vs.map(gen.expect))
      }
      tracer.op(r, s"round#$r") {
        // the layer probe runs first, against the snapshot as it stands
        // before this round, so it sees the round's inserts and updates
        val probeS = if (!tracer.enabled) 0.0 else timed {
          layerTimes += probeLayers(spark, sinkPath, s"${o.work}/probe_sink", batch,
            vendors.map(SyncGen.vendorIdOf), clock(r), tracer)
        }._2
        val (before, listS) = timed {
          if (tracer.enabled) Main.listFiles(sinkPath) else Map.empty[String, (Long, Long)]
        }
        val sync = runOp(s"sync_batch#$r", "sync_batch") {
          tracer.span("streaming.sync_batch") {
            var summary = Seq.empty[VendorSummary]
            StreamOps.syncBatch(MergeWriter.ParquetStore(sinkPath), clock = _ => clock(r),
              onSummary = s => summary = s)(batch, r.toLong)
            check(summary, expected, Seq.empty)
          }
        }
        if (sync.ok) vendors.foreach(gen.commit)
        val deltaS = if (!tracer.enabled) 0.0 else timed {
          val after = Main.listFiles(sinkPath)
          val changed = after.filter { case (f, st) => !before.get(f).contains(st) }
          def vendorDir(f: String) = f.takeWhile(_ != '/')
          sinkDeltas += ((changed.values.map(_._1).sum, changed.size.toLong,
            changed.keys.map(vendorDir).toSet.size.toDouble /
              math.max(1, after.keys.map(vendorDir).toSet.size)))
        }._2
        val readVendors = reads.shuffle((0 until Vendors).toList).take(VendorReads).map { v =>
          runOp(s"read_vendor#$r.$v", "read") {
            tracer.span("sink.read") { checkVendorRead(spark, sinkPath, gen, v) }
          }
        }
        val readRollup = runOp(s"read_rollup#$r", "read") {
          tracer.span("sink.read") { checkRollup(spark, sinkPath, gen) }
        }
        ((sync +: readVendors) :+ readRollup, prepS + probeS + listS + deltaS)
      }
    }

    /** The measured rounds: their ops and their op time. */
    def window(): (Seq[Op], Double) = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val start = System.nanoTime()
      var excluded = 0.0
      for (_ <- 0 until Main.units(o.seconds, NominalRoundS)) {
        val (r, x) = doRound()
        ops ++= r; excluded += x
      }
      (ops.toSeq, (System.nanoTime() - start) / 1e9 - excluded)
    }

    // one round before the window, as set-up: the measured rounds then
    // run the streamed sync and the reads warm, not as their first
    // execution in this JVM
    val (warmOps, warmRoundS) = timed(doRound()._1)
    rec("warmup_ops") = warmOps.map(Main.opRecord)
    val bootS = rec("boot_s").asInstanceOf[Double]
    rec("setup_s") = bootS + Main.median(stageS) + warmRoundS
    rec("setup_note") = f"boot $bootS%.3f s + median of stagings " +
      stageS.map(x => f"$x%.3f").mkString("[", ", ", "]") +
      f" s + warm-up round $warmRoundS%.3f s"

    val (ops, windowS) = window()
    rec("ops") = ops.map(Main.opRecord)
    rec("window_s") = windowS
    if (o.trace) {
      tracer.start()
      val (tops, twindow) = window()
      tracer.finish()
      rec("traced_ops") = tops.map(Main.opRecord)
      rec("traced_window_s") = twindow
      val batches = tops.filter(_.kind == "sync_batch")
      val syncs = cold +: batches
      val n = syncs.size.toDouble
      def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      def layer(k: String) = mean(layerTimes.map(_(k)))
      val syncJobs = syncs.map { op =>
        val (s, e) = op.interval
        tracer.jobs.intervals.values.count { case (js, _) => js >= s && js <= e }
      }
      val items = syncs.map(_.items).sum.toDouble
      val roundItems = batches.map(_.items).sum.toDouble
      rec("layers") = tracer.engineSummary((syncs ++ tops.filter(_.kind == "read")).map(_.interval)) ++
        layerTimes.flatMap(_.keys).distinct.map(k => k -> layer(k)) ++ Map(
        "sources.fetch_calls" -> fullFetch.calls.get / n,
        "sources.payload_bytes" -> (fullFetch.bytes.get + batchBytes) / n,
        "sources.items_parsed" -> items / n,
        "sink.read_s" -> mean(tops.filter(_.kind == "read").map(_.seconds)),
        "sink.bytes_written" -> mean(sinkDeltas.map(_._1.toDouble)),
        "sink.files_written" -> mean(sinkDeltas.map(_._2.toDouble)),
        "sink.bytes_per_item" -> sinkDeltas.map(_._1).sum / math.max(1.0, roundItems),
        "sink.partitions_rewritten_ratio" -> mean(sinkDeltas.map(_._3)),
        "sink.live_bytes" -> Main.listFiles(sinkPath).values.map(_._1).sum.toDouble,
        "pipeline.sync_s" -> cold.seconds,
        // the same syncs' wall time outside every Spark job: the part no
        // layer's engine work accounts for (planning, listing, commit)
        "pipeline.unattributed_s" -> mean(batches.map { op =>
          val (s, e) = op.interval
          op.seconds - tracer.jobs.busyMs(s, e) / 1e3
        }),
        "pipeline.spark_jobs_per_sync" -> syncJobs.sum / n,
        "streaming.sync_batch_s" -> mean(batches.map(_.seconds)),
        "streaming.batches" -> batches.size.toDouble)
      rec("spans") = tracer.spanRecords
    }
  }

  private def writeCatalog(spark: SparkSession, gen: SyncGen, path: String): Unit = {
    val rows = gen.catalog.map(p => Row(p.id, p.name, Row(p.storage)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schemas.adminProduct)
      .write.mode("overwrite").parquet(path)
  }

  /** Compare sync summaries with the expected counters: every synced
    * vendor "ok" with exactly the expected counts, every vendor on an
    * unsupported database reported as such. Returns items synced. */
  private[syncbench] def check(got: Seq[VendorSummary], expected: Seq[SyncGen.Expected],
      unsupported: Seq[String]): Long = {
    val byId = got.map(s => s.vendorId -> s).toMap
    val bad = mutable.ArrayBuffer.empty[String]
    if (byId.size != got.size || byId.keySet != (expected.map(_.vendorId) ++ unsupported).toSet)
      bad += s"vendors ${byId.keys.toSeq.sorted.mkString(",")}"
    for (e <- expected; s <- byId.get(e.vendorId)) {
      val want = (("ok", e.fetched, e.valid, e.skipped, e.inserted, e.updated))
      val have = ((s.status, s.totalFetched, s.validProducts, s.skippedProducts,
        s.newVendorProducts, s.updatedVendorProducts))
      if (want != have) bad += s"${e.vendorId} (status,fetched,valid,skipped,inserted,updated) $have != $want"
    }
    for (u <- unsupported; s <- byId.get(u) if s.status != "unsupported_database")
      bad += s"$u status ${s.status}"
    if (bad.nonEmpty) throw new IllegalStateException("summary mismatch: " + bad.take(3).mkString("; "))
    got.map(_.totalFetched).sum
  }

  private val stockOf = aggregate(
    transform(col("selectedOptions"), x => x.getField("stock").cast("long")), lit(0L), _ + _)

  /** Read one vendor's rows (partition-pruned) to the client and check
    * their count and accumulated stock. */
  private def checkVendorRead(spark: SparkSession, path: String, gen: SyncGen, v: Int): Long = {
    val rows = MergeWriter.readSnapshot(spark, path)
      .filter(col("vendorId") === SyncGen.vendorIdOf(v))
      .withColumn("stock", stockOf).collect()
    val got = (rows.length.toLong, rows.map(_.getAs[Long]("stock")).sum)
    if (got != gen.sinkOf(v))
      throw new IllegalStateException(s"vendor read ${SyncGen.vendorIdOf(v)} (rows,stock) $got != ${gen.sinkOf(v)}")
    rows.length
  }

  /** Per-vendor rollup of the whole snapshot, checked vendor by vendor. */
  private[syncbench] def checkRollup(spark: SparkSession, path: String, gen: SyncGen): Long = {
    val got = MergeWriter.readSnapshot(spark, path).groupBy(col("vendorId"))
      .agg(count(lit(1)), sum(stockOf)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = (0 until gen.vendors).map(v => SyncGen.vendorIdOf(v) -> gen.sinkOf(v))
      .filter(_._2._1 > 0).toMap
    if (got != want) {
      val diff = (got.keySet ++ want.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k))
      throw new IllegalStateException(s"rollup mismatch on ${diff.size} vendors, e.g. " +
        diff.take(2).map(k => s"$k ${got.get(k)} != ${want.get(k)}").mkString("; "))
    }
    got.values.map(_._1).sum
  }

  /** Time each layer of one round's sync on its own, in a separate
    * execution just before the sync: every public layer function the
    * sync composes, each persisted and materialized to the `noop` sink,
    * the merge against the snapshot as it stands before the round, and
    * its write to a scratch sink. Returns per-layer seconds and match
    * counters. */
  private def probeLayers(spark: SparkSession, sinkPath: String, probeSink: String,
      batch: org.apache.spark.sql.DataFrame, ids: Seq[String], now: Timestamp,
      tracer: Tracer): Map[String, Double] = {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def layer[T](name: String)(body: => T): (T, Double) = timed(tracer.span(name)(body))
    tracer.span("probe") {
      val (items, parseS) = layer("sources.parse") {
        val df = HttpSource.parseItemsDistributed(batch).persist()
        noop(df); df
      }
      val (enriched, enrichS) = layer("ops.enrich") {
        val df = OptionAgg.enrich(items).persist(); noop(df); df
      }
      val (matchDf, matchS) = layer("ops.match") {
        val names = enriched.filter(col("vendorName") =!= "").select(col("vendorName")).distinct()
        val df = CatalogMatch.matchCatalog(names, SyncJob.readAdmin(spark)).persist()
        noop(df); df
      }
      val matched = matchDf.collect()
      val (incoming, aggS) = layer("ops.agg") {
        val df = OptionAgg.aggregate(enriched.join(matchDf, Seq("vendorName"), "left")).persist()
        noop(df); df
      }
      val (merged, mergeS) = layer("sink.merge") {
        val existing = MergeWriter.readSnapshot(spark, sinkPath).filter(col("vendorId").isin(ids: _*))
        val df = MergeWriter.merge(existing, incoming, MergeWriter.Accumulate, now).persist()
        noop(df); df
      }
      Main.deleteTree(probeSink)
      val (_, writeS) = layer("sink.write") {
        MergeWriter.writeSnapshotVendors(spark, merged.drop("action"), probeSink, ids)
      }
      val groups = incoming.count()
      Seq(items, enriched, matchDf, incoming, merged).foreach(_.unpersist())
      Main.deleteTree(probeSink)
      val hit = matched.filter(r => r.getAs[String]("admin_id") != null)
      val exact = hit.count(r => r.getAs[String]("admin_name").trim.equalsIgnoreCase(
        r.getAs[String]("vendorName").trim))
      Map("sources.parse_s" -> parseS, "ops.enrich_s" -> enrichS, "ops.match_s" -> matchS,
        "ops.agg_s" -> aggS, "sink.merge_s" -> mergeS, "sink.write_s" -> writeS,
        "ops.match_probes" -> matched.length.toDouble, "ops.match_exact" -> exact.toDouble,
        "ops.match_substring" -> (hit.length - exact).toDouble,
        "ops.match_hit_ratio" -> hit.length.toDouble / math.max(1, matched.length),
        "ops.groups_out" -> groups.toDouble)
    }
  }
}
