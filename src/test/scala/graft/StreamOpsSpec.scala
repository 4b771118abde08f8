package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Streaming semantics via MemoryStream micro-batches: windows
  * finalize under the watermark, sessions split on the gap, dedup
  * keeps first-seen, and foreachBatch merges into the keyed sink. */
class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

  test("tumblingCounts finalizes hourly windows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev(ts("2026-01-01 10:05:00"), 1, "click", 1.0),
      Ev(ts("2026-01-01 10:45:00"), 2, "click", 2.0),
      Ev(ts("2026-01-01 11:05:00"), 1, "view", 5.0))
    val q = StreamOps.tumblingCounts(in.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    q.processAllAvailable()
    // watermark driver: pushes past 12:00 so both windows close
    in.addData(Ev(ts("2026-01-01 12:01:00"), 3, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("tumbling")
      .select(col("window_start").cast("string"), col("event_type"), col("n_events"))
      .as[(String, String, Long)].collect().toSet
    assert(rows.contains(("2026-01-01 10:00:00", "click", 2L)))
    assert(rows.contains(("2026-01-01 11:00:00", "view", 1L)))
  }

  test("sessionize splits on the 30-minute inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev(ts("2026-01-01 10:00:00"), 1, "click", 1.0),
      Ev(ts("2026-01-01 10:10:00"), 1, "click", 1.0), // same session
      Ev(ts("2026-01-01 11:00:00"), 1, "click", 1.0)) // 50-min gap → new
    val q = StreamOps.sessionize(in.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    q.processAllAvailable()
    in.addData(Ev(ts("2026-01-01 20:00:00"), 9, "click", 0.0)) // watermark driver
    q.processAllAvailable(); q.stop()
    val sess = spark.table("sessions")
      .filter(col("user_id") === 1)
      .select(col("n_events")).as[Long].collect().sorted.toSeq
    assert(sess == Seq(1L, 2L))
  }

  case class Tev(event_id: Long, ts: Timestamp, value: Double)

  test("rangeJoinStream: bucketed stream-stream interval join, exact boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val errs = MemoryStream[Tev]
    val clks = MemoryStream[Tev]
    val q = StreamOps.rangeJoinStream(clks.toDF(), errs.toDF())
      .writeStream.format("memory").queryName("rjoin")
      .outputMode("append").start()
    // error window [10:00:00, 10:10:00)
    errs.addData(Tev(100L, ts("2026-01-01 10:00:00"), 0.0))
    clks.addData(
      Tev(1L, ts("2026-01-01 10:00:00"), 1.0), // start boundary: in
      Tev(2L, ts("2026-01-01 10:09:59"), 2.0), // in (crosses NO bucket)
      Tev(3L, ts("2026-01-01 10:10:00"), 3.0)) // end boundary: out
    q.processAllAvailable()
    // a click in a LATER micro-batch still meets the buffered window
    clks.addData(Tev(4L, ts("2026-01-01 10:05:00"), 4.0))
    q.processAllAvailable()
    // an error window nothing falls in
    errs.addData(Tev(200L, ts("2026-01-01 12:00:00"), 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("rjoin").select(col("err_id"), col("click_id"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 1L), (100L, 2L), (100L, 4L)))
  }

  test("decontaminateBatch scores each micro-batch against the static benchmark set") {
    implicit val sqlCtx = spark.sqlContext
    // benchmark corpus: two 5-grams
    val bench = graft.queries.TextQueries.hashedGramsOf(
      Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), 5)
    val in = MemoryStream[(Long, String)]
    val sink = collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.synchronized {
          sink ++= StreamOps.decontaminateBatch(b, bench)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    in.addData((1L, "alpha beta gamma delta epsilon"), // the 1st bench gram
      (2L, "totally unrelated words right here"))      // clean
    q.processAllAvailable()
    // a later batch scores independently — stateless across batches
    in.addData((3L, "xx alpha beta gamma delta epsilon yy")) // 3 grams, 1 hit
    q.processAllAvailable(); q.stop()
    assert(sink.toSet == Set((1L, 1L), (2L, 0L), (3L, 1L)))
  }

  test("scd2Stream: closed intervals equal the batch reconstruction; state crosses batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = StreamOps.scd2Stream(
      in.toDF().toDF("user_id", "ts", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName("scd2s")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: user 1 opens tier 1 then moves to tier 2 (one close
    // emitted); user 2 opens tier 0; a click must be ignored
    in.addData(
      (1L, t("2026-01-01 10:00:00"), 1L, "purchase", 150.0),
      (1L, t("2026-01-01 11:00:00"), 2L, "purchase", 250.0),
      (2L, t("2026-01-01 12:00:00"), 3L, "purchase", 50.0),
      (2L, t("2026-01-01 12:30:00"), 4L, "click", 999.0))
    q.processAllAvailable()
    // batch 2: user 1's tier-2 interval (opened LAST batch) closes —
    // the state-store carry; user 2 stays tier 0 (nothing emitted)
    in.addData(
      (1L, t("2026-01-01 15:00:00"), 5L, "purchase", 120.0),
      (2L, t("2026-01-01 16:00:00"), 6L, "purchase", 80.0))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("scd2s").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getBoolean(4))).toSet
    // ground truth: the batch query over the SAME accumulated events,
    // keeping only its closed rows
    val all = Seq(
      (1L, t("2026-01-01 10:00:00"), 1L, "purchase", 150.0),
      (1L, t("2026-01-01 11:00:00"), 2L, "purchase", 250.0),
      (2L, t("2026-01-01 12:00:00"), 3L, "purchase", 50.0),
      (2L, t("2026-01-01 12:30:00"), 4L, "click", 999.0),
      (1L, t("2026-01-01 15:00:00"), 5L, "purchase", 120.0),
      (2L, t("2026-01-01 16:00:00"), 6L, "purchase", 80.0))
    val fixture = s"${sys.props("java.io.tmpdir")}/graft_scd2s_fixture"
    all.toDF("user_id", "ts", "event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$fixture/events.parquet")
    val batchClosed = graft.queries.EventQueries
      .k7Scd2(spark, fixture)
      .filter(!col("is_current"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getBoolean(4))).toSet
    assert(streamed == batchClosed,
      s"streaming closed set != batch closed set:\n  stream=$streamed\n  batch=$batchClosed")
    // and the cross-batch close really happened (user 1 tier 2,
    // opened batch 1, closed batch 2)
    assert(streamed.exists { case (u, tier, _, _, _) => u == 1L && tier == 2 })
  }

  test("scd2Stream: same-millisecond purchases order by full microsecond ts, not event_id") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = StreamOps.scd2Stream(
      in.toDF().toDF("user_id", "ts", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName("scd2us")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // same millisecond, microseconds apart, event ids REVERSED vs time
    // order: a millis-precision sort would tie-break on event_id and
    // see tier 2 before tier 1, closing the wrong interval
    val rows = Seq(
      (7L, t("2026-01-01 10:00:00.000456"), 8L, "purchase", 250.0), // tier 2, LATER
      (7L, t("2026-01-01 10:00:00.000123"), 9L, "purchase", 150.0)) // tier 1, EARLIER
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("scd2us").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getBoolean(4))).toSet
    val dir = s"${sys.props("java.io.tmpdir")}/graft_scd2us_fixture"
    rows.toDF("user_id", "ts", "event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batchClosed = graft.queries.EventQueries.k7Scd2(spark, dir)
      .filter(!col("is_current")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getBoolean(4))).toSet
    assert(streamed == batchClosed,
      s"sub-millisecond order diverged:\n  stream=$streamed\n  batch=$batchClosed")
    // and it is the time order that won: tier 1 (the earlier micro-ts) closed
    assert(streamed.map(_._2) == Set(1))
  }

  test("k7_scd2 renders UTC intervals under a non-UTC session timezone") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_scd2tz_fixture"
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq(
      (1L, t("2026-01-01 10:00:00"), 1L, "purchase", 150.0),
      (1L, t("2026-01-01 11:00:00"), 2L, "purchase", 250.0),
      (2L, t("2026-01-01 12:00:00"), 3L, "purchase", 50.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def run() = graft.queries.EventQueries.k7Scd2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getBoolean(4))).toSet
    val utcRows = run()
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    // half-hour offset: any leaked session-tz rendering shifts strings
    spark.conf.set(tzKey, "Asia/Kolkata")
    val kolkataRows = try run() finally spark.conf.set(tzKey, prev)
    assert(kolkataRows == utcRows,
      s"session tz leaked into interval strings:\n  utc=$utcRows\n  kolkata=$kolkataRows")
    assert(spark.conf.get(tzKey) == prev)
    // the strings really are UTC wall clock (fixture written under UTC session)
    assert(utcRows.exists(_._3 == "2026-01-01 10:00:00"))
  }

  test("ivfIngestBatch: micro-batch adds equal one-shot adds; replay no-op; new vectors serve") {
    import graft.queries.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val idxA = java.nio.file.Files.createTempDirectory("ivf-one").toString
    val idxB = java.nio.file.Files.createTempDirectory("ivf-many").toString
    // deterministic training sample → both builds produce identical
    // centroids, so any serving difference comes from the ADD path
    VectorIndex.buildIvf(spark, dir, idxA)
    VectorIndex.buildIvf(spark, dir, idxB)
    val extras = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding").as("emb"))
      .limit(90).cache()
    // one-shot vs three micro-batches of the SAME vectors
    StreamOps.ivfIngestBatch(idxA)(extras, 1L).count()
    val parts = (0 until 3).map(i => extras.filter(pmod(col("vec_id"), lit(3)) === i))
    parts.zipWithIndex.foreach { case (p, i) =>
      StreamOps.ivfIngestBatch(idxB)(p, (i + 1).toLong).count()
    }
    def served(idx: String) = {
      val queries = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      VectorIndex.searchIvf(spark, idx, queries).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    }
    val one = served(idxA)
    val many = served(idxB)
    assert(one.nonEmpty && one == many,
      s"micro-batch adds diverged from the one-shot add: " +
        s"missing=${(one -- many).size} extra=${(many -- one).size}")
    // the added vectors really serve: query 3's own re-keyed copy is
    // an exact cosine-1.0 match and must outrank the original corpus
    assert(many.exists { case (qid, rank, nid, _) =>
      qid == 3L && rank <= 2 && nid == 10003L })
    // replay of an applied batchId appends nothing and returns the
    // original assignments
    val before = spark.read.parquet(s"$idxB/cells").count()
    val replay = StreamOps.ivfIngestBatch(idxB)(parts(1), 2L)
    assert(replay.count() == parts(1).count())
    assert(spark.read.parquet(s"$idxB/cells").count() == before,
      "replayed batch re-appended index rows")
    assert(served(idxB) == many)

    // crash-window repair + small-files compaction: delete batch 2's
    // marker (simulating a crash between append and marker) and
    // replay — the append duplicates batch 2's rows, which serving
    // SEES (the same vector occupies two ranks); compaction dedups
    // and rewrites to few files, restoring the original results
    def cellFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$idxB/cells")).count(_.getName.endsWith(".parquet"))
    }
    val fs = new org.apache.hadoop.fs.Path(idxB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idxB/_graft_ivf_batches/b2"), false)
    StreamOps.ivfIngestBatch(idxB)(parts(1), 2L).count()
    assert(spark.read.parquet(s"$idxB/cells").count() ==
      before + parts(1).count(), "lost-marker replay should have re-appended")
    val filesBefore = cellFiles()
    StreamOps.compactIvfIndex(spark, idxB, targetPartitions = 4)
    assert(spark.read.parquet(s"$idxB/cells").count() == before,
      "compaction did not drop the crash-replay duplicates")
    assert(cellFiles() < filesBefore, "compaction did not reduce file count")
    assert(served(idxB) == many, "serving changed after compaction")
    extras.unpersist()
  }

  test("graphIngestBatch: N-batch ingest equals a one-shot rebuild under the " +
      "build quantizer; replay no-op; crash-window heals through compaction") {
    import graft.queries.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graph-ingest").toString
    VectorIndex.buildGraph(spark, dir, idx)
    val qz = VectorIndex.cachedGraphQuantizer(spark, idx)
    def normed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id").cast("long"),
        col("emb").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("emb"), col("emb"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        call_function("graft_vec_div", col("emb"), col("nrm")).as("emb"))
    val extras = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding").as("emb"))
      .limit(90).cache()
    val parts = (0 until 3).map(i => extras.filter(pmod(col("vec_id"), lit(3)) === i))
    parts.zipWithIndex.foreach { case (p, i) =>
      StreamOps.graphIngestBatch(idx)(p, (i + 1).toLong).count() }

    // reference: ONE-SHOT writeGraphTables over corpus ∪ extras under
    // the live index's own trained quantizer — the strongest statement
    // the maintainer can make (exact equality, not just add-vs-add)
    val ref = java.nio.file.Files.createTempDirectory("graph-ref").toString
    val corpus = normed(spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("emb")))
    VectorIndex.writeGraphTables(spark,
      corpus.unionByName(normed(extras)), qz, ref)
    import spark.implicits._
    qz.supers.zipWithIndex.map { case (c, sid) => (sid, c) }
      .toDF("sid", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$ref/supers")
    qz.cells.zipWithIndex.map { case ((sid, c), kk) => (kk, sid, c) }
      .toDF("kk", "sid", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$ref/cents")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def state(p: String) = canon(VectorIndex.resolvedGraph(spark, p))
    assert(state(idx) == state(ref),
      "ingested adjacency state diverges from the one-shot rebuild")
    assert(VectorIndex.cachedEntries(spark, idx) ==
      VectorIndex.cachedEntries(spark, ref), "entry points diverge")
    // serving equality on both walk forms, and the added vectors serve
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    def served(p: String) = canon(VectorIndex.searchGraph(spark, p, queries))
    assert(served(idx) == served(ref), "driver-walk serving diverges")
    assert(canon(VectorIndex.searchGraphBatch(spark, idx, queries)) ==
      served(idx), "batch walk diverges on the maintained index")
    val selfQ = extras.filter(col("vec_id") === 10003L)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val top = VectorIndex.searchGraph(spark, idx, selfQ).collect()
      .minBy(_.getLong(1))
    assert(top.getDouble(3) == 1.0,
      s"ingested vector does not serve at sim 1.0: $top")

    // replay of an applied batch appends nothing and changes nothing
    val deltaRows = spark.read.parquet(s"$idx/graph_delta").count()
    StreamOps.graphIngestBatch(idx)(parts(1), 2L).count()
    assert(spark.read.parquet(s"$idx/graph_delta").count() == deltaRows,
      "replayed batch re-appended delta rows")
    assert(state(idx) == state(ref) && served(idx) == served(ref))

    // crash window: lost marker → replay re-appends byte-identical
    // rows; the RESOLVED state is unchanged, and compaction folds the
    // delta away with the state intact
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$idx/${VectorIndex.GraphMarkersDir}/b2"), false)
    StreamOps.graphIngestBatch(idx)(parts(1), 2L).count()
    assert(spark.read.parquet(s"$idx/graph_delta").count() > deltaRows,
      "lost-marker replay should have re-appended")
    assert(state(idx) == state(ref),
      "crash-window duplicates leaked into the resolved state")
    StreamOps.compactGraphIndex(spark, idx, targetPartitions = 4)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/graph_delta")),
      "compaction left the delta log")
    assert(state(idx) == state(ref) && served(idx) == served(ref),
      "state or serving changed after compaction")
    assert(VectorIndex.cachedEntries(spark, idx) ==
      VectorIndex.cachedEntries(spark, ref))
    extras.unpersist()
  }

  test("graphIndexHealth: audit rides the maintainer at metricsEvery cadence; " +
      "compaction resets read amplification") {
    import graft.queries.VectorIndex
    val dir = "/root/testdata/sf0.001"
    // absent index reads as the all-zeros row, like every other audit
    val empty = java.nio.file.Files.createTempDirectory("graph-health-0").toString
    val z = StreamOps.graphIndexHealth(spark, empty).collect()(0)
    assert((0 until 6).forall(i => z.getLong(i) == 0L) && z.getDouble(6) == 0.0,
      s"absent index should audit as zeros: $z")

    val idx = java.nio.file.Files.createTempDirectory("graph-health").toString
    VectorIndex.buildGraph(spark, dir, idx)
    val h0 = StreamOps.graphIndexHealth(spark, idx).collect()(0)
    val n0 = h0.getAs[Long]("n_nodes")
    assert(n0 > 0 && h0.getAs[Long]("n_cells") > 0 &&
      h0.getAs[Long]("max_cell_n") > 0)
    assert(h0.getAs[Long]("delta_rows") == 0L &&
      h0.getAs[Double]("read_amplification") == 1.0,
      s"fresh build should read at 1.0 amplification: $h0")

    // an ingest batch appends delta rows; at metricsEvery=1 the audit
    // row lands in the metrics log the same batch
    val extras = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 20000L).as("vec_id"), col("embedding").as("emb"))
      .limit(30)
    StreamOps.graphIngestBatch(idx, metricsEvery = 1)(extras, 1L).count()
    val h1 = StreamOps.graphIndexHealth(spark, idx).collect()(0)
    assert(h1.getAs[Long]("n_nodes") == n0 + 30,
      s"roster should grow by the batch: $h1")
    assert(h1.getAs[Long]("delta_rows") > 0L &&
      h1.getAs[Double]("read_amplification") > 1.0,
      s"maintainer appends should surface as delta backlog: $h1")
    val logged = StreamOps.indexMetrics(spark, idx)
      .getOrElse(fail("no metrics log after metricsEvery=1 ingest"))
      .filter(col("batch_id") === 1L).collect()
    assert(logged.length == 1 &&
      logged(0).getAs[Long]("n_nodes") == n0 + 30,
      "ingest did not emit the health row at batch cadence")

    // compaction folds the delta: amplification returns to 1.0 with
    // the roster intact
    StreamOps.compactGraphIndex(spark, idx, targetPartitions = 4)
    val h2 = StreamOps.graphIndexHealth(spark, idx).collect()(0)
    assert(h2.getAs[Long]("n_nodes") == n0 + 30 &&
      h2.getAs[Long]("delta_rows") == 0L &&
      h2.getAs[Double]("read_amplification") == 1.0,
      s"compaction should fold the delta away: $h2")
  }

  test("index maintenance policy: decision table pinned; poll-and-act " +
      "runs the right remedy and settles to no-op") {
    import graft.queries.VectorIndex
    // ---- the PURE decision table ----
    // empty index: nothing to do
    assert(StreamOps.graphMaintenanceActions(0, 0, 0, 0.0).isEmpty)
    // healthy: nothing
    assert(StreamOps.graphMaintenanceActions(2000, 16, 0, 1.0).isEmpty)
    // delta backlog: compact
    assert(StreamOps.graphMaintenanceActions(2000, 16, 0, 2.5) == Seq("compact"))
    // ONE skewed cell on a right-sized index is data skew the shard
    // rule already bounds — not a rebuild (target(8000)=17 < 2×16)
    assert(StreamOps.graphMaintenanceActions(8000, 16, 1, 1.0).isEmpty)
    // the profiler's measured stale regime (x10 row: 20300 nodes on
    // 16 cells, all sharded): rebuild — and rebuild SUBSUMES compact,
    // so it is the only action even at amp 7
    assert(StreamOps.graphMaintenanceActions(20300, 16, 16, 7.0) == Seq("rebuild"))
    assert(StreamOps.ivfMaintenanceActions(rebuildFlag = false, 10, 16).isEmpty)
    assert(StreamOps.ivfMaintenanceActions(rebuildFlag = true, 10, 16) == Seq("rebuild"))
    assert(StreamOps.ivfMaintenanceActions(rebuildFlag = false, 200, 16) == Seq("compact"))

    // ---- poll-and-act: graph delta backlog → compact → settles ----
    val dir = "/root/testdata/sf0.001"
    val gIdx = java.nio.file.Files.createTempDirectory("maint-graph").toString
    VectorIndex.buildGraph(spark, dir, gIdx)
    val extras = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 40000L).as("vec_id"), col("embedding").as("emb"))
      .limit(30)
    StreamOps.graphIngestBatch(gIdx, metricsEvery = 0)(extras, 1L).count()
    val served0 = VectorIndex.searchGraph(spark, gIdx,
      spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb")))
      .collect().map(_.toString).sorted.toSeq
    // compactAmp low enough that the one batch's delta trips it
    assert(StreamOps.maintainGraphIndex(spark, gIdx, compactAmp = 1.0001,
      targetPartitions = 4) == Seq("compact"))
    val h = StreamOps.graphIndexHealth(spark, gIdx).collect()(0)
    assert(h.getAs[Double]("read_amplification") == 1.0,
      s"compact remedy did not settle the audit: $h")
    assert(StreamOps.maintainGraphIndex(spark, gIdx, compactAmp = 1.0001,
      targetPartitions = 4).isEmpty, "policy did not settle to no-op")
    val served1 = VectorIndex.searchGraph(spark, gIdx,
      spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb")))
      .collect().map(_.toString).sorted.toSeq
    assert(served0 == served1, "maintenance changed serving results")

    // ---- poll-and-act: IVF drift → rebuild → settles ----
    val vIdx = java.nio.file.Files.createTempDirectory("maint-ivf").toString
    VectorIndex.buildIvf(spark, dir, vIdx)
    val drifted = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 50000L).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("emb"))
      .limit(300)
    StreamOps.ivfIngestBatch(vIdx)(drifted, 1L).count()
    assert(StreamOps.maintainIvfIndex(spark, vIdx) == Seq("rebuild"),
      "drifted IVF index should poll into a rebuild")
    assert(StreamOps.maintainIvfIndex(spark, vIdx).isEmpty,
      "IVF policy did not settle to no-op after its remedy")

    // ---- zorder / hll decision tables + poll-and-act ----
    assert(StreamOps.zorderMaintenanceActions(1, 0).isEmpty)
    assert(StreamOps.zorderMaintenanceActions(16, 0).isEmpty)
    assert(StreamOps.zorderMaintenanceActions(16, 16) == Seq("compact"))
    assert(StreamOps.zorderMaintenanceActions(600, 0) == Seq("compact"))
    assert(StreamOps.hllMaintenanceActions(1.0).isEmpty)
    assert(StreamOps.hllMaintenanceActions(2.0) == Seq("compact"))
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val ztbl = java.nio.file.Files.createTempDirectory("maint-z").toString
    // three interleaved appends: every file overlaps the others
    (1 to 3).foreach(i => StreamOps.zorderIngestBatch(ztbl, "l_partkey",
      "l_suppkey", metricsEvery = 0)(li.limit(200), i.toLong))
    assert(StreamOps.maintainZorderTable(spark, ztbl, "l_partkey",
      "l_suppkey", nFiles = 4) == Seq("compact"))
    assert(StreamOps.maintainZorderTable(spark, ztbl, "l_partkey",
      "l_suppkey", nFiles = 4).isEmpty,
      "zorder policy did not settle after OPTIMIZE")
    val hIdx = java.nio.file.Files.createTempDirectory("maint-hll").toString
    val ord = graft.sources.Tables.orders(spark, dir)
    (1 to 2).foreach(i => StreamOps.hllIngestBatch(hIdx,
      metricsEvery = 0)(ord.limit(100), i.toLong))
    assert(StreamOps.maintainHllIndex(spark, hIdx) == Seq("compact"),
      "duplicated register appends should poll into a compact")
    assert(StreamOps.maintainHllIndex(spark, hIdx).isEmpty,
      "hll policy did not settle after the fold")

    // ---- clusters / sample / near-dup decision tables + poll-and-act ----
    assert(StreamOps.clustersMaintenanceActions(0.0).isEmpty)
    assert(StreamOps.clustersMaintenanceActions(0.5) == Seq("compact"))
    assert(StreamOps.sampleMaintenanceActions(1.0).isEmpty)
    assert(StreamOps.sampleMaintenanceActions(2.0) == Seq("compact"))
    assert(StreamOps.nearDupMaintenanceActions(10).isEmpty)
    assert(StreamOps.nearDupMaintenanceActions(300) == Seq("compact"))
    import spark.implicits._
    val cIdx = java.nio.file.Files.createTempDirectory("maint-cc").toString
    StreamOps.clustersIngestBatch(cIdx, metricsEvery = 0)(
      Seq((10L, 11L), (20L, 21L)).toDF("a_id", "b_id"), 1L).count()
    // batch 2 merges the two clusters → a merge-log row per label row
    StreamOps.clustersIngestBatch(cIdx, metricsEvery = 0)(
      Seq((11L, 20L)).toDF("a_id", "b_id"), 2L).count()
    val cBefore = StreamOps.readClusters(spark, cIdx).collect()
      .map(_.toString).sorted.toSeq
    assert(StreamOps.maintainClustersIndex(spark, cIdx,
      maxShare = 0.1) == Seq("compact"),
      "merge backlog should poll into the fold")
    assert(StreamOps.maintainClustersIndex(spark, cIdx, maxShare = 0.1).isEmpty)
    assert(StreamOps.readClusters(spark, cIdx).collect()
      .map(_.toString).sorted.toSeq == cBefore,
      "clusters maintenance changed the labeling")
    val sIdx = java.nio.file.Files.createTempDirectory("maint-sample").toString
    val sdocs = graft.sources.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
    (1 to 2).foreach(i => StreamOps.sampleIngestBatch(sIdx,
      metricsEvery = 0)(sdocs, i.toLong))
    assert(StreamOps.maintainSampleIndex(spark, sIdx) == Seq("compact"),
      "duplicated cands should poll into the collapse")
    assert(StreamOps.maintainSampleIndex(spark, sIdx).isEmpty,
      "sample policy did not settle after the collapse")
  }

  test("rebuildIvfIndex: roster retrain equals a fresh one-shot build; " +
      "the staleness flag clears after its own remedy; catch-up folds " +
      "ingest-during-staging") {
    import graft.queries.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("ivf-rb").toString
    VectorIndex.buildIvf(spark, dir, idx)
    val extras = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 10000L).as("vec_id"), col("label"),
        col("embedding").as("emb"))
      .limit(90).cache()
    val parts = (0 until 2).map(i => extras.filter(pmod(col("vec_id"), lit(2)) === i))
    parts.zipWithIndex.foreach { case (p, i) =>
      StreamOps.ivfIngestBatch(idx)(p, (i + 1).toLong).count() }

    def cellsState(p: String) = spark.read.parquet(s"$p/cells")
      .collect().map(_.toString).sorted.toSeq
    def centsState(p: String) = VectorIndex.cachedCentroids(spark, p)
    def served(p: String) = {
      val queries = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      VectorIndex.searchIvf(spark, p, queries).collect()
        .map(_.toString).sorted.toSeq
    }

    // ---- A: rebuild over the accumulated roster == a FRESH one-shot
    // build over the same vectors (k defaults to the current count,
    // sampling discipline shared via trainAndWriteIvf)
    StreamOps.rebuildIvfIndex(spark, idx)
    val refCorpus = java.nio.file.Files.createTempDirectory("ivf-rb-corpus").toString
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
      .unionByName(extras.select(col("vec_id"), col("label"),
        col("emb").as("embedding")))
      .write.parquet(s"$refCorpus/embeddings.parquet")
    val ref = java.nio.file.Files.createTempDirectory("ivf-rb-ref").toString
    VectorIndex.buildIvf(spark, refCorpus, ref)
    assert(centsState(idx) == centsState(ref),
      "rebuilt quantizer diverges from the fresh build's")
    assert(cellsState(idx) == cellsState(ref),
      "rebuilt cell assignments diverge from the fresh build's")
    assert(served(idx) == served(ref), "serving diverges after rebuild")

    // ---- B: genuine drift trips the staleness flag; the rebuild is
    // its remedy and the flag clears because the stats reference now
    // describes the rebuilt cells
    val drifted = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 20000L).as("vec_id"),
        expr("transform(embedding, x -> -x)").as("emb"))
      .limit(300).cache()
    StreamOps.ivfIngestBatch(idx)(drifted, 3L).count()
    val flagged = VectorIndex.ivfStaleness(spark, idx).collect()(0)
    assert(flagged.getAs[Boolean]("rebuild"),
      s"negated vectors should trip the staleness flag: $flagged")
    StreamOps.rebuildIvfIndex(spark, idx)
    val cleared = VectorIndex.ivfStaleness(spark, idx).collect()(0)
    assert(!cleared.getAs[Boolean]("rebuild"),
      s"the flag must clear after its own remedy: $cleared")
    val selfQ = drifted.filter(col("vec_id") === 20001L)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val top = VectorIndex.searchIvf(spark, idx, selfQ).collect()
      .minBy(_.getLong(1))
    assert(top.getLong(2) == 20001L && top.getDouble(3) == 1.0,
      s"drifted vector does not serve itself at 1.0 after rebuild: $top")

    // ---- C: a batch lands between staging and commit — caught up
    // under the NEW quantizer, marker ledger preserved, replay no-op
    val late = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 30000L).as("vec_id"), col("embedding").as("emb"))
      .limit(20).cache()
    StreamOps.rebuildIvfIndexStaged(spark, idx)(() => {
      StreamOps.ivfIngestBatch(idx)(late, 4L).count(); () })
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(StreamOps.stagingRoots(fs, idx).isEmpty,
      "staging root survived the commit")
    val lateQ = late.filter(col("vec_id") === 30003L)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    // 30003 is a re-keyed COPY of vec_id 3, so both serve at 1.0 and
    // the rank tie-break may prefer the original — the pin is that
    // the caught-up copy SERVES at 1.0 at all
    val lateHits = VectorIndex.searchIvf(spark, idx, lateQ).collect()
    assert(lateHits.exists(r => r.getLong(2) == 30003L && r.getDouble(3) == 1.0),
      s"ingested-during-staging vector lost by the IVF rebuild: " +
        s"${lateHits.map(_.toString).mkString(", ")}")
    val n = spark.read.parquet(s"$idx/cells").count()
    StreamOps.ivfIngestBatch(idx)(late, 4L).count()
    assert(spark.read.parquet(s"$idx/cells").count() == n,
      "replay of the caught-up batch re-appended after the rebuild")
    StreamOps.recoverStagedRebuild(fs, idx) // heal replay: no-op
    assert(spark.read.parquet(s"$idx/cells").count() == n)
    extras.unpersist(); drifted.unpersist(); late.unpersist()
  }

  test("rebuildGraphIndex: roster retrain equals a fresh one-shot build; " +
      "catch-up folds ingest-during-staging; commit heals from any crash point") {
    import graft.queries.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graph-rb").toString
    VectorIndex.buildGraph(spark, dir, idx)
    val extras = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 10000L).as("vec_id"), col("label"),
        col("embedding").as("emb"))
      .limit(60).cache()
    val parts = (0 until 2).map(i => extras.filter(pmod(col("vec_id"), lit(2)) === i))
    parts.zipWithIndex.foreach { case (p, i) =>
      StreamOps.graphIngestBatch(idx)(p, (i + 1).toLong).count() }

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def state(p: String) = canon(VectorIndex.resolvedGraph(spark, p))
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    def served(p: String) = canon(VectorIndex.searchGraph(spark, p, queries))

    // ---- A: rebuild over the accumulated roster == a FRESH one-shot
    // build over the same vectors (same deterministic sample, same
    // training, same tables — the strongest equality available)
    StreamOps.rebuildGraphIndex(spark, idx)
    val refCorpus = java.nio.file.Files.createTempDirectory("graph-rb-corpus").toString
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
      .unionByName(extras.select(col("vec_id"), col("label"),
        col("emb").as("embedding")))
      .write.parquet(s"$refCorpus/embeddings.parquet")
    val ref = java.nio.file.Files.createTempDirectory("graph-rb-ref").toString
    VectorIndex.buildGraph(spark, refCorpus, ref)
    assert(state(idx) == state(ref),
      "rebuilt adjacency state diverges from the fresh one-shot build")
    assert(VectorIndex.cachedEntries(spark, idx) ==
      VectorIndex.cachedEntries(spark, ref), "entry points diverge")
    assert(served(idx) == served(ref), "serving diverges after rebuild")
    val hA = StreamOps.graphIndexHealth(spark, idx).collect()(0)
    assert(hA.getAs[Long]("delta_rows") == 0L &&
      hA.getAs[Double]("read_amplification") == 1.0 &&
      hA.getAs[Long]("sharded_cells") == 0L,
      s"rebuild should restore fresh-build health: $hA")

    // ---- B: a batch lands on the LIVE index between staging and
    // commit — the catch-up loop folds it into the staged index
    val late = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 30000L).as("vec_id"), col("embedding").as("emb"))
      .limit(20).cache()
    StreamOps.rebuildGraphIndexStaged(spark, idx)(() => {
      StreamOps.graphIngestBatch(idx)(late, 3L).count(); () })
    val qz2 = VectorIndex.cachedGraphQuantizer(spark, idx)
    def normed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id").cast("long"),
        col("emb").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("emb"), col("emb"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        call_function("graft_vec_div", col("emb"), col("nrm")).as("emb"))
    val ref2 = java.nio.file.Files.createTempDirectory("graph-rb-ref2").toString
    val allVecs = normed(spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").as("emb")))
      .unionByName(normed(extras)).unionByName(normed(late))
    VectorIndex.writeGraphTables(spark, allVecs, qz2, ref2)
    import spark.implicits._
    qz2.supers.zipWithIndex.map { case (c, sid) => (sid, c) }
      .toDF("sid", "cent").coalesce(1).write.mode("overwrite")
      .parquet(s"$ref2/supers")
    qz2.cells.zipWithIndex.map { case ((sid, c), kk) => (kk, sid, c) }
      .toDF("kk", "sid", "cent").coalesce(1).write.mode("overwrite")
      .parquet(s"$ref2/cents")
    assert(state(idx) == state(ref2),
      "caught-up state diverges from the one-shot rebuild under the new quantizer")
    assert(VectorIndex.cachedEntries(spark, idx) ==
      VectorIndex.cachedEntries(spark, ref2),
      "entry points diverge after catch-up")
    val selfQ = late.filter(col("vec_id") === 30003L)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val top = VectorIndex.searchGraph(spark, idx, selfQ).collect()
      .minBy(_.getLong(1))
    assert(top.getDouble(3) == 1.0,
      s"ingested-during-staging vector does not serve at sim 1.0: $top")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$idx/${VectorIndex.GraphMarkersDir}/b3")),
      "the batch-marker ledger must survive the rebuild")
    val deltaRows = spark.read.parquet(s"$idx/graph_delta").count()
    StreamOps.graphIngestBatch(idx)(late, 3L).count()
    assert(spark.read.parquet(s"$idx/graph_delta").count() == deltaRows,
      "replay of the caught-up batch re-appended after the rebuild")

    // ---- C: crash discipline.
    StreamOps.compactGraphIndex(spark, idx, targetPartitions = 4)
    val stateBefore = state(idx)
    // C1 abandoned staging (death before commit): real index untouched,
    // readers leave the staging root alone
    intercept[RuntimeException] {
      StreamOps.rebuildGraphIndexStaged(spark, idx)(() =>
        throw new RuntimeException("boom")) }
    // staging roots are per-acquisition-unique — discover by prefix
    val roots0 = StreamOps.stagingRoots(fs, idx)
    assert(roots0.size == 1,
      s"expected exactly one abandoned staging root: $roots0")
    val root = roots0.head
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(root, "_COMMITTED")),
      "hook-killed rebuild should leave uncommitted staging behind")
    assert(state(idx) == stateBefore,
      "uncommitted staging leaked into the live index")
    // C2 crash right after the commit manifest: hand-write _COMMITTED
    // over the (complete) abandoned staging — the next reader touch
    // must roll the swap forward to exactly the staged state
    val stagedState = canon(VectorIndex.resolvedGraph(spark, root.toString))
    val manifest = Seq("supers", "cents", "graph", "entries", "members")
      .filter(t => fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t")))
      .map("swap:" + _) ++ Seq("drop:graph_delta", "drop:entries_delta")
    val outS = fs.create(new org.apache.hadoop.fs.Path(root, "_COMMITTED"), true)
    outS.write(manifest.mkString("\n").getBytes("UTF-8")); outS.close()
    val healedState = state(idx) // resolvedGraph heals first
    assert(!fs.exists(root), "roll-forward should consume the staging root")
    assert(healedState == stagedState,
      "healed index is not the staged index")
    // C3 replay of the heal is a no-op
    StreamOps.recoverStagedRebuild(fs, idx)
    assert(state(idx) == stagedState)
    // C4 a truncated/empty manifest (crash inside a NON-atomic write —
    // which the tmp+rename commit makes unreachable, but belt and
    // braces) is refused loudly instead of read as "nothing staged"
    // and deleting the live index
    fs.mkdirs(root)
    fs.create(new org.apache.hadoop.fs.Path(root, "_COMMITTED"), true).close()
    val boom = intercept[java.io.IOException](
      StreamOps.recoverStagedRebuild(fs, idx))
    assert(boom.getMessage.contains("empty"), s"wrong refusal: $boom")
    // EVERY reader refuses too (loud-until-fixed, by design); after
    // clearing the corrupt root the live index is untouched
    intercept[java.io.IOException](state(idx))
    fs.delete(root, true)
    assert(state(idx) == stagedState, "empty-manifest heal touched the index")
    extras.unpersist(); late.unpersist()
  }

  test("maintenance lease: epochs are monotonic, a newer acquisition " +
      "fences every older one, same-epoch races resolve deterministically") {
    val idx = java.nio.file.Files.createTempDirectory("lease-unit").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val l1 = StreamOps.acquireMaintenanceLease(fs, idx)
    StreamOps.checkMaintenanceLease(fs, l1) // own fresh lease: fine
    val l2 = StreamOps.acquireMaintenanceLease(fs, idx)
    assert(l2.epoch == l1.epoch + 1, "epochs must be monotonic")
    intercept[StreamOps.MaintenanceFencedException](
      StreamOps.checkMaintenanceLease(fs, l1))
    StreamOps.checkMaintenanceLease(fs, l2) // the newest writer holds
    // same-epoch race: a peer lease file at l2's epoch with a SMALLER
    // name (the deterministic winner) fences l2
    val peer = f"e${l2.epoch}%019d_0000000000000000000000000000000"
    fs.create(new org.apache.hadoop.fs.Path(s"$idx/${StreamOps.LeaseDirName}/$peer"),
      false).close()
    intercept[StreamOps.MaintenanceFencedException](
      StreamOps.checkMaintenanceLease(fs, l2))
    // a vanished lease file (lease dir wiped) also reads as fenced —
    // never as "free to commit"
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/${StreamOps.LeaseDirName}"), true)
    intercept[StreamOps.MaintenanceFencedException](
      StreamOps.checkMaintenanceLease(fs, l2))
    // stray non-lease files never abort a writer — including a
    // 19-digit name past Long.MaxValue (a naive toLong would throw)
    val l3 = StreamOps.acquireMaintenanceLease(fs, idx)
    for (stray <- Seq("not-a-lease",
        "e9999999999999999999_ffffffffffffffffffffffffffffffff"))
      fs.create(new org.apache.hadoop.fs.Path(
        s"$idx/${StreamOps.LeaseDirName}/$stray"), false).close()
    StreamOps.checkMaintenanceLease(fs, l3)
    val l4 = StreamOps.acquireMaintenanceLease(fs, idx)
    assert(l4.epoch == l3.epoch + 1,
      "an overflowing stray name must not hijack the epoch sequence")
  }

  test("cross-process fencing: a second maintenance writer starting " +
      "mid-rebuild (own thread, outside the JVM lock) makes the first " +
      "abort PRE-commit with the live index byte-identical") {
    import graft.queries.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graph-fence").toString
    VectorIndex.buildGraph(spark, dir, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def state() = canon(VectorIndex.resolvedGraph(spark, idx))
    def listing(): Seq[String] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
        fs.listStatus(p).toSeq.flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else Seq(s"${s.getPath}:${s.getLen}")
        }
      Seq("supers", "cents", "graph", "entries", "members")
        .map(t => new org.apache.hadoop.fs.Path(s"$idx/$t"))
        .filter(fs.exists).flatMap(walk).sorted
    }
    val stateBefore = state()
    val filesBefore = listing()
    // the second sweeper: a plain lease acquisition from ANOTHER
    // thread (no shared JVM state with the rebuild loop — exactly a
    // second process's first move), injected between staging and
    // commit
    val boom = intercept[StreamOps.MaintenanceFencedException] {
      StreamOps.rebuildGraphIndexStaged(spark, idx)(() => {
        val t = new Thread(() => StreamOps.acquireMaintenanceLease(fs, idx))
        t.start(); t.join()
      })
    }
    assert(boom.getMessage.contains("fenced"), s"wrong abort: $boom")
    // losing epoch aborted PRE-commit: staging left inert (no
    // manifest), every live table byte-identical, serving unchanged
    val fencedRoots = StreamOps.stagingRoots(fs, idx)
    assert(fencedRoots.nonEmpty && fencedRoots.forall(r => !fs.exists(
      new org.apache.hadoop.fs.Path(r, "_COMMITTED"))),
      "fenced rebuild must leave an UNCOMMITTED staging root")
    assert(listing() == filesBefore,
      "fenced rebuild mutated live table files")
    assert(state() == stateBefore, "fenced rebuild changed the index state")
    // the winner (or any later sweeper) proceeds normally: a fresh
    // rebuild clears the abandoned staging and commits
    StreamOps.rebuildGraphIndex(spark, idx)
    assert(StreamOps.stagingRoots(fs, idx).isEmpty,
      "successful rebuild should consume staging (own root committed, " +
        "the fenced one garbage-collected)")
    assert(state() == stateBefore,
      "no-new-data rebuild changed the resolved state")

    // the IVF twin aborts pre-commit the same way
    val vdir = java.nio.file.Files.createTempDirectory("ivf-fence").toString
    VectorIndex.buildIvf(spark, dir, vdir, k = 4)
    val vfs = new org.apache.hadoop.fs.Path(vdir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cellsBefore = canon(spark.read.parquet(s"$vdir/cells"))
    intercept[StreamOps.MaintenanceFencedException] {
      StreamOps.rebuildIvfIndexStaged(spark, vdir)(() => {
        val t = new Thread(() => StreamOps.acquireMaintenanceLease(vfs, vdir))
        t.start(); t.join()
      })
    }
    assert(StreamOps.stagingRoots(vfs, vdir).forall(r => !vfs.exists(
      new org.apache.hadoop.fs.Path(r, "_COMMITTED"))))
    assert(canon(spark.read.parquet(s"$vdir/cells")) == cellsBefore,
      "fenced IVF rebuild touched the live cells")
  }

  test("maintainAll: one sweep over a mixed-family root set detects every " +
      "family, runs each decayed root's remedy, and the second sweep no-ops") {
    import graft.queries.VectorIndex
    val dir = "/root/testdata/sf0.001"
    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(s"sweep-$tag").toString

    // ---- graph: delta backlog (one ingest batch on a fresh build) ----
    val gIdx = tmp("graph")
    VectorIndex.buildGraph(spark, dir, gIdx)
    StreamOps.graphIngestBatch(gIdx, metricsEvery = 0)(
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select((col("vec_id") + 40000L).as("vec_id"),
          col("embedding").as("emb")).limit(30), 1L).count()

    // ---- IVF: drifted ingest flips the staleness flag ----
    val vIdx = tmp("ivf")
    VectorIndex.buildIvf(spark, dir, vIdx)
    StreamOps.ivfIngestBatch(vIdx)(
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select((col("vec_id") + 50000L).as("vec_id"),
          expr("transform(embedding, x -> -x)").as("emb")).limit(300),
      1L).count()

    // ---- near-dup LSH: small-file pressure from four appends ----
    val nIdx = tmp("neardup") + "/index"
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and naps all afternoon",
      "columnar shuffles and broadcast joins dominate the query plan today",
      "micro batch ingestion appends a few files per touched index bucket",
      "entirely novel words describing lakeside weather and morning coffee")
    texts.zipWithIndex.foreach { case (t, i) =>
      StreamOps.nearDupIngestBatch(nIdx)(
        Seq((i.toLong, t)).toDF("doc_id", "text"), i.toLong).count()
    }
    def ndFiles(): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      Seq("bands", "shingles").map(s => walk(new java.io.File(s"$nIdx/$s"))).sum
    }
    val ndPre = ndFiles()
    assert(ndPre >= 4, s"fixture too small to show file pressure: $ndPre")

    // ---- clusters: a merge backlog from a cross-cluster edge ----
    val cIdx = tmp("clusters")
    StreamOps.clustersIngestBatch(cIdx, metricsEvery = 0)(
      Seq((10L, 11L), (20L, 21L)).toDF("a_id", "b_id"), 1L).count()
    StreamOps.clustersIngestBatch(cIdx, metricsEvery = 0)(
      Seq((11L, 20L)).toDF("a_id", "b_id"), 2L).count()
    val cBefore = StreamOps.readClusters(spark, cIdx).collect()
      .map(_.toString).sorted.toSeq

    // ---- sample / hll: duplicated appends → read amplification 2 ----
    val sIdx = tmp("sample")
    val sdocs = graft.sources.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
    (1 to 2).foreach(i =>
      StreamOps.sampleIngestBatch(sIdx, metricsEvery = 0)(sdocs, i.toLong))
    val hIdx = tmp("hll")
    val ord = graft.sources.Tables.orders(spark, dir)
    (1 to 2).foreach(i =>
      StreamOps.hllIngestBatch(hIdx, metricsEvery = 0)(ord.limit(100), i.toLong))

    // ---- zorder: interleaved appends (every file overlaps) ----
    val zTbl = tmp("zorder")
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    (1 to 3).foreach(i => StreamOps.zorderIngestBatch(zTbl, "l_partkey",
      "l_suppkey", metricsEvery = 0)(li.limit(200), i.toLong))
    val zNoDims = tmp("zorder-nodims")
    StreamOps.zorderIngestBatch(zNoDims, "l_partkey", "l_suppkey",
      metricsEvery = 0)(li.limit(50), 1L)

    val unknown = tmp("unknown")

    val roots = Seq(gIdx, vIdx, nIdx, cIdx, sIdx, hIdx, zTbl, zNoDims, unknown)
    val tuning = StreamOps.MaintenanceTuning(
      graphCompactAmp = 1.0001,      // one batch's delta trips it
      clustersMaxShare = 0.1,        // the one merge-log entry trips it
      nearDupMaxFiles = ndPre - 1,   // current pressure trips it
      targetPartitions = 4)
    val dims = Map(zTbl -> ("l_partkey", "l_suppkey"))

    // ---- sweep 1: every family detected, every decayed root acted on ----
    val r1 = StreamOps.maintainAll(spark, roots, dims, tuning)
    assert(r1.map(r => r.root -> r.family) == roots.zip(Seq("graph", "ivf",
      "neardup", "clusters", "sample", "hll", "zorder", "zorder", "unknown")),
      s"family detection wrong: $r1")
    val byRoot = r1.map(r => r.root -> r).toMap
    assert(byRoot(gIdx).actions == Seq("compact"))
    assert(byRoot(vIdx).actions == Seq("rebuild"))
    assert(byRoot(nIdx).actions == Seq("compact"))
    assert(byRoot(cIdx).actions == Seq("compact"))
    assert(byRoot(sIdx).actions == Seq("compact"))
    assert(byRoot(hIdx).actions == Seq("compact"))
    assert(byRoot(zTbl).actions == Seq("compact"))
    assert(byRoot(zNoDims).actions == Seq("skipped:no-dims"))
    assert(byRoot(unknown).actions.isEmpty)
    // the report carries each family's post-action audit for the log
    assert(byRoot(gIdx).audit.contains("read_amplification=1.0"),
      s"graph audit did not settle in the report: ${byRoot(gIdx).audit}")
    assert(byRoot(cIdx).audit.contains("n_merge_rows=0"),
      s"clusters audit did not settle in the report: ${byRoot(cIdx).audit}")
    assert(ndFiles() < ndPre, "near-dup compaction did not reduce file count")

    // remedies must not change what the indexes SAY
    assert(StreamOps.readClusters(spark, cIdx).collect()
      .map(_.toString).sorted.toSeq == cBefore,
      "the sweep changed the cluster labeling")

    // ---- sweep 2 (same tuning): everything settled to no-op ----
    val r2 = StreamOps.maintainAll(spark, roots, dims, tuning)
    r2.foreach { r =>
      val expected =
        if (r.root == zNoDims) Seq("skipped:no-dims") else Seq.empty
      assert(r.actions == expected,
        s"root ${r.root} (${r.family}) did not settle: ${r.actions}")
    }
  }

  test("maintainAll fault isolation: a root fenced mid-remedy reports " +
      "'fenced' and the sweep continues to the remaining roots") {
    val dir = "/root/testdata/sf0.01"
    // contended root FIRST (a zorder OPTIMIZE slow enough to fence
    // mid-rewrite), a decayed hll root AFTER it
    val zTbl = java.nio.file.Files.createTempDirectory("iso-z").toString
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    (1 to 3).foreach(i => StreamOps.zorderIngestBatch(zTbl, "l_partkey",
      "l_suppkey", metricsEvery = 0)(li, i.toLong))
    val hIdx = java.nio.file.Files.createTempDirectory("iso-hll").toString
    val ord = graft.sources.Tables.orders(spark, dir)
    (1 to 2).foreach(i => StreamOps.hllIngestBatch(hIdx,
      metricsEvery = 0)(ord.limit(100), i.toLong))
    val fs = new org.apache.hadoop.fs.Path(zTbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def zRows() = spark.read.parquet(s"$zTbl/rows").count()
    val rowsBefore = zRows()

    // the contender: waits until the SWEEP's lease appears on the
    // zorder root, then acquires its own (newer epoch) — exactly a
    // second scheduler starting mid-OPTIMIZE
    val leaseDir = new org.apache.hadoop.fs.Path(
      s"$zTbl/${StreamOps.LeaseDirName}")
    val contender = new Thread(() => {
      while (!fs.exists(leaseDir) || fs.listStatus(leaseDir).isEmpty)
        Thread.sleep(5)
      StreamOps.acquireMaintenanceLease(fs, zTbl)
    })
    contender.start()
    val dims = Map(zTbl -> ("l_partkey", "l_suppkey"))
    val r1 = StreamOps.maintainAll(spark, Seq(zTbl, hIdx), dims)
    contender.join()
    assert(r1.map(_.family) == Seq("zorder", "hll"))
    assert(r1.head.actions == Seq("fenced"),
      s"contended OPTIMIZE should report fenced: ${r1.head}")
    assert(r1.head.audit.contains("fenced"), "audit should carry the message")
    assert(r1(1).actions == Seq("compact"),
      s"the sweep must continue past the fenced root: ${r1(1)}")
    // the fenced root's live table is untouched
    assert(zRows() == rowsBefore, "fenced OPTIMIZE mutated the table")
    // the next sweep acquires a fresh (newest) epoch and retries it
    val r2 = StreamOps.maintainAll(spark, Seq(zTbl, hIdx), dims)
    assert(r2.head.actions == Seq("compact"),
      s"retry sweep should OPTIMIZE the previously fenced root: ${r2.head}")
    assert(zRows() == rowsBefore, "OPTIMIZE changed the row multiset size")
    assert(StreamOps.maintainAll(spark, Seq(zTbl, hIdx), dims)
      .forall(_.actions.isEmpty), "third sweep should no-op")

    // ---- the same blast-radius rule for every other fault class: a
    //      root whose remedy THROWS (regs is a garbage file, so the
    //      hll audit's parquet read fails) reports 'failed' and the
    //      sweep still reaches the root behind it ----
    val broken = java.nio.file.Files.createTempDirectory("iso-broken").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$broken/regs"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$broken/regs/part-0.parquet"),
      "this is not parquet".getBytes("UTF-8"))
    val ord2 = graft.sources.Tables.orders(spark, dir)
    (1 to 2).foreach(i => StreamOps.hllIngestBatch(hIdx,
      metricsEvery = 0)(ord2.limit(50), 100L + i))
    val r3 = StreamOps.maintainAll(spark, Seq(broken, hIdx), dims)
    assert(r3.head.family == "hll" && r3.head.actions == Seq("failed"),
      s"corrupt root should report failed: ${r3.head}")
    assert(r3.head.audit.nonEmpty, "failed report should carry the cause")
    assert(r3(1).actions == Seq("compact"),
      s"the sweep must continue past the failed root: ${r3(1)}")
  }

  test("maintainAll: a root matching two family layouts reports " +
      "'ambiguous' instead of silently maintaining the first-probed; " +
      "audit faults never misclassify a completed remedy") {
    // labels + cands siblings under ONE root: clusters AND sample
    val amb = java.nio.file.Files.createTempDirectory("iso-amb").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$amb/labels"))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$amb/cands"))
    val r = StreamOps.maintainAll(spark, Seq(amb))
    assert(r.head.family == "clusters+sample",
      s"ambiguous families should be reported together: ${r.head}")
    assert(r.head.actions == Seq("ambiguous"), s"wrong actions: ${r.head}")
    assert(r.head.audit.contains("multiple family layouts"),
      s"audit should name the problem: ${r.head}")

    // the two fault channels, pinned on the pure seam: an audit
    // re-read that throws AFTER a successful remedy keeps the real
    // actions list and reports the audit fault in the audit field
    val ok = StreamOps.sweepReport("r", "hll",
      () => Seq("compact"),
      () => throw new java.io.IOException("health frame empty"))
    assert(ok.actions == Seq("compact"),
      s"audit fault misclassified the remedy: $ok")
    assert(ok.audit.startsWith("audit-failed:") &&
      ok.audit.contains("health frame empty"), s"wrong audit: $ok")
    // a fenced remedy still reports fenced (audit thunk never runs)
    val fenced = StreamOps.sweepReport("r", "graph",
      () => throw new StreamOps.MaintenanceFencedException("fenced by e9"),
      () => fail("audit must not run after a fenced remedy"))
    assert(fenced.actions == Seq("fenced") && fenced.audit == "fenced by e9")
    // a failed remedy reports the cause, audit thunk never runs
    val failed = StreamOps.sweepReport("r", "ivf",
      () => throw new RuntimeException("corrupt footer"),
      () => fail("audit must not run after a failed remedy"))
    assert(failed.actions == Seq("failed") &&
      failed.audit.contains("corrupt footer"))
  }

  test("two-sweeper staging isolation: a fenced writer's late stage " +
      "write lands in its OWN uniquely-named root and cannot pollute " +
      "the winner's staged tables") {
    import graft.queries.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graph-iso").toString
    VectorIndex.buildGraph(spark, dir, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val stateBefore = canon(VectorIndex.resolvedGraph(spark, idx))
    // the fenced OLDER writer's late Spark write, injected between
    // the winner's staging and commit: under the old FIXED staging
    // name this landed inside the winner's root and was swapped live
    // by the winner's own commit; under per-acquisition roots it
    // lands in the older writer's own name and stays inert
    val olderRoot = new org.apache.hadoop.fs.Path(
      s"$idx/${StreamOps.GraphRebuildDir}_e0000000000000000001_" +
        "00000000000000000000000000000000")
    StreamOps.rebuildGraphIndexStaged(spark, idx)(() => {
      spark.range(3).selectExpr("id AS vec_id", "id AS cell")
        .write.mode("overwrite").parquet(s"$olderRoot/graph")
      ()
    })
    // winner committed its clean rebuild; the older root is inert
    // manifest-less garbage, consumed by the next rebuild's GC
    assert(canon(VectorIndex.resolvedGraph(spark, idx)) == stateBefore,
      "the late foreign stage write polluted the committed index")
    val leftover = StreamOps.stagingRoots(fs, idx)
    assert(leftover.map(_.getName) == Seq(olderRoot.getName),
      s"expected only the older writer's inert root: $leftover")
    StreamOps.rebuildGraphIndex(spark, idx)
    assert(StreamOps.stagingRoots(fs, idx).isEmpty,
      "the next rebuild should garbage-collect the abandoned root")
    assert(canon(VectorIndex.resolvedGraph(spark, idx)) == stateBefore)
  }

  test("graphIngestBatch heals a pre-supers (round-13) root: maintained " +
      "state equals the current-layout twin") {
    import graft.queries.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graph-modern").toString
    VectorIndex.buildGraph(spark, dir, idx)
    // clone the index as a ROUND-13 layout: cents WITHOUT the sid
    // column, NO supers table (at sandbox scale the live quantizer is
    // single-super, so the legacy heal — one implicit super owning
    // every cell — must reproduce its assignment exactly)
    val legacy = java.nio.file.Files.createTempDirectory("graph-legacy").toString
    spark.read.parquet(s"$idx/cents").select(col("kk"), col("cent"))
      .coalesce(1).write.parquet(s"$legacy/cents")
    spark.read.parquet(s"$idx/graph")
      .write.partitionBy("cell").parquet(s"$legacy/graph")
    spark.read.parquet(s"$idx/members")
      .write.partitionBy("cell").parquet(s"$legacy/members")
    spark.read.parquet(s"$idx/entries").coalesce(1)
      .write.parquet(s"$legacy/entries")
    // orderBy before limit: the batch plan re-executes once per
    // maintainer call, so an unordered limit could feed the two
    // roots different 25-row sets
    val batch = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 30000L).as("vec_id"), col("embedding").as("emb"))
      .orderBy(col("vec_id")).limit(25)
    // the first maintainer touch of the legacy root used to die on
    // spark.read.parquet(legacy/supers)
    StreamOps.graphIngestBatch(legacy)(batch, 1L).count()
    StreamOps.graphIngestBatch(idx)(batch, 1L).count()
    def canon(p: String) = VectorIndex.resolvedGraph(spark, p)
      .collect().map(_.toString).sorted.toSeq
    assert(canon(legacy) == canon(idx),
      "legacy-healed maintainer state diverges from the modern twin")
  }

  test("IVF compaction crash window: ingest and serving heal cells before touching it") {
    import graft.queries.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("ivf-heal").toString
    VectorIndex.buildIvf(spark, dir, idx)
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    def served() = VectorIndex.searchIvf(spark, idx, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val baseline = served()
    val n0 = spark.read.parquet(s"$idx/cells").count()
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cells = new org.apache.hadoop.fs.Path(s"$idx/cells")
    val old = new org.apache.hadoop.fs.Path(s"$idx/cells__old")

    // crash between compactIvfIndex's rename pair: cells absent, the
    // complete copy staged in __old — serving must heal, not fail
    assert(fs.rename(cells, old))
    assert(served() == baseline, "serving after heal diverged from baseline")
    assert(!fs.exists(old) && fs.exists(cells))

    // the ADVICE scenario: same crash state, then an ingest batch
    // arrives FIRST. Without heal-first the append recreates cells
    // holding only the batch, recoverCompaction never restores (path
    // exists), and the next compaction deletes __old — silent loss of
    // the accumulated index. With the heal the batch lands ON TOP of
    // the restored rows.
    assert(fs.rename(cells, old))
    val extras = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 50000L).as("vec_id"), col("embedding").as("emb"))
      .limit(20)
    StreamOps.ivfIngestBatch(idx)(extras, 7L).count()
    assert(!fs.exists(old), "ingest did not heal the staged __old copy")
    assert(spark.read.parquet(s"$idx/cells").count() == n0 + 20,
      "accumulated index rows lost across the crash-window ingest")
    // and a subsequent compaction keeps everything (no stale __old to eat)
    StreamOps.compactIvfIndex(spark, idx, targetPartitions = 4)
    assert(spark.read.parquet(s"$idx/cells").count() == n0 + 20)
  }

  test("funnelStream: state equals the batch funnel at every boundary; replays idempotent") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val latest = scala.collection.mutable.Map[Long, (Option[Long], Option[Long], Option[Long], Long)]()
    val q = StreamOps.funnelStream(
        in.toDF().toDF("user_id", "ts", "event_id", "event_type"))
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.FunnelRow], id: Long) =>
        latest.synchronized {
          b.collect().foreach(r =>
            latest(r.user_id) = (r.view_us, r.click_us, r.purchase_us, r.depth)); ()
        }
      }.start()

    val b1 = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "view"),
      (1L, t("2024-01-01 10:05:00"), 2L, "click"),
      (2L, t("2024-01-01 09:00:00"), 3L, "click")) // click before ANY view
    val b2 = Seq(
      (2L, t("2024-01-01 09:30:00"), 4L, "view"),
      (2L, t("2024-01-01 09:45:00"), 5L, "click"),
      (1L, t("2024-01-01 10:10:00"), 6L, "purchase"))

    def batchTruth(events: Seq[(Long, java.sql.Timestamp, Long, String)]) = {
      import spark.implicits._
      graft.queries.EventQueries.funnelOf(
          events.toDF("user_id", "ts", "event_id", "event_type"))
        .collect().map(r => r.getLong(0) ->
          ((Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))).toMap
    }

    in.addData(b1: _*); q.processAllAvailable()
    assert(latest.synchronized(latest.toMap) == batchTruth(b1))
    in.addData(b2: _*); q.processAllAvailable()
    val afterB2 = latest.synchronized(latest.toMap)
    assert(afterB2 == batchTruth(b1 ++ b2))
    // u2's early click (pos before its first view) must NOT have
    // qualified; the later click did
    assert(afterB2(2L)._2.contains(t("2024-01-01 09:45:00").getTime * 1000L))

    // at-least-once replay of b1: u2's old click is re-delivered
    // AFTER u2's view arrived — the POSITION check keeps it
    // unqualified (a presence-flag state would wrongly accept it),
    // so state and emitted rows are unchanged
    in.addData(b1: _*); q.processAllAvailable(); q.stop()
    assert(latest.synchronized(latest.toMap) == afterB2,
      "replayed batch changed the funnel state")
  }

  test("sessionStream: per-user summaries equal the batch sessionize at every boundary") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val latest = scala.collection.mutable.Map[Long, (Long, Long, Double)]()
    val q = StreamOps.sessionStream(
        in.toDF().toDF("user_id", "ts", "event_id", "value"))
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.SessRow], id: Long) =>
        latest.synchronized {
          b.collect().foreach(r =>
            latest(r.user_id) = (r.n_sessions, r.n_events, r.max_session_value)); ()
        }
      }.start()

    // values are exact binary fractions so sequential (stream) and
    // hash-agg (batch) summation orders are bit-identical
    val b1 = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, 1.25),
      (1L, t("2024-01-01 10:20:00"), 2L, 2.50),   // same session
      (2L, t("2024-01-01 09:00:00"), 3L, 4.75))
    val b2 = Seq(
      (1L, t("2024-01-01 10:40:00"), 4L, 8.25),   // CROSS-BATCH link: still session 1
      (2L, t("2024-01-01 11:00:00"), 5L, 0.50),   // cross-batch GAP: session 2
      (3L, t("2024-01-01 12:00:00"), 6L, 3.00))   // new user mid-stream
    val b3 = Seq(
      (1L, t("2024-01-01 23:00:00"), 7L, 0.25))   // gap: u1's open max re-competes

    def batchTruth(events: Seq[(Long, java.sql.Timestamp, Long, Double)]) = {
      import spark.implicits._
      graft.queries.EventQueries.sessionizeOf(
          events.toDF("user_id", "ts", "event_id", "value"))
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    }
    in.addData(b1: _*); q.processAllAvailable()
    assert(latest.synchronized(latest.toMap) == batchTruth(b1))
    in.addData(b2: _*); q.processAllAvailable()
    assert(latest.synchronized(latest.toMap) == batchTruth(b1 ++ b2))
    in.addData(b3: _*); q.processAllAvailable(); q.stop()
    val fin = latest.synchronized(latest.toMap)
    assert(fin == batchTruth(b1 ++ b2 ++ b3))
    // the closed cross-batch session (12.0) beats the open tail (0.25)
    assert(fin(1L) == ((2L, 4L, 12.0)))
    assert(fin(2L) == ((2L, 2L, 4.75)))
  }

  test("sessionStreamLate: in-watermark late event lands batch-equal; " +
      "outside-watermark event dead-letters") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val latest = scala.collection.mutable.Map[Long, (Long, Long, Double)]()
    val dead = scala.collection.mutable.ArrayBuffer[Long]()
    val q = StreamOps.sessionStreamLate(
        in.toDF().toDF("user_id", "ts", "event_id", "value"),
        delay = "600 seconds")
      .writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamOps.SessLateOut], id: Long) =>
          latest.synchronized {
            b.collect().foreach { r =>
              if (r.kind == "summary")
                latest(r.user_id) = (r.n_sessions, r.n_events, r.max_session_value)
              else dead += r.late_event_id
            }; ()
          }
      }.start()

    def batchTruth(events: Seq[(Long, java.sql.Timestamp, Long, Double)]) = {
      import spark.implicits._
      graft.queries.EventQueries.sessionizeOf(
          events.toDF("user_id", "ts", "event_id", "value"))
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    }
    val b1 = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, 1.25),
      (1L, t("2024-01-01 10:20:00"), 2L, 2.50))
    in.addData(b1: _*); q.processAllAvailable()
    assert(latest.synchronized(latest.toMap) == batchTruth(b1))
    // watermark after b1 = 10:20 − 10 min = 10:10. A LATE arrival at
    // 10:12 is inside the watermark: the in-order twin would
    // mis-sessionize it (its automaton already advanced past 10:12);
    // the reorder buffer slots it between the two b1 events.
    val late = (1L, t("2024-01-01 10:12:00"), 3L, 8.25)
    val b2 = Seq(late, (2L, t("2024-01-01 10:30:00"), 4L, 0.50))
    in.addData(b2: _*); q.processAllAvailable()
    assert(latest.synchronized(latest.toMap) == batchTruth(b1 ++ b2),
      "in-watermark late event did not land batch-equal")
    assert(dead.synchronized(dead.isEmpty))
    // an arrival BELOW the finalized frontier (10:10 at b3's start)
    // is outside the watermark: dead-letter, summaries unchanged
    val tooLate = (1L, t("2024-01-01 09:00:00"), 5L, 99.0)
    in.addData(tooLate); q.processAllAvailable(); q.stop()
    assert(latest.synchronized(latest.toMap) == batchTruth(b1 ++ b2),
      "outside-watermark event leaked into the summaries")
    assert(dead.synchronized(dead.toSeq) == Seq(5L),
      s"expected event 5 in the dead letter, got $dead")
  }

  test("scd2StreamLate: late in-watermark tier change closes batch-equal; " +
      "outside-watermark purchase dead-letters") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val closed = scala.collection.mutable.Set[(Long, Int, String, String)]()
    val dead = scala.collection.mutable.ArrayBuffer[Long]()
    val q = StreamOps.scd2StreamLate(
        in.toDF().toDF("user_id", "ts", "event_id", "event_type", "value"),
        delaySeconds = 600L)
      .writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamOps.Scd2LateOut], id: Long) =>
          closed.synchronized {
            b.collect().foreach { r =>
              if (r.kind == "interval")
                closed += ((r.user_id, r.tier, r.valid_from, r.valid_to))
              else dead += r.late_event_id
            }; ()
          }
      }.start()

    def batchClosed(events: Seq[(Long, java.sql.Timestamp, Long, String, Double)],
        sealedBelow: java.sql.Timestamp) = {
      val dir = s"${sys.props("java.io.tmpdir")}/graft_scd2late_fixture"
      events.toDF("user_id", "ts", "event_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      graft.queries.EventQueries.k7Scd2(spark, dir)
        .filter(!col("is_current"))
        // only closes the watermark has sealed are streamable —
        // the stream must emit exactly the batch rows whose CLOSING
        // event is below the seal
        .filter(col("valid_to") < lit(
          new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
            .format(sealedBelow)))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
        .toSet
    }
    // batch 1: user 1 at tier 1 (10:00) then tier 3 (10:40) — an
    // in-order automaton would close tier1@[10:00,10:40) here
    val b1 = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "purchase", 150.0),
      (1L, t("2024-01-01 10:40:00"), 2L, "purchase", 350.0))
    in.addData(b1: _*); q.processAllAvailable()
    // batch 2: a LATE tier-2 purchase at 10:32 — inside the watermark
    // (after b1 it stands at 10:40 − 10 min = 10:30). It splits the
    // would-be interval: the true history becomes
    // 1@[10:00,10:32) → 2@[10:32,10:40) → 3 open — which the in-order
    // twin can never produce (its automaton already passed 10:32)
    val late = (1L, t("2024-01-01 10:32:00"), 3L, "purchase", 250.0)
    val adv = (2L, t("2024-01-01 11:30:00"), 4L, "purchase", 50.0)
    in.addData(late, adv); q.processAllAvailable()
    // batch 3: advance the watermark to 11:20 (11:30 − 10 min), far
    // enough to seal and emit both of user 1's closes
    val adv2 = (2L, t("2024-01-01 13:00:00"), 5L, "purchase", 250.0)
    in.addData(adv2); q.processAllAvailable()
    val sealedAt = t("2024-01-01 11:20:00") // the watermark at the last fold
    assert(closed.synchronized(closed.toSet) ==
      batchClosed(b1 ++ Seq(late, adv, adv2), sealedAt),
      s"sealed closes diverge from the batch reconstruction: $closed")
    // the late tier-2 interval really exists — the in-order twin
    // would instead have closed 1@[10:00,10:40)
    assert(closed.synchronized(closed.exists { case (u, tier, from, to) =>
      u == 1L && tier == 2 && from == "2024-01-01 10:32:00" }),
      "late tier change did not split the interval")
    assert(dead.synchronized(dead.isEmpty))
    // outside the watermark: user 1's frontier sealed at 11:20 — a
    // 10:05 purchase dead-letters and changes nothing
    val before = closed.synchronized(closed.toSet)
    in.addData((1L, t("2024-01-01 10:05:00"), 6L, "purchase", 450.0))
    q.processAllAvailable(); q.stop()
    assert(closed.synchronized(closed.toSet) == before,
      "outside-watermark purchase leaked into the intervals")
    assert(dead.synchronized(dead.toSeq) == Seq(6L),
      s"expected event 6 dead-lettered, got $dead")
  }

  test("funnelStreamLate: late early view re-qualifies the funnel batch-equally; " +
      "outside-watermark dead-letters") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val latest = scala.collection.mutable.Map[Long, (Option[Long], Option[Long], Long)]()
    val dead = scala.collection.mutable.ArrayBuffer[Long]()
    val q = StreamOps.funnelStreamLate(
        in.toDF().toDF("user_id", "ts", "event_id", "event_type"),
        delay = "600 seconds")
      .writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamOps.FunnelLateOut], id: Long) =>
          latest.synchronized {
            b.collect().foreach { r =>
              if (r.kind == "summary")
                latest(r.user_id) = (r.view_us, r.click_us, r.depth)
              else dead += r.late_event_id
            }; ()
          }
      }.start()

    // batch 1: a click with NO prior view — depth stays 0
    val b1 = Seq((1L, t("2024-01-01 10:20:00"), 1L, "click"))
    in.addData(b1: _*); q.processAllAvailable()
    assert(latest.synchronized(latest(1L)) == ((None, None, 0L)))
    // batch 2: the VIEW arrives late (10:15 < the click's 10:20) but
    // inside the watermark — the buffered replay re-qualifies the
    // click, which the in-order twin can never do (its click is gone)
    val b2 = Seq((1L, t("2024-01-01 10:15:00"), 2L, "view"))
    in.addData(b2: _*); q.processAllAvailable()
    val (v, c, d) = latest.synchronized(latest(1L))
    def us(s: String) = { val x = t(s); x.getTime * 1000L + (x.getNanos / 1000L) % 1000L }
    assert(v.contains(us("2024-01-01 10:15:00")) &&
      c.contains(us("2024-01-01 10:20:00")) && d == 2L,
      s"late view did not re-qualify the click: ($v, $c, $d)")
    assert(dead.synchronized(dead.isEmpty))
    // advance the watermark far past the funnel, then send an ancient
    // event: dead letter, summary unchanged
    in.addData((2L, t("2024-01-01 23:00:00"), 3L, "view")); q.processAllAvailable()
    in.addData((1L, t("2024-01-01 08:00:00"), 4L, "view")); q.processAllAvailable()
    q.stop()
    assert(latest.synchronized(latest(1L)) == ((v, c, d)),
      "outside-watermark event changed the funnel")
    assert(dead.synchronized(dead.toSeq) == Seq(4L))
  }

  test("lshIndexHealth: summary equals a driver recompute; cap exposure surfaces") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("lsh-health").toString
    // absent index: the all-zeros batch-0 row, not a crash
    val zero = StreamOps.lshIndexHealth(spark, idx).collect().head
    assert((0 until 5).forall(i => zero.getLong(i) == 0L) && zero.getDouble(5) == 0.0)

    // EXISTING but EMPTY tables (e.g. right after compacting a fully-
    // deduped index): same all-zeros row — the null-on-empty sum/max
    // aggregates must coalesce, not NPE getLong/getDouble callers
    import org.apache.spark.sql.types._
    val bandsSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("band_key", LongType),
      StructField("bkt", IntegerType)))
    val shinglesSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sh", LongType), StructField("bkt", IntegerType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      bandsSchema).write.mode("overwrite").parquet(s"$idx/bands")
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      shinglesSchema).write.mode("overwrite").parquet(s"$idx/shingles")
    val empty = StreamOps.lshIndexHealth(spark, idx).collect().head
    assert((0 until 5).forall(i => empty.getLong(i) == 0L) && empty.getDouble(5) == 0.0)
    // clear the placeholder tables so the real ingest below starts fresh
    val fsIdx = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsIdx.delete(new org.apache.hadoop.fs.Path(s"$idx/bands"), true)
    fsIdx.delete(new org.apache.hadoop.fs.Path(s"$idx/shingles"), true)

    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    StreamOps.nearDupIngestBatch(idx)(docs.filter(col("doc_id") < 250), 1L).count()
    StreamOps.nearDupIngestBatch(idx)(docs.filter(col("doc_id") >= 250), 2L).count()
    // this corpus produces no band collisions, so simulate the
    // degenerate accumulation the audit exists to surface: 6 distinct
    // sets sharing one (band, band_key) bucket, appended in the index
    // tables' own layout
    (0 until 6).map(i => (900000L + i, 0, 123456789L))
      .toDF("doc_id", "band", "band_key")
      .withColumn("bkt", StreamOps.bandBucket(col("band_key")))
      .write.mode("append").partitionBy("bkt").parquet(s"$idx/bands")

    val got = StreamOps.lshIndexHealth(spark, idx).collect().head
    // driver recompute from the raw index tables
    val bandRows = spark.read.parquet(s"$idx/bands")
      .select(col("band"), col("band_key")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val byBucket = bandRows.groupBy(identity).map(_._2.size)
    val nDocs = spark.read.parquet(s"$idx/shingles")
      .select(col("doc_id")).distinct().count()
    assert(got.getLong(0) == nDocs)
    assert(got.getLong(1) == bandRows.length)
    assert(got.getLong(2) == byBucket.size)
    assert(got.getLong(3) == byBucket.max)
    // production cap: nothing hot on this corpus
    assert(got.getLong(4) == byBucket.count(_ > graft.queries.TextQueries.MaxBandBucket))
    // forced cap 1: every multi-occupant bucket reads as excluded, and
    // the share is exactly their row fraction
    val tight = StreamOps.lshIndexHealth(spark, idx, cap = 1).collect().head
    val hot = byBucket.filter(_ > 1)
    assert(tight.getLong(4) == hot.size && hot.nonEmpty)
    val share = BigDecimal(hot.sum.toDouble / bandRows.length)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(tight.getDouble(5) == share)
  }

  test("ingest emits per-batch health metrics; degradation surfaces in the log") {
    import graft.queries.VectorIndex
    // ── text index: the cap-exposure signal rides the ingest ──
    val idx = java.nio.file.Files.createTempDirectory("lsh-metrics").toString
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    StreamOps.nearDupIngestBatch(idx, maxBandBucket = 1, metricsEvery = 1)(
      docs.filter(col("doc_id") < 100), 1L).count()
    // degenerate family accumulates between batches: one band bucket
    // shared by 6 distinct sets (the lshIndexHealth fixture)
    import spark.implicits._
    (0 until 6).map(i => (900000L + i, 0, 123456789L))
      .toDF("doc_id", "band", "band_key")
      .withColumn("bkt", StreamOps.bandBucket(col("band_key")))
      .write.mode("append").partitionBy("bkt").parquet(s"$idx/bands")
    StreamOps.nearDupIngestBatch(idx, maxBandBucket = 1, metricsEvery = 1)(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), 2L).count()
    val log = StreamOps.indexMetrics(spark, idx).get.collect()
    assert(log.map(_.getAs[Long]("batch_id")).toSeq == Seq(1L, 2L))
    val b2 = log.last
    assert(b2.getAs[Long]("hot_buckets") >= 1 &&
      b2.getAs[Double]("hot_row_share") > 0.0,
      s"degenerate bucket did not surface in batch 2's emitted metrics: $b2")
    // replay of an applied batch never double-logs
    StreamOps.nearDupIngestBatch(idx, maxBandBucket = 1, metricsEvery = 1)(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), 2L).count()
    assert(StreamOps.indexMetrics(spark, idx).get.count() == 2)

    // ── IVF index: the staleness signal rides the ingest ──
    val ivf = java.nio.file.Files.createTempDirectory("ivf-metrics").toString
    VectorIndex.buildIvf(spark, "/root/testdata/sf0.001", ivf)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    StreamOps.ivfIngestBatch(ivf, metricsEvery = 1)(emb.limit(30)
      .select((col("vec_id") + 20000L).as("vec_id"), col("embedding").as("emb")), 1L)
      .count()
    // drifted adds: component-reversed vectors (same norms, none of
    // the trained cluster structure) — the annIvfStaleness fixture
    StreamOps.ivfIngestBatch(ivf, metricsEvery = 1)(emb
      .select((col("vec_id") + 30000L).as("vec_id"),
        reverse(col("embedding")).as("emb")), 2L).count()
    val ivfLog = StreamOps.indexMetrics(spark, ivf).get.collect()
    assert(ivfLog.map(_.getAs[Long]("batch_id")).toSeq == Seq(1L, 2L))
    val last = ivfLog.last
    assert(last.getAs[Double]("mean_dot_cur") <
      last.getAs[Double]("mean_dot_build"),
      s"drifted batch did not move the emitted staleness signal: $last")
    // the emitted row IS the on-demand audit of the post-batch index
    val onDemand = VectorIndex.ivfStaleness(spark, ivf).collect().head
    assert(onDemand.toSeq == last.toSeq.dropRight(1),
      s"emitted row diverges from the audit: $onDemand vs $last")
  }

  test("srcSignatureStream: keyed mins equal the batch sketch at every batch boundary") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Set[(String, Seq[Long])])]()
    val q = StreamOps.srcSignatureStream(in.toDF().toDF("source", "text"))
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.SrcSig], id: Long) =>
        emitted.synchronized {
          emitted += ((id, b.collect().map(s => (s.source, s.sig)).toSet)); ()
        }
      }.start()
    val b1 = Seq(
      ("srcA", "alpha beta gamma delta epsilon zeta"),
      ("srcA", "one two three four five six seven"),
      ("srcB", "lorem ipsum dolor sit amet consectetur"))
    val b2 = Seq(
      ("srcA", "alpha beta gamma NEW words here now"), // merges into srcA
      ("srcC", "fresh source third batch content here"),
      ("srcB", "lorem ipsum dolor sit amet consectetur")) // exact replay: idempotent
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable(); q.stop()

    // ground truth: batch srcSignatures over all docs seen so far
    def batchSigs(docs: Seq[(String, String)]): Set[(String, Seq[Long])] = {
      import spark.implicits._
      graft.queries.TextQueries
        .srcSignatures(spark, {
          val dir = java.nio.file.Files.createTempDirectory("srcsig").toString
          docs.toDF("source", "text").withColumn("doc_id", lit(0L))
            .write.mode("overwrite").parquet(s"$dir/documents.parquet")
          dir
        })
        .collect()
        .map(r => (r.getString(0), (1 to 32).map(r.getLong(_)).toVector: Seq[Long]))
        .toSet
    }
    val afterB1 = emitted.find(_._1 == 0L).get._2
    assert(afterB1 == batchSigs(b1))
    val updatesB2 = emitted.find(_._1 == 1L).get._2
    // every update reflects ALL data seen so far (A merged across
    // batches; B's exact replay emits the unchanged signature —
    // idempotent; C is new)
    assert(updatesB2.map(_._1) == Set("srcA", "srcB", "srcC"))
    val full = batchSigs(b1 ++ b2)
    assert(updatesB2.subsetOf(full),
      s"stream state diverged from the batch sketch over the union")
    assert((afterB1.filter(_._1 == "srcB") ++ updatesB2) == full)
  }

  test("driftBatch: per-batch rates vs a reference profile, absences both ways") {
    implicit val sqlCtx = spark.sqlContext
    // reference window: type A uniform over bins 0 and 1; type B all bin 0
    val refEvents = Seq(
      ("A", 10.0), ("A", 10.0), ("A", 30.0), ("A", 30.0),
      ("B", 5.0), ("B", 5.0)).toDF("event_type", "value")
    val ref = StreamOps.driftReferenceOf(refEvents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val in = MemoryStream[(String, Double)]
    val sink = collection.mutable.ArrayBuffer[(String, Int, Long, Double, Double, Double)]()
    val q = in.toDF().toDF("event_type", "value").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.synchronized {
          sink ++= StreamOps.driftBatch(b, ref)
            .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
              r.getDouble(3), r.getDouble(4), r.getDouble(5)))
        }
        ()
      }.start()
    // batch: A shifted entirely into bin 1 (ref bin 0 drifts to zero),
    // B novel mass in bin 3 the reference never saw
    in.addData(("A", 30.0), ("A", 30.0), ("B", 5.0), ("B", 80.0))
    q.processAllAvailable(); q.stop()
    val got = sink.toSet
    assert(got == Set(
      ("A", 0, 0L, 0.0, 0.5, 0.5),   // reference bin, absent in batch
      ("A", 1, 2L, 1.0, 0.5, 0.5),   // all of A's batch mass
      ("B", 0, 1L, 0.5, 1.0, 0.5),
      ("B", 3, 1L, 0.5, 0.0, 0.5)),  // novel bin, absent in reference
      s"got $got")
    ref.unpersist()
  }

  test("decontaminateBloomBatch: per-batch probes against a filter built once") {
    implicit val sqlCtx = spark.sqlContext
    val words = StreamOps.bloomFilterOf(
      Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"))
    val in = MemoryStream[(Long, String)]
    val sink = collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.synchronized {
          sink ++= StreamOps.decontaminateBloomBatch(b, words)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    in.addData((1L, "alpha beta gamma delta epsilon"), // the 1st bench gram
      (2L, "totally unrelated words right here"))      // clean
    q.processAllAvailable()
    in.addData((3L, "xx alpha beta gamma delta epsilon yy")) // 3 grams, 1 hit
    q.processAllAvailable(); q.stop()
    // at the production filter size the FP probability for these
    // probes is ~(8/131072)^4 — the exact counts are deterministic
    assert(sink.toSet == Set((1L, 1L), (2L, 0L), (3L, 1L)))
  }

  test("qualityGateBatch verdicts match the batch gate on the same documents") {
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val docs = Seq(
      (1L, ("the of and is " * 10).trim + " some more unique filler words here"),
      (2L, "short doc"),                         // fails length rule
      (3L, ("spam spam " * 30).trim),            // fails uniq + repetition
      (4L, "the quick brown fox jumps over a lazy dog of unusual size and " +
        "grace to win the admiration of everyone in the field today indeed"))
    val expected = graft.queries.TextQueries
      .qualityGateOf(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))).toSet
    val in = MemoryStream[(Long, String)]
    val sink = collection.mutable.ArrayBuffer[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]()
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.synchronized {
          sink ++= StreamOps.qualityGateBatch(b)
            .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
              r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
        }
        ()
      }.start()
    in.addData(docs(0), docs(1))
    q.processAllAvailable()
    // later batches score independently — stateless across batches
    in.addData(docs(2), docs(3))
    q.processAllAvailable(); q.stop()
    assert(sink.toSet == expected)
    // the fixture exercises both verdicts
    assert(expected.exists(_._6) && expected.exists(!_._6))
  }

  test("imageIngestBatch dedups across and within batches; replay leaves the index unchanged") {
    import org.apache.spark.sql.Row
    import graft.multimodal.MediaOps
    val idxDir = java.nio.file.Files.createTempDirectory("phash-idx").toString
    val w = 16; val h = 16
    def texture(a: Int, b: Int, c: Int): Array[Byte] =
      Array.tabulate[Byte](w * h)(i =>
        (((i % w) * a + (i / w) * b + c) % 180 + 10).toByte)
    def png(pix: Array[Byte]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, pix)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    def mediaDf(rows: (Long, Array[Byte])*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (id, b) =>
        Row(id, "image", s"mem://$id", b, Row(w, h, null, "png"))
      }), MediaOps.mediaSchema)
    val texA = texture(31, 17, 0); val texB = texture(53, 29, 7)
    val texC = texture(7, 101, 77); val texD = texture(11, 47, 130)
    def indexRows() = spark.read.parquet(s"$idxDir/blocks").count()

    val s1 = StreamOps.imageIngestBatch(idxDir)(
      mediaDf(1L -> png(texA), 5L -> png(texB)), 1L)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == Set(1L, 5L))
    assert(indexRows() == 16) // 8 block rows per kept image

    val b2 = mediaDf(7L -> png(texA.clone()), // exact copy of indexed texA
      8L -> png(texC),                        // new
      10L -> png(texD), 11L -> png(texD.clone())) // in-batch pair
    val s2 = StreamOps.imageIngestBatch(idxDir)(b2, 2L)
      .collect().map(_.getLong(0)).toSet
    assert(s2 == Set(8L, 10L), s"wrong survivors: $s2")
    assert(indexRows() == 32)

    // replay of batch 2: same survivors (index self-matches excluded),
    // no duplicate index rows (marker skips the append)
    val s2r = StreamOps.imageIngestBatch(idxDir)(b2, 2L)
      .collect().map(_.getLong(0)).toSet
    assert(s2r == Set(8L, 10L), s"replay changed survivors: $s2r")
    assert(indexRows() == 32)

    // compaction preserves every block row and the index keeps working
    StreamOps.compactPhashIndex(spark, idxDir)
    assert(indexRows() == 32)
    val s3 = StreamOps.imageIngestBatch(idxDir)(
      mediaDf(20L -> png(texC.clone())), 3L) // copy of indexed texC
      .collect().map(_.getLong(0)).toSet
    assert(s3 == Set.empty[Long], s"post-compaction dedup missed: $s3")
  }

  test("dedupStream keeps the first occurrence per content key") {
    implicit val sqlCtx = spark.sqlContext
    case class Doc(ts: Timestamp, doc_id: Long, text: String)
    val in = MemoryStream[(Timestamp, Long, String)]
    in.addData(
      (ts("2026-01-01 10:00:00"), 1L, "Hello  World"),
      (ts("2026-01-01 10:01:00"), 2L, "hello world"),   // dup (normalized)
      (ts("2026-01-01 10:02:00"), 3L, "something else"))
    val q = StreamOps.dedupStream(
        in.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val kept = spark.table("dedup").select(col("doc_id")).as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("capPerKey: the per-key budget survives micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.DocKey
    val in = MemoryStream[DocKey]
    // batch 1: two 'en' docs, one 'de' doc — all under the cap of 3
    in.addData(
      DocKey(1, "en", ts("2026-01-01 10:00:00")),
      DocKey(2, "en", ts("2026-01-01 10:01:00")),
      DocKey(3, "de", ts("2026-01-01 10:02:00")))
    val q = StreamOps.capPerKey(in.toDS(), maxPerKey = 3)
      .writeStream.format("memory").queryName("capped")
      .outputMode("append").start()
    q.processAllAvailable()
    // batch 2: three more 'en' docs — only ONE fits the remaining
    // budget, which requires the counter to have survived batch 1
    // (a stateless op would re-admit all three)
    in.addData(
      DocKey(4, "en", ts("2026-01-01 10:10:00")),
      DocKey(5, "en", ts("2026-01-01 10:11:00")),
      DocKey(6, "en", ts("2026-01-01 10:12:00")))
    q.processAllAvailable(); q.stop()
    val kept = spark.table("capped").select(col("doc_id")).as[Long].collect().toSet
    // deterministic within-batch order (ts, doc_id): doc 4 is the one
    assert(kept == Set(1L, 2L, 3L, 4L))
  }

  test("nearDupIngestBatch: index state dedups across and within micro-batches") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-ndx").toString + "/index"
    val base = "the quick brown fox jumps over the lazy dog and then naps all afternoon long"
    // batch 1: two distinct docs + an in-batch near-copy of doc 1
    val b1 = Seq(
      (1L, base),
      (2L, "completely different content about query engines and shuffles at scale today"),
      (3L, base + " extra")).toDF("doc_id", "text")
    val s1 = StreamOps.nearDupIngestBatch(idx)(b1, 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == Set(1L, 2L)) // 3 dropped: in-batch near-dup of 1
    // batch 2: a near-copy of doc 1 (vs INDEX, across batches) + one novel doc
    val b2 = Seq(
      (10L, base + " tail"),
      (11L, "a genuinely novel document with entirely new words nothing shares")).toDF("doc_id", "text")
    val s2 = StreamOps.nearDupIngestBatch(idx)(b2, 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(s2 == Set(11L)) // 10 dropped against the accumulated index
    // index holds exactly the survivors
    val indexed = spark.read.parquet(s"$idx/shingles")
      .select("doc_id").as[Long].collect().toSet
    assert(indexed == Set(1L, 2L, 11L))
  }

  test("file-source streaming: windowed counts over readStream equal the batch aggregate") {
    val dir = "/root/testdata/sf0.001"
    // the file source requires a DIRECTORY of same-schema files —
    // stage the events file into one (testdata itself is read-only
    // and mixes table schemas)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-evdir")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file source needs the same ts normalization Tables.events
    // applies on the batch side (long-nanos or NTZ, writer-dependent)
    val stream = graft.sources.Tables.normEventsTs(
      spark.readStream.schema(schema).parquet(streamDir.toString))
    val q = StreamOps.tumblingCounts(stream)
      .writeStream.format("memory").queryName("file_e1")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("file_e1")
      .select(col("window_start").cast("string"), col("event_type"), col("n_events"))
      .as[(String, String, Long)].collect().toSet
    val batch = graft.queries.EventQueries.e1TumblingWindow(spark, dir)
      .select(col("window_start"), col("event_type"), col("n_events"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("compactNearDupIndex rewrites to few files and dedup behavior is unchanged") {
    import StreamOps._
    val idx = java.nio.file.Files.createTempDirectory("graft-cmp").toString + "/index"
    val base = "the quick brown fox jumps over the lazy dog and then naps all afternoon"
    nearDupIngestBatch(idx)(Seq((1L, base)).toDF("doc_id", "text"), 0L)
    nearDupIngestBatch(idx)(Seq(
      (2L, "unrelated words about columnar shuffles and broadcast joins today")).toDF("doc_id", "text"), 1L)
    compactNearDupIndex(spark, idx, targetPartitions = 1)
    // partitioned layout: parquet files live under bkt=* directories;
    // compaction must leave exactly one file per populated bucket
    def bucketDirs(sub: String) = new java.io.File(s"$idx/$sub")
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("bkt="))
    def files(sub: String) = bucketDirs(sub)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    assert(bucketDirs("bands").nonEmpty && bucketDirs("shingles").nonEmpty,
      "index lost its bkt= partitioning through compaction")
    assert(files("bands") == bucketDirs("bands").length)
    assert(files("shingles") == bucketDirs("shingles").length)
    // the compacted index still rejects a near-dup of doc 1
    val s = nearDupIngestBatch(idx)(Seq(
      (9L, base + " tail")).toDF("doc_id", "text"), 2L)
    assert(s.count() == 0)
  }

  test("an empty first micro-batch leaves no poisoned index directory behind") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-empty").toString + "/index"
    // batch 0 fires with zero rows (idle source) — must not create a
    // schema-less dir that breaks every later batch's index read
    val none = StreamOps.nearDupIngestBatch(idx)(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 0L)
    assert(none.count() == 0)
    // the real first batch must ingest normally afterwards
    val s = StreamOps.nearDupIngestBatch(idx)(Seq(
      (1L, "the quick brown fox jumps over the lazy dog and naps")).toDF("doc_id", "text"), 1L)
    assert(s.count() == 1)
    assert(spark.read.parquet(s"$idx/shingles").count() == 1)
  }

  test("a legacy unpartitioned index still dedups, and compaction migrates it") {
    import spark.implicits._
    import graft.queries.TextQueries
    val idx = java.nio.file.Files.createTempDirectory("graft-legacy").toString + "/index"
    val base = "the quick brown fox jumps over the lazy dog and then naps all afternoon"
    // hand-write a LEGACY index (pre-bucketing layout: no bkt column,
    // no partition dirs) holding doc 1
    val docs = Seq((1L, base)).toDF("doc_id", "text")
    val sh = TextQueries.hashedShinglesOf(docs)
    sh.write.parquet(s"$idx/shingles")
    TextQueries.minhashBandsOf(sh).write.parquet(s"$idx/bands")
    // ingest against the legacy index: a near-dup of doc 1 must still
    // be caught (full-scan fallback), and the novel doc accepted
    val s = StreamOps.nearDupIngestBatch(idx)(Seq(
      (9L, base + " tail"),
      (10L, "entirely different words about columnar engines today")).toDF("doc_id", "text"), 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(s == Set(10L))
    // appends respected the legacy layout (no mixed flat+partitioned
    // table, which would corrupt partition discovery)
    for (sub <- Seq("bands", "shingles"))
      assert(!new java.io.File(s"$idx/$sub").listFiles()
        .exists(f => f.isDirectory && f.getName.startsWith("bkt=")),
        s"$sub mixed partitioned files into a legacy table")
    // compaction migrates to the partitioned layout in place
    StreamOps.compactNearDupIndex(spark, idx, targetPartitions = 1)
    for (sub <- Seq("bands", "shingles"))
      assert(new java.io.File(s"$idx/$sub").listFiles()
        .exists(f => f.isDirectory && f.getName.startsWith("bkt=")),
        s"$sub not migrated to bkt= partitioning")
    // and the migrated index still rejects a near-dup of doc 1
    val after = StreamOps.nearDupIngestBatch(idx)(Seq(
      (11L, base + " coda")).toDF("doc_id", "text"), 1L)
    assert(after.count() == 0)
  }

  test("a replayed batchId does not re-append index rows (at-least-once idempotency)") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-replay").toString + "/index"
    val base = "the quick brown fox jumps over the lazy dog and then naps all afternoon"
    val b1 = Seq(
      (1L, base),
      (2L, "completely different content about query engines and shuffles at scale")).toDF("doc_id", "text")
    val first = StreamOps.nearDupIngestBatch(idx)(b1, 0L)
      .select("doc_id").as[Long].collect().toSet
    def counts = (spark.read.parquet(s"$idx/shingles").count(),
      spark.read.parquet(s"$idx/bands").count())
    val once = counts
    // the replay: same frame, same batchId — survivors must be
    // byte-identical and the index must NOT grow
    val replayed = StreamOps.nearDupIngestBatch(idx)(b1, 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(replayed == first, s"replay changed survivors: $replayed vs $first")
    assert(counts == once, s"replay re-appended index rows: $counts vs $once")
    // a NEW batchId still appends normally afterwards
    StreamOps.nearDupIngestBatch(idx)(Seq(
      (9L, "a genuinely novel document with entirely new words nothing shares")).toDF("doc_id", "text"), 1L)
    assert(spark.read.parquet(s"$idx/shingles").count() == once._1 + 1)
  }

  test("compaction removes duplicate index rows left by a crash-window replay") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-dupidx").toString + "/index"
    val base = "the quick brown fox jumps over the lazy dog and then naps all afternoon"
    val b = Seq(
      (1L, base),
      (2L, "completely different content about query engines and shuffles at scale")).toDF("doc_id", "text")
    StreamOps.nearDupIngestBatch(idx)(b, 0L)
    def counts = (spark.read.parquet(s"$idx/shingles").count(),
      spark.read.parquet(s"$idx/bands").count())
    val once = counts
    // simulate a crash AFTER the appends but BEFORE the batch marker:
    // the replay re-appends and duplicates every index row
    java.nio.file.Files.delete(
      java.nio.file.Path.of(s"$idx/_graft_batches/b0"))
    StreamOps.nearDupIngestBatch(idx)(b, 0L)
    assert(counts == ((once._1 * 2, once._2 * 2)),
      "fixture did not reproduce the duplicate-row window")
    // compaction dedups back to the once-run state
    StreamOps.compactNearDupIndex(spark, idx, targetPartitions = 1)
    assert(counts == once, s"compaction left duplicates: $counts vs $once")
    // and the compacted index still dedups
    val s = StreamOps.nearDupIngestBatch(idx)(Seq(
      (9L, base + " tail")).toDF("doc_id", "text"), 1L)
    assert(s.count() == 0)
  }

  test("corrupt bucket meta forces the lossless full scan; compaction repairs it") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-badmeta").toString + "/index"
    val base = "the quick brown fox jumps over the lazy dog and then naps all afternoon"
    StreamOps.nearDupIngestBatch(idx)(Seq((1L, base)).toDF("doc_id", "text"), 0L)
    // trash both meta files: a present-but-unparseable meta must read
    // as "layout unknown" (full scan), NOT as the pre-meta default 64
    // — under a changed IndexBuckets that default would prune lossily
    for (sub <- Seq("bands", "shingles"))
      java.nio.file.Files.write(
        java.nio.file.Path.of(s"$idx/$sub/_graft_buckets"),
        Array[Byte](0x7f, 'x', 'y'))
    val s = StreamOps.nearDupIngestBatch(idx)(Seq(
      (9L, base + " tail"),
      (10L, "entirely different words about columnar engines today")).toDF("doc_id", "text"), 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(s == Set(10L), "near-dup slipped through under corrupt meta")
    // corrupt meta is never overwritten by appends (a fresh stamp
    // would lie about the rows already on disk) …
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Path.of(s"$idx/bands/_graft_buckets")), "UTF-8")
    assert(scala.util.Try(raw.trim.toInt).isFailure, "append stamped over corrupt meta")
    // … but compaction re-buckets every row and repairs it
    StreamOps.compactNearDupIndex(spark, idx, targetPartitions = 1)
    for (sub <- Seq("bands", "shingles")) {
      val healed = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Path.of(s"$idx/$sub/_graft_buckets")), "UTF-8")
      assert(healed.trim.toInt == StreamOps.IndexBuckets)
    }
    val after = StreamOps.nearDupIngestBatch(idx)(Seq(
      (11L, base + " coda")).toDF("doc_id", "text"), 2L)
    assert(after.count() == 0)
  }

  test("a table recorded under a different bucket count full-scans and appends aligned") {
    import spark.implicits._
    import graft.queries.TextQueries
    val idx = java.nio.file.Files.createTempDirectory("graft-modulus").toString + "/index"
    val base = "the quick brown fox jumps over the lazy dog and then naps all afternoon"
    // hand-write an index bucketed with modulus 3 (as if IndexBuckets
    // had once been 3) and record that in the meta files
    val docs = Seq((1L, base)).toDF("doc_id", "text")
    val sh = TextQueries.hashedShinglesOf(docs)
      .withColumn("bkt", StreamOps.docBucket(col("doc_id"), 3))
    sh.write.partitionBy("bkt").parquet(s"$idx/shingles")
    TextQueries.minhashBandsOf(sh.drop("bkt"))
      .withColumn("bkt", StreamOps.bandBucket(col("band_key"), 3))
      .write.partitionBy("bkt").parquet(s"$idx/bands")
    for (sub <- Seq("bands", "shingles"))
      java.nio.file.Files.write(
        java.nio.file.Path.of(s"$idx/$sub/_graft_buckets"), "3".getBytes("UTF-8"))
    // pruning by the live 64-modulus over 3-modulus bkt values would
    // read the wrong partitions and the near-dup would slip through —
    // the recorded-count mismatch must force the full scan instead
    val s = StreamOps.nearDupIngestBatch(idx)(Seq(
      (9L, base + " tail"),
      (10L, "entirely different words about columnar engines today")).toDF("doc_id", "text"), 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(s == Set(10L), "near-dup slipped through under a bucket-count mismatch")
    // the append stayed aligned with the TABLE's modulus: every bkt
    // value (old and new rows) is still < 3, and the meta still says 3
    for (sub <- Seq("bands", "shingles")) {
      val maxBkt = spark.read.parquet(s"$idx/$sub")
        .agg(max(col("bkt"))).head.getInt(0)
      assert(maxBkt < 3, s"$sub append used the live modulus on a 3-modulus table")
    }
    // compaction migrates to the live layout and the index still works
    StreamOps.compactNearDupIndex(spark, idx, targetPartitions = 1)
    val healed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Path.of(s"$idx/bands/_graft_buckets")), "UTF-8")
    assert(healed.trim.toInt == StreamOps.IndexBuckets)
    val after = StreamOps.nearDupIngestBatch(idx)(Seq(
      (11L, base + " coda")).toDF("doc_id", "text"), 1L)
    assert(after.count() == 0)
  }

  test("streaming hot-band cap withholds saturated index buckets, other bands keep recall") {
    import spark.implicits._
    // 40 boundary docs: a shared 40-token block + 14 unique tokens
    // each → pairwise J ≈ 0.58 (all survive ingestion as non-dups)
    // but ~29% of them keep the common block's minima in any given
    // band, so the index accumulates band buckets far above a cap of
    // 2 — the degenerate-band shape, which the index can hold because
    // it stores near-dup-DISTINCT docs (exact dups never accumulate).
    val common = (0 until 40).map(i => s"common$i").mkString(" ")
    val boundary = (0 until 40).map(i =>
      (100L + i, common + " " + (0 until 14).map(j => s"u${i}w$j").mkString(" ")))
    val idx = java.nio.file.Files.createTempDirectory("graft-hotidx").toString + "/index"
    val cap = 2
    val s0 = StreamOps.nearDupIngestBatch(idx, maxBandBucket = cap)(
      boundary.toDF("doc_id", "text"), 0L)
    assert(s0.count() == 40, "boundary docs are not near-dups; all must survive")
    // the fixture really did saturate buckets beyond the cap
    val maxBucket = spark.read.parquet(s"$idx/bands")
      .groupBy(col("band"), col("band_key")).count()
      .agg(max(col("count"))).head.getLong(0)
    assert(maxBucket > cap, s"no index bucket exceeds cap=$cap (max $maxBucket)")
    // an exact copy of an indexed doc collides in that doc's OWN
    // buckets too (population 1 — under the cap), so it is still
    // caught even with the saturated buckets withheld; the novel doc
    // still passes
    val s1 = StreamOps.nearDupIngestBatch(idx, maxBandBucket = cap)(Seq(
      (900L, boundary.head._2),
      (901L, "entirely fresh vocabulary nothing else in the corpus mentions")).toDF("doc_id", "text"), 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == Set(901L), s"cap broke dedup: survivors $s1")
  }

  test("nearDupIngestBatch agrees with batch dedupMinhash invariants on real data") {
    import graft.queries.TextQueries
    val dir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graft-ndx2").toString + "/index"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    // ingest the corpus in two micro-batches (even ids then odd)
    StreamOps.nearDupIngestBatch(idx)(docs.filter(col("doc_id") % 2 === 0), 0L)
    StreamOps.nearDupIngestBatch(idx)(docs.filter(col("doc_id") % 2 === 1), 1L)
    val indexed = spark.read.parquet(s"$idx/shingles")
      .select(col("doc_id")).as[Long].collect().toSet
    // batch ground truth: the oracle-verified near-dup pair set
    val pairs = TextQueries.dedupMinhash(spark, dir)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    // (1) no duplicate pair survives whole: at most one member indexed
    val bothIn = pairs.filter(p => indexed(p._1) && indexed(p._2))
    assert(bothIn.isEmpty, s"both members indexed for ${bothIn.take(5).toSeq}")
    // (2) every shingled doc in NO duplicate pair must be indexed
    val inAnyPair = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val allShingled = TextQueries.hashedShinglesOf(docs)
      .select(col("doc_id")).as[Long].collect().toSet
    val singletons = allShingled -- inAnyPair
    assert((singletons -- indexed).isEmpty,
      s"non-duplicate docs missing from index: ${(singletons -- indexed).take(5)}")
  }

  test("mvMaintainBatch: streaming MV equals full recompute; replayed batch is a no-op") {
    import graft.ops.IncrementalAgg
    import graft.ops.IncrementalAgg.AggSpec
    implicit val sqlCtx = spark.sqlContext
    val spec = AggSpec(keys = Seq("k"), sums = Seq("v"), distincts = Seq("v"))
    val store = java.nio.file.Files.createTempDirectory("mvmaint").toString + "/state"

    val in = MemoryStream[(String, Long)]
    val q = in.toDF().toDF("k", "v").writeStream
      .foreachBatch(StreamOps.mvMaintainBatch(store, spec) _)
      .start()
    in.addData(("a", 1L), ("a", 5L), ("b", 10L))
    q.processAllAvailable()
    in.addData(("a", 2L), ("c", 7L), ("c", 7L))
    q.processAllAvailable(); q.stop()

    def state(): Map[String, (Long, Long, Long)] =
      IncrementalAgg.finalize(spark.read.parquet(store), spec)
        .select(col("k"), col("sum_v"), col("n_rows"),
          col("approx_distinct_v").cast("long"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val afterStream = state()
    assert(afterStream == Map(
      "a" -> ((8L, 3L, 3L)), "b" -> ((10L, 1L, 1L)), "c" -> ((14L, 2L, 1L))))

    // foreachBatch replay: re-folding the LAST batch must be refused
    val lastBatch = Seq(("a", 2L), ("c", 7L), ("c", 7L)).toDF("k", "v")
    val applied = IncrementalAgg.refreshOnce(spark, store, lastBatch, spec, 1L)
    assert(!applied && state() == afterStream, "replayed batchId was re-folded")
    // ...while a genuinely new batch folds
    assert(IncrementalAgg.refreshOnce(spark, store, Seq(("b", -4L)).toDF("k", "v"),
      spec, 2L))
    assert(state()("b") == ((6L, 2L, 2L)))
    // and a plain batch refresh carries the streaming ledger forward:
    // batchId 2 stays refused afterwards
    IncrementalAgg.refresh(spark, store, Seq(("d", 1L)).toDF("k", "v"), spec)
    assert(!IncrementalAgg.refreshOnce(spark, store,
      Seq(("z", 9L)).toDF("k", "v"), spec, 2L))
    assert(!state().contains("z") && state()("d") == ((1L, 1L, 1L)))
  }

  // ---- incremental connected components ----

  private def ccState(idx: String): Set[(Long, Long)] =
    StreamOps.readClusters(spark, idx)
      .as[(Long, Long)].collect().toSet

  private def ccTruth(pairs: Seq[(Long, Long)]): Set[(Long, Long)] =
    graft.queries.TextQueries.clustersOf(pairs.toDF("a_id", "b_id"))
      .as[(Long, Long)].collect().toSet

  test("clustersIngestBatch: batch-equal to clustersOf at every boundary, " +
      "replay no-op, compaction folds the merge log") {
    val idx = java.nio.file.Files.createTempDirectory("cc-idx").toString
    // batch 3 exercises every merge shape: a NEW smaller id (5) taking
    // over an existing merged cluster, and an existing cluster (30)
    // absorbing a new larger node (40)
    val batches = Seq(
      Seq((10L, 11L), (20L, 21L)),
      Seq((30L, 31L), (11L, 20L)),
      Seq((5L, 21L), (31L, 40L)))
    var all = Seq.empty[(Long, Long)]
    for ((b, i) <- batches.zipWithIndex) {
      val ret = StreamOps.clustersIngestBatch(idx, metricsEvery = 1)(
        b.toDF("a_id", "b_id"), i + 1L)
      all ++= b
      val truth = ccTruth(all)
      assert(ccState(idx) == truth,
        s"read path diverged from batch clustersOf after batch ${i + 1}")
      // the returned frame is the truth restricted to the batch's nodes
      val touched = b.flatMap(p => Seq(p._1, p._2)).toSet
      assert(ret.as[(Long, Long)].collect().toSet ==
        truth.filter(r => touched(r._1)))
    }
    assert(ccState(idx) == Set(
      (5L, 5L), (10L, 5L), (11L, 5L), (20L, 5L), (21L, 5L),
      (30L, 30L), (31L, 30L), (40L, 30L)))

    // the merging batches emitted health rows with a live backlog
    val log = StreamOps.indexMetrics(spark, idx).get.collect()
    assert(log.map(_.getAs[Long]("batch_id")).toSeq == Seq(1L, 2L, 3L))
    assert(log.last.getAs[Long]("n_merge_rows") > 0L)

    // replay of an applied batch changes nothing — state, log sizes
    val mergesBefore = spark.read.parquet(s"$idx/merges").count()
    val labelsBefore = spark.read.parquet(s"$idx/labels").count()
    val replayed = StreamOps.clustersIngestBatch(idx, metricsEvery = 1)(
      batches(2).toDF("a_id", "b_id"), 3L)
    assert(replayed.as[(Long, Long)].collect().toSet ==
      ccTruth(all).filter(r => Set(5L, 21L, 31L, 40L)(r._1)),
      "replayed batch did not return the applied labeling")
    assert(ccState(idx) == ccTruth(all))
    assert(spark.read.parquet(s"$idx/merges").count() == mergesBefore)
    assert(spark.read.parquet(s"$idx/labels").count() == labelsBefore)
    assert(StreamOps.indexMetrics(spark, idx).get.count() == 3)

    // compaction folds the log, preserves the labeling, and ingest
    // continues correctly across the fold (batch 4 merges the two
    // compacted clusters via a brand-new node)
    StreamOps.compactClustersIndex(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/merges")),
      "compaction left the merge log behind")
    assert(ccState(idx) == ccTruth(all))
    val b4 = Seq((1L, 40L), (1L, 21L))
    StreamOps.clustersIngestBatch(idx, metricsEvery = 1)(
      b4.toDF("a_id", "b_id"), 4L)
    all ++= b4
    assert(ccState(idx) == ccTruth(all),
      "post-compaction merge diverged from batch clustersOf")
    assert(ccState(idx).forall(_._2 == 1L))

    // heal-first: a crash inside the compaction rename pair (labels
    // moved aside, replacement not yet in place) must recover on the
    // next read
    StreamOps.compactClustersIndex(spark, idx)
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx/labels"),
      new org.apache.hadoop.fs.Path(s"$idx/labels__old"))
    assert(ccState(idx) == ccTruth(all), "interrupted swap did not heal")
  }

  test("clustersIngestBatch crash windows: every partial-append state " +
      "keeps the keeper rule and replay heals to the batch truth") {
    // simulate the exact on-disk states a crash inside the three-step
    // append leaves behind (root labels -> merges -> rest labels) by
    // writing them directly, then assert consistency + heal-on-replay
    def keeperRule(s: Set[(Long, Long)]): Unit = {
      val ids = s.map(_._1)
      assert(s.map(_._2).forall(ids), s"cluster root without keeper row in $s")
    }
    val b1 = Seq((10L, 11L), (20L, 21L))
    val b2 = Seq((5L, 21L), (5L, 6L)) // new ROOT 5 + new non-root 6
    def freshIdx(): String = {
      val idx = java.nio.file.Files.createTempDirectory("cc-crash").toString
      StreamOps.clustersIngestBatch(idx, metricsEvery = 0)(
        b1.toDF("a_id", "b_id"), 1L)
      idx
    }
    def appendRootLabel(idx: String): Unit =
      Seq((5L, 5L)).toDF("doc_id", "lbl")
        .withColumn("bkt", StreamOps.docBucket(col("doc_id")))
        .write.mode("append").partitionBy("bkt").parquet(s"$idx/labels")
    def appendMerge(idx: String): Unit =
      Seq((20L, 5L)).toDF("a_id", "b_id")
        .write.mode("append").parquet(s"$idx/merges")

    // window A: crash after step 1 (root label written, no merges) —
    // the root reads as a singleton, old clusters untouched
    val idxA = freshIdx()
    appendRootLabel(idxA)
    val stateA = ccState(idxA)
    keeperRule(stateA)
    assert(stateA == ccTruth(b1) + ((5L, 5L)))

    // window B: crash after step 2 (root label + merge fact, rest
    // label rows missing) — existing cluster resolves to the new
    // root, whose keeper row step 1 already wrote; 6 simply unseen
    val idxB = freshIdx()
    appendRootLabel(idxB); appendMerge(idxB)
    val stateB = ccState(idxB)
    keeperRule(stateB)
    assert(stateB == ccTruth(b1 :+ ((5L, 21L))))

    // replay of the crashed batch heals both windows to the truth
    for (idx <- Seq(idxA, idxB)) {
      StreamOps.clustersIngestBatch(idx, metricsEvery = 0)(
        b2.toDF("a_id", "b_id"), 2L)
      val s = ccState(idx)
      keeperRule(s)
      assert(s == ccTruth(b1 ++ b2), s"replay did not heal $idx")
    }
  }

  test("clustersIngestBatch composes with nearDupIngestBatch pairs on " +
      "real documents, batch-equal to the one-shot clustering") {
    val idx = java.nio.file.Files.createTempDirectory("cc-docs").toString
    val pairs = graft.queries.TextQueries
      .dedupMinhash(spark, "/root/testdata/sf0.001")
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .as[(Long, Long)].collect().toSeq
    assert(pairs.nonEmpty)
    // stream the pair set in three deterministic chunks
    val chunks = pairs.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    var seen = Seq.empty[(Long, Long)]
    for ((c, i) <- chunks.zipWithIndex) {
      StreamOps.clustersIngestBatch(idx)(c.toDF("a_id", "b_id"), i + 1L)
      seen ++= c
      assert(ccState(idx) == ccTruth(seen),
        s"real-pair stream diverged at batch ${i + 1}")
    }
  }

  test("splitsOfIndex equals the batch tSplitSafe on the same pair set; " +
      "splitDriftAudit flags exactly the retroactive train/eval moves") {
    import graft.queries.TextQueries
    val dir = "/root/testdata/sf0.001"
    // ---- serving parity: maintained index vs the batch query ----
    val idx = java.nio.file.Files.createTempDirectory("split-idx").toString
    val pairs = TextQueries.dedupMinhash(spark, dir)
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .as[(Long, Long)].collect().toSeq
    assert(pairs.nonEmpty)
    pairs.zipWithIndex.groupBy(_._2 % 2).toSeq.sortBy(_._1).foreach {
      case (i, c) => StreamOps.clustersIngestBatch(idx)(
        c.map(_._1).toDF("a_id", "b_id"), i + 1L).count()
    }
    val docs = graft.sources.Tables.documents(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "cluster_id", "split")
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(rows(StreamOps.splitsOfIndex(spark, idx, docs))
      == rows(TextQueries.tSplitSafe(spark, dir)),
      "index-served splits diverge from the batch assignment")

    // ---- drift audit: merge two clusters whose roots hash to
    //      DIFFERENT splits; only the losing side's docs move ----
    val bySplit = spark.range(200)
      .select(col("id"), TextQueries.splitOf(col("id")).as("s"))
      .as[(Long, String)].collect()
    val a = bySplit.filter(_._2 == "train").map(_._1).min
    val c = bySplit.filter(p => p._2 == "test" && p._1 > a).map(_._1).min
    val (b, d) = (1000L + a, 2000L + c)
    val idx2 = java.nio.file.Files.createTempDirectory("split-drift").toString
    StreamOps.clustersIngestBatch(idx2)(
      Seq((a, b), (c, d)).toDF("a_id", "b_id"), 1L).count()
    val prev = StreamOps.readClusters(spark, idx2).cache(); prev.count()
    StreamOps.clustersIngestBatch(idx2)(
      Seq((b, c)).toDF("a_id", "b_id"), 2L).count()
    val cur = StreamOps.readClusters(spark, idx2)
    val audit = StreamOps.splitDriftAudit(prev, cur)
      .as[(String, String, Long)].collect().toSet
    assert(audit == Set(("test", "train", 2L)),
      s"expected exactly docs $c,$d to move test->train: $audit")
    // a self-diff is empty: no move, no phantom rows
    assert(StreamOps.splitDriftAudit(prev, prev).count() == 0L)

    // ---- the APPLY side: pin the moved docs to their old split ----
    val ids = Seq(a, b, c, d).toDF("doc_id")
    val pins = Seq((c, "test"), (d, "test")).toDF("doc_id", "split")
    val served = StreamOps.splitsOfIndex(spark, idx2, ids, Some(pins))
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(served(c) == "test" && served(d) == "test",
      s"pinned docs must keep their old split: $served")
    assert(served(a) == "train" && served(b) == "train",
      s"unpinned docs follow the hash: $served")
    // cluster labels stay the merged truth — pins change the SPLIT
    // column only, never the dedup labeling
    assert(StreamOps.splitsOfIndex(spark, idx2, ids, Some(pins))
      .select("cluster_id").distinct.count() == 1L,
      "pinning must not alter the merged cluster labels")
    prev.unpersist()
  }

  test("pinSplits persists the overlay in the index: a fresh session " +
      "serves the pinned split by default; conflicting, duplicate, or " +
      "out-of-domain pins fail loudly") {
    import spark.implicits._
    import StreamOps._
    val idx = java.nio.file.Files.createTempDirectory("pins-idx").toString
    clustersIngestBatch(idx, metricsEvery = 0)(
      Seq((1L, 2L)).toDF("a_id", "b_id"), 1L).count()
    val ids = Seq(1L, 2L, 5L).toDF("doc_id")
    def servedBy(s: org.apache.spark.sql.SparkSession): Map[Long, String] =
      splitsOfIndex(s, idx, ids).select("doc_id", "split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val hash = servedBy(spark)
    // pin doc 2 AWAY from its hash split
    val target = if (hash(2L) == "test") "train" else "test"
    assert(pinSplits(spark, idx, Seq((2L, target)).toDF("doc_id", "split")) == 1L)
    // a FRESH session (what a second serving process sees) applies
    // the STORED overlay with no pins argument
    val s2 = spark.newSession()
    val served2 = servedBy(s2)
    assert(served2(2L) == target, s"stored pin not served: $served2")
    assert(served2(1L) == hash(1L) && served2(5L) == hash(5L),
      "unpinned docs must keep following the hash")
    // re-pinning replaces; other pins survive the merge
    pinSplits(spark, idx, Seq((5L, "val")).toDF("doc_id", "split"))
    pinSplits(spark, idx, Seq((2L, "val")).toDF("doc_id", "split"))
    val served3 = servedBy(spark)
    assert(served3(2L) == "val" && served3(5L) == "val", s"re-pin: $served3")
    // conflicting pins in ONE input: rejected with the doc named
    val conflict = intercept[IllegalArgumentException](pinSplits(spark, idx,
      Seq((3L, "train"), (3L, "test")).toDF("doc_id", "split")))
    assert(conflict.getMessage.contains("conflicting pins for doc_id 3"))
    // out-of-domain split: rejected
    assert(intercept[IllegalArgumentException](pinSplits(spark, idx,
      Seq((3L, "dev")).toDF("doc_id", "split")))
      .getMessage.contains("not one of train/val/test"))
    // a NULL split must reject too (three-valued logic would slip it
    // past a bare negated isin and store a pin that silently falls
    // back to the hash)
    assert(intercept[IllegalArgumentException](pinSplits(spark, idx,
      Seq((3L, null: String)).toDF("doc_id", "split")))
      .getMessage.contains("not one of train/val/test"))
    // a duplicate-carrying overlay passed EXPLICITLY is rejected at
    // serve (it would fan the serving frame out)
    assert(intercept[IllegalArgumentException](splitsOfIndex(spark, idx, ids,
      Some(Seq((2L, "train"), (2L, "test")).toDF("doc_id", "split"))))
      .getMessage.contains("one pin per doc"))
    // failed applications left the stored overlay intact
    assert(servedBy(spark) == served3)
  }

  test("maintainAll folds pending tombstones on SETTLED roots (the " +
      "physical-erase contract fires without any decay signal) and " +
      "detects the phash family") {
    import spark.implicits._
    import StreamOps._
    // settled sample root (read amplification 1.0 — no decay signal)
    // with one deleted doc
    val sIdx = java.nio.file.Files.createTempDirectory("fold-sample").toString
    val docs = Seq(
      ("s", 1L, "alpha beta gamma delta epsilon zeta"),
      ("s", 2L, "eta theta iota kappa lambda mu"),
      ("s", 3L, "nu xi omicron pi rho sigma")).toDF("source", "doc_id", "text")
    sampleIngestBatch(sIdx, k = 3, metricsEvery = 0)(docs, 1L)
    deleteDocs(sIdx, Seq(2L).toDF("doc_id"))
    // settled phash root with one deleted media
    val pIdx = java.nio.file.Files.createTempDirectory("fold-phash").toString
    val w = 16; val h = 16
    // the two textures must be DISTINCT under dHash (the proven
    // (31,17,0)/(53,29,7) pair from the ingest spec) — similar
    // gradients near-dup each other and collapse the fixture
    def png(a: Int, b: Int, c: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, Array.tabulate[Byte](w * h)(
        i => (((i % w) * a + (i / w) * b + c) % 180 + 10).toByte))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val pix = Map(1L -> png(31, 17, 0), 2L -> png(53, 29, 7))
    val kept = imageIngestBatch(pIdx)(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(1L, 2L).map(id =>
        org.apache.spark.sql.Row(id, "image", s"mem://$id", pix(id),
          org.apache.spark.sql.Row(w, h, null, "png")))),
      graft.multimodal.MediaOps.mediaSchema), 1L).count()
    assert(kept == 2L, "fixture textures must be distinct under dHash")
    deleteDocs(pIdx, Seq(1L).toDF("media_id"))

    val r1 = StreamOps.maintainAll(spark, Seq(sIdx, pIdx))
    assert(r1.map(_.family) == Seq("sample", "phash"),
      s"family detection: $r1")
    assert(r1.forall(_.actions == Seq("compact")),
      s"pending tombstones must trigger the fold on a settled root: $r1")
    val fs = new org.apache.hadoop.fs.Path(sIdx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(tombstoneParquetFiles(fs, sIdx).isEmpty &&
      tombstoneParquetFiles(fs, pIdx).isEmpty, "folds must clear the logs")
    assert(spark.read.parquet(s"$sIdx/cands")
      .filter(col("doc_id") === 2L).count() == 0)
    assert(spark.read.parquet(s"$pIdx/blocks")
      .filter(col("media_id") === 1L).count() == 0)
    assert(r1(1).audit.contains("n_media=1"),
      s"phash audit should settle in the report: ${r1(1).audit}")
    // second sweep: settled again
    assert(StreamOps.maintainAll(spark, Seq(sIdx, pIdx))
      .forall(_.actions.isEmpty), "second sweep should no-op")
  }

  test("staging GC is epoch-fenced: an old writer's sweep never deletes " +
      "a NEWER acquisition's staging root or compaction tmp") {
    import graft.queries.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("gc-fence").toString
    VectorIndex.buildIvf(spark, dir, idx, k = 4)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant a staging root and a compaction tmp from a (simulated)
    // FUTURE acquisition — epoch far above anything this test reaches
    val tok = "e9000000000000000000_00000000000000000000000000000000"
    val newerRoot = new org.apache.hadoop.fs.Path(
      s"$idx/${StreamOps.GraphRebuildDir}_$tok")
    val newerTmp = new org.apache.hadoop.fs.Path(s"$idx/cells__compact_$tok")
    fs.mkdirs(newerRoot); fs.mkdirs(newerTmp)
    // an older (lower-epoch) rebuild and compaction must leave both
    // alone — deleting a newer writer's in-flight staging would be
    // the pollution hazard reopened in reverse
    StreamOps.rebuildIvfIndex(spark, idx)
    assert(fs.exists(newerRoot),
      "older rebuild GC'd a newer acquisition's staging root")
    StreamOps.compactIvfIndex(spark, idx)
    assert(fs.exists(newerTmp),
      "older compaction deleted a newer acquisition's staging tmp")
    // and a LEGACY fixed-name tmp (epoch 0) is still collected
    val legacy = new org.apache.hadoop.fs.Path(s"$idx/cells__compact")
    fs.mkdirs(legacy)
    StreamOps.compactIvfIndex(spark, idx)
    assert(!fs.exists(legacy), "legacy fixed-name tmp must still be GC'd")
    fs.delete(newerRoot, true); fs.delete(newerTmp, true)
  }

  // ---- deletion / tombstones (the forget path) ----

  test("deleteDocs on the near-dup index: a deleted doc stops pairing " +
      "immediately, the fold erases its rows, and a post-fold re-ingest " +
      "is a brand-new doc") {
    import spark.implicits._
    import StreamOps._
    val idx = java.nio.file.Files.createTempDirectory("del-nd").toString + "/index"
    val base = "the quick brown fox jumps over the lazy dog and then naps all afternoon"
    nearDupIngestBatch(idx)(Seq(
      (1L, base),
      (2L, "unrelated words about columnar shuffles and broadcast joins today")
    ).toDF("doc_id", "text"), 0L).count()
    // near-copy pairs against the indexed doc 1 and drops
    assert(nearDupIngestBatch(idx)(
      Seq((10L, base + " tail")).toDF("doc_id", "text"), 1L).count() == 0)
    // delete doc 1: the SAME near-copy shape now survives — the
    // tombstone filters doc 1's band/shingle rows out of the
    // candidate join with no compaction having run
    assert(deleteDocs(idx, Seq(1L).toDF("doc_id")) == 1L)
    val s2 = nearDupIngestBatch(idx)(
      Seq((11L, base + " tail two")).toDF("doc_id", "text"), 2L)
      .select("doc_id").as[Long].collect().toSet
    assert(s2 == Set(11L), s"deleted doc still pairing: survivors $s2")
    // fold: physical erase + file-precise tombstone clear
    compactNearDupIndex(spark, idx, targetPartitions = 1)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(spark.read.parquet(s"$idx/shingles")
      .select("doc_id").as[Long].collect().toSet == Set(2L, 11L),
      "fold did not erase the deleted doc's rows")
    assert(tombstoneParquetFiles(fs, idx).isEmpty,
      "fold did not clear the folded tombstone files")
    // post-fold, the id is fully forgotten: re-ingesting it is a
    // brand-new doc (indexed again, pairing again)
    val s3 = nearDupIngestBatch(idx)(Seq(
      (1L, "entirely fresh content reusing the retired identifier today")
    ).toDF("doc_id", "text"), 3L).select("doc_id").as[Long].collect().toSet
    assert(s3 == Set(1L))
    assert(spark.read.parquet(s"$idx/shingles")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L))
  }

  test("deleteDocs on the clusters index: survivors keep their labels " +
      "(drift audit shows disappearances only), deleted docs drop from " +
      "reads and splits, the fold erases and re-folding is a no-op") {
    import spark.implicits._
    import StreamOps._
    val idx = java.nio.file.Files.createTempDirectory("del-cc").toString
    clustersIngestBatch(idx, metricsEvery = 0)(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id"), 1L).count()
    // materialize to LOCAL frames (a .cache() here would be replayed
    // by plan-match into post-delete reads and mask the filter)
    val before = readClusters(spark, idx).as[(Long, Long)].collect()
      .toSeq.toDF("doc_id", "cluster_id")
    // delete the MIN-LABEL doc of {1,2,3} and one side of {10,11}
    assert(deleteDocs(idx, Seq(1L, 10L).toDF("doc_id")) == 2L)
    val afterRows = readClusters(spark, idx).as[(Long, Long)].collect().toSet
    val after = afterRows.toSeq.toDF("doc_id", "cluster_id")
    // survivors keep their cluster ids — including cluster_id 1,
    // whose eponymous doc is deleted (labels are identifiers)
    assert(afterRows == Set((2L, 1L), (3L, 1L), (11L, 10L)),
      "deletion relabeled survivors")
    // drift audit: ONLY disappearance rows (to_split null) — no
    // surviving doc moved split
    val drift = splitDriftAudit(before, after).collect()
    assert(drift.forall(r => r.isNullAt(1)),
      s"a survivor moved split on deletion: ${drift.mkString(", ")}")
    assert(drift.map(_.getLong(2)).sum == 2L)
    // splits: deleted docs get NO split; unknown doc 99 still labels
    // itself a singleton
    val splits = splitsOfIndex(spark, idx,
      Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(splits == Set(2L, 3L, 11L, 99L), s"splits served: $splits")
    // fold: labels physically erased, log cleared, reads unchanged
    compactClustersIndex(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(spark.read.parquet(s"$idx/labels")
      .select("doc_id").as[Long].collect().toSet == Set(2L, 3L, 11L))
    assert(tombstoneParquetFiles(fs, idx).isEmpty)
    assert(readClusters(spark, idx).as[(Long, Long)].collect().toSet ==
      Set((2L, 1L), (3L, 1L), (11L, 10L)))
    // crash-window idempotency (kill between swap and clear leaves
    // folded labels + a live log): re-appending the same tombstones
    // changes nothing, and the next fold clears them again
    assert(deleteDocs(idx, Seq(1L, 10L).toDF("doc_id")) == 2L)
    assert(readClusters(spark, idx).as[(Long, Long)].collect().toSet ==
      Set((2L, 1L), (3L, 1L), (11L, 10L)),
      "re-applied tombstones over folded state changed the read")
    compactClustersIndex(spark, idx)
    assert(tombstoneParquetFiles(fs, idx).isEmpty)
  }

  test("deleteDocs on the phash and sample indexes: deleted media stop " +
      "pairing, deleted docs leave the training mix (the next-best stored " +
      "candidate fills the rank), folds erase and clear the log") {
    import org.apache.spark.sql.Row
    import graft.multimodal.MediaOps
    import StreamOps._
    import spark.implicits._
    // ---- phash media near-dup ----
    val idx = java.nio.file.Files.createTempDirectory("del-phash").toString
    val w = 16; val h = 16
    def texture(a: Int, b: Int, c: Int): Array[Byte] =
      Array.tabulate[Byte](w * h)(i =>
        (((i % w) * a + (i / w) * b + c) % 180 + 10).toByte)
    def png(pix: Array[Byte]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, pix)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    def mediaDf(rows: (Long, Array[Byte])*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (id, b) =>
        Row(id, "image", s"mem://$id", b, Row(w, h, null, "png"))
      }), MediaOps.mediaSchema)
    val texA = texture(31, 17, 0); val texB = texture(53, 29, 7)
    assert(imageIngestBatch(idx)(
      mediaDf(1L -> png(texA), 5L -> png(texB)), 1L).count() == 2)
    // a copy of indexed media 1 drops...
    assert(imageIngestBatch(idx)(
      mediaDf(7L -> png(texA.clone())), 2L).count() == 0)
    // ...until media 1 is deleted: the same copy then survives
    assert(deleteDocs(idx, Seq(1L).toDF("media_id")) == 1L)
    val s3 = imageIngestBatch(idx)(mediaDf(9L -> png(texA.clone())), 3L)
      .collect().map(_.getLong(0)).toSet
    assert(s3 == Set(9L), s"deleted media still pairing: $s3")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    compactPhashIndex(spark, idx)
    assert(spark.read.parquet(s"$idx/blocks")
      .select("media_id").distinct().as[Long].collect().toSet == Set(5L, 9L),
      "fold did not erase the deleted media's block rows")
    assert(tombstoneParquetFiles(fs, idx).isEmpty)
    // delete-EVERYTHING edge: the fold must leave a READABLE index
    // (a partitionBy write of zero rows is schema-less — the fold
    // deletes the table instead; absent reads as batch-0 empty) and
    // a later ingest revives it
    deleteDocs(idx, Seq(5L, 9L).toDF("media_id"))
    compactPhashIndex(spark, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/blocks")),
      "delete-everything fold should remove the table, not leave a " +
        "schema-less directory")
    assert(tombstoneParquetFiles(fs, idx).isEmpty)
    val revived = imageIngestBatch(idx)(
      mediaDf(30L -> png(texA.clone()), 31L -> png(texB.clone())), 4L)
      .collect().map(_.getLong(0)).toSet
    assert(revived == Set(30L, 31L),
      s"re-ingest after a delete-everything fold must revive: $revived")

    // ---- weighted sample (training mix) ----
    val sIdx = java.nio.file.Files.createTempDirectory("del-sample").toString
    val docs = Seq(
      ("s", 1L, "alpha beta gamma delta epsilon zeta"),
      ("s", 2L, "eta theta iota kappa lambda mu"),
      ("s", 3L, "nu xi omicron pi rho sigma"),
      ("s", 4L, "tau upsilon phi chi psi omega")).toDF("source", "doc_id", "text")
    // ingest keeps top-3 CANDIDATES, serving reads top-2 — the stored
    // headroom is what lets a deletion re-rank instead of come up short
    sampleIngestBatch(sIdx, k = 3, metricsEvery = 0)(docs, 1L)
    def top2(): Seq[Long] = readSample(spark, sIdx, 2)
      .orderBy("rk").select("doc_id").as[Long].collect().toSeq
    val before = top2()
    assert(before.size == 2)
    val victim = before.head
    assert(deleteDocs(sIdx, Seq(victim).toDF("doc_id")) == 1L)
    val after = top2()
    assert(after.size == 2 && !after.contains(victim),
      s"deleted doc still serves in the training mix: $after")
    assert(after.head == before(1),
      "the surviving rank-2 doc must move up to rank 1")
    compactSampleIndex(spark, sIdx, k = 3)
    assert(spark.read.parquet(s"$sIdx/cands")
      .filter(col("doc_id") === victim).count() == 0,
      "fold did not erase the deleted doc's candidate rows")
    assert(tombstoneParquetFiles(fs, sIdx).isEmpty)
    assert(top2() == after, "the fold changed the served mix")
  }

  test("deleteDocs on the graph and IVF indexes: deleted vectors stop " +
      "serving, a deleted entry point re-resolves to the best survivor, " +
      "fold and rebuild erase and clear the log") {
    import graft.queries.VectorIndex
    import StreamOps._
    val dir = "/root/testdata/sf0.001"
    // ---- graph ----
    val gIdx = java.nio.file.Files.createTempDirectory("del-graph").toString
    VectorIndex.buildGraph(spark, dir, gIdx)
    val gfs = new org.apache.hadoop.fs.Path(gIdx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // delete one stored ENTRY point (the hardest case: seeding must
    // re-resolve) plus one ordinary vector
    val entryVec = VectorIndex.cachedEntries(spark, gIdx).values.min
    val otherVec = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") =!= entryVec)
      .select(max(col("vec_id"))).collect()(0).getLong(0)
    import spark.implicits._
    assert(deleteDocs(gIdx, Seq(entryVec, otherVec).toDF("vec_id")) == 2L)
    assert(!VectorIndex.cachedEntries(spark, gIdx).values.toSet
      .exists(Set(entryVec, otherVec)),
      "a deleted vector still seeds as an entry point")
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id").isin(entryVec, otherVec, 0L))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    def served(): Seq[(Long, Long, Long)] =
      VectorIndex.searchGraph(spark, gIdx, queries)
        .select("qid", "rank", "nid").as[(Long, Long, Long)]
        .collect().sorted.toSeq
    val preFold = served()
    assert(preFold.nonEmpty &&
      !preFold.exists(r => r._3 == entryVec || r._3 == otherVec),
      "a deleted vector still serves from the graph index")
    // route pin: the driver-cached tombstone pre-filter (the default
    // per-hop fetch with a live log) must return the identical rows as
    // the per-fetch anti-join it replaces (tombstone_set forced dist).
    // Both sides skip the whole-index preload, which would otherwise
    // serve this small index without ever reaching the tombstone gate.
    val viaCachedSet = withRoutes(dist = Seq("graph_preload"),
      local = Seq("tombstone_set"))(served())
    val viaAntiJoin = withRoutes(dist = Seq("graph_preload", "tombstone_set"))(
      served())
    assert(viaCachedSet == preFold && viaAntiJoin == preFold,
      "cached-tombstone route diverges from the anti-join route")
    // fold: physical erase, serve identical before/after
    compactGraphIndex(spark, gIdx, targetPartitions = 4)
    assert(spark.read.parquet(s"$gIdx/graph")
      .filter(col("vec_id").isin(entryVec, otherVec)).count() == 0)
    assert(tombstoneParquetFiles(gfs, gIdx).isEmpty)
    assert(served() == preFold, "the fold changed graph serving")
    // ---- IVF ----
    val vIdx = java.nio.file.Files.createTempDirectory("del-ivf").toString
    VectorIndex.buildIvf(spark, dir, vIdx)
    val vfs = new org.apache.hadoop.fs.Path(vIdx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(deleteDocs(vIdx, Seq(3L).toDF("vec_id")) == 1L)
    val selfQ = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 3L)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val hits = VectorIndex.searchIvf(spark, vIdx, selfQ)
      .select("nid").as[Long].collect().toSet
    assert(hits.nonEmpty && !hits.contains(3L),
      s"deleted vector serves its own query: $hits")
    // the rebuild subsumes the fold: roster excludes the tombstoned
    // vector, the committed index has no row for it, the log clears
    rebuildIvfIndex(spark, vIdx)
    assert(spark.read.parquet(s"$vIdx/cells")
      .filter(col("vec_id") === 3L).count() == 0)
    assert(tombstoneParquetFiles(vfs, vIdx).isEmpty)
    assert(!VectorIndex.searchIvf(spark, vIdx, selfQ)
      .select("nid").as[Long].collect().contains(3L))
  }

  // ---- incremental weighted sample ----

  private def sampleRows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Long, Long)] =
    df.select("source", "rk", "doc_id", "w", "prio")
      .as[(String, Long, Long, Long, Long)].collect().toSet

  test("sampleIngestBatch: batch-equal to tWeightedSample at every boundary, " +
      "replay no-op, compaction collapses cands, crash-window heal") {
    val idx = java.nio.file.Files.createTempDirectory("sample-idx").toString
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("source"), col("doc_id"), col("text"))
      .persist()
    def truth(upTo: Long): Set[(String, Long, Long, Long, Long)] =
      sampleRows(graft.queries.TextQueries.rankSample(
        graft.queries.TextQueries.weightedPriorities(
          docs.filter(pmod(xxhash64(col("doc_id")), lit(4)) < upTo)), 10))
    for (i <- 0L until 4L) {
      StreamOps.sampleIngestBatch(idx, metricsEvery = 1)(
        docs.filter(pmod(xxhash64(col("doc_id")), lit(4)) === i), i + 1L)
      assert(sampleRows(StreamOps.readSample(spark, idx)) == truth(i + 1),
        s"maintained sample diverged from the batch query after batch ${i + 1}")
    }
    // replay: no new rows, no new metrics, state unchanged
    val candsBefore = spark.read.parquet(s"$idx/cands").count()
    val metricsBefore = StreamOps.indexMetrics(spark, idx).get.count()
    StreamOps.sampleIngestBatch(idx, metricsEvery = 1)(
      docs.filter(pmod(xxhash64(col("doc_id")), lit(4)) === 2), 3L)
    assert(spark.read.parquet(s"$idx/cands").count() == candsBefore)
    assert(StreamOps.indexMetrics(spark, idx).get.count() == metricsBefore)
    assert(sampleRows(StreamOps.readSample(spark, idx)) == truth(4))
    // health: hash slicing spreads every source over the 4 batches,
    // so cands holds several batch top-ks per source → amplification > 1
    val health = StreamOps.sampleIndexHealth(spark, idx).collect()(0)
    assert(health.getAs[Double]("read_amplification") > 1.0)
    // compaction collapses cands to <= sources × k and preserves rows
    StreamOps.compactSampleIndex(spark, idx)
    val nSources = health.getAs[Long]("n_sources")
    assert(spark.read.parquet(s"$idx/cands").count() <= nSources * 10)
    assert(sampleRows(StreamOps.readSample(spark, idx)) == truth(4))
    // ingest continues across the fold (re-keyed copies of slice 0 as
    // brand-new heavier docs — some must displace current members)
    val extra = docs.filter(pmod(xxhash64(col("doc_id")), lit(4)) === 0)
      .select(col("source"), (col("doc_id") + 100000L).as("doc_id"),
        concat_ws(" ", col("text"), col("text"), col("text")).as("text"))
    StreamOps.sampleIngestBatch(idx, metricsEvery = 1)(extra, 5L)
    val wantAll = sampleRows(graft.queries.TextQueries.rankSample(
      graft.queries.TextQueries.weightedPriorities(
        docs.unionByName(extra)), 10))
    assert(sampleRows(StreamOps.readSample(spark, idx)) == wantAll,
      "post-compaction ingest diverged")
    // crash inside a compaction swap: cands moved aside, not yet
    // replaced — every reader/ingester heals it first
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/cands"),
      new org.apache.hadoop.fs.Path(s"$idx/cands__old")))
    assert(sampleRows(StreamOps.readSample(spark, idx)) == wantAll,
      "reader did not heal the interrupted swap")
    docs.unpersist()
  }

  // ---- incremental HLL profile ----

  private def hllRows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Double)] =
    df.select("col_name", "sum_scaled", "n_zero", "est_distinct")
      .as[(String, Long, Long, Double)].collect().toSet

  test("hllIngestBatch: batch-equal to qHllDistinct at every boundary, " +
      "duplicate appends harmless by algebra, compaction + heal") {
    val idx = java.nio.file.Files.createTempDirectory("hll-idx").toString
    val orders = graft.sources.Tables.orders(spark, "/root/testdata/sf0.01")
      .persist()
    def slice(i: Long) = orders.filter(pmod(xxhash64(col("o_orderkey")), lit(4)) === i)
    def truth(upTo: Long): Set[(String, Long, Long, Double)] =
      hllRows(graft.queries.CoreQueries.hllEstimate(
        graft.queries.CoreQueries.hllRegisters(
          orders.filter(pmod(xxhash64(col("o_orderkey")), lit(4)) < upTo))))
    for (i <- 0L until 4L) {
      StreamOps.hllIngestBatch(idx, metricsEvery = 1)(slice(i), i + 1L)
      assert(hllRows(StreamOps.readHll(spark, idx)) == truth(i + 1),
        s"maintained profile diverged from the batch sketch after batch ${i + 1}")
    }
    assert(hllRows(StreamOps.readHll(spark, idx)) ==
      hllRows(graft.queries.CoreQueries.qHllDistinct(spark, "/root/testdata/sf0.01")),
      "maintained profile != one-shot qHllDistinct over the full table")
    // replay: marker-guarded no-op
    val regsBefore = spark.read.parquet(s"$idx/regs").count()
    StreamOps.hllIngestBatch(idx, metricsEvery = 1)(slice(2), 3L)
    assert(spark.read.parquet(s"$idx/regs").count() == regsBefore)
    // the semilattice property: a crash between append and marker
    // re-appends a batch's registers WITHOUT the marker's protection —
    // max-merge makes even that duplicate state row-identical
    graft.queries.CoreQueries.hllRegisters(slice(1))
      .coalesce(1).write.mode("append").parquet(s"$idx/regs")
    assert(hllRows(StreamOps.readHll(spark, idx)) == truth(4),
      "duplicate register append changed the resolved profile")
    // health sees the duplicates; compaction collapses them
    val health = StreamOps.hllIndexHealth(spark, idx).collect()(0)
    assert(health.getAs[Double]("read_amplification") > 1.0)
    StreamOps.compactHllIndex(spark, idx)
    val h2 = StreamOps.hllIndexHealth(spark, idx).collect()(0)
    assert(h2.getAs[Double]("read_amplification") == 1.0)
    assert(hllRows(StreamOps.readHll(spark, idx)) == truth(4))
    // ingest continues across the fold
    val extra = slice(0).withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    StreamOps.hllIngestBatch(idx, metricsEvery = 1)(extra, 5L)
    val wantAll = hllRows(graft.queries.CoreQueries.hllEstimate(
      graft.queries.CoreQueries.hllRegisters(orders.unionByName(extra))))
    assert(hllRows(StreamOps.readHll(spark, idx)) == wantAll,
      "post-compaction ingest diverged")
    // crash inside a compaction swap — reader heals first
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/regs"),
      new org.apache.hadoop.fs.Path(s"$idx/regs__old")))
    assert(hllRows(StreamOps.readHll(spark, idx)) == wantAll,
      "reader did not heal the interrupted swap")
    orders.unpersist()
  }

  test("hllGroupIngestBatch: maintained per-group profile equals the " +
      "one-shot grouped sketch; late-appearing groups just start") {
    val idx = java.nio.file.Files.createTempDirectory("hll-grp-idx").toString
    val dir = "/root/testdata/sf0.01"
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id")).persist()
    def slice(i: Long) = ev.filter(pmod(xxhash64(col("event_id")), lit(3)) === i)
    for (i <- 0L until 3L)
      StreamOps.hllGroupIngestBatch(idx, "event_type", "user_id",
        metricsEvery = 1)(slice(i), i + 1L)
    val maintained = hllRows(StreamOps.readHll(spark, idx))
    val oneShot = hllRows(graft.queries.CoreQueries.hllEstimate(
      graft.queries.CoreQueries.hllGroupRegisters(ev, "event_type", "user_id")))
    assert(maintained == oneShot,
      "maintained grouped profile != one-shot grouped sketch")
    // a group unseen until now starts its register set mid-stream
    val novel = ev.limit(50)
      .withColumn("event_type", lit("novel_type"))
    StreamOps.hllGroupIngestBatch(idx, "event_type", "user_id",
      metricsEvery = 1)(novel, 4L)
    val withNovel = StreamOps.readHll(spark, idx)
      .filter(col("col_name") === "novel_type").collect()
    assert(withNovel.length == 1 && withNovel(0).getDouble(3) > 0,
      "late-appearing group did not start a register set")
    // replay: marker-guarded no-op; compaction keeps the rows
    val regsBefore = spark.read.parquet(s"$idx/regs").count()
    StreamOps.hllGroupIngestBatch(idx, "event_type", "user_id")(slice(1), 2L)
    assert(spark.read.parquet(s"$idx/regs").count() == regsBefore)
    StreamOps.compactHllIndex(spark, idx)
    assert(hllRows(StreamOps.readHll(spark, idx)
        .filter(col("col_name") =!= "novel_type")) == oneShot,
      "compaction changed the grouped profile")
    ev.unpersist()
  }
}
