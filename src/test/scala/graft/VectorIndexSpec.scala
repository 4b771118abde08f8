package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.queries.{VectorIndex, VectorQueries}

/** Persisted PQ index: build once, search many — correctness pinned
  * against the same exact baselines as the in-query ANN paths. */
class VectorIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def corpusQueries(n: Int) =
    graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < n)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))

  test("stored-index search: self at rank 1, recall@5 >= 0.9 vs brute force") {
    val idx = Files.createTempDirectory("graft-pqidx").toString
    VectorIndex.buildPq(spark, dir, idx)
    val res = VectorIndex.searchPq(spark, dir, idx, corpusQueries(10), kNN = 6)
      .collect()
    // serving sanity: a corpus vector queried against its own index
    // finds itself first at sim 1.0
    val self = res.filter(r => r.getLong(3 - 3) == r.getLong(2)) // qid == nid
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.foreach { case (qid, rows) =>
      val first = rows.minBy(_.getLong(1))
      assert(first.getLong(2) == qid && first.getDouble(3) == 1.0,
        s"query $qid did not retrieve itself first: $first")
    }
    assert(self.length == 10)
    // recall: neighbors excluding self vs the exact baseline
    val brute = VectorQueries.annBruteTopk(spark, dir)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = res.filter(r => r.getLong(0) != r.getLong(2))
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.9, s"stored-index recall@5 $recall < 0.9")
  }

  test("build is deterministic; codes are the m-byte compressed form") {
    val idx1 = Files.createTempDirectory("graft-pqidx1").toString
    val idx2 = Files.createTempDirectory("graft-pqidx2").toString
    VectorIndex.buildPq(spark, dir, idx1)
    VectorIndex.buildPq(spark, dir, idx2)
    def canon(p: String) = spark.read.parquet(p).collect()
      .map(_.toString).sorted.toSeq
    assert(canon(s"$idx1/book") == canon(s"$idx2/book"), "codebooks diverge")
    assert(canon(s"$idx1/codes") == canon(s"$idx2/codes"), "codes diverge")
    val codes = spark.read.parquet(s"$idx1/codes")
    assert(codes.count() ==
      graft.sources.Tables.embeddings(spark, dir).count())
    // m=8 codes in [0, 32) — the 64x compression vs 64 doubles
    val stats = codes.select(
        min(size(col("codes"))), max(size(col("codes"))),
        min(array_min(col("codes"))), max(array_max(col("codes"))))
      .collect()(0)
    assert(stats.getInt(0) == 8 && stats.getInt(1) == 8)
    assert(stats.getInt(2) >= 0 && stats.getInt(3) < 32)
  }

  test("search twice against one index: identical results, no retrain") {
    val idx = Files.createTempDirectory("graft-pqidx3").toString
    VectorIndex.buildPq(spark, dir, idx)
    def run() = VectorIndex.searchPq(spark, dir, idx, corpusQueries(5))
      .collect().map(_.toString).sorted.toSeq
    assert(run() == run())
  }

  test("IVF index: self at rank 1, recall@5 >= 0.9, probes prune the files read") {
    val idx = Files.createTempDirectory("graft-ivfidx").toString
    VectorIndex.buildIvf(spark, dir, idx)
    val res = VectorIndex.searchIvf(spark, idx, corpusQueries(10), kNN = 6)
    val rows = res.collect()
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val first = rs.minBy(_.getLong(1))
      assert(first.getLong(2) == qid && first.getDouble(3) == 1.0,
        s"query $qid did not retrieve itself first")
    }
    val brute = VectorQueries.annBruteTopk(spark, dir)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.filter(r => r.getLong(0) != r.getLong(2))
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF stored-index recall@5 $recall < 0.9")

    // probing is PHYSICAL pruning: the executed probe scan reads
    // strictly fewer index files than a full read (nprobe=1 to make
    // the gap unconditional on cell-rank overlap across queries)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val flat = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      flat.collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numFiles").value).sum
    }
    val cells = spark.read.parquet(s"$idx/cells")
    val someCell = cells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).min
    val probed = scannedFiles(cells.filter(col("cell").isin(someCell)))
    val full = scannedFiles(cells)
    assert(probed > 0 && probed < full,
      s"probe scanned $probed of $full index files — partition pruning lost")
  }

  test("IVFPQ composed index: self at rank 1, recall@5 >= 0.9 vs brute force") {
    val idx = Files.createTempDirectory("graft-ivfpqidx").toString
    VectorIndex.buildIvfPq(spark, dir, idx)
    val rows = VectorIndex.searchIvfPq(spark, dir, idx, corpusQueries(10), kNN = 6)
      .collect()
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val first = rs.minBy(_.getLong(1))
      assert(first.getLong(2) == qid && first.getDouble(3) == 1.0,
        s"query $qid did not retrieve itself first")
    }
    val brute = VectorQueries.annBruteTopk(spark, dir)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.filter(r => r.getLong(0) != r.getLong(2))
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVFPQ stored-index recall@5 $recall < 0.9")
    // the codes table carries cell AND codes: both prunings compose
    val cols = spark.read.parquet(s"$idx/cells").columns.toSet
    assert(cols == Set("vec_id", "codes", "cell"))
  }

  test("ivfStaleness: fresh index reads clean; drifted adds move the stats; " +
      "summary equals a driver recompute") {
    val sdir = "/root/testdata/sf0.001"
    val idx = Files.createTempDirectory("graft-staleidx").toString
    VectorIndex.buildIvf(spark, sdir, idx)
    def row(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect().head
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6))
    }
    // immediately after build, current state IS the build state
    val clean = row(VectorIndex.ivfStaleness(spark, idx))
    assert(clean._1 == clean._2, "fresh index: n_build != n_total")
    assert(clean._3 == clean._4 && clean._5 == clean._6)
    assert(!clean._7, "fresh index flagged rebuild")

    // drifted adds: the reversed corpus under offset ids
    val drifted = graft.sources.Tables.embeddings(spark, sdir)
      .select((col("vec_id") + lit(VectorIndex.DriftOffset)).as("vec_id"),
        reverse(col("embedding")).as("emb"))
    graft.streaming.StreamOps.ivfIngestBatch(idx)(drifted, 1L).count()
    val got = row(VectorIndex.ivfStaleness(spark, idx))
    assert(got._2 == 2 * got._1)
    assert(got._4 < got._3, "reversed adds did not lower assignment quality")

    // full driver recompute of the summary (same forward-loop dot,
    // 4dp HALF_UP round, exact decimal sum, one final division)
    val cents: Seq[Seq[Double]] = spark.read.parquet(s"$idx/cents")
      .select(col("kk"), col("cent")).collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1)).toSeq
    val k = cents.length
    val raw = spark.read.parquet(s"$sdir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def dot(a: Array[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def q4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    def stats(vs: Seq[Array[Double]]): (Long, BigDecimal, Long) = {
      val assigned = vs.flatMap { v =>
        val nrm = math.sqrt(dot(v, v.toSeq))
        if (nrm <= 0) None else {
          val u = v.map(_ / nrm)
          val dots = cents.map(c => dot(u, c))
          val mx = dots.max
          Some((dots.indexOf(mx), q4(mx)))
        }
      }
      (assigned.size.toLong, assigned.map(_._2).sum,
        assigned.groupBy(_._1).values.map(_.size).max.toLong)
    }
    val base = raw.map(_._2).toSeq
    val (nb, sdB, mxB) = stats(base)
    val (nAll, sdAll, mxAll) = {
      val both = base ++ raw.map(_._2.reverse)
      stats(both)
    }
    def r4(x: Double) = q4(x).toDouble
    val want = (nb, nAll,
      r4(sdB.toDouble / nb), r4(sdAll.toDouble / nAll),
      r4(mxB.toDouble * k / nb), r4(mxAll.toDouble * k / nAll))
    assert((got._1, got._2, got._3, got._4, got._5, got._6) == want,
      s"driver recompute mismatch: got=$got want=$want")
    assert(got._7 == (got._4 < 0.9 * got._3 || got._6 > 2.0 * got._5))
  }

  test("graph index: self at rank 1, recall@5 >= 0.9 vs brute, degree bound, " +
      "pruned serve") {
    val idx = Files.createTempDirectory("graft-graphidx").toString
    VectorIndex.buildGraph(spark, dir, idx)
    val rows = VectorIndex.searchGraph(spark, idx, corpusQueries(10), k = 6).collect()
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val first = rs.minBy(_.getLong(1))
      assert(first.getLong(2) == qid && first.getDouble(3) == 1.0,
        s"query $qid did not retrieve itself first: $first")
    }
    val brute = VectorQueries.annBruteTopk(spark, dir)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.filter(r => r.getLong(0) != r.getLong(2))
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.9, s"graph-index recall@5 $recall < 0.9")
    // every adjacency list respects the degree bound, and the index
    // covers the whole corpus (isolated nodes keep an empty list)
    val g = spark.read.parquet(s"$idx/graph")
    assert(g.count() == graft.sources.Tables.embeddings(spark, dir).count())
    assert(g.select(max(size(col("nbrs")))).collect()(0).getInt(0)
      <= VectorIndex.GraphDegree)
    // the serve is partition-pruned: a walk-shaped read (one cell)
    // scans strictly fewer files than the full index
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val flat = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      flat.collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numFiles").value).sum
    }
    val someCell = g.select(col("cell")).distinct().collect().map(_.getInt(0)).min
    val probed = scannedFiles(g.filter(col("cell").isin(someCell)))
    val full = scannedFiles(g)
    assert(probed > 0 && probed < full,
      s"walk read scanned $probed of $full index files — pruning lost")
    // and the WALK'S OWN reads prune, not just a synthetic filter: a
    // single-query search's hop-0 fetch asks for at most its
    // GraphSeedCells seed cells, and the TOTAL rows fetched are
    // walk-sized (seeds + hops×beam×degree), never corpus-sized. (At
    // this corpus's 16 cells the later hops legitimately reach most
    // cells — the per-hop CELL bound is the 100 TB claim only at
    // realistic cell counts; the row bound holds at any size.)
    // force the selective per-hop fetch route (the round-18 default
    // preloads the whole sub-budget index in one read, which is
    // exactly what this 100 TB pruning claim must NOT rely on)
    withRoutes(dist = Seq("graph_preload"))(
      VectorIndex.searchGraph(spark, idx, corpusQueries(1)).collect())
    val fetches = VectorIndex.lastFetchCells
    assert(fetches.nonEmpty &&
      fetches.head.size <= VectorIndex.GraphSeedCells,
      s"hop-0 fetch touched ${fetches.map(_.size)} cells")
    val rowsFetched = VectorIndex.lastFetchNodes.sum
    val walkBound = VectorIndex.GraphSeedCells +
      (VectorIndex.GraphHops + 1) * VectorIndex.GraphBeam * VectorIndex.GraphDegree
    val corpus = graft.sources.Tables.embeddings(spark, dir).count()
    assert(rowsFetched <= walkBound && rowsFetched < corpus / 2,
      s"walk fetched $rowsFetched rows (bound $walkBound, corpus $corpus)")
  }

  test("graph index: distributed batch walk row-identical to the driver walk") {
    val idx = Files.createTempDirectory("graft-graphidx-batch").toString
    VectorIndex.buildGraph(spark, dir, idx)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // the corpus-sized batch (the shape the driver walk exists to
    // avoid) and the small serving batch must both agree exactly —
    // same seeds, same fixed-round frontier arithmetic, same rounding
    val all = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val driverAll = canon(VectorIndex.searchGraph(spark, idx, all))
    assert(withRoutes(local = Seq("graph_batch_broadcast"))(
        canon(VectorIndex.searchGraphBatch(spark, idx, all))) == driverAll,
      "corpus-sized batch diverges from the driver walk")
    // BOTH routes of the batch walk: the broadcast form (default at
    // this index size) above, and the join form forced dist — the
    // past-the-budget fallback must stay row-identical even while the
    // default route no longer runs it
    assert(withRoutes(dist = Seq("graph_batch_broadcast"))(
        canon(VectorIndex.searchGraphBatch(spark, idx, all))) == driverAll,
      "forced-join batch walk diverges from the driver walk")
    assert(canon(VectorIndex.searchGraphBatch(spark, idx, corpusQueries(10))) ==
      canon(VectorIndex.searchGraph(spark, idx, corpusQueries(10))),
      "serving-sized batch diverges from the driver walk")
  }

  test("graph serve: preloaded local-model route equals the selective fetch route") {
    // round-18 pin: the sub-budget serve collects the resolved graph
    // once and walks it as map lookups; forced past the budget it
    // fetches per hop. Both must be row-identical — including with
    // tombstones present (annGraphDel's serve shares this code).
    val idx = Files.createTempDirectory("graft-graphidx-preload").toString
    VectorIndex.buildGraph(spark, dir, idx)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    def bothRoutes() = (
      withRoutes(local = Seq("graph_preload"))(
        canon(VectorIndex.searchGraph(spark, idx, corpusQueries(10)))),
      withRoutes(dist = Seq("graph_preload"))(
        canon(VectorIndex.searchGraph(spark, idx, corpusQueries(10)))))
    val (preloaded, fetched) = bothRoutes()
    assert(preloaded == fetched,
      "preloaded serve diverges from the selective-fetch serve")
    // delete a few nodes, then re-pin: tombstone resolution must be
    // identical through both routes
    val victims = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id")).orderBy(col("vec_id")).limit(3)
    graft.streaming.StreamOps.deleteDocs(idx, victims)
    val (preloadedDel, fetchedDel) = bothRoutes()
    assert(preloadedDel == fetchedDel,
      "preloaded serve diverges from selective fetch with tombstones present")
  }

  test("graph index: build deterministic; search twice identical") {
    val idx1 = Files.createTempDirectory("graft-graphidx1").toString
    val idx2 = Files.createTempDirectory("graft-graphidx2").toString
    VectorIndex.buildGraph(spark, dir, idx1)
    VectorIndex.buildGraph(spark, dir, idx2)
    def canon(p: String) = spark.read.parquet(p).collect()
      .map(_.toString).sorted.toSeq
    assert(canon(s"$idx1/graph") == canon(s"$idx2/graph"), "graphs diverge")
    assert(canon(s"$idx1/entries") == canon(s"$idx2/entries"), "entries diverge")
    def run() = VectorIndex.searchGraph(spark, idx1, corpusQueries(5))
      .collect().map(_.toString).sorted.toSeq
    assert(run() == run())
  }

  test("graph index under a FORCED multi-super quantizer and toy shard " +
      "target: walks agree with each other and with the rendered two-level " +
      "oracle; oversized cells actually split") {
    // At sandbox corpus sizes the natural build keeps ONE super (the
    // flat-degenerate case, GraphFlatCellBound) and no cell crosses
    // the shard threshold — so this test forces both levers at toy
    // parameters and pins the full contract on them: driver walk ≡
    // distributed batch walk ≡ the rendered-model oracle text (run
    // through the spark.sql door — the same text DuckDB gets, under
    // the proven-parity DuckDbCompat semantics).
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val idx = Files.createTempDirectory("graft-graphidx-hier").toString
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("emb"), col("emb"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        call_function("graft_vec_div", col("emb"), col("nrm")).as("emb"))
      .persist()
    val sample = corpus.orderBy(col("vec_id")).limit(4096)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
    // 80 requested cells >> GraphFlatCellBound → ~√80 supers
    val qz = VectorIndex.trainGraphQuantizer(sample, 80, 4)
    assert(qz.supers.length >= 2,
      s"forced quantizer kept ${qz.supers.length} super(s) — not hierarchical")
    assert(qz.cells.map(_._1).distinct.length == qz.supers.length,
      "every super must own at least one cell")
    val shardTarget = 5
    qz.supers.zipWithIndex.map { case (c, sid) => (sid, c) }
      .toDF("sid", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/supers")
    qz.cells.zipWithIndex.map { case ((sid, c), kk) => (kk, sid, c) }
      .toDF("kk", "sid", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/cents")
    VectorIndex.writeGraphTables(spark, corpus, qz, idx,
      shardTarget = shardTarget)
    // the split lever must actually engage on this fixture
    val oversized = spark.read.parquet(s"$idx/members")
      .groupBy(col("cell")).count()
      .filter(col("count") > 2L * shardTarget).count()
    assert(oversized > 0,
      "no cell crossed the toy split threshold — fixture too uniform")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val driver = canon(VectorIndex.searchGraph(spark, idx, queries))
    assert(driver == canon(VectorIndex.searchGraphBatch(spark, idx, queries)),
      "batch walk diverges from the driver walk under the hierarchy")
    graft.SqlGateway.open(spark, dir)
    val viaSql = canon(spark.sql(VectorIndex.graphOracleSqlOf(
      qz, "WHERE vec_id < 10", shardTarget)))
    assert(driver == viaSql,
      "rendered two-level oracle diverges from the engine walks")
    corpus.unpersist()
  }
}
