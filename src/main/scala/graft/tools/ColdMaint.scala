package graft.tools

import org.apache.spark.sql.functions._
import graft.Session

/** ColdOne's twin for the MAINTENANCE surface: fresh-JVM timed runs
  * of the staged rebuilds and the unified policy sweep, so future
  * cost drift on these operators adjudicates against a recorded
  * band exactly as every serving row already does (BASELINE.md
  * protocol: run2/run3 are the stable signal, re-open on ≥3×).
  *
  * Measures, at the given sf dir (default sf0.1 — the
  * ProfileMaintainers10x scale):
  *
  *   rebuild_graph — rebuildGraphIndex on a built index carrying one
  *                   delta batch, 3 runs (each run is a full roster
  *                   retrain + stage + commit; run1 includes JIT)
  *   rebuild_ivf   — the IVF twin, 3 runs
  *   sweep_act     — one maintainAll over five mixed-family roots
  *                   decayed so graph/hll/sample/zorder compact and
  *                   the drifted IVF root REBUILDS (the expensive
  *                   realistic mix)
  *   sweep_noop    — two more sweeps over the settled set: the cost
  *                   a scheduler pays per idle cycle (audits only —
  *                   listings and metadata-sized reads, no swaps)
  *   sweep@100roots — the table-service scale rehearsal: one hundred
  *                   HLL roots (10 decayed, 90 settled) swept once
  *                   mixed (~10 acting) and twice noop, with the
  *                   per-root audit cost printed — the number behind
  *                   the "audits are metadata-sized" claim
  *
  * Usage: runMain graft.tools.ColdMaint [sfDir]
  */
object ColdMaint {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.VectorIndex
    import graft.streaming.StreamOps

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(s"coldmaint-$tag").toString

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def delta(shift: Long, n: Int, negate: Boolean) = emb
      .select((col("vec_id") + shift).as("vec_id"),
        (if (negate) expr("transform(embedding, x -> -x)")
         else col("embedding")).as("emb"))
      .limit(n)

    // ---- rebuild bands ----
    val gIdx = tmp("graph")
    println(f"[coldmaint] setup build_graph ${
      timed(VectorIndex.buildGraph(spark, dir, gIdx))}%.2fs")
    StreamOps.graphIngestBatch(gIdx, metricsEvery = 0)(
      delta(1000000L, 500, negate = false), 1L).count()
    for (i <- 1 to 3)
      println(f"[coldmaint] rebuild_graph run$i ${
        timed(StreamOps.rebuildGraphIndex(spark, gIdx))}%.2fs")

    val vIdx = tmp("ivf")
    println(f"[coldmaint] setup build_ivf ${
      timed(VectorIndex.buildIvf(spark, dir, vIdx))}%.2fs")
    StreamOps.ivfIngestBatch(vIdx)(
      delta(1000000L, 500, negate = false), 1L).count()
    for (i <- 1 to 3)
      println(f"[coldmaint] rebuild_ivf run$i ${
        timed(StreamOps.rebuildIvfIndex(spark, vIdx))}%.2fs")

    // ---- sweep bands: decay every root, then the realistic mix ----
    // graph: a fresh delta so the tuned amp threshold trips a compact
    StreamOps.graphIngestBatch(gIdx, metricsEvery = 0)(
      delta(2000000L, 500, negate = false), 2L).count()
    // IVF: a hot-spot delta (one vector repeated corpus-wide) blows a
    // single cell past the 2× build-time occupancy skew, flipping the
    // staleness flag — the sweep REBUILDS this root. (Mean-dot drift
    // is the other trigger, but on this synthetic near-uniform corpus
    // the build-time mean dot is already so low that even inverting
    // every vector stays inside the 10% tolerance; occupancy skew is
    // the trigger a warehouse hits first anyway.)
    StreamOps.ivfIngestBatch(vIdx)(
      emb.select((col("vec_id") + 3000000L).as("vec_id"))
        .crossJoin(broadcast(
          emb.orderBy("vec_id").limit(1).select(col("embedding").as("emb")))),
      2L).count()
    val hIdx = tmp("hll")
    val orders = graft.sources.Tables.orders(spark, dir)
    (1 to 2).foreach(i =>
      StreamOps.hllIngestBatch(hIdx, metricsEvery = 0)(orders, i.toLong))
    val sIdx = tmp("sample")
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
    (1 to 2).foreach(i =>
      StreamOps.sampleIngestBatch(sIdx, metricsEvery = 0)(docs, i.toLong))
    val zTbl = tmp("zorder")
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    (1 to 3).foreach(i => StreamOps.zorderIngestBatch(zTbl, "l_partkey",
      "l_suppkey", metricsEvery = 0)(li, i.toLong))

    val roots = Seq(gIdx, vIdx, hIdx, sIdx, zTbl)
    val dims = Map(zTbl -> ("l_partkey", "l_suppkey"))
    val tuning = StreamOps.MaintenanceTuning(graphCompactAmp = 1.0001)
    var reports: Seq[StreamOps.MaintenanceReport] = Seq.empty
    println(f"[coldmaint] sweep_act run1 ${
      timed { reports = StreamOps.maintainAll(spark, roots, dims, tuning) }}%.2fs")
    reports.foreach(r =>
      println(s"[coldmaint]   acted ${r.family}: ${r.actions.mkString(",")}"))
    for (i <- 2 to 3) {
      println(f"[coldmaint] sweep_noop run$i ${
        timed { reports = StreamOps.maintainAll(spark, roots, dims, tuning) }}%.2fs")
      val acted = reports.filter(_.actions.nonEmpty)
      if (acted.nonEmpty)
        println(s"[coldmaint]   WARN not settled: " +
          acted.map(r => s"${r.family}=${r.actions.mkString(",")}").mkString(" "))
    }

    // ---- sweep scale: 100 roots, the table-service shape — 90
    //      settled (one applied batch: read amplification 1, no
    //      action) + 10 decayed (two batches: amplification 2 →
    //      compact). Per-root audit cost is the claim under test. ----
    val tinyOrders = orders.limit(50).cache(); tinyOrders.count()
    val many = (1 to 100).map { i =>
      val r = tmp(f"hll$i%03d")
      val reps = if (i <= 10) 2 else 1
      (1 to reps).foreach(b =>
        StreamOps.hllIngestBatch(r, metricsEvery = 0)(tinyOrders, b.toLong))
      r
    }
    val tMixed = timed { reports = StreamOps.maintainAll(spark, many) }
    println(f"[coldmaint] sweep_mixed@100roots run1 $tMixed%.2fs " +
      f"(${reports.count(_.actions.nonEmpty)} acted, " +
      f"${tMixed * 10}%.0f ms/root)")
    for (i <- 2 to 3) {
      val t = timed { reports = StreamOps.maintainAll(spark, many) }
      val acted = reports.count(_.actions.nonEmpty)
      println(f"[coldmaint] sweep_noop@100roots run$i $t%.2fs " +
        f"($acted acted, ${t * 10}%.0f ms/root)")
    }
    tinyOrders.unpersist()
    spark.stop()
  }
}
