package graft.tools

import org.apache.spark.sql.functions._
import graft.Session

/** Accumulated-state ingest curves for the three maintainers that
  * did not yet have one (the LSH/phash/clusters/sample/graph
  * families got theirs in ProfileIngest10x / ProfileScale /
  * ProfileGraphIngest): `hllIngestBatch`, `hllGroupIngestBatch`,
  * `zorderIngestBatch`. The claim under test is the same flat-cost
  * contract: a standard probe batch costs `fixed + c·batch_bytes`,
  * never `c·accumulated_state` —
  *
  *  - HLL (plain + grouped): batch cost = the batch scan + a
  *    ≤ m-rows-per-column (per-group) shuffle and a model-sized
  *    append; accumulated register rows are only ever read by
  *    `readHll`/compaction, not by ingest;
  *  - Z-order: batch cost = one batch-sized staged write + a
  *    batch-sized stats read; the accumulated table contributes only
  *    a rows-dir listing (replay hygiene), never a scan.
  *
  * Each curve runs a COMPACTION MID-CURVE and continues ingesting —
  * pinning that the maintainers' cost stays flat across the LSM fold
  * too (and that ingest composes with compaction's tmp+swap).
  * Ingest calls pass metricsEvery = 0 for the same reason
  * ProfileIngest10x does: the health emission is an O(state) audit
  * BY DESIGN, so at default cadence it would read as ingest growth —
  * production tunes its cadence with the same knob.
  *
  * Usage: runMain graft.tools.ProfileMaintainers10x [sfDir]
  * Prints the three curves; exits non-zero if cost(10×)/cost(1×)
  * exceeds [[GrowthBound]] for any maintainer. */
object ProfileMaintainers10x {

  /** Probe-cost growth bound across 10× accumulated state. The true
    * curve is flat; 3× absorbs the box's measured co-tenant noise
    * (identical runs spread ~2–3×) while still catching an
    * accumulated-state scan on the ingest path, which measures ≫
    * 10× at these volumes. */
  val GrowthBound = 3.0

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.streaming.StreamOps
    val failures = Seq.newBuilder[String]

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def check(name: String, x1: Double, x10: Double): Unit = {
      val ratio = x10 / math.max(x1, 1e-9)
      println(f"[maint10x] $name%-9s x10/x1 = $ratio%.2f (bound $GrowthBound)")
      if (ratio > GrowthBound) failures += f"$name ratio $ratio%.2f"
    }

    // ---------- hllIngestBatch (orders, the production column set) ----------
    {
      val orders = graft.sources.Tables.orders(spark, dir).cache()
      orders.count()
      val idx = java.nio.file.Files.createTempDirectory("maint-hll").toString
      var bid = 0L
      def probe(tag: String): Double = {
        bid += 1
        val s = timed(StreamOps.hllIngestBatch(idx, metricsEvery = 0)(orders, bid))
        val h = StreamOps.hllIndexHealth(spark, idx).collect()(0)
        println(f"[maint10x] hll       $tag%-8s batch=$s%6.2fs  " +
          f"reg_rows=${h.getLong(0)}%7d amp=${h.getDouble(2)}%5.1f")
        s
      }
      val x1 = probe("x1")
      (1 to 3).foreach { _ =>
        bid += 1; StreamOps.hllIngestBatch(idx, metricsEvery = 0)(orders, bid) }
      probe("x5")
      println("[maint10x] hll       compact  (mid-curve LSM fold)")
      StreamOps.compactHllIndex(spark, idx)
      // 4 more seeds so the x10 probe is the 10th applied batch
      (1 to 4).foreach { _ =>
        bid += 1; StreamOps.hllIngestBatch(idx, metricsEvery = 0)(orders, bid) }
      val x10 = probe("x10")
      check("hll", x1, x10)
      orders.unpersist()
    }

    // ---------- hllGroupIngestBatch (events: per-type distinct users) ----------
    {
      val events = graft.sources.Tables.events(spark, dir)
        .select(col("event_type"), col("user_id")).cache()
      events.count()
      val idx = java.nio.file.Files.createTempDirectory("maint-hllg").toString
      var bid = 0L
      def probe(tag: String): Double = {
        bid += 1
        val s = timed(StreamOps.hllGroupIngestBatch(idx, "event_type",
          "user_id", metricsEvery = 0)(events, bid))
        val h = StreamOps.hllIndexHealth(spark, idx).collect()(0)
        println(f"[maint10x] hll_group $tag%-8s batch=$s%6.2fs  " +
          f"reg_rows=${h.getLong(0)}%7d amp=${h.getDouble(2)}%5.1f")
        s
      }
      val x1 = probe("x1")
      (1 to 3).foreach { _ => bid += 1
        StreamOps.hllGroupIngestBatch(idx, "event_type", "user_id",
          metricsEvery = 0)(events, bid) }
      probe("x5")
      println("[maint10x] hll_group compact  (mid-curve LSM fold)")
      StreamOps.compactHllIndex(spark, idx)
      (1 to 4).foreach { _ => bid += 1
        StreamOps.hllGroupIngestBatch(idx, "event_type", "user_id",
          metricsEvery = 0)(events, bid) }
      val x10 = probe("x10")
      check("hll_group", x1, x10)
      events.unpersist()
    }

    // ---------- zorderIngestBatch (lineitem on (l_partkey, l_suppkey)) ----------
    {
      val li = graft.sources.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey")).cache()
      li.count()
      val tbl = java.nio.file.Files.createTempDirectory("maint-zorder").toString
      var bid = 0L
      def probe(tag: String): Double = {
        bid += 1
        val s = timed(StreamOps.zorderIngestBatch(tbl, "l_partkey",
          "l_suppkey", metricsEvery = 0)(li, bid))
        val h = StreamOps.zorderHealth(spark, tbl, "l_partkey", "l_suppkey")
          .collect()(0)
        println(f"[maint10x] zorder    $tag%-8s batch=$s%6.2fs  " +
          f"files=${h.getLong(0)}%4d overlap_pairs=${h.getLong(1)}%5d")
        s
      }
      val x1 = probe("x1")
      (1 to 3).foreach { _ => bid += 1
        StreamOps.zorderIngestBatch(tbl, "l_partkey", "l_suppkey",
          metricsEvery = 0)(li, bid) }
      probe("x5")
      println("[maint10x] zorder    compact  (mid-curve OPTIMIZE)")
      StreamOps.compactZorder(spark, tbl, "l_partkey", "l_suppkey", 16)
      (1 to 4).foreach { _ => bid += 1
        StreamOps.zorderIngestBatch(tbl, "l_partkey", "l_suppkey",
          metricsEvery = 0)(li, bid) }
      val x10 = probe("x10")
      check("zorder", x1, x10)
      li.unpersist()
    }

    val bad = failures.result()
    if (bad.nonEmpty) {
      println(s"[maint10x] FAIL: ${bad.mkString("; ")}")
      spark.stop(); sys.exit(1)
    }
    println("[maint10x] all three maintainers flat across 10x accumulated state")
    spark.stop()
  }
}
