package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.queries.{CoreQueries, EventQueries, GraphQueries, TextQueries, VectorQueries}

/** Plan-shape regression tests: the scale properties this engine is
  * designed around (pushdown reaching the scan, broadcasts on small
  * dimensions, no cartesian joins) asserted against the ACTUAL
  * physical plans, so a refactor that silently loses one fails CI
  * rather than a 100 TB run. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Execute `df` and total its parquet scans' numFiles metric — the
    * ground truth for "partition pruning actually skipped files". */
  private def executedFiles(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    df.collect()
    val flat = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    flat.collect { case s: FileSourceScanExec => s }
      .map(_.metrics("numFiles").value).sum
  }

  private def planString(df: DataFrame): String = {
    // executedPlan under AQE is the initial plan; strip the adaptive
    // wrapper and print the full tree including scan metadata
    val p: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    p.toString
  }

  test("s2 filtered scan: predicate is pushed to the parquet scan") {
    val plan = planString(CoreQueries.s2FilteredScan(spark, dir))
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    assert(plan.contains("IsNotNull(o_orderstatus)") ||
      plan.contains("EqualTo(o_orderstatus,F)"), plan.take(2000))
  }

  test("events ts range predicate pushes through the NTZ normalization cast") {
    import org.apache.spark.sql.functions.{col, lit}
    // Tables.events normalizes the NTZ-form ts to session-zone
    // TIMESTAMP via a cast; under a UTC session Spark 4 unwraps that
    // cast for pushdown. The round-7 lineitem pin covered l_shipdate;
    // this covers the events loader specifically, so a regression in
    // normTs/normEventsTs (e.g. routing current MICROS-NTZ data down
    // the non-invertible timestamp_micros LongType branch) surfaces
    // here as a lost PushedFilters entry.
    val df = graft.sources.Tables.events(spark, dir)
      .filter(col("ts") >= lit("1995-06-01 00:00:00").cast("timestamp") &&
        col("ts") < lit("1995-08-01 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("ts"))
    val plan = planString(df)
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(ts,") && plan.contains("LessThan(ts,"),
      "ts range predicate did not reach the parquet scan:\n" + plan.take(2000))
  }

  test("q1 pricing summary: scan reads only the referenced columns") {
    val plan = planString(CoreQueries.q1PricingSummary(spark, dir))
    // ReadSchema must not include untouched wide columns
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("l_comment"), "scan reads l_comment it never uses")
    assert(!plan.contains("l_shipinstruct"), "scan reads l_shipinstruct it never uses")
  }

  test("j3 lookup: small dimension goes broadcast, not shuffled") {
    val plan = planString(CoreQueries.j3BroadcastLookup(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("e5 range join: bucketed equi-join, never a nested-loop pair product") {
    val plan = planString(EventQueries.e5RangeJoin(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "range join fell to the quadratic nested-loop plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("j2 substring theta-join: broadcast nested loop, never cartesian") {
    val plan = planString(CoreQueries.j2SubstringJoin(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), "theta-join fell to a cartesian")
  }

  test("catalog match: one broadcast nested-loop join, no window, union or anti join") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.{col, struct}
    import spark.implicits._
    val admin = Seq(("ap-1", "Apple iPhone 12", "64GB"), ("ap-2", "Galaxy S21", "128GB"))
      .toDF("_id", "name", "storage")
      .select(col("_id"), col("name"), struct(col("storage")).as("specifications"))
    val names = Seq("apple iphone 12", "S21", "Galaxy").toDF("vendorName").distinct()
    val df = graft.ops.CatalogMatch.matchCatalog(names, admin)
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.size == 1, p.toString)
    assert(p.collect { case w: WindowExec => w }.isEmpty, p.toString)
    assert(p.collect { case u: UnionExec => u }.isEmpty, p.toString)
    assert(p.collect { case j: BaseJoinExec if j.joinType == LeftAnti => j }.isEmpty,
      p.toString)
    assert(df.count() == 3)
  }

  test("ann brute force: query side broadcast; dot product is the native expression") {
    val df = VectorQueries.annBruteTopk(spark, dir)
    val plan = planString(df)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("graft_dot"), "vector math not using the native expression")
  }

  test("t_source_overlap_lsh: banded equi-join candidates, never the S² pair product") {
    // the whole point of the banded variant vs tSourceOverlapMinhash's
    // a<b broadcast nested loop: candidates come from hash-joined band
    // buckets, so no nested-loop or cartesian may appear anywhere
    val plan = planString(TextQueries.tSourceOverlapLsh(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "banded overlap fell back to the S² pair product")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan.take(2000))
  }

  test("AQE splits a hot-key SMJ partition: the skew-mitigated join shape") {
    // The 100 TB hot-key defense when a shuffled join can't broadcast:
    // OptimizeSkewedJoin splits the oversized partition by map ranges.
    // The shape that lets it fire is itself the pin (ProfileSkew's
    // demo documents the three ways to silently lose it): plain
    // shuffles directly under the join, multiple mappers on the
    // skewed side, any downstream agg on a NON-join key, and bytes
    // measured compressed. Thresholds are lowered to fire at test
    // size — at production sizes the 256 MB defaults fire unaided.
    import org.apache.spark.sql.functions._
    // 50% of rows on one key, incompressible per-row payload; the
    // conf thresholds, the forced-SMJ shape, and the skew=true
    // detection live in ONE place (ProfileSkew.skewJoinSplitFires)
    // shared with the tool's fixture demo
    val big = spark.range(60000)
      .select(when(col("id") % 2 === 0, lit(0L)).otherwise(col("id")).as("k"),
        md5(col("id").cast("string")).as("payload"))
      .repartition(16)
    val small = spark.range(500).select(col("id").as("k"), lit(1.0).as("v"))
    assert(graft.tools.ProfileSkew.skewJoinSplitFires(big, small),
      "hot-key SMJ was not skew-split")
  }

  test("w1 top-k per group: WindowGroupLimit prunes before the shuffle") {
    // rank <= k over a LOW-cardinality partition key would bottleneck
    // on k sort partitions at scale; Spark's WindowGroupLimit keeps
    // each map task's local top-k ahead of the exchange, so the
    // low-cardinality sort only ever sees tasks*k rows. Pin that the
    // optimization actually fires for this query shape.
    val plan = planString(CoreQueries.w1TopkPerGroup(spark, dir))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("q_quantiles two-phase: no one-pass percentile buffer, extract " +
      "window stays bucket-partitioned") {
    val plan = planString(CoreQueries.qQuantilesTwoPhase(spark, dir))
    // the whole point is that the per-group sort buffer never
    // materializes — an optimizer rewrite (or regression) that
    // collapses the histogram back into a percentile agg voids the
    // query's reason to exist
    assert(!plan.contains("percentile("), plan.take(2000))
    // the phase-3 extract ranks WITHIN (group, bucket) — its window
    // spec must carry b as a bare PARTITION column; losing it would
    // re-create the per-group sort under a different name
    assert("windowspecdefinition\\(g#\\d+, b#\\d+L?, v#".r
      .findFirstIn(plan).isDefined, plan.take(2000))
    // phase 1 shuffles on (g, b) — the histogram's skew-spreading key
    assert("hashpartitioning\\(g#\\d+, b#\\d+L?".r
      .findFirstIn(plan).isDefined, plan.take(2000))
  }

  test("w5 two-phase top-k: WindowGroupLimit fires for both phases, " +
      "shard exchange carries the salt") {
    val plan = planString(CoreQueries.w5TopkTwoPhase(spark, dir))
    // two rank<=k windows → two WindowGroupLimit prunes (each map
    // task holds k rows per (segment, salt) / per segment before its
    // exchange)
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2, plan.take(2000))
    // the phase-1 exchange hashes (segment, salt) — the property that
    // spreads a hot segment over `salts` sort tasks
    assert("hashpartitioning\\(c_mktsegment#\\d+, salt#\\d+L?".r
      .findFirstIn(plan).isDefined, plan.take(2000))
  }

  test("bucketed co-located join: no shuffle exchange on either side") {
    import graft.sources.{Bucketing, Tables}
    val tmp = java.nio.file.Files.createTempDirectory("graft-buckets")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force SMJ so the exchange (or its absence) is observable
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Bucketing.writeBucketed(
        Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity"),
        "li_bucketed", s"$tmp/li", "l_orderkey", 4)
      Bucketing.writeBucketed(
        Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
          .withColumnRenamed("o_orderkey", "l_orderkey"),
        "ord_bucketed", s"$tmp/ord", "l_orderkey", 4)
      val joined = Bucketing.coLocatedJoin(spark, "li_bucketed", "ord_bucketed", "l_orderkey")
      val plan = planString(joined)
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange"),
        "bucketed join still shuffles:\n" + plan.take(2000))
      // and the result is right: every lineitem row finds its order
      assert(joined.count() ==
        Tables.lineitem(spark, dir).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("partial-sync snapshot read: vendor filter prunes partition directories") {
    import graft.sink.MergeWriter
    import org.apache.spark.sql.Row
    import graft.model.Schemas
    val sink = java.nio.file.Files.createTempDirectory("graft-snapprune").toString + "/vp"
    val t0 = java.sql.Timestamp.valueOf("2026-08-12 00:00:00")
    val rows = Seq("v-1", "v-2", "v-3").map(v => Row(v, s"ap-$v", "c", "wholecell",
      Seq(Row("o", "Black", "128GB", 1, 10L, 10L, Seq("E"))), t0, t0))
    MergeWriter.writeSnapshot(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.vendorProduct), sink)
    // the k-of-N sync pre-filters the snapshot read on vendorId —
    // that filter must reach the scan as a PartitionFilter, so a
    // one-vendor sync lists one vendor directory, not N. The string
    // check alone is vacuous (the metadata line prints even when
    // empty) — the numFiles metric proves files were actually skipped
    val pruned = MergeWriter.readSnapshot(spark, sink)
      .filter(org.apache.spark.sql.functions.col("vendorId").isin("v-2"))
    assert(pruned.count() == 1)
    val prunedFiles = executedFiles(pruned)
    val fullFiles = executedFiles(MergeWriter.readSnapshot(spark, sink))
    assert(prunedFiles > 0 && prunedFiles < fullFiles,
      s"snapshot read scanned $prunedFiles of $fullFiles files — pruning lost")
  }

  test("phash index: bucket pruning reaches the scan and skips files") {
    import graft.streaming.StreamOps
    import graft.multimodal.MediaOps
    import org.apache.spark.sql.Row
    val idx = java.nio.file.Files.createTempDirectory("graft-phash-prune").toString + "/index"
    def png(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, 16, 16,
        Array.tabulate[Byte](256)(i => (((i % 16) * seed + (i / 16) * 17) % 180 + 10).toByte))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val rows = Seq(1L -> png(31), 2L -> png(53)).map { case (id, b) =>
      Row(id, "image", s"mem://$id", b, Row(16, 16, null, "png"))
    }
    StreamOps.imageIngestBatch(idx)(spark.createDataFrame(
      spark.sparkContext.parallelize(rows), MediaOps.mediaSchema), 0L)
    val full = spark.read.parquet(s"$idx/blocks")
    val bkts = full.select("bkt").distinct().collect().map(_.getInt(0)).sorted
    assert(bkts.length > 1, "need >1 bucket to observe pruning")
    val pruned = StreamOps.readPhashIndex(spark, idx, Seq(bkts.head))
    val plan = planString(pruned)
    assert(plan.contains("PartitionFilters") && plan.contains("bkt"),
      "pruning lost:\n" + plan.take(2000))
    val prunedFiles = executedFiles(pruned)
    val fullFiles = executedFiles(full)
    assert(prunedFiles > 0 && prunedFiles < fullFiles,
      s"pruned scan read $prunedFiles of $fullFiles files")
  }

  test("stratified sample: WindowGroupLimit prunes each stratum map-side") {
    val plan = planString(TextQueries.tStratifiedSample(spark, dir))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("hard negatives: anchors broadcast, per-role top-k is WindowGroupLimit-pruned") {
    val plan = planString(
      graft.queries.VectorQueries.embHardNegatives(spark, dir))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the corpus must never be the build side of a shuffle pair join
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("source overlap: census joins ride broadcasts, never sort-merge") {
    spark.catalog.clearCache()
    val plan = planString(TextQueries.tSourceOverlap(spark, dir))
    // two one-row-per-source census joins → both broadcast; the only
    // sort-merge-eligible join is the hash self-join on `h`
    val smj = "SortMergeJoin".r.findAllIn(plan).size
    assert(smj <= 1, s"$smj sort-merge joins — a census join lost its broadcast:\n" +
      plan.take(2000))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("minhash hot-band cap: one window over the banding shuffle, no count-join") {
    // the cap is a count over the join key computed as a window on
    // the (band, band_key)-shuffled rows — if it regresses to a
    // separate groupBy + re-join, a second aggregate appears over
    // the banded frame and two more exchanges ride the plan.
    // clearCache first: a previous test's persisted frames would
    // otherwise swap InMemoryTableScans into this plan and make the
    // exchange count an artifact of suite ordering
    spark.catalog.clearCache()
    val plan = planString(TextQueries.dedupMinhash(spark, dir))
    assert(plan.contains("Window"), plan.take(2000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 6,
      s"minhash plan grew to $exchanges hash exchanges:\n" + plan.take(3000))
  }

  test("funnel: one user_id shuffle carries all stages; never per-stage self-joins") {
    // the k-stage funnel's whole point is that stage times are
    // running conditional mins over ONE per-user sort — if it
    // regresses to the k-self-joins form, join operators appear and
    // the event table shuffles k times
    spark.catalog.clearCache()
    val plan = planString(EventQueries.e6Funnel(spark, dir))
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Join"), "funnel regressed to per-stage self-joins")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"funnel should shuffle once on user_id, saw $exchanges:\n" + plan.take(3000))
  }

  test("two-phase funnel: two shuffles, no join back to events") {
    // the skew-safe decomposition: phase 1 windows + aggregates
    // inside (user_id, day) — ONE exchange that the per-bucket
    // groupBy reuses — and phase 2's prefix-min window + final
    // groupBy share the second (user_id) exchange. Unlike w4 there
    // is no phase-3 join: a join appearing means the decomposition
    // regressed to a stitch-back shape.
    spark.catalog.clearCache()
    val plan = planString(EventQueries.e11FunnelTwoPhase(spark, dir))
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Join"), "two-phase funnel grew a join")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"expected (user,day) + (user) exchanges, saw $exchanges:\n" + plan.take(3000))
  }

  test("two-phase as-of join: bucketed windows + one carry join, no nested loop") {
    // w4's stitch shape for the as-of carry: (user, day) window +
    // same-key bucket agg, tiny carry frame, one equi-join back —
    // never a per-click range probe (nested loop / cartesian)
    spark.catalog.clearCache()
    val plan = planString(EventQueries.e12AsofTwoPhase(spark, dir))
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "as-of carry join regressed to a pair product")
  }

  test("two-phase sessionize: bucketed windows + base stitch, no pair product") {
    spark.catalog.clearCache()
    val plan = planString(EventQueries.e13SessionizeTwoPhase(spark, dir))
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "session-base stitch regressed to a pair product")
  }

  test("burst detection: per-type stats ride a broadcast, corpus scans once") {
    spark.catalog.clearCache()
    val plan = planString(EventQueries.e8Spike(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "5-row stats frame fell to a sort-merge join")
    // the per-hour counts are persisted and read by BOTH the stats
    // rollup and the final join — the stats side must not re-scan
    // the event corpus
    assert(plan.contains("InMemoryRelation"),
      "bucket-count frame no longer shared; stats side re-scans the corpus")
    // 3 = the cached frame's build exchange printed once per
    // reference (×2) + the 5-row stats rollup exchange; anything
    // more means a real extra shuffle appeared
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3,
      s"burst plan grew to $exchanges hash exchanges:\n" + plan.take(3000))
  }

  test("DSIR: scoring pass is map-only — no join, no shuffle over the corpus") {
    spark.catalog.clearCache()
    // round-18: the ≤1024-row bucket model is collected into a
    // literal weight array, so the scoring plan carries no join of
    // any kind and no exchange — one narrow pass over documents
    val plan = planString(TextQueries.tDsirWeights(spark, dir))
    assert(!plan.contains("Join"),
      "bucket-model scoring re-grew a join:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Exchange hashpartitioning"),
      "map-only scoring pass re-grew a shuffle:\n" + plan.take(2000))
  }

  test("BPE: the per-word encode joins back broadcast; corpus never sort-merge-joined") {
    spark.catalog.clearCache()
    // constructing the frame runs the bounded vocabulary collect +
    // driver-side merge training (cheap at sf0.001) — the pin is on
    // the SCORING plan that follows
    val plan = planString(TextQueries.tBpe(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "vocabulary-sized encode frame fell to a sort-merge join")
    assert(!plan.contains("CartesianProduct"))
  }

  test("SemDeDup: within-cluster pairs come from a hash join on cluster_id, never cartesian") {
    spark.catalog.clearCache()
    val plan = planString(VectorQueries.embSemDedup(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      "cluster-local self-join fell to a cartesian")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "cluster-local self-join lost its equi key")
  }

  test("stored-index searches: shortlist pruned, never cartesian") {
    val idx = java.nio.file.Files.createTempDirectory("graft-plan-idx").toString
    VectorQueries // touch to keep import used
    graft.queries.VectorIndex.buildPq(spark, dir, s"$idx/pq")
    val qs = graft.sources.Tables.embeddings(spark, dir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
        org.apache.spark.sql.functions.col("embedding").as("qemb"))
    val pq = planString(graft.queries.VectorIndex.searchPq(spark, dir, s"$idx/pq", qs))
    assert(pq.contains("WindowGroupLimit"), pq.take(2000))
    assert(!pq.contains("CartesianProduct"))
    graft.queries.VectorIndex.buildIvf(spark, dir, s"$idx/ivf")
    val ivf = planString(graft.queries.VectorIndex.searchIvf(spark, s"$idx/ivf", qs))
    assert(!ivf.contains("CartesianProduct"))
    assert(ivf.contains("PartitionFilters") && ivf.contains("cell"),
      "IVF probe pruning lost:\n" + ivf.take(2000))
  }

  test("ann PQ: ADC shortlist is WindowGroupLimit-pruned; scoring never cartesian") {
    // the rank <= shortlist filter over the per-qid ADC window must
    // keep each map task's local top-`shortlist` ahead of the
    // exchange — without WindowGroupLimit the 10-qid sort partition
    // would receive the entire compressed corpus at 100 TB
    val plan = planString(VectorQueries.annPqTopk(spark, dir))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"),
      "ADC scoring fell off the broadcast path")
  }

  test("near-dup index: per-batch bucket pruning reaches the scan and skips files") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-prune").toString + "/index"
    StreamOps.nearDupIngestBatch(idx)(Seq(
      (1L, "the quick brown fox jumps over the lazy dog and naps all afternoon"),
      (2L, "columnar shuffles and broadcast joins make query engines go fast")).toDF("doc_id", "text"), 0L)
    StreamOps.nearDupIngestBatch(idx)(Seq(
      (3L, "a genuinely novel document with entirely new words nothing shares")).toDF("doc_id", "text"), 1L)

    for (sub <- Seq("bands", "shingles")) {
      val full = spark.read.parquet(s"$idx/$sub")
      val bkts = full.select("bkt").distinct().collect().map(_.getInt(0)).sorted
      assert(bkts.length > 1, s"$sub: need >1 bucket to observe pruning")
      val pruned = StreamOps.readIndex(spark, idx, sub, full, Seq(bkts.head))
      val plan = planString(pruned)
      // the isin over the partition column must surface as a
      // PartitionFilter on the scan, NOT a post-scan Filter
      assert(plan.contains("PartitionFilters") && plan.contains("bkt"),
        s"$sub pruning lost:\n" + plan.take(2000))
      // and it actually skips files: the scan's numFiles metric reads
      // strictly fewer files than the unpruned table holds
      val prunedFiles = executedFiles(pruned)
      val fullFiles = executedFiles(full)
      assert(prunedFiles > 0 && prunedFiles < fullFiles,
        s"$sub: pruned scan read $prunedFiles of $fullFiles files")
    }
  }

  test("a deliberately skewed join key triggers AQE's skew-join split (j1/j4 shapes)") {
    // e4 pins the AGG-side skew answer (salting); this pins the JOIN
    // side: when one key dominates a shuffle join, AQE must split the
    // oversized partition (SortMergeJoin(skew=true)) instead of
    // letting one task process the whole hot key — the runtime guard
    // the j1 equi-join and the j4 merge probe rely on at 100 TB.
    // Thresholds are lowered to make a test-sized fixture skewed; the
    // MECHANISM asserted is exactly the production one.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    def executedString(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other => other.toString
      }
    }
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot vendor holds ~2/3 of the fact rows (the j1 shape:
      // item names joined to a catalog key)
      val skewed = spark.range(0, 150000).select(
        when(col("id") < 100000, lit("hot-vendor"))
          .otherwise(concat(lit("v"), col("id") % 1000)).as("vendorName"),
        concat(lit("payload-padding-to-give-rows-bytes-"), col("id")).as("payload"))
      val dim = spark.range(0, 1000)
        .select(concat(lit("v"), col("id")).as("vendorName"),
          col("id").as("admin_id"))
        .unionByName(Seq(("hot-vendor", -1L)).toDF("vendorName", "admin_id"))
      val inner = executedString(skewed.join(dim, Seq("vendorName")))
      assert(inner.contains("skew=true"),
        "inner equi-join did not skew-split:\n" + inner.take(2000))
      // the j4 shape: sink-existence probe as a left-outer merge join
      val outer = executedString(skewed.join(dim, Seq("vendorName"), "left_outer"))
      assert(outer.contains("skew=true"),
        "left-outer merge join did not skew-split:\n" + outer.take(2000))
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a selective dim filter injects a runtime bloom filter into the fact side") {
    // At 100 TB the fact scan feeding a shuffle join is the dominant
    // cost; when the dim side carries a selective filter, Spark's
    // runtime-filter rule can semi-join-reduce the fact side with a
    // bloom filter BEFORE the shuffle (rows that cannot match never
    // leave the map side). This pins the InjectRuntimeFilter
    // mechanism on the j1/j3 join shape so a session-config or plan
    // refactor can't silently lose it. Thresholds are lowered only
    // because the fixture is KB-sized; the asserted rewrite is the
    // production one.
    import org.apache.spark.sql.functions.{col, sum}
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // force a shuffle join: broadcast joins don't need the filter
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val fact = graft.sources.Tables.lineitem(spark, dir)
      val dim = graft.sources.Tables.part(spark, dir)
        .filter(col("p_brand") === "Brand#13")
      val joined = fact.join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(sum(col("l_quantity")).as("qty"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        "no runtime bloom filter injected:\n" + optimized.take(2000))
      // and the filtered plan still computes the right answer
      val expected = fact.join(dim.hint("broadcast"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(sum(col("l_quantity")).as("qty"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == expected)
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("full-corpus text/vector scans stay on the native codegen'd expressions") {
    // each of these is THE one full-corpus pass of its family; a
    // revert to the interpreted builtin composition changes nothing
    // semantically (GraftFunctionsSpec pins bit-equality) but puts
    // interpreted higher-order eval — or, for simhash, an explode +
    // full shuffle — back on the path that multiplies by 100 TB
    spark.catalog.clearCache()
    val minhash = planString(TextQueries.minhashCandidates(spark, dir))
    assert(minhash.contains("graft_minhash_sig"),
      "minhash signature pass is not the native expression")
    assert(minhash.contains("graft_shingle3_hash"),
      "shingle hashing pass is not the native expression")
    // the signature pass alone: one narrow map — no token explode
    // (Generate), no shuffle (Exchange). dedupSimhash's OWN plan
    // keeps a posexplode (the 8-block pigeonhole keys — by design).
    val simhash = planString(TextQueries.simhashSignatures(spark, dir))
    assert(simhash.contains("graft_simhash64"),
      "simhash signature is not the native expression")
    // (Tables' round-robin ingest fan-out is the one allowed Exchange;
    // a hashpartitioning Exchange would be the groupBy shuffle back)
    assert(!simhash.contains("Generate") && !simhash.contains("hashpartitioning"),
      "simhash signature pass regressed to the explode/groupBy shape")
    val pq = planString(VectorQueries.annPqTopk(spark, dir))
    assert(pq.contains("graft_pq_encode"),
      "PQ encode pass is not the native expression")
    val spans = planString(TextQueries.tSubstringSpans(spark, dir))
    assert(spans.contains("graft_ngram_hash"),
      "gram hashing pass is not the native expression")
  }

  test("minhash candidates: self-join is an equi-join on (band, band_key)") {
    val plan = planString(TextQueries.minhashCandidates(spark, dir))
    // bucketed candidate generation must hash-join on the band key —
    // a nested-loop/cartesian here means the bucketing got lost
    assert(plan.contains("band"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "candidate self-join is not bucket-local")
  }

  test("g3 triangles: every join rides a broadcast, wedge frame never exchanges") {
    // the DISTRIBUTED route, forced past the round-17 basket-model
    // gate (localFinish = 0): degree attach (×2) and adjacency attach
    // (×2) are all explicit broadcasts; the only hash exchanges are
    // the edge build, the degree/adjacency aggs, and the final
    // vocabulary-sized count — nothing wedge-sized ever shuffles
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
    val plan = planString(GraphQueries.g3TrianglesOf(spark, li, localFinish = 0))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "a graph join fell off the broadcast path")
    assert(!plan.contains("CartesianProduct"))
    // the default route at this corpus is the basket-model kernel:
    // its final plan is a local result, no join machinery at all
    val localPlan = planString(GraphQueries.g3Triangles(spark, dir))
    assert(localPlan.contains("LocalTableScan"), localPlan.take(2000))
  }

  test("t_source_filter: scan reads only (source, text); two-level agg = two exchanges") {
    val df = TextQueries.tSourceFilter(spark, dir)
    val plan = planString(df)
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("n_chars"), "scan reads n_chars it never uses")
    assert(!plan.contains("doc_id"), "scan reads doc_id it never uses")
    // (source, digest) partial collapse then per-source fold — the
    // skew-proof shape is exactly two hash exchanges
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges\n${plan.take(3000)}")
  }

  test("bm25/hybrid: tf is explode-free, top-k is TakeOrdered, arms never cartesian") {
    spark.catalog.clearCache()
    // tf per query term is size(filter(tokens)) — a narrow map. A
    // Generate in this plan means someone reintroduced the
    // (doc_id, term) explode+shuffle the design specifically avoids;
    // a Window-before-limit would put the corpus in one partition.
    val bm = planString(graft.queries.RetrievalQueries.tBm25Topk(spark, dir))
    assert(bm.contains("TakeOrderedAndProject"), bm.take(2000))
    assert(!bm.contains("Generate"), "BM25 tf fell back to an explode")
    assert(!bm.contains("CartesianProduct"))
    val hy = planString(graft.queries.RetrievalQueries.tHybridRrf(spark, dir))
    assert(hy.contains("TakeOrderedAndProject"), hy.take(2000))
    assert(!hy.contains("CartesianProduct"))
  }

  test("sketched overlap: one signature agg, pair join is broadcast NL, no cartesian") {
    spark.catalog.clearCache()
    val plan = planString(TextQueries.tSourceOverlapMinhash(spark, dir))
    // both legs of the a<b pair join must read the persisted
    // signature frame — a second HashAggregate over the corpus means
    // the persist was lost and the shingle scan runs twice
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs <= 4, // partial+final of ONE 32-min agg (+AQE variants)
      s"$aggs HashAggregates — the signature frame is being recomputed:\n" +
        plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin"),
      "the S-row pair join fell to a sort-merge:\n" + plan.take(2000))
  }

  test("bloom decontamination: probe is map-side (no probe-side join), one gram distinct") {
    spark.catalog.clearCache()
    val plan = planString(TextQueries.tDecontaminateBloom(spark, dir))
    // exactly one join in the whole plan: the final left join of doc
    // ids to hit counts. A second join means the membership test
    // regressed from the literal-array probe to a semi-join against
    // a materialized position set.
    val joins = "Join".r.findAllIn(plan).size
    assert(joins <= 1,
      s"$joins joins — bloom probe is no longer map-side:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("drift grid: singleton bounds broadcast; grid agg partials map-side") {
    spark.catalog.clearCache()
    val plan = planString(EventQueries.e10Drift(spark, dir))
    // the 1-row (mid) frame joins the corpus via broadcast NL — a
    // sort-merge or cartesian here would shuffle the corpus against
    // one row
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }
}
