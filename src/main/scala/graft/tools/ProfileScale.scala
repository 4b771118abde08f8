package graft.tools

import org.apache.spark.sql.functions._
import graft.Session

/** 10× scale rehearsal for the dedup/clustering/ingest guard rails:
  * replicates the sf corpus `reps`× with doc_id offsets (replicas
  * are EXACT duplicates — the adversarial case the digest collapse
  * and band caps exist for) and measures/asserts:
  *
  *  1. MinHash LSH at 10×: the digest collapse keeps banded DISTINCT
  *     -set rows at 1× volume (the 10× copies never enter the
  *     pairwise join), the hot-bucket census is computed on the
  *     collapsed rows, and a forced tiny cap shows the exclusion
  *     machinery engages.
  *  2. Clustering: the default bounded-local-finish run and a FORCED
  *     distributed finish (the `local_finish` gate forced dist →
  *     propagation/star) must
  *     produce identical labelings — the handoff is exercised, not
  *     just configured.
  *  3. Streaming ingest: per-batch wall time over the 10× corpus
  *     stays flat as the index grows.
  *
  * Results are recorded in BASELINE.md per round.
  * Usage: runMain graft.tools.ProfileScale [sfDir] [reps] [batches]
  */
object ProfileScale {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 10
    val nBatches = if (args.length > 2) args(2).toInt else 5
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.TextQueries

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2fs"); r
    }

    val offset = 10000000L
    val base = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val big = (0 until reps).map(k =>
        base.select((col("doc_id") + lit(k * offset)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n1 = base.count(); val nN = big.count()
    println(s"[scale] corpus ${n1} docs -> ${nN} (${reps}x exact replicas)")

    // --- 1. MinHash LSH under 10x exact duplication ---
    val sh = t("hash shingles 10x")(
      TextQueries.hashedShinglesOf(big)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    sh.count()
    val bandsRaw = TextQueries.minhashBandsOf(sh).count()
    def collapsedRows(frame: org.apache.spark.sql.DataFrame): Long =
      TextQueries.minhashHotBuckets(frame, 0)  // census: every bucket
        .agg(sum(col("bucket_n"))).collect()(0).getLong(0)
    val collapsed = collapsedRows(sh)
    val collapsed1 = collapsedRows(TextQueries.hashedShinglesOf(base))
    println(s"[scale] collapsed band rows $collapsed at ${reps}x " +
      s"(raw band rows $bandsRaw; 1x collapsed $collapsed1)")
    // exact replicas must be invisible to the pairwise join: the
    // DISTINCT-set band rows at Nx equal the 1x census exactly
    assert(collapsed == collapsed1,
      s"digest collapse lost: $collapsed collapsed rows at ${reps}x vs $collapsed1 at 1x")
    val hotDefault = TextQueries.minhashHotBuckets(sh, TextQueries.MaxBandBucket).count()
    val maxBucket = TextQueries.minhashHotBuckets(sh, 1)
      .agg(max(col("bucket_n"))).collect()(0).getLong(0)
    println(s"[scale] buckets over MaxBandBucket=${TextQueries.MaxBandBucket}: " +
      s"$hotDefault (max distinct-set bucket: $maxBucket — this corpus has no " +
      "degenerate band, so the production cap correctly excludes nothing)")
    val pairs = t(s"minhash pairs ${reps}x")(
      TextQueries.dedupMinhashOf(sh)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nPairs = pairs.count()
    // forced cap=1: every candidate-producing bucket (>1 distinct
    // set) counts as hot — the exclusion machinery must engage and
    // shrink the candidate join to digest-expansion pairs only
    val tinyCap = 1
    val hotTiny = TextQueries.minhashHotBuckets(sh, tinyCap).count()
    val nPairsTiny = t(s"minhash pairs cap=$tinyCap")(
      TextQueries.dedupMinhashOf(sh, tinyCap).count())
    println(s"[scale] pairs $nPairs (cap=$tinyCap: $nPairsTiny; $hotTiny buckets excluded)")
    assert(hotTiny > 0, "cap=1 found no multi-set buckets — exclusion never exercised")
    assert(nPairsTiny < nPairs,
      "cap=1 did not shrink the pair set — the cap is not reaching the join")

    // --- 2. clustering: bounded local finish vs FORCED distributed ---
    val ids = pairs.select(col("a_id"), col("b_id"))
    val local = t("clustersOf (default handoff)")(
      TextQueries.clustersOf(ids)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nNodes = local.count()
    val nClusters = local.select(col("cluster_id")).distinct().count()
    val dist = t("clustersOf (forced distributed)")(
      graft.Route.forcingDist(spark, "local_finish")(TextQueries.clustersOf(ids))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val diverged = local.join(dist.withColumnRenamed("cluster_id", "d_cid"), Seq("doc_id"))
      .filter(col("cluster_id") =!= col("d_cid")).count()
    println(s"[scale] clustered $nNodes nodes into $nClusters clusters; " +
      s"local-vs-distributed label divergence: $diverged")
    assert(diverged == 0, "distributed finish diverges from bounded local finish")

    // --- 3. streaming ingest stays flat at 10x ---
    spark.catalog.clearCache()
    val bigDocs = (0 until reps).map(k =>
        base.select((col("doc_id") + lit(k * offset)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bigDocs.count()
    val idx = java.nio.file.Files.createTempDirectory("graft-scale-ingest")
      .toString + "/index"
    val times = (0 until nBatches).map { b =>
      val batch = bigDocs.filter(col("doc_id") % nBatches === b)
      val t0 = System.nanoTime()
      // metricsEvery = 0: the health emission's audit scan is O(index)
      // by design and would read as ingest growth (same reasoning as
      // ProfileIngest10x) — this pin is about the dedup path itself
      val kept = graft.streaming.StreamOps.nearDupIngestBatch(idx,
        metricsEvery = 0)(batch, b.toLong).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] ingest batch $b%2d  $sec%6.2fs  kept $kept%6d")
      sec
    }
    // flatness: later batches may not exceed early ones by more than
    // 2x (JIT-warm first batch excluded) — the full-scan failure mode
    // is linear growth, far outside this bound
    if (nBatches >= 3)
      println(f"[scale] ingest flatness last/second = ${times.last / times(1)}%.2f (bound 2.0)")

    // --- 4. edit-distance dedup under 10x exact duplication ---
    // Replicas are exact-prefix copies, so the prefix collapse must
    // keep the pairwise join at 1x volume (the dedupMinhash argument
    // applied to editdist), while the 10x dist-0 pairs ride the
    // output-bound expansion. A forced cap=1 marks every multi-prefix
    // block hot; exact-prefix pairs must SURVIVE that (collapse-path
    // immunity), cross-prefix pairs must drop.
    spark.catalog.clearCache()
    val edFrame = (0 until reps).map(k =>
        graft.sources.Tables.documents(spark, dir)
          .select((col("doc_id") + lit(k * offset)).as("doc_id"), col("lang"),
            substring(trim(col("text")), 1, 256).as("pfx"),
            substring(trim(col("text")), 1, 16).as("blk")))
      .reduce(_ unionByName _)
      .filter(col("pfx").rlike("^[ -~]*$"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edRows = edFrame.count()
    val reps10 = edFrame.select(col("lang"), col("blk"), col("pfx")).distinct().count()
    val reps1 = edFrame.filter(col("doc_id") < offset)
      .select(col("lang"), col("blk"), col("pfx")).distinct().count()
    println(s"[scale] editdist: $edRows docs, $reps10 distinct prefixes at ${reps}x " +
      s"(1x: $reps1)")
    assert(reps10 == reps1,
      s"prefix collapse lost: $reps10 distinct prefixes at ${reps}x vs $reps1 at 1x")
    val edPairs = t(s"editdist pairs ${reps}x")(
      TextQueries.dedupEditDistOf(edFrame, 64).count())
    val edTiny = t("editdist pairs cap=1")(
      TextQueries.dedupEditDistOf(edFrame, 64, cap = 1).count())
    // with cap=1 only within-prefix (dist-0) pairs remain; the 10x
    // replicas guarantee a large population of them
    println(s"[scale] editdist pairs $edPairs (cap=1: $edTiny)")
    assert(edTiny > 0, "cap=1 killed the collapse-path pairs — immunity broken")
    assert(edTiny < edPairs, "cap=1 did not shrink the pairwise join")
    spark.stop()
  }
}
