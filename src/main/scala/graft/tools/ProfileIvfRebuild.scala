package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Session

/** What the IVF quantizer-rebuild BUYS, measured: the stale-quantizer
  * penalty for IVF is RECALL, not cost (probe cost is nprobe-bounded
  * whatever the centroids are — the walk only degrades for the graph
  * family), so the experiment the `ivfStaleness` flag exists for is
  * recall@5 on a DRIFTED corpus, before vs after `rebuildIvfIndex`:
  *
  *  1. build the index on the base corpus;
  *  2. ingest R replicas whose embeddings are dimension-ROTATED
  *     copies (same norms, same pairwise geometry within a replica,
  *     but occupying a differently-oriented region the build-time
  *     centroids never saw — the covariate-shift shape of a real
  *     drifting feed);
  *  3. measure recall@5 of `searchIvf` for drifted queries against
  *     the exact brute top-5 over the accumulated corpus, plus the
  *     staleness flag;
  *  4. `rebuildIvfIndex` (k re-sized for the grown corpus) and
  *     re-measure.
  *
  * Usage: runMain graft.tools.ProfileIvfRebuild [sfDir] */
object ProfileIvfRebuild {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.VectorIndex
    import graft.streaming.StreamOps

    val idx = java.nio.file.Files.createTempDirectory("ivf-rb-prof").toString
    VectorIndex.buildIvf(spark, dir, idx)
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .cache()
    val dim = base.select(size(col("emb"))).head().getInt(0)
    def rotated(r: Int): DataFrame = base.select(
      (col("vec_id") + r * 1000000L).as("vec_id"),
      expr(s"concat(slice(emb, ${r * 7 % dim + 1}, ${dim - (r * 7 % dim)}), " +
        s"slice(emb, 1, ${r * 7 % dim}))").as("emb"))
    val R = 3
    (1 to R).foreach(r =>
      StreamOps.ivfIngestBatch(idx, metricsEvery = 0)(rotated(r), r.toLong))

    // normalized accumulated corpus (what the index holds) + drifted queries
    def normed(df: DataFrame) = df
      .withColumn("nrm", sqrt(call_function("graft_dot", col("emb"), col("emb"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        call_function("graft_vec_div", col("emb"), col("nrm")).as("emb"))
    val all = (base +: (1 to R).map(rotated)).reduce(_ unionByName _)
    val allN = normed(all).cache(); allN.count()
    val queries = normed(rotated(2))
      .orderBy(col("vec_id")).limit(50)
      .select(col("vec_id").as("qid"), col("emb").as("qemb")).cache()
    // exact brute top-5 ground truth over the accumulated corpus
    val gt = queries.crossJoin(allN)
      .select(col("qid"), col("vec_id").as("nid"),
        round(call_function("graft_dot", col("qemb"), col("emb")), 4).as("sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    def recall(tag: String, nprobe: Int): Unit = {
      val got = VectorIndex.searchIvf(spark, idx, queries, nprobe = nprobe)
        .filter(col("rank") <= 5)
        .select(col("qid"), col("nid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val rec = got.intersect(gt).size.toDouble / gt.size
      val stale = VectorIndex.ivfStaleness(spark, idx).collect()(0)
      val k = VectorIndex.cachedCentroids(spark, idx).length
      println(f"[ivfrebuild] $tag%-12s recall@5=$rec%.3f  nprobe=$nprobe%3d/$k%-3d " +
        f"mean_dot_cur=${stale.getAs[Double]("mean_dot_cur")}%.4f " +
        f"(build ${stale.getAs[Double]("mean_dot_build")}%.4f)  " +
        f"rebuild_flag=${stale.getAs[Boolean]("rebuild")}")
    }

    // recall compares at a FIXED SCAN FRACTION (nprobe/k): that is the
    // cost knob, so holding it fixed isolates what the centroids
    // contribute. Baseline fraction = 6/16.
    recall("stale", 6)
    val n = allN.count()
    // act 1: RE-CENTER at the same k — the pure drift remedy
    var t0 = System.nanoTime()
    StreamOps.rebuildIvfIndex(spark, idx)
    println(f"[ivfrebuild] recenter     op=${(System.nanoTime() - t0) / 1e9}%.1fs " +
      f"over $n vectors (k kept)")
    recall("recentered", 6)
    // act 2: RE-SIZE for the grown corpus, nprobe scaled to the same
    // fraction — finer cells at unchanged scan cost
    val kNew = math.max(16, (n / 125).toInt)
    t0 = System.nanoTime()
    StreamOps.rebuildIvfIndex(spark, idx, k = kNew)
    println(f"[ivfrebuild] resize       op=${(System.nanoTime() - t0) / 1e9}%.1fs " +
      f"over $n vectors (k -> $kNew)")
    recall("resized", math.max(1, (6.0 * kNew / 16).round.toInt))
    spark.stop()
  }
}
