package graft.tools

import org.apache.spark.sql.functions._
import graft.Session

/** Measurement harness for the streaming near-dup ingest path: feeds
  * the documents corpus through `nearDupIngestBatch` in N
  * micro-batches and prints per-batch wall time alongside the
  * accumulated index size — the curve that shows whether per-batch
  * cost stays bounded as the index grows (the property the
  * band-bucketed partition pruning exists for; a full-scan ingest
  * grows linearly in index size). Ends with the cross-batch dedup
  * invariant from StreamOpsSpec re-checked at this scale: no
  * near-dup pair survives whole.
  *
  * Usage: runMain graft.tools.ProfileIngest [sfDir] [nBatches]
  */
object ProfileIngest {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val nBatches = if (args.length > 1) args(1).toInt else 10
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val idx = java.nio.file.Files.createTempDirectory("graft-profile-ingest")
      .toString + "/index"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).cache()
    val total = docs.count()
    def indexFiles: Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      val root = new java.io.File(idx)
      if (root.exists()) walk(root) else 0
    }
    println(s"corpus $total docs, $nBatches batches, index at $idx")
    var accepted = 0L
    for (b <- 0 until nBatches) {
      val batch = docs.filter(col("doc_id") % nBatches === b)
      val t0 = System.nanoTime()
      val kept = graft.streaming.StreamOps.nearDupIngestBatch(idx, metricsEvery = 0)(batch, b.toLong)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      accepted += kept
      println(f"batch $b%2d  ${sec}%6.2fs  kept $kept%5d  index_files $indexFiles%4d")
      // periodic compaction, as a production schedule would run it
      if (b == nBatches / 2) {
        val t1 = System.nanoTime()
        graft.streaming.StreamOps.compactNearDupIndex(spark, idx)
        println(f"compact    ${(System.nanoTime() - t1) / 1e9}%6.2fs  index_files $indexFiles%4d")
      }
    }
    // invariant: no near-dup pair fully indexed (both members kept)
    val indexed = spark.read.parquet(s"$idx/shingles")
      .select(col("doc_id")).as[Long].collect().toSet
    val pairs = graft.queries.TextQueries.dedupMinhash(spark, dir)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect()
    val bothIn = pairs.filter(p => indexed(p._1) && indexed(p._2))
    println(s"accepted $accepted/$total; near-dup pairs ${pairs.length}, " +
      s"pairs fully indexed ${bothIn.length} (must be 0)")
    assert(bothIn.isEmpty, s"INVARIANT VIOLATED: ${bothIn.take(5).toSeq}")
    spark.stop()
  }
}
