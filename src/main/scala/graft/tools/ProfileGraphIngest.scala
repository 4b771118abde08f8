package graft.tools

import org.apache.spark.sql.functions._
import graft.Session

/** Graph-ANN maintainer cost curve: what a STANDARD 100-vector probe
  * batch costs as the accumulated index grows — and what the health
  * audit says at each point.
  *
  * The maintainer's batch cost is touched-cells-proportional
  * (membership of ≤ 2×|batch| cells re-pairs within its shards), and
  * the QUANTIZER IS FIXED after the build — so as the corpus grows
  * past the cell budget the build chose, per-cell membership (and
  * with it probe cost) grows linearly. That is by design, not a flaw:
  * `graphIndexHealth.sharded_cells` is exactly the signal that the
  * stored quantizer has drifted off the data and a re-quantizing
  * rebuild is due (the ann_ivf_staleness playbook). This tool
  * measures all three acts: probe cost rising with index growth, the
  * health row flagging it, and a fresh-quantizer rebuild over the
  * accumulated roster restoring the probe cost.
  *
  * Usage: runMain graft.tools.ProfileGraphIngest [sfDir]
  */
object ProfileGraphIngest {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Session.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.VectorIndex
    import graft.streaming.StreamOps

    val idx = java.nio.file.Files.createTempDirectory("graph-ingest-prof").toString
    VectorIndex.buildGraph(spark, dir, idx)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("emb")).cache()
    val n = emb.count()

    var batchId = 0L
    var probeBase = 50000000L
    def probe(tag: String): Unit = {
      val b = emb.orderBy(col("vec_id")).limit(100)
        .select((col("vec_id") + probeBase).as("vec_id"), col("emb"))
      probeBase += 1000
      batchId += 1
      val t0 = System.nanoTime()
      StreamOps.graphIngestBatch(idx, metricsEvery = 0)(b, batchId).count()
      val secs = (System.nanoTime() - t0) / 1e9
      val h = StreamOps.graphIndexHealth(spark, idx).collect()(0)
      println(f"[graphingest] $tag%-10s probe=$secs%6.2fs  n_nodes=${h.getLong(0)}%7d " +
        f"cells=${h.getLong(1)}%4d max_cell=${h.getLong(2)}%6d " +
        f"sharded=${h.getLong(3)}%3d read_amp=${h.getDouble(6)}%5.2f")
    }

    probe("x1")
    def grow(replicas: Range): Unit = replicas.foreach { r =>
      batchId += 1
      StreamOps.graphIngestBatch(idx, metricsEvery = 0)(
        emb.select((col("vec_id") + r * 1000000L).as("vec_id"), col("emb")),
        batchId).count()
    }
    grow(1 to 3)
    probe("x4")
    grow(4 to 9)
    probe("x10")

    // the playbook's third act, at a scale where it SHOWS: a
    // 10-vector probe touches ≤ 20 cells, so on a ×40 corpus under a
    // STALE 1×-trained quantizer (16 cells — the probe's cells ARE
    // the whole index) the maintainer recomputes every row, while
    // under a FRESH ×40-trained quantizer (~160 cells) it recomputes
    // only the ~20/160 it touches. At sandbox ×10 above the contrast
    // hides (cells ≈ touched either way); this is the regime split
    // the health row's sharded_cells exists to trigger.
    import spark.implicits._
    val R = 40
    val corpus = (0 until R).map(r => emb
        .select((col("vec_id") + r * 1000000L).as("vec_id"), col("emb")))
      .reduce(_ unionByName _)
      .withColumn("nrm", sqrt(call_function("graft_dot",
        col("emb").cast("array<double>"), col("emb").cast("array<double>"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        call_function("graft_vec_div",
          col("emb").cast("array<double>"), col("nrm")).as("emb"))
      .cache()
    val nAcc = corpus.count()
    def trainOn(src: org.apache.spark.sql.DataFrame, cells: Int) = {
      val sample = src.orderBy(col("vec_id")).limit(math.max(4096, 8 * cells))
        .select(col("emb").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      VectorIndex.trainGraphQuantizer(sample, cells, lloydRounds = 4)
    }
    def rootWith(q: VectorIndex.GraphQuantizer, tag: String): String = {
      val p = java.nio.file.Files.createTempDirectory(s"graph-$tag").toString
      q.supers.zipWithIndex.map { case (c, sid) => (sid, c) }.toDF("sid", "cent")
        .coalesce(1).write.mode("overwrite").parquet(s"$p/supers")
      q.cells.zipWithIndex.map { case ((sid, c), kk) => (kk, sid, c) }
        .toDF("kk", "sid", "cent")
        .coalesce(1).write.mode("overwrite").parquet(s"$p/cents")
      val t0 = System.nanoTime()
      VectorIndex.writeGraphTables(spark, corpus, q, p)
      println(f"[graphingest] $tag%-10s build over $nAcc vectors: " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs (cells=${q.cells.size})")
      p
    }
    val staleCells = 16 // what a 1× build would have trained
    val freshCells = math.max(16,
      math.min(VectorIndex.MaxGraphCells.toLong,
        nAcc / VectorIndex.GraphCellTarget + 1).toInt)
    val roots = Seq(
      "stale-x40" -> rootWith(trainOn(emb.select(col("vec_id"),
        col("emb").cast("array<double>").as("emb")), staleCells), "stale-x40"),
      "fresh-x40" -> rootWith(trainOn(corpus, freshCells), "fresh-x40"))
    for ((tag, p) <- roots) {
      val b = emb.orderBy(col("vec_id")).limit(10)
        .select((col("vec_id") + probeBase).as("vec_id"), col("emb"))
      probeBase += 1000
      val t1 = System.nanoTime()
      StreamOps.graphIngestBatch(p, metricsEvery = 0)(b, 1L).count()
      val secs = (System.nanoTime() - t1) / 1e9
      val h = StreamOps.graphIndexHealth(spark, p).collect()(0)
      println(f"[graphingest] $tag%-10s probe10=$secs%6.2fs  n_nodes=${h.getLong(0)}%7d " +
        f"cells=${h.getLong(1)}%4d max_cell=${h.getLong(2)}%6d " +
        f"sharded=${h.getLong(3)}%3d")
    }

    // the ACT side, through the OPERATOR: recover the stale root in
    // place with rebuildGraphIndex (retrain over its own roster,
    // staged swap) and re-probe — the cost must return to the
    // fresh-quantizer curve above, closing the playbook loop the
    // health row's sharded_cells opens
    val stalePath = roots.head._2
    val t2 = System.nanoTime()
    StreamOps.rebuildGraphIndex(spark, stalePath)
    println(f"[graphingest] rebuild    op=${(System.nanoTime() - t2) / 1e9}%6.1fs " +
      f"over ~$nAcc vectors")
    val rb = emb.orderBy(col("vec_id")).limit(10)
      .select((col("vec_id") + probeBase).as("vec_id"), col("emb"))
    probeBase += 1000
    val t3 = System.nanoTime()
    StreamOps.graphIngestBatch(stalePath, metricsEvery = 0)(rb, 2L).count()
    val secsR = (System.nanoTime() - t3) / 1e9
    val hr = StreamOps.graphIndexHealth(spark, stalePath).collect()(0)
    println(f"[graphingest] rebuilt    probe10=$secsR%6.2fs  n_nodes=${hr.getLong(0)}%7d " +
      f"cells=${hr.getLong(1)}%4d max_cell=${hr.getLong(2)}%6d " +
      f"sharded=${hr.getLong(3)}%3d")
    spark.stop()
  }
}
