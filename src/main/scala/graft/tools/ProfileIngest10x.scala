package graft.tools

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.Session

/** Streaming-ingest INDEX-GROWTH rehearsal — round 10's complement
  * to ProfileScale §3 (which pins per-batch flatness across BATCH
  * COUNT at a small accumulated index): here the accumulated index
  * itself grows 10×, and the cost of one standard probe batch is
  * measured at 1×, 3× and 10× index volume for both lake-table
  * ingest paths (`nearDupIngestBatch` text LSH, `imageIngestBatch`
  * pHash blocks).
  *
  * The claim under test: a probe batch's cost is
  * `fixed + c · touched_index_bytes`, where the touched bytes are
  * bounded by the bucket-pruned partition read and the column-pruned
  * (two join columns) scan — NOT by total index size. A full-scan
  * regression (losing the `bkt` partition filter, or dragging the
  * shingle arrays through the candidate join) turns the curve linear
  * with a large constant, far outside the bound.
  *
  * Fixture honesty: each seeding replica rewrites EVERY token
  * (per-replica word prefix), so replicas are genuinely novel to the
  * near-dup gate and the index really accumulates; each probe batch
  * uses a fresh per-checkpoint transform so every probe does the
  * same novel-content work (drop-path probes would do different,
  * cheaper work). Probe appends (~500 docs) are negligible against
  * the seeded volume.
  *
  * Usage: runMain graft.tools.ProfileIngest10x [sfDir]
  * Prints the two flat-cost curves; exits non-zero if
  * cost(10×)/cost(1×) exceeds [[GrowthBound]] for either path.
  */
object ProfileIngest10x {

  /** Probe-cost growth bound across a 10× index. The linear term is
    * the column-pruned two-column scan of touched partitions — tiny
    * against the fixed per-batch cost at these volumes; 2× leaves
    * room for it plus co-tenant noise while still catching any
    * full-scan / lost-pruning regression (which measures ~10×).
    * Ingest calls here pass metricsEvery = 0: the per-batch health
    * emission is an O(index) audit scan BY DESIGN (that's what it
    * observes), so it would read as probe-cost growth — production
    * tunes its cadence with the same knob. */
  val GrowthBound = 2.0

  private def tagWords(df: DataFrame, tag: String): DataFrame =
    df.select(col("doc_id"),
      regexp_replace(col("text"), "(\\S+)", tag + "_$1").as("text"))

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ---------- text LSH ingest ----------
    val offset = 10000000L
    val base = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBase = base.count()
    val probeSrc = base.limit(500)
      .select((col("doc_id") + lit(90000000L)).as("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    probeSrc.count()
    val idx = java.nio.file.Files.createTempDirectory("graft-ingest10x").toString + "/index"
    println(s"[ingest10x] text: base $nBase docs/replica, probe 500 docs, index at $idx")

    var batchId = 0L
    def seed(k: Int): Unit = {
      val replica = tagWords(
        base.select((col("doc_id") + lit(k * offset)).as("doc_id"), col("text")),
        s"r$k")
      batchId += 1
      val kept = graft.streaming.StreamOps
        .nearDupIngestBatch(idx, metricsEvery = 0)(replica, batchId).count()
      require(kept > nBase * 0.9,
        s"replica $k was near-dup-suppressed ($kept/$nBase kept) — fixture broken")
    }
    def probeCost(chk: String): Double = {
      val probe = tagWords(probeSrc, s"p$chk")
      batchId += 1
      val t0 = System.nanoTime()
      graft.streaming.StreamOps.nearDupIngestBatch(idx, metricsEvery = 0)(probe, batchId).count()
      (System.nanoTime() - t0) / 1e9
    }
    def indexDocs(): Long =
      spark.read.parquet(s"$idx/shingles").count()

    seed(0)
    val t1 = probeCost("a")
    println(f"[ingest10x] text probe at  1x index (${indexDocs()}%7d sets)  $t1%6.2fs")
    (1 until 3).foreach(seed)
    val t3 = probeCost("b")
    println(f"[ingest10x] text probe at  3x index (${indexDocs()}%7d sets)  $t3%6.2fs")
    (3 until 10).foreach(seed)
    val t10 = probeCost("c")
    println(f"[ingest10x] text probe at 10x index (${indexDocs()}%7d sets)  $t10%6.2fs")
    val textRatio = t10 / t1
    println(f"[ingest10x] text probe growth 10x/1x = $textRatio%.2f (bound $GrowthBound%.1f)")

    // ---------- image pHash ingest ----------
    val w = 16; val h = 16
    def texture(seed: Int): Array[Byte] = {
      // per-(pixel, seed) mix — gradient textures collide at pHash
      // hamming ≤ 6 and would dedup away most of the seeded volume
      Array.tabulate[Byte](w * h) { i =>
        var x = i.toLong * 2654435761L + seed.toLong * 0x9E3779B97F4A7C15L
        x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
        ((x & 0x7FFFFFFF) % 200 + 10).toByte
      }
    }
    def png(pix: Array[Byte]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, pix)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    def mediaDf(ids: Range): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(ids.map { id =>
        Row(id.toLong, "image", s"mem://$id", png(texture(id)), Row(w, h, null, "png"))
      }, 8), graft.multimodal.MediaOps.mediaSchema)
    val imgIdx = java.nio.file.Files.createTempDirectory("graft-ingest10x-img").toString
    val perSeed = 2000
    var imgBatch = 0L
    def seedImg(k: Int): Unit = {
      imgBatch += 1
      graft.streaming.StreamOps.imageIngestBatch(imgIdx)(
        mediaDf(k * perSeed until (k + 1) * perSeed), imgBatch).count()
    }
    def probeImg(chk: Int): Double = {
      imgBatch += 1
      val probe = mediaDf(900000 + chk * 1000 until 900000 + chk * 1000 + 200)
      val t0 = System.nanoTime()
      graft.streaming.StreamOps.imageIngestBatch(imgIdx)(probe, imgBatch).count()
      (System.nanoTime() - t0) / 1e9
    }
    def indexImgs(): Long = spark.read.parquet(s"$imgIdx/blocks").count() / 8

    seedImg(0)
    val i1 = probeImg(1)
    println(f"[ingest10x] image probe at  1x index (${indexImgs()}%7d imgs)  $i1%6.2fs")
    (1 until 3).foreach(seedImg)
    val i3 = probeImg(2)
    println(f"[ingest10x] image probe at  3x index (${indexImgs()}%7d imgs)  $i3%6.2fs")
    (3 until 10).foreach(seedImg)
    val i10 = probeImg(3)
    println(f"[ingest10x] image probe at 10x index (${indexImgs()}%7d imgs)  $i10%6.2fs")
    val imgRatio = i10 / i1
    println(f"[ingest10x] image probe growth 10x/1x = $imgRatio%.2f (bound $GrowthBound%.1f)")

    // ---------- vector IVF ingest + serving ----------
    // The append path reads NO index (assignment is vs broadcast
    // centroids) — its cost must be dead flat. Serving reads the
    // nprobe/k cell fraction of the index — the pruning claim — so
    // its growth must track that fraction's bytes, not full-scan 10×.
    val ivfIdx = java.nio.file.Files.createTempDirectory("graft-ingest10x-ivf").toString
    graft.queries.VectorIndex.buildIvf(spark, dir, ivfIdx)
    val embBase = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("emb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEmb = embBase.count()
    val queries10 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    var vecBatch = 0L
    def seedVec(k: Int): Unit = {
      vecBatch += 1
      graft.streaming.StreamOps.ivfIngestBatch(ivfIdx, metricsEvery = 0)(
        embBase.select((col("vec_id") + lit(k * offset)).as("vec_id"), col("emb")),
        vecBatch).count()
    }
    def probeVec(chk: Int): (Double, Double) = {
      vecBatch += 1
      val probe = embBase.limit(200)
        .select((col("vec_id") + lit(95000000L + chk * 1000L)).as("vec_id"), col("emb"))
      val t0 = System.nanoTime()
      graft.streaming.StreamOps.ivfIngestBatch(ivfIdx, metricsEvery = 0)(probe, vecBatch).count()
      val ing = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      graft.queries.VectorIndex.searchIvf(spark, ivfIdx, queries10).count()
      (ing, (System.nanoTime() - t1) / 1e9)
    }
    def indexVecs(): Long = spark.read.parquet(s"$ivfIdx/cells").count()

    seedVec(0)
    val (v1i, v1s) = probeVec(1)
    println(f"[ingest10x] ivf probe at  1x index (${indexVecs()}%7d vecs)  " +
      f"add $v1i%6.2fs  serve $v1s%6.2fs")
    (1 until 3).foreach(seedVec)
    val (v3i, v3s) = probeVec(2)
    println(f"[ingest10x] ivf probe at  3x index (${indexVecs()}%7d vecs)  " +
      f"add $v3i%6.2fs  serve $v3s%6.2fs")
    (3 until 10).foreach(seedVec)
    val (v10i, v10s) = probeVec(3)
    println(f"[ingest10x] ivf probe at 10x index (${indexVecs()}%7d vecs)  " +
      f"add $v10i%6.2fs  serve $v10s%6.2fs")
    val vecIngRatio = v10i / v1i
    val vecSrvRatio = v10s / v1s
    println(f"[ingest10x] ivf add growth 10x/1x = $vecIngRatio%.2f, " +
      f"serve growth = $vecSrvRatio%.2f (bound $GrowthBound%.1f)")

    // ---------- incremental components ingest ----------
    // Seeds grow the labels table 10× in disjoint id ranges; the
    // probe is 250 fresh pair-edges plus 250 edges hanging new nodes
    // off 8 FIXED existing hubs. The membership lookup must cover
    // EVERY batch node (fresh ones too — that's how they're found to
    // be fresh), so the bucket footprint is the batch's full hash
    // spread and the linear term is the column-pruned (doc_id, lbl)
    // scan of those partitions — the same fixed + c·touched_bytes
    // claim as the text path, with IndexBuckets the production knob
    // that keeps the touched fraction small. Hub roots stay minimal
    // (probe ids are far larger), so the merge log stays empty and
    // the curve isolates lookup + delta + append.
    val ccIdx = java.nio.file.Files.createTempDirectory("graft-ingest10x-cc").toString
    val ccPairs = 20000L
    val ccBase = spark.range(ccPairs)
      .select((col("id") * 2).as("a_id"), (col("id") * 2 + 1).as("b_id"))
    var ccBatch = 0L
    def seedCc(k: Int): Unit = {
      ccBatch += 1
      graft.streaming.StreamOps.clustersIngestBatch(ccIdx, metricsEvery = 0)(
        ccBase.select((col("a_id") + lit(k * offset)).as("a_id"),
          (col("b_id") + lit(k * offset)).as("b_id")), ccBatch).count()
    }
    def probeCc(chk: Int): Double = {
      ccBatch += 1
      val freshBase = 97000000L + chk * 10000L
      val fresh = spark.range(250)
        .select((col("id") * 2 + lit(freshBase)).as("a_id"),
          (col("id") * 2 + 1 + lit(freshBase)).as("b_id"))
      val merging = spark.range(250)
        .select(((col("id") % 8) * 512).as("a_id"),
          (col("id") + lit(freshBase + 5000L)).as("b_id"))
      val t0 = System.nanoTime()
      graft.streaming.StreamOps.clustersIngestBatch(ccIdx, metricsEvery = 0)(
        fresh.unionByName(merging), ccBatch).count()
      (System.nanoTime() - t0) / 1e9
    }
    def indexNodes(): Long = spark.read.parquet(s"$ccIdx/labels").count()

    seedCc(0)
    val c1 = probeCc(1)
    println(f"[ingest10x] cc probe at  1x index (${indexNodes()}%7d nodes)  $c1%6.2fs")
    (1 until 3).foreach(seedCc)
    val c3 = probeCc(2)
    println(f"[ingest10x] cc probe at  3x index (${indexNodes()}%7d nodes)  $c3%6.2fs")
    (3 until 10).foreach(seedCc)
    val c10 = probeCc(3)
    println(f"[ingest10x] cc probe at 10x index (${indexNodes()}%7d nodes)  $c10%6.2fs")
    val ccRatio = c10 / c1
    println(f"[ingest10x] cc probe growth 10x/1x = $ccRatio%.2f (bound $GrowthBound%.1f)")

    if (textRatio > GrowthBound || imgRatio > GrowthBound ||
        vecIngRatio > GrowthBound || vecSrvRatio > GrowthBound ||
        ccRatio > GrowthBound) {
      System.err.println(f"[ingest10x] FAIL: text $textRatio%.2f image $imgRatio%.2f " +
        f"ivf-add $vecIngRatio%.2f ivf-serve $vecSrvRatio%.2f cc $ccRatio%.2f " +
        f"vs bound $GrowthBound%.1f")
      sys.exit(1)
    }
    spark.stop()
  }
}
