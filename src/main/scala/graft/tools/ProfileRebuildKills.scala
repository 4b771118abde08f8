package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart, SparkListenerTaskEnd}

import graft.Session
import graft.queries.VectorIndex
import graft.streaming.StreamOps

/** Attempt-level crash-safety rehearsal for the STAGED REBUILD path —
  * the phase [[ProfileRetry]] never reaches: that harness kills tasks
  * under the query surface (including one-shot index builds), but the
  * round-15 staged rebuilds claim a stronger property: a rebuild's
  * STAGING writes, its CATCH-UP ingest of batches that landed while it
  * staged, and its atomic commit must all be attempt-deterministic —
  * at 1000-executor scale a rebuild is a minutes-long job and task
  * retries/speculative duplicates WILL land inside it.
  *
  * Protocol (same kill discipline as ProfileRetry — kill ~20% of all
  * first-attempt tasks, speculation on):
  *
  *   1. CLEAN — build a graph index and an IVF index over the sf dir,
  *      ingest a delta batch into each, then run the STAGED rebuild
  *      with a concurrent ingest injected between staging and commit
  *      (the `afterStaging` hook — the rebuild must catch the new
  *      marker up into the staged root before committing). Canonical
  *      (row-count, sorted-rows MD5) of each index's resolved state
  *      and of a 20-query serve.
  *   2. FAULTED — identical steps in a fresh context with the
  *      kill-injecting listener active for the WHOLE pass, so kills
  *      land inside the trainer collects, the staged-table writes,
  *      the catch-up ingest, and the serves.
  *
  * Each pass additionally decays hll / sample / zorder roots and runs
  * one acting `maintainAll` sweep, so the SWAP-BASED compaction
  * remedies (LSM folds, OPTIMIZE) — a different write path than the
  * staged rebuilds — prove attempt-deterministic too, through their
  * served state.
  *
  * Pass = all seven canonicals identical AND kills actually landed.
  * The lease/fencing protocol is exercised incidentally (every
  * rebuild acquires and re-checks the lease); what this proves on top
  * of the fencing spec is that TASK-level replay inside a staging
  * phase cannot corrupt the committed index.
  *
  * Usage: runMain graft.tools.ProfileRebuildKills [sfDir]
  * Exits non-zero on any canonical mismatch or if no kill landed.
  */
object ProfileRebuildKills {

  private val KillMod = 5
  private val KillResidue = 2

  private def session(faulty: Boolean, cpus: String): SparkSession = {
    val b = Session.builder(s"local[$cpus]", cpus.toInt)
      .appName(if (faulty) "graft-rebuildkills-faulted" else "graft-rebuildkills-clean")
    if (faulty)
      b.config("spark.speculation", "true")
        .config("spark.speculation.interval", "50ms")
        .config("spark.speculation.multiplier", "1.2")
        .config("spark.speculation.quantile", "0.5")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    def runPass(faulty: Boolean): (Map[String, (Long, String)], Long, Long) = {
      val spark = session(faulty, cpus)
      import org.apache.spark.sql.functions._
      val kills = new java.util.concurrent.atomic.AtomicLong
      val speculative = new java.util.concurrent.atomic.AtomicLong
      if (faulty) {
        val sc = spark.sparkContext
        sc.addSparkListener(new SparkListener {
          override def onTaskStart(e: SparkListenerTaskStart): Unit = {
            val info = e.taskInfo
            if (info.attemptNumber == 0 && info.index % KillMod == KillResidue)
              try {
                if (sc.killTaskAttempt(info.taskId, interruptThread = false,
                    reason = "ProfileRebuildKills fault injection"))
                  kills.incrementAndGet()
              } catch { case _: Throwable => () }
          }
          override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
            if (e.taskInfo.speculative) speculative.incrementAndGet()
        })
      }

      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      def delta(shift: Long, n: Int) = emb
        .select((col("vec_id") + shift).as("vec_id"), col("embedding").as("emb"))
        .limit(n)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))

      // ---- graph: build → delta ingest → DELETE a residue class →
      //      staged rebuild with a catch-up batch landing mid-staging
      //      (the rebuild folds the tombstones: roster excludes them,
      //      the committed index must not carry them) ----
      val gIdx = java.nio.file.Files
        .createTempDirectory("rebuildkills-graph").toString
      VectorIndex.buildGraph(spark, sfDir, gIdx)
      StreamOps.graphIngestBatch(gIdx, metricsEvery = 0)(
        delta(1000000L, 200), 1L).count()
      StreamOps.deleteDocs(gIdx,
        emb.filter(pmod(col("vec_id"), lit(10)) === 3).select(col("vec_id")))
      StreamOps.rebuildGraphIndexStaged(spark, gIdx)(() =>
        StreamOps.graphIngestBatch(gIdx, metricsEvery = 0)(
          delta(2000000L, 150), 2L).count(): Unit)
      val graphState = Canon.of(VectorIndex.resolvedGraph(spark, gIdx))
      val graphServe = Canon.of(VectorIndex.searchGraph(spark, gIdx, queries))

      // ---- IVF twin (delete folded by the rebuild, like the graph) ----
      val vIdx = java.nio.file.Files
        .createTempDirectory("rebuildkills-ivf").toString
      VectorIndex.buildIvf(spark, sfDir, vIdx)
      StreamOps.ivfIngestBatch(vIdx)(delta(1000000L, 200), 1L).count()
      StreamOps.deleteDocs(vIdx,
        emb.filter(pmod(col("vec_id"), lit(10)) === 3).select(col("vec_id")))
      StreamOps.rebuildIvfIndexStaged(spark, vIdx)(() =>
        StreamOps.ivfIngestBatch(vIdx)(delta(2000000L, 150), 2L).count(): Unit)
      val ivfState = Canon.of(spark.read.parquet(s"$vIdx/cells")
        .select(col("cell"), col("vec_id")))
      val ivfServe = Canon.of(VectorIndex.searchIvf(spark, vIdx, queries))

      // ---- the DELETE → COMPACT path under kills: tombstones
      //      appended, folded by the family compactions (labels
      //      rewrite / bands+shingles rewrite), log cleared — the
      //      round-17 forget path through its own swap writes ----
      val cIdx = java.nio.file.Files
        .createTempDirectory("rebuildkills-cc").toString
      val chain = spark.range(0, 300)
        .select(col("id").as("a_id"), (col("id") + 1L).as("b_id"))
      (0 to 1).foreach(i =>
        StreamOps.clustersIngestBatch(cIdx, metricsEvery = 0)(
          chain.filter(pmod(col("a_id"), lit(2)) === i), i.toLong).count())
      StreamOps.deleteDocs(cIdx, spark.range(0, 301)
        .filter(pmod(col("id"), lit(10)) === 3).select(col("id")))
      StreamOps.compactClustersIndex(spark, cIdx)
      val ccState = Canon.of(StreamOps.readClusters(spark, cIdx))

      val nIdx = java.nio.file.Files
        .createTempDirectory("rebuildkills-nd").toString + "/index"
      val ndDocs = graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      (0 to 1).foreach(i =>
        StreamOps.nearDupIngestBatch(nIdx)(
          ndDocs.filter(pmod(col("doc_id"), lit(2)) === i), i.toLong).count())
      StreamOps.deleteDocs(nIdx, ndDocs
        .filter(pmod(col("doc_id"), lit(10)) === 3).select(col("doc_id")))
      StreamOps.compactNearDupIndex(spark, nIdx)
      // post-fold probe: copies of the corpus re-offered — survivors
      // are exactly the docs whose original was deleted (plus novel)
      val probe = ndDocs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      val ndServe = Canon.of(StreamOps.nearDupIngestBatch(nIdx)(probe, 9L))
      val ndState = Canon.of(spark.read.parquet(s"$nIdx/shingles")
        .select(col("doc_id")))

      // ---- the COMPACTION remedies under kills: decay hll / sample /
      //      zorder roots, run one acting maintainAll sweep, canonical
      //      each family's served state (the swap-based folds are a
      //      different write path than the staged rebuilds above) ----
      val hIdx = java.nio.file.Files
        .createTempDirectory("rebuildkills-hll").toString
      val orders = graft.sources.Tables.orders(spark, sfDir)
      (1 to 2).foreach(i =>
        StreamOps.hllIngestBatch(hIdx, metricsEvery = 0)(orders, i.toLong))
      val sIdx = java.nio.file.Files
        .createTempDirectory("rebuildkills-sample").toString
      val docs = graft.sources.Tables.documents(spark, sfDir)
        .select(col("source"), col("doc_id"), col("text"))
      (1 to 2).foreach(i =>
        StreamOps.sampleIngestBatch(sIdx, metricsEvery = 0)(docs, i.toLong))
      val zTbl = java.nio.file.Files
        .createTempDirectory("rebuildkills-zorder").toString
      val li = graft.sources.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      (1 to 3).foreach(i => StreamOps.zorderIngestBatch(zTbl, "l_partkey",
        "l_suppkey", metricsEvery = 0)(li, i.toLong))
      val reports = StreamOps.maintainAll(spark, Seq(hIdx, sIdx, zTbl),
        Map(zTbl -> ("l_partkey", "l_suppkey")))
      require(reports.forall(_.actions.nonEmpty),
        s"sweep fixture did not decay every root: $reports")
      val hllState = Canon.of(StreamOps.readHll(spark, hIdx))
      val sampleState = Canon.of(StreamOps.readSample(spark, sIdx))
      val zorderState = Canon.of(StreamOps.readZorder(spark, zTbl))

      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      (Map("graph_state" -> graphState, "graph_serve" -> graphServe,
        "ivf_state" -> ivfState, "ivf_serve" -> ivfServe,
        "cc_state" -> ccState, "nd_serve" -> ndServe, "nd_state" -> ndState,
        "hll_state" -> hllState, "sample_state" -> sampleState,
        "zorder_state" -> zorderState),
        kills.get(), speculative.get())
    }

    val (clean, _, _) = runPass(faulty = false)
    val (faulted, kills, spec) = runPass(faulty = true)

    println(f"${"component"}%-14s ${"rows"}%8s  match")
    var failures = 0
    Seq("graph_state", "graph_serve", "ivf_state", "ivf_serve",
        "cc_state", "nd_serve", "nd_state",
        "hll_state", "sample_state", "zorder_state").foreach { name =>
      val (cn, ch) = clean(name)
      val (fn, fh) = faulted(name)
      val ok = cn == fn && ch == fh
      if (!ok) failures += 1
      println(f"$name%-14s $cn%8d  ${if (ok) "OK" else s"MISMATCH (faulted rows=$fn)"}")
    }
    println(s"[rebuild-kills] injected kills: $kills, speculative attempts: $spec")
    if (kills == 0) {
      println("[rebuild-kills] FAIL: no fault landed — rehearsal vacuous")
      sys.exit(2)
    }
    if (failures > 0) {
      println(s"[rebuild-kills] FAIL: $failures components diverged under kills")
      sys.exit(1)
    }
    println("[rebuild-kills] PASS: staged rebuilds (staging + catch-up + " +
      "commit), the swap-based compaction remedies, AND the " +
      "delete→fold/rebuild forget path row-identical under task kills + " +
      "speculation")
  }
}
