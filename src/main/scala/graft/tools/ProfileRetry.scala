package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart, SparkListenerTaskEnd}
import graft.Session

/** Task-retry / speculation determinism rehearsal — the failure mode
  * the small-SF suite never exercises: at 1000-executor scale task
  * retries and speculative duplicates are ROUTINE, and any query whose
  * output depends on which attempt of a task won (sampled trainers,
  * `mapPartitions` state, persisted intermediates recomputed after a
  * lost block) would ship nondeterministic results only at scale.
  *
  * Protocol: the attempt-sensitive subset of the suite (trainer-
  * bearing, localCheckpoint-bearing, driver-model, stateful-shuffle
  * queries) runs twice against the same sf dir —
  *
  *   1. CLEAN — a plain session, canonical (row-count, sorted-rows
  *      MD5) per query;
  *   2. FAULTED — a fresh context with `spark.speculation=true`
  *      (aggressive interval/quantile so duplicates really launch)
  *      plus a fault-injecting listener that kills ~20% of all
  *      first-attempt tasks (`killTaskAttempt`: a KILLED task does
  *      not count toward `spark.task.maxFailures`, so the scheduler
  *      resubmits it — precisely the lost-executor replay path).
  *
  * Pass = every query's faulted canonical equals its clean canonical
  * AND faults actually fired (a run with zero kills proves nothing —
  * tiny tasks can finish before the async kill lands, so the residue
  * covers every stage and the report prints the realized kill count).
  * The DerivedCache roots (the stored indexes) are wiped before EACH session
  * so the faulted pass re-runs the index BUILDS (the trainer collects
  * + writes) under kills too, not just the serving reads.
  *
  * Usage: runMain graft.tools.ProfileRetry [sfDir]
  * Exits non-zero on any canonical mismatch or if no kill landed.
  */
object ProfileRetry {

  /** The attempt-sensitive subset: everything with a bounded-sample
    * trainer, a driver-side model register, localCheckpoint lineage
    * truncation, an index build+serve cycle, or union-find/iteration
    * state — plus the two-phase decompositions whose exactness
    * argument a nondeterministic retry would break first. */
  val Plan: Seq[String] = Seq(
    "t_quality_classifier", // bounded-GD trainer (sample collect)
    "emb_kmeans", "emb_semdedup", // driver Lloyd models
    "ann_ivf_topk", "ann_pq_topk", // in-query trainers
    "ann_ivf_stored", "ann_pq_stored", "ann_ivfpq_stored", // build+serve
    "ann_graph_topk", // graph build (trainer + edge windows) + driver walk
    "ann_ivf_staleness", // build + marker-guarded ingest + audit
    "dedup_minhash_lsh", "dedup_clusters", "dedup_clusters_lsh", // union-find / star handoff
    "g1_pagerank", "g4_components", // iterative supersteps (localCheckpoint)
    "t_stratified_sample", "t_shard_shuffle", // deterministic-hash sampling/permutation
    "emb_hard_negatives",
    "w4_running_total_twophase", "e11_funnel_twophase", "e12_asof_twophase",
    "k7_scd2",
    // round-12: the incremental-cc build (marker-guarded appends +
    // mid-stream compaction under kills), the two new two-phase
    // algebras (salted row_number ties / bucket row_number over
    // duplicate values — tie ORDER varies per attempt, the picked
    // rows must not), and the deterministic-hash sampler/counters
    "g5_components_inc", "w5_topk_twophase", "q_quantiles_twophase",
    "t_collocations", "t_weighted_sample",
    // eager localCheckpoint per frontier superstep — the lineage-
    // truncation-under-kills shape g1 pins, on a data-dependent loop
    "g6_bfs_dists",
    // round-13: the HLL registers (max per bucket — a re-run partial
    // must not move any register) and the Morton key (pure map; its
    // equal-width bucket must not depend on task attempt)
    "q_hll_distinct", "q_zorder_key",
    // round-14: the grouped registers (same algebra, group-keyed
    // state), the corpus-sized graph batch walk (checkpointed
    // frontier legs under kills), and the skew-probe-routed twins —
    // the PROBE's exact count must not move under retries, or the
    // route (and with the route, the tie discipline in play) could
    // flip between attempts
    "q_hll_grouped", "ann_graph_batch",
    "e14_funnel_auto", "e15_asof_auto", "e16_sessionize_auto",
    "q_quantiles_auto", "w6_running_total_auto", "w7_topk_auto")

  /** First-attempt tasks with index ≡ KillResidue (mod KillMod) are
    * killed — deterministic selection, ~20% of every stage. */
  private val KillMod = 5
  private val KillResidue = 2

  private def session(faulty: Boolean, cpus: String): SparkSession = {
    val b = Session.builder(s"local[$cpus]", cpus.toInt)
      .appName(if (faulty) "graft-retry-faulted" else "graft-retry-clean")
    if (faulty)
      b.config("spark.speculation", "true")
        .config("spark.speculation.interval", "50ms")
        .config("spark.speculation.multiplier", "1.2")
        .config("spark.speculation.quantile", "0.5")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Wipe the DerivedCache roots so the next session rebuilds them
    * (DerivedCache keeps them under tmpdir/graft_derived_*).
    * Operates on the RUN-PRIVATE tmpdir installed by main() — wiping
    * the shared system tmpdir would delete index roots belonging to
    * concurrent test/bench sessions on the same machine, which could
    * then serve from a half-rebuilt index. */
  private def wipeIndexRoots(tmp: java.io.File): Unit =
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("graft_derived_"))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)

  /** Redirect java.io.tmpdir to a rehearsal-private directory before
    * any session exists: every derived root (DerivedCache: the
    * indexes, the docstore) resolves the property at call time, so both
    * passes build and wipe inside this sandbox only. */
  private def installPrivateTmpdir(): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_retry_run_").toFile
    System.setProperty("java.io.tmpdir", dir.getAbsolutePath)
    dir
  }

  private def canon(df: org.apache.spark.sql.DataFrame): (Long, String) =
    Canon.of(df)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val privateTmp = installPrivateTmpdir()
    // the sandbox must not outlive the run, PASS or FAIL (sys.exit
    // paths included — two full index-root sets per leaked dir)
    sys.addShutdownHook {
      org.apache.commons.io.FileUtils.deleteQuietly(privateTmp); ()
    }

    def runPass(faulty: Boolean): (Map[String, (Long, String)], Long, Long) = {
      wipeIndexRoots(privateTmp)
      val spark = session(faulty, cpus)
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
                    reason = "ProfileRetry fault injection"))
                  kills.incrementAndGet()
              } catch { case _: Throwable => () }
          }
          override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
            if (e.taskInfo.speculative) speculative.incrementAndGet()
        })
      }
      val out = Plan.map { name =>
        val c = canon(graft.SparkEntry.queries(name)(spark, sfDir))
        spark.catalog.clearCache()
        name -> c
      }.toMap
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      (out, kills.get(), speculative.get())
    }

    val (clean, _, _) = runPass(faulty = false)
    val (faulted, kills, spec) = runPass(faulty = true)

    println(f"${"query"}%-28s ${"rows"}%8s  match")
    var failures = 0
    Plan.foreach { name =>
      val (cn, ch) = clean(name)
      val (fn, fh) = faulted(name)
      val ok = cn == fn && ch == fh
      if (!ok) failures += 1
      println(f"$name%-28s $cn%8d  ${if (ok) "OK" else s"MISMATCH (faulted rows=$fn)"}")
    }
    println(s"[retry] injected kills: $kills, speculative task attempts: $spec")
    if (kills == 0) {
      println("[retry] FAIL: no fault landed — rehearsal vacuous")
      sys.exit(2)
    }
    if (failures > 0) {
      println(s"[retry] FAIL: $failures queries diverged under retries")
      sys.exit(1)
    }
    println(s"[retry] PASS: ${Plan.size}/${Plan.size} queries row-identical under " +
      "task kills + speculation")
  }
}
