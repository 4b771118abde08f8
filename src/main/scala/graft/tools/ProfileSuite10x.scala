package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Session

/** Whole-suite 10× scale rehearsal — the round-9 complement to
  * [[ProfileScale]] (which stresses the dedup guard rails with
  * ADVERSARIAL exact replicas): replicate the ENTIRE star schema
  * `reps`× with key offsets into a DISTINCT-data sf1-equivalent, run
  * the heaviest suite queries at 1× and at `reps`×, and assert the
  * wall-time ratio stays ≤ `LinearBound` for every query whose scale
  * argument claims linearity.
  *
  * Replication semantics (distinct data, not exact copies — the
  * linear-scaling question is "does the PLAN scale on 10× more
  * data", while exact-duplicate pathology is ProfileScale's job):
  *   - every primary/foreign key is offset per replica
  *     (doc_id/vec_id/event_id/user_id/l_orderkey/l_partkey/...), so
  *     graph queries see `reps` disjoint copies — 10× nodes AND 10×
  *     edges at equal density, exactly how a bigger TPC-H corpus
  *     grows — rather than a 10×-denser multigraph on fixed keys;
  *   - document text gets a per-replica PREFIX tag ("r<k> ") so
  *     exact-dup digests, editdist blocks, and fingerprints differ
  *     across replicas (no cross-replica dist-0 armies), while
  *     WITHIN each replica the corpus's natural near-dup structure
  *     is preserved 10×;
  *   - embeddings are bit-identical per replica under fresh vec_ids:
  *     vector math costs are value-independent, and the bounded
  *     trainers (first-N-by-vec_id samples) must stay constant-size
  *     — which the report prints as the model-boundedness check.
  *
  * Known non-linear entries are excluded from the strict bound and
  * reported with their expected exponent instead:
  *   - dedup_clusters_lsh: the "r<k> " tag shifts only ~3 of ~100
  *     shingles, so cross-replica Jaccard ≈ 0.97 ≥ 0.7 — every
  *     original near-dup family of size g becomes 10g, and the PAIR
  *     OUTPUT (which is the query's answer) grows ~100×/family.
  *     Output-quadratic growth under replication is the correct
  *     answer, not a plan defect; the collapse/cap machinery that
  *     bounds the JOIN is rehearsed under exact duplication in
  *     ProfileScale.
  *
  * Results print as a table plus PASS/FAIL per bounded query; any
  * bounded ratio above its limit exits non-zero.
  *
  * Usage: runMain graft.tools.ProfileSuite10x [sfDir] [reps] [runs]
  */
object ProfileSuite10x {

  /** (query, ratio bound AT 10×; 0 = report-only). Bounds are stated
    * per-10× and scaled linearly to the requested replication factor
    * in main (at reps=40 a LinearBound entry must stay under 56×) —
    * distinct-data replicas are independent key ranges, so every
    * bounded query's work should grow linearly in reps at ANY factor.
    * LinearBound is 12× + co-tenant noise headroom; g3 gets the
    * designed-handoff bound — at 10× its edge count crosses
    * BroadcastClosingEdges and the plan hands off from
    * broadcast-adjacency to the shuffle wedge join (pinned
    * output-identical), whose constant is larger. */
  val LinearBound = 14.0
  val Plan: Seq[(String, Double)] = Seq(
    "g1_pagerank" -> LinearBound,
    "e8_spike" -> LinearBound,
    "g3_triangles" -> 30.0,
    "e5_range_join" -> LinearBound,
    "t_lm_score" -> LinearBound,
    "e7_retention" -> LinearBound,
    "e6_funnel" -> LinearBound,
    "emb_kmeans" -> LinearBound,
    "dedup_editdist" -> LinearBound,
    "e4_salted_rollup" -> LinearBound,
    "e3_asof_join" -> LinearBound,
    "dedup_clusters_lsh" -> 0.0,
    "g2_copurchase_lift" -> LinearBound,
    "t_curation_e2e" -> LinearBound,
    "e2_sessionize" -> LinearBound,
    "t_source_filter" -> LinearBound,
    "t_source_overlap" -> LinearBound,
    "t_hybrid_rrf" -> LinearBound,
    // round-9 additions: the sketched overlap (constant per-source
    // state — the agg scan is the only corpus-sized term), the
    // Bloom decontamination (one distinct + map-side probes), and
    // the drift grid (two scans into a |types|×|bins| agg)
    "t_source_overlap_minhash" -> LinearBound,
    "t_source_overlap_lsh" -> LinearBound,
    "t_decontaminate_bloom" -> LinearBound,
    "e10_drift" -> LinearBound,
    // late round-9: SCD2 (one user_id window shuffle), CUBE (Expand
    // + one agg), and the composed stored index (bounded trainers;
    // the build cost amortizes across serving queries but is timed
    // here cold, so it gets the linear bound like the other
    // train-in-query entries)
    "k7_scd2" -> LinearBound,
    "w4_running_total_twophase" -> LinearBound,
    "a9_cube" -> LinearBound,
    "ann_ivfpq_stored" -> LinearBound,
    // round-11: the two-phase funnel (two bounded shuffles, no join),
    // the IVF staleness audit (build + one add + two summary aggs),
    // the banded near-dup dedup (collapse + capped buckets), and the
    // remaining stored-index serves (probe-pruned reads — their
    // builds amortize across the best-of runs exactly like ivfpq)
    "e11_funnel_twophase" -> LinearBound,
    "e12_asof_twophase" -> LinearBound,
    "e13_sessionize_twophase" -> LinearBound,
    "ann_ivf_staleness" -> LinearBound,
    "dedup_minhash_lsh" -> LinearBound,
    "ann_ivf_stored" -> LinearBound,
    "ann_pq_stored" -> LinearBound,
    // round-12: the graph-ANN serve (build amortizes into the first
    // best-of run via the DerivedCache root like the other stored
    // variants, so the measured best is the partition-pruned walk —
    // near-flat by design; measured 0.99x at x40)
    "ann_graph_topk" -> LinearBound,
    // round-13: the distributed batch walk over the same stored graph
    // (corpus-sized query batch — BOTH sides of every per-hop join
    // grow linearly; the build amortizes into the first best-of run
    // via the shared DerivedCache root exactly like ann_graph_topk)
    "ann_graph_batch" -> LinearBound,
    // round-12: the incremental-cluster rebuild+serve — 6 ingests
    // each over 1/6 of the edges (per-batch label lookups prune to
    // touched buckets; uniform hash slices touch every bucket, so
    // the worst case is batch-count × labels-table scans — linear in
    // corpus at fixed batch count), one mid-stream compaction, one
    // corpus-sized read. Build amortizes into the first best-of run
    // via the DerivedCache root like the stored ANN variants.
    "g5_components_inc" -> LinearBound,
    // round-12: two window shuffles with WindowGroupLimit pre-prune
    // (w5), vocabulary-carrying count shuffles + broadcast scalars
    // (t_collocations), and a narrow projection + pruned top-k
    // window (t_weighted_sample) — all linear by construction
    "w5_topk_twophase" -> LinearBound,
    "t_collocations" -> LinearBound,
    "t_weighted_sample" -> LinearBound,
    // histogram + broadcast locate + bounded-bucket extract: every
    // corpus-sized term is map-side combinable or a narrow semi-join
    "q_quantiles_twophase" -> LinearBound,
    // frontier BFS: replicas are disjoint components, so the root's
    // traversal touches ONE replica — the edge BUILD (shared with
    // g4) is the only term that grows; expect well under linear
    "g6_bfs_dists" -> LinearBound,
    // round-13: the deterministic HLL profile (per-column register
    // shuffle is CONSTANT ≤ m rows — the scan is the only term that
    // grows) and the Morton key projection (pure map + one narrow
    // shift for the bucket — no shuffle at all)
    "q_hll_distinct" -> LinearBound,
    "q_zorder_key" -> LinearBound,
    // round-17: leakage-safe splits — the serve is one equi-join +
    // narrow map, but the pair/component COST IS dedup_clusters_lsh's
    // (the near-dup tag keeps cross-replica Jaccard ≈ 0.97, so the
    // pair frame is output-quadratic under replication by the same
    // contract) — report-only, like its parent
    "t_split_safe" -> 0.0,
    // round-17: boilerplate extraction — a pure per-row builtin
    // pipeline (no shuffle, no state): the strictest linear claim
    "t_html_extract" -> LinearBound,
    // round-17 deletion operators: each is its parent's build+serve
    // plus a tombstone append, a fold (one table rewrite — linear),
    // and an anti-join on the uniform id key; builds amortize into
    // the first best-of run via the DerivedCache root like the parents
    "g7_components_del" -> LinearBound,
    "ann_ivf_del" -> LinearBound,
    "ann_graph_del" -> LinearBound)

  private val KeyOffset = 100000000L

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Replicate every table of `dir` into a distinct-data `reps`×
    * corpus, built once per (inputs, reps) through DerivedCache. */
  def replicate(spark: SparkSession, dir: String, reps: Int): String =
    graft.DerivedCache.ensure(spark, s"suite10x$reps", dir,
        Tables.map(_ + ".parquet")) { out =>
      def rep(table: String, build: (DataFrame, Int) => DataFrame): Unit = {
        val base = spark.read.parquet(s"$dir/$table.parquet")
        val big = (0 until reps).map(k => build(base, k)).reduce(_ unionByName _)
        big.write.mode("overwrite").parquet(s"$out/$table.parquet")
      }
      def off(k: Int) = lit(k * KeyOffset)
      // dimension roots stay 1× (a bigger corpus has more facts, not
      // more regions); every keyed table offsets its keys coherently
      rep("region", (df, k) => if (k == 0) df else df.limit(0))
      rep("nation", (df, k) => if (k == 0) df else df.limit(0))
      rep("customer", (df, k) => df.withColumn("c_custkey", col("c_custkey") + off(k)))
      rep("supplier", (df, k) => df.withColumn("s_suppkey", col("s_suppkey") + off(k)))
      rep("part", (df, k) => df.withColumn("p_partkey", col("p_partkey") + off(k)))
      rep("orders", (df, k) => df
        .withColumn("o_orderkey", col("o_orderkey") + off(k))
        .withColumn("o_custkey", col("o_custkey") + off(k)))
      rep("lineitem", (df, k) => df
        .withColumn("l_orderkey", col("l_orderkey") + off(k))
        .withColumn("l_partkey", col("l_partkey") + off(k))
        .withColumn("l_suppkey", col("l_suppkey") + off(k)))
      rep("events", (df, k) => df
        .withColumn("event_id", col("event_id") + off(k))
        .withColumn("user_id", col("user_id") + off(k)))
      rep("documents", (df, k) => df
        .withColumn("doc_id", col("doc_id") + off(k))
        .withColumn("text",
          if (k == 0) col("text") else concat(lit(s"r$k "), col("text"))))
      rep("embeddings", (df, k) => df.withColumn("vec_id", col("vec_id") + off(k)))
    }

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 10
    val runs = if (args.length > 2) args(2).toInt else 2
    // optional comma-separated query filter — the ×100 pass runs only
    // the cheap linear families the sandbox can hold at that factor
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val t0 = System.nanoTime()
    val bigDir = replicate(spark, dir, reps)
    println(f"[10x] corpus replicated ${reps}x -> $bigDir " +
      f"(${(System.nanoTime() - t0) / 1e9}%.1fs incl. reuse check)")

    // JIT/codegen warmup off the clock (the Bench protocol)
    for (w <- Seq("q1_pricing_summary", "t_fingerprint", "ann_brute_topk"))
      try graft.SparkEntry.queries(w)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => }

    def bestOf(name: String, d: String): Double = (1 to runs).map { _ =>
      spark.catalog.clearCache()
      graft.ops.CacheScope.releaseAll(spark)
      val s = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, d)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - s) / 1e9
    }.min

    // model-boundedness: the trainers' bounded collects must be the
    // same size at both scales (sample caps bind on corpus order, not
    // corpus size — the 100 TB argument made measurable)
    val emb1 = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val embN = spark.read.parquet(s"$bigDir/embeddings.parquet").count()
    println(s"[10x] embeddings $emb1 -> $embN; bounded trainers cap at " +
      s"maxTrain=4096 rows (${math.min(emb1, 4096)} vs ${math.min(embN, 4096)} " +
      "sampled — identical once the cap binds)")

    var failures = List.empty[String]
    val selected = Plan.filter(p => only.forall(_.contains(p._1)))
    val rows = selected.map { case (name, bound10) =>
      // bounds are stated per-10×; scale to the requested factor
      val bound = if (bound10 <= 0) 0.0 else bound10 * reps / 10.0
      val one = bestOf(name, dir)
      val ten = bestOf(name, bigDir)
      val ratio = ten / one
      val verdict =
        if (bound <= 0) "report-only (output-quadratic by contract)"
        else if (ratio <= bound) f"PASS (<= $bound%.0fx)"
        else { failures ::= name; f"FAIL (> $bound%.0fx)" }
      println(f"[10x] $name%-22s 1x $one%7.2fs  ${reps}x $ten%8.2fs  ratio $ratio%6.2f  $verdict")
      (name, one, ten, ratio, verdict)
    }
    val bounds = selected.toMap
    val linear = rows.filter(_._5.startsWith("PASS"))
    val bounded = rows.filter(r => bounds(r._1) > 0)
    if (bounded.isEmpty)
      println("[10x] no bounded queries selected (filter matched only " +
        "report-only or unknown names) — nothing to judge")
    else
      println(f"[10x] ${linear.size}/${bounded.size} bounded " +
        f"queries within their ratio bound; worst bounded ratio " +
        f"${bounded.map(_._4).max}%.2f")
    if (failures.nonEmpty) {
      System.err.println(s"[10x] super-linear entries: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    spark.stop()
  }
}
