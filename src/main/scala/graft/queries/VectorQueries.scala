package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Route
import graft.sources.Tables
import graft.ops.CacheScope

/** Similarity search over the `embeddings` table
  * (`Array[Float]`, 64-dim): brute-force cosine top-k as the exact
  * baseline with TWO scale paths — multi-table hyperplane LSH and a
  * centroid IVF — plus cosine near-dup for embedding-level dedup
  * (exact oracle + LSH scale variant, mirroring the text side's
  * ngram-Jaccard/MinHash split) and centroid/dispersion roll-ups.
  *
  * Vector math is the native `graft_dot` Catalyst expression
  * (graft.functions.DotProduct — a fused codegen loop over the
  * ArrayData; the builtin `aggregate(zip_with(...))` form it
  * replaced materialized an intermediate array per PAIR, the one
  * place cost multiplies quadratically). Float→double widening
  * happens once at scan time so cross-engine comparisons are
  * stable; hyperplane weights are driver-computed literal arrays,
  * so an LSH projection is just another dot product.
  */
object VectorQueries {

  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  private def embDouble(spark: SparkSession, dir: String): DataFrame = {
    // every vector path flows through here — idempotent registration
    // of the native expressions (no-op under the config route)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    Tables.embeddings(spark, dir).select(
      col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("emb"))
  }

  /** Corpus with L2-normalized vectors: cosine of a pair is then a
    * bare dot product — norms are computed once per VECTOR here, not
    * twice per PAIR in the pair stage (3× less work where it
    * multiplies). Scaling is the native `graft_vec_div` expression
    * (one codegen'd loop; the `transform` lambda it replaces was
    * interpreted — and a scalar argument is evaluated once per ROW,
    * so the old keep-nrm-referenced-twice CollapseProject guard
    * against per-ELEMENT norm recomputation is no longer needed). */
  private[queries] def embNormed(spark: SparkSession, dir: String): DataFrame =
    embDouble(spark, dir)
      .select(col("vec_id"), col("label"), col("emb"), norm(col("emb")).as("nrm"))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), col("label"),
        call_function("graft_vec_div", col("emb"), col("nrm")).as("emb"))

  /** The fixed query set every ANN variant answers for: the first 10
    * vectors. One definition so the brute/LSH/IVF paths can never
    * silently diverge on what they are recalled against. */
  private[queries] val QueryK = 10
  private val QueryPred = col("vec_id") < QueryK

  /** Shared ANN tail: exact re-rank of candidate (qid, nid) pairs —
    * fetch both embeddings by id (queries broadcast), exact dot,
    * deterministic top-k per query. Keeping this in one place means
    * a change to k / tie-breaking / the query set applies to every
    * ANN variant, so the recall@5 comparisons stay like-for-like. */
  private def topkByDot(emb: DataFrame, candidates: DataFrame): DataFrame = {
    val pairs = candidates
      .join(broadcast(emb.filter(QueryPred)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"))), Seq("qid"))
      .join(emb.select(col("vec_id").as("nid"), col("emb")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qemb"), col("emb")), 4).as("sim"))
    pairs.withColumn("rank", row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** Brute-force cosine top-k: the first 10 vectors as queries,
    * top-5 neighbors each. The query side is broadcast (it is tiny
    * by construction), so the "cross join" is really one
    * broadcast-nested-loop scan of the corpus — the exact-search
    * baseline every ANN variant is measured against. Deterministic:
    * similarity rounded, ties broken by neighbor id. */
  def annBruteTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = embNormed(spark, dir)
    val queries = emb.filter(QueryPred)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val pairs = emb.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(dot(col("qemb"), col("emb")), 4).as("sim"))
    pairs.withColumn("rank", row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  private val EmbDim = 64

  /** Deterministic hyperplane for plane `p`: dim weights in
    * {-2,-1,1,2} from a seeded PRNG, materialized ONCE on the driver
    * as a literal array — the projection is then a plain `graft_dot`
    * against a constant, instead of a per-element hash expression
    * evaluated per row per plane. */
  private def planeWeights(p: Int): Seq[Double] = {
    val rnd = new scala.util.Random(0x9E3779B97F4A7C15L ^ p)
    Seq.fill(EmbDim)(rnd.nextInt(4) match {
      case 0 => -2.0; case 1 => -1.0; case 2 => 1.0; case _ => 2.0
    })
  }

  /** Signed projection of `v` onto hyperplane `p`. */
  private def planeProj(p: Int, v: Column): Column =
    dot(v, typedlit(planeWeights(p)))

  /** DuckDB oracle for `ann_lsh_topk`, generated here so it shares
    * the engine's constants (planes, tables, bits, query set, k).
    * The LSH path's only non-SQL ingredient is the hyperplane set,
    * and that is a data-independent driver-side constant — rendered
    * into the VALUES list below from the SAME planeWeights the
    * bucketing pass uses, so the two engines can never drift on the
    * planes: bucket = OR of sign bits per table (sum of distinct
    * powers of two ≡ the engine's bitwiseOR), a pair is a candidate
    * iff some table agrees on all bits, survivors re-ranked by the
    * identical rounded exact dot (numeric parity already pinned by
    * the ann_brute_topk oracle row). Projection SIGN is
    * scale-invariant, so the oracle projects the raw embeddings
    * where the engine projects the normalized ones. */
  private[graft] def annLshOracleSql: String = {
    // table index and sign-bit weight are pure functions of the
    // plane id, so they render as VALUES literals — this keeps the
    // text free of the dialect-divergent `//` and `<<` operators
    // (verbatim-portable, round 13)
    val planes = (0 until AnnTables * AnnBits).map { p =>
      planeWeights(p).map(dlit).mkString(
        s"($p, ${p / AnnBits}, ${1 << (p % AnnBits)}, list_value(", ", ", "))")
    }.mkString(",\n           ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings
                  WHERE list_dot_product(list_transform(embedding, v -> CAST(v AS DOUBLE)),
                                         list_transform(embedding, v -> CAST(v AS DOUBLE))) > 0),
            planes(p, tb, bv, w) AS (VALUES
           $planes),
            proj AS (SELECT e.vec_id, p.tb AS tbl,
                  CASE WHEN list_dot_product(e.emb, w) > 0
                       THEN p.bv ELSE 0 END AS bit
                  FROM e CROSS JOIN planes p),
            bk AS (SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket
                  FROM proj GROUP BY 1, 2),
            qb AS (SELECT vec_id AS qid, tbl, bucket FROM bk WHERE vec_id < $QueryK),
            cand AS (SELECT DISTINCT qb.qid, bk.vec_id AS nid
                  FROM bk JOIN qb USING (tbl, bucket) WHERE bk.vec_id <> qb.qid),
            pr AS (SELECT c.qid, c.nid,
                  round(list_dot_product(qe.emb, ne.emb) /
                    (sqrt(list_dot_product(qe.emb, qe.emb)) *
                     sqrt(list_dot_product(ne.emb, ne.emb))), 4) AS sim
                  FROM cand c
                  JOIN e qe ON qe.vec_id = c.qid
                  JOIN e ne ON ne.vec_id = c.nid),
            r AS (SELECT qid, nid, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
                  FROM pr)
       SELECT qid, rank, nid, sim FROM r WHERE rank <= 5"""
  }

  /** Array of `nTables` bucket keys: table t's key packs hyperplane
    * sign bits t*bits .. t*bits+bits-1. Multi-table OR (band-OR, the
    * same banding structure as TextQueries.dedupMinhash): a pair is
    * a candidate if ANY table agrees on all `bits` signs — each
    * extra table recovers neighbors a single table loses to one
    * disagreeing bit. */
  private def bucketKeys(v: Column, nTables: Int, bits: Int): Column =
    array((0 until nTables).map { t =>
      (0 until bits).map { j =>
        when(planeProj(t * bits + j, v) > 0, lit(1 << j)).otherwise(lit(0))
      }.reduce((a, c) => a.bitwiseOR(c))
    }: _*)

  /** Narrow (vec_id, label, table, bucket) frame — one row per
    * vector per table. The explode is over a NARROW projection: the
    * 64-double embedding does not ride the T-fold fan-out or the
    * bucket shuffle; embeddings are re-joined by id only for the
    * candidates that survive. */
  private def bucketed(emb: DataFrame, nTables: Int, bits: Int): DataFrame =
    emb.select(col("vec_id"), col("label"),
        posexplode(bucketKeys(col("emb"), nTables, bits)))
      .select(col("vec_id"), col("label"),
        col("pos").as("table"), col("col").as("bucket"))

  /** Operating point for the ANN/near-dup scale paths. Chosen for
    * MEASURED recall on this corpus (see VectorQueriesSpec): the
    * testdata embeddings are near-isotropic (top-5 neighbor cosine
    * ~0.3, i.e. hyperplane-agreement p ≈ 0.6), which is the
    * hardest regime for LSH — at p ≈ 0.6 the scan-fraction ~
    * T/2^bits needed for high recall approaches 1, so short bands
    * and many tables are the only way to a recall floor. On a real
    * embedding corpus (clustered, neighbor cosine ≥ 0.9, p ≥ 0.9)
    * the SAME structure prunes aggressively with bits = 12-16: the
    * parameters are data-dependent, the shape is not. */
  private val AnnTables = 16
  private val AnnBits = 3

  /** LSH ANN top-k, multi-table: candidates are (query, corpus)
    * pairs sharing any table's bucket; survivors are re-ranked by
    * the exact dot product, so precision of the emitted top-5 is
    * exact over the candidate set and recall is the only
    * approximation (measured ≥ 0.9 vs annBruteTopk in
    * VectorQueriesSpec). Scale shape: bucket keys are one narrow
    * pass, the join shuffles (table, bucket) key rows bounded by
    * T × corpus, and wide embedding arrays are only fetched for
    * surviving candidate ids. FULL oracle row (annLshOracleSql —
    * the planes are data-independent constants rendered into the
    * SQL); the recall spec vs annBruteTopk remains the semantic
    * ground truth. */
  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    // emb feeds the bucketing pass AND both re-rank joins in
    // topkByDot — persist so the normalize pass runs once, not three
    // times (caller owns cache lifecycle; Verify/Bench clearCache
    // between queries, same contract as hashedShinglesOf).
    val emb = embNormed(spark, dir).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = bucketed(emb, AnnTables, AnnBits)
    val queries = corpus.filter(QueryPred)
      .select(col("vec_id").as("qid"), col("table"), col("bucket"))
    val candidates = corpus.join(broadcast(queries), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"))
      .distinct()
    CacheScope.owned(topkByDot(emb, candidates), emb)
  }

  /** Exact top-k scoring of EXTERNAL query vectors against the
    * corpus — the serving shape (a stream of incoming embeddings
    * ranked against a static index; see StreamOps.annScoreBatch).
    * Queries (`qid`, `qemb` as array<double>) are normalized here
    * and broadcast; the corpus streams through one broadcast
    * nested-loop scan, exactly like annBruteTopk. Unlike the
    * in-corpus ANN queries there is no self-exclusion: an incoming
    * vector identical to a corpus vector SHOULD report it at
    * sim 1.0 (that is the near-dup signal). */
  def scoreQueries(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int = 5): DataFrame = {
    val emb = embNormed(spark, dir)
    val q = queries
      .select(col("qid"), col("qemb").cast("array<double>").as("qemb"))
      .select(col("qid"), col("qemb"), norm(col("qemb")).as("qn"))
      .filter(col("qn") > 0)
      .select(col("qid"),
        call_function("graft_vec_div", col("qemb"), col("qn")).as("qemb"))
    val pairs = emb.join(broadcast(q), lit(true))
      .select(col("qid"), col("vec_id").as("nid"),
        round(dot(col("qemb"), col("emb")), 4).as("sim"))
    pairs.withColumn("rank", row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** Embedding-cosine near-dup, EXACT: all same-label pairs above a
    * cosine threshold — the oracle-checkable ground truth, exactly
    * analogous to TextQueries.dedupNgramJaccard on the text side.
    * O(n²/labels) within label: fine as ground truth at verification
    * scale, fenced off as NOT the production path at 100 TB — that
    * is embNearDupLsh below, whose recall is measured against this
    * output in VectorQueriesSpec. */
  def embNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = embNormed(spark, dir)
    val a = emb.select(col("vec_id").as("a_id"), col("label"), col("emb").as("a_emb"))
    val b = emb.select(col("vec_id").as("b_id"), col("label"), col("emb").as("b_emb"))
    a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
      .withColumn("cos", round(dot(col("a_emb"), col("b_emb")), 4))
      .filter(col("cos") >= 0.4)
      .select(col("label"), col("a_id"), col("b_id"), col("cos"))
  }

  /** Embedding-cosine near-dup, LSH scale path: candidate pairs come
    * from the multi-table hyperplane buckets (self-join on
    * (table, bucket) — the join input is BUCKETS, not labels, so
    * candidate volume is governed by bucket population, not label
    * cardinality), deduped to bare id pairs, then verified with the
    * exact dot product and the same-label + threshold predicate.
    * Precision is exact (every emitted pair passed the exact check);
    * recall vs embNearDup is measured in VectorQueriesSpec.
    *
    * Scale note (measured on this corpus): at threshold 0.4 —
    * hyperplane agreement p ≈ 0.65 — NO parameterization of
    * hyperplane LSH is simultaneously complete and sublinear; that
    * is a property of the threshold, not the implementation
    * (ρ = ln p1/ln p2 → 1 as the threshold falls). The exact query
    * above therefore stays the oracle, and this path is the one
    * whose candidate volume survives 100 TB when the threshold is a
    * true near-dup bar (≥ 0.9 ⇒ p ≥ 0.93 ⇒ wide bands prune hard). */
  def embNearDupLsh(spark: SparkSession, dir: String): DataFrame = {
    // Both persists mirror minhashCandidatesOf: `emb` is read by the
    // bucketing pass plus BOTH verification re-joins; `narrow` is
    // both legs of the bucket self-join. Without them each leg
    // re-runs the 48 graft_dot hyperplane projections per vector —
    // measured 2× the warm query time. Caller owns cache lifecycle
    // (Verify/Bench clearCache between queries).
    val emb = embNormed(spark, dir).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val narrow = bucketed(emb, AnnTables, AnnBits).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = narrow.select(col("table"), col("bucket"),
      col("vec_id").as("a_id"), col("label"))
    val r = narrow.select(col("table"), col("bucket"),
      col("vec_id").as("b_id"), col("label").as("b_label"))
    val candidates = l.join(r, Seq("table", "bucket"))
      .filter(col("a_id") < col("b_id") && col("label") === col("b_label"))
      .select(col("label"), col("a_id"), col("b_id"))
      .distinct()
    candidates
      .join(emb.select(col("vec_id").as("a_id"), col("emb").as("a_emb")), Seq("a_id"))
      .join(emb.select(col("vec_id").as("b_id"), col("emb").as("b_emb")), Seq("b_id"))
      .withColumn("cos", round(dot(col("a_emb"), col("b_emb")), 4))
      .filter(col("cos") >= 0.4)
      .select(col("label"), col("a_id"), col("b_id"), col("cos"))
      .transform(CacheScope.owned(_, emb, narrow))
  }

  /** IVF (inverted-file) ANN top-k: the centroid-based scale path,
    * complementing the hyperplane-LSH one.
    *
    * Train: k coarse cells from one Lloyd iteration over a BOUNDED
    * DETERMINISTIC SAMPLE (first `maxTrain` by vec_id via
    * TakeOrdered — the annPqTopk argument: a coarse quantizer needs
    * cluster statistics, not the census), computed on the driver:
    * seeds are the first k sample vectors, every sample vector
    * assigns to its nearest seed by dot product (normalized corpus,
    * so cosine == dot), per-cell means become the literal centroid
    * arrays — the broadcast-quantizer pattern. At spec scales the
    * corpus is under maxTrain, so the sample IS the census and the
    * centroids are identical to the previous distributed-iteration
    * form; the full-corpus passes that remain are the narrow
    * assignment scan and the probe join. (The distributed-training
    * demonstration lives in emb_kmeans, where training IS the
    * query.)
    *
    * Search: queries rank all k cells by centroid dot and probe the
    * top `nprobe`; candidates are the corpus rows of the probed
    * cells, re-ranked by the exact dot product. Recall vs brute
    * force is measured in VectorQueriesSpec. Scale shape: the
    * assignment pass is narrow (k dots per row, no shuffle), the
    * cell join shuffles only (vec_id, cell) pairs, and embeddings
    * are re-fetched by id for candidates only. nprobe/k trade recall
    * against the corpus fraction scanned (nprobe/k on average). */
  def annIvfTopk(spark: SparkSession, dir: String,
      k: Int = 16, nprobe: Int = 6, maxTrain: Int = 4096): DataFrame = {
    // Persisted because training (two collects) AND the returned
    // search plan (assignment pass + both topkByDot re-joins) all
    // read it. Caller owns cache lifecycle — unpersisting here would
    // drop the blocks before the caller's action and force the
    // normalize pass to re-run for every downstream leg. Verify and
    // Bench clearCache between queries; long-lived sessions should
    // do the same (see hashedShinglesOf for the same contract).
    val emb = embNormed(spark, dir).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def cellDots(cents: Seq[Seq[Double]], v: Column): Column =
      array(cents.map(c => dot(v, typedlit(c))): _*)
    def assign(cents: Seq[Seq[Double]], v: Column): Column = {
      val dots = cellDots(cents, v)
      array_position(dots, array_max(dots)).cast("int")
    }

    // bounded sample collect (deterministic, order-free via vec_id);
    // one Lloyd iteration on the driver with the SAME max-dot
    // assignment the query-side scan uses
    val sample: Array[Array[Double]] = emb.orderBy(col("vec_id"))
      .limit(maxTrain)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k,
      s"IVF training sample ${sample.length} < k=$k")
    val seeds = sample.take(k)
    def nearestByDot(cents: Array[Array[Double]], v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MinValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * cents(c)(i); i += 1 }
        if (d > bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    val sums = Array.fill(k, EmbDim)(0.0); val ns = new Array[Long](k)
    sample.foreach { v =>
      val c = nearestByDot(seeds, v); ns(c) += 1
      var i = 0; while (i < EmbDim) { sums(c)(i) += v(i); i += 1 }
    }
    val trained: Seq[Seq[Double]] = (0 until k).map(c =>
      if (ns(c) == 0) seeds(c).toSeq
      else (0 until EmbDim).map(i => sums(c)(i) / ns(c)))

    lastIvfModel = Some((trained, nprobe))
    val corpus = emb.select(col("vec_id"),
      assign(trained, col("emb")).as("cell"))
    val queryCells = emb.filter(QueryPred)
      .select(col("vec_id").as("qid"),
        posexplode(cellDots(trained, col("emb"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("col").desc, col("pos"))))
      .filter(col("rk") <= nprobe)
      .select(col("qid"), (col("pos") + 1).cast("int").as("cell"))
    val candidates = corpus.join(broadcast(queryCells), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"))
      .distinct()
    CacheScope.owned(topkByDot(emb, candidates), emb)
  }

  // ——— trained-model registers for the oracle renderers ———
  //
  // Verify evaluates SparkEntry.oracleSql AFTER running every query
  // in the same JVM, so by render time each register holds exactly
  // the model the dumped result was scored with. Training is
  // deterministic in every case (bounded id-ordered sample, fixed
  // seeds/iterations), so the model is a pure function of the sf
  // dir — the same contract as TextQueries.lastClassifierModel.
  @volatile private[graft] var lastIvfModel: Option[(Seq[Seq[Double]], Int)] = None
  @volatile private[graft] var lastKmeansModel: Option[Seq[Seq[Double]]] = None
  @volatile private[graft] var lastSemDedupModel: Option[(Seq[Seq[Double]], Double)] = None
  @volatile private[graft] var lastPqModel: Option[(Seq[Seq[Seq[Double]]], Int)] = None

  /** Render a Double so BOTH SQL parsers type it DOUBLE: a plain
    * decimal literal ("2.0") is DECIMAL in Spark (and DuckDB), and a
    * list_value of all-plain literals becomes a decimal array that
    * graft_dot/list_dot_product reject or silently widen; appending
    * E0 forces the double type with the identical value (parsing
    * "0.1E0" as double ≡ casting decimal 0.1 to double — both are
    * nearest-double of the same literal). */
  private[queries] def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains('E') || s.contains('e')) s else s + "E0"
  }

  /** Centroid VALUES rows `(cid 1-based, weights, |c|²)` — |c|² is
    * rendered from the SAME driver arithmetic nearestCentroid bakes
    * into its literal, so the two engines share it to the bit. */
  private[queries] def centroidValues(cents: Seq[Seq[Double]]): String =
    cents.zipWithIndex.map { case (c, i) =>
      s"(${i + 1}, list_value(${c.map(dlit).mkString(", ")}), ${dlit(c.map(x => x * x).sum)})"
    }.mkString(",\n           ")

  /** Normalized-corpus CTE shared by the IVF/SemDeDup oracles —
    * the SQL twin of embNormed (list_transform division produces
    * bit-identical doubles to graft_vec_div; the forward-loop
    * list_dot_product matches graft_dot, the parity ann_lsh_topk's
    * green oracle already rests on). */
  private[queries] val NormedCte =
    """e0 AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
       nn AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e0),
       e AS (SELECT vec_id, list_transform(emb, x -> x / nrm) AS emb
             FROM nn WHERE nrm > 0)"""

  /** Nearest-centroid assignment CTEs over frame `src`: score is the
    * same `|c|² - 2·v·c` L2 surrogate nearestCentroid computes, rk=1
    * is its first-minimum tie rule. */
  private def assignCte(src: String): String =
    s"""sc AS (SELECT vec_id, cid, c2 - 2 * list_dot_product(emb, w) AS score
             FROM $src CROSS JOIN cents),
       asg AS (SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rk
             FROM sc)"""

  /** DuckDB oracle for `emb_kmeans`, rendered from the Lloyd-trained
    * centroids — None (→ rows-only driver check) until the query has
    * run in this JVM. */
  private[graft] def kmeansOracleSql: Option[String] =
    lastKmeansModel.map { cents =>
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
            cents(cid, w, c2) AS (VALUES
           ${centroidValues(cents)}),
            ${assignCte("e")},
            a AS (SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM asg WHERE rk = 1),
            sz AS (SELECT cluster_id, count(*) AS cluster_n FROM a GROUP BY 1)
         SELECT vec_id, cluster_id, cluster_n FROM a JOIN sz USING (cluster_id)"""
    }

  /** DuckDB oracle for `emb_semdedup`: rendered centroids assign the
    * cluster, the within-cluster drop rule compares the ROUNDED pair
    * cosine exactly as the engine does. */
  private[graft] def semDedupOracleSql: Option[String] =
    lastSemDedupModel.map { case (cents, tau) =>
      s"""WITH $NormedCte,
            cents(cid, w, c2) AS (VALUES
           ${centroidValues(cents)}),
            ${assignCte("e")},
            a AS (SELECT e.vec_id, asg.cid AS cl, e.emb
                  FROM e JOIN asg ON e.vec_id = asg.vec_id AND asg.rk = 1),
            drp AS (SELECT DISTINCT b.vec_id
                  FROM a x JOIN a b ON x.cl = b.cl AND x.vec_id < b.vec_id
                  WHERE round(list_dot_product(x.emb, b.emb), 4) >= $tau)
         SELECT a.vec_id, CAST(a.cl AS BIGINT) AS cluster_id,
           (drp.vec_id IS NULL) AS kept
         FROM a LEFT JOIN drp ON a.vec_id = drp.vec_id"""
    }

  /** DuckDB oracle body shared by `ann_ivf_topk` and the stored IVF
    * index: rendered cell centroids, max-dot assignment (first-max
    * tie rule), top-`nprobe` probed cells per query, exact
    * rounded-cosine re-rank — the LSH oracle's tail on IVF's
    * candidate set. The in-query path excludes self-pairs; the
    * stored serving path keeps them (its queries are external by
    * contract, so "self" has no special status). */
  private[queries] def ivfOracleSqlOf(cents: Seq[Seq[Double]], nprobe: Int,
      excludeSelf: Boolean, delPred: Option[String] = None): String = {
    // delPred: SQL boolean over the placeholder $ID — the deletion
    // predicate of a delete-bearing index (StreamOps.deleteDocs).
    // Deleted vectors stay in the corpus CTE (the quantizer was
    // trained with them and probe ranking only reads centroids) but
    // never become candidates — exactly the serve's row-level filter.
    val conds = (if (excludeSelf) Seq("c.vec_id <> qc.qid") else Seq.empty) ++
      delPred.map(p => "NOT (" + p.replace("$ID", "c.vec_id") + ")").toSeq
    val selfF = if (conds.isEmpty) "" else conds.mkString("WHERE ", " AND ", "")
    s"""WITH $NormedCte,
          cents(cid, w, c2) AS (VALUES
         ${centroidValues(cents)}),
          d AS (SELECT vec_id, cid, list_dot_product(emb, w) AS dp
                FROM e CROSS JOIN cents),
          rk AS (SELECT vec_id, cid AS cell,
                row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid) AS rk
                FROM d),
          corpus AS (SELECT vec_id, cell FROM rk WHERE rk = 1),
          qc AS (SELECT vec_id AS qid, cell FROM rk
                WHERE vec_id < $QueryK AND rk <= $nprobe),
          cand AS (SELECT DISTINCT qc.qid, c.vec_id AS nid
                FROM corpus c JOIN qc USING (cell) $selfF),
          pr AS (SELECT cand.qid, cand.nid,
                round(list_dot_product(qe.emb, ne.emb), 4) AS sim
                FROM cand
                JOIN e qe ON qe.vec_id = cand.qid
                JOIN e ne ON ne.vec_id = cand.nid),
          r AS (SELECT qid, nid, sim,
                row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
                FROM pr)
       SELECT qid, rank, nid, sim FROM r WHERE rank <= 5"""
  }

  private[graft] def ivfOracleSql: Option[String] =
    lastIvfModel.map { case (cents, nprobe) =>
      ivfOracleSqlOf(cents, nprobe, excludeSelf = true) }

  /** Codebook VALUES rows `(mm 0-based, kk 0-based, sub-centroid,
    * |c|²)`. */
  private[queries] def bookValues(book: Seq[Seq[Seq[Double]]]): String =
    (for ((cs, mm) <- book.zipWithIndex; (c, kk) <- cs.zipWithIndex)
      yield s"($mm, $kk, list_value(${c.map(dlit).mkString(", ")}), ${dlit(c.map(x => x * x).sum)})")
      .mkString(",\n           ")

  /** DuckDB oracle body shared by `ann_pq_topk` and the stored PQ
    * index. Every stage is bit-parity with the engine: the encode
    * score `2·x·c − |c|²` matches graft_pq_encode (pinned
    * code-for-code against the builtin form), the LUT entries are
    * the same forward-loop sub-dots, and the ADC score is an
    * UNROLLED m-term sum in subspace order — the exact left-to-right
    * reduce pqAdcExpr generates, not a SQL aggregate whose order the
    * engine may choose. */
  private[queries] def pqOracleSqlOf(book: Seq[Seq[Seq[Double]]],
      shortlist: Int, excludeSelf: Boolean): String = {
    val m = book.length; val k = book.head.length
    val sub = book.head.head.length
    val adcTerms = (0 until m).map(mm => s"list_extract(lut, c$mm + ${mm * k} + 1)")
      .mkString(" + ")
    val codeCols = (0 until m)
      .map(mm => s"max(CASE WHEN mm = $mm THEN code END) AS c$mm")
      .mkString(",\n                ")
    val selfF = if (excludeSelf) "WHERE cd.vec_id <> lu.qid" else ""
    s"""WITH $NormedCte,
          book(mm, kk, w, c2) AS (VALUES
         ${bookValues(book)}),
          sc AS (SELECT e.vec_id, b.mm, b.kk,
                2 * list_dot_product(array_slice(e.emb, b.mm * $sub + 1, b.mm * $sub + $sub), b.w)
                  - b.c2 AS score
                FROM e CROSS JOIN book b),
          cr AS (SELECT vec_id, mm, kk AS code,
                row_number() OVER (PARTITION BY vec_id, mm ORDER BY score DESC, kk) AS rk
                FROM sc),
          cd AS (SELECT vec_id,
                $codeCols
                FROM cr WHERE rk = 1 GROUP BY vec_id),
          q AS (SELECT vec_id AS qid, emb FROM e WHERE vec_id < $QueryK),
          lt AS (SELECT q.qid, b.mm, b.kk,
                list_dot_product(array_slice(q.emb, b.mm * $sub + 1, b.mm * $sub + $sub), b.w) AS v
                FROM q CROSS JOIN book b),
          lu AS (SELECT qid,
                list_transform(list_sort(list(list_value(CAST(mm * $k + kk AS DOUBLE), v))),
                  p -> list_extract(p, 2)) AS lut
                FROM lt GROUP BY qid),
          adc AS (SELECT lu.qid, cd.vec_id AS nid, $adcTerms AS adc_score
                FROM cd CROSS JOIN lu $selfF),
          sl AS (SELECT qid, nid FROM (SELECT qid, nid,
                row_number() OVER (PARTITION BY qid ORDER BY adc_score DESC, nid) AS rk
                FROM adc) WHERE rk <= $shortlist),
          pr AS (SELECT sl.qid, sl.nid,
                round(list_dot_product(qe.emb, ne.emb), 4) AS sim
                FROM sl JOIN e qe ON qe.vec_id = sl.qid
                        JOIN e ne ON ne.vec_id = sl.nid),
          r AS (SELECT qid, nid, sim,
                row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
                FROM pr)
       SELECT qid, rank, nid, sim FROM r WHERE rank <= 5"""
  }

  private[graft] def pqOracleSql: Option[String] =
    lastPqModel.map { case (book, shortlist) =>
      pqOracleSqlOf(book, shortlist, excludeSelf = true) }

  /** DuckDB oracle for the composed stored IVF-PQ index: the IVF
    * oracle's cell-assignment/probe CTEs gate the PQ oracle's
    * ADC scoring — candidates are exactly the probed cells' members,
    * ADC picks the shortlist, the exact re-rank picks top-5. Every
    * stage reuses the bit-parity pieces of its component oracles
    * (max-dot cell with lowest-cid ties, unrolled subspace-order ADC
    * sum, rounded exact sim), so the composition is pinned end to
    * end, serving semantics (self-matches included). */
  private[queries] def ivfPqOracleSqlOf(cents: Seq[Seq[Double]],
      book: Seq[Seq[Seq[Double]]], nprobe: Int, shortlist: Int): String = {
    val m = book.length; val k = book.head.length
    val sub = book.head.head.length
    val adcTerms = (0 until m)
      .map(mm => s"list_extract(lut, c$mm + ${mm * k} + 1)")
      .mkString(" + ")
    val codeCols = (0 until m)
      .map(mm => s"max(CASE WHEN mm = $mm THEN code END) AS c$mm")
      .mkString(",\n                ")
    s"""WITH $NormedCte,
          cents(cid, w, c2) AS (VALUES
         ${centroidValues(cents)}),
          book(mm, kk, w, c2) AS (VALUES
         ${bookValues(book)}),
          d AS (SELECT vec_id, cid, list_dot_product(emb, w) AS dp
                FROM e CROSS JOIN cents),
          rkc AS (SELECT vec_id, cid AS cell,
                row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid) AS rk
                FROM d),
          corpus AS (SELECT vec_id, cell FROM rkc WHERE rk = 1),
          qc AS (SELECT vec_id AS qid, cell FROM rkc
                WHERE vec_id < $QueryK AND rk <= $nprobe),
          sc AS (SELECT e.vec_id, b.mm, b.kk,
                2 * list_dot_product(array_slice(e.emb, b.mm * $sub + 1, b.mm * $sub + $sub), b.w)
                  - b.c2 AS score
                FROM e CROSS JOIN book b),
          cr AS (SELECT vec_id, mm, kk AS code,
                row_number() OVER (PARTITION BY vec_id, mm ORDER BY score DESC, kk) AS rk
                FROM sc),
          cd AS (SELECT vec_id,
                $codeCols
                FROM cr WHERE rk = 1 GROUP BY vec_id),
          q AS (SELECT vec_id AS qid, emb FROM e WHERE vec_id < $QueryK),
          lt AS (SELECT q.qid, b.mm, b.kk,
                list_dot_product(array_slice(q.emb, b.mm * $sub + 1, b.mm * $sub + $sub), b.w) AS v
                FROM q CROSS JOIN book b),
          lu AS (SELECT qid,
                list_transform(list_sort(list(list_value(CAST(mm * $k + kk AS DOUBLE), v))),
                  p -> list_extract(p, 2)) AS lut
                FROM lt GROUP BY qid),
          cand AS (SELECT DISTINCT qc.qid, c.vec_id AS nid
                FROM corpus c JOIN qc USING (cell)),
          adc AS (SELECT cand.qid, cand.nid, $adcTerms AS adc_score
                FROM cand JOIN cd ON cd.vec_id = cand.nid
                          JOIN lu ON lu.qid = cand.qid),
          sl AS (SELECT qid, nid FROM (SELECT qid, nid,
                row_number() OVER (PARTITION BY qid ORDER BY adc_score DESC, nid) AS rk
                FROM adc) WHERE rk <= $shortlist),
          pr AS (SELECT sl.qid, sl.nid,
                round(list_dot_product(qe.emb, ne.emb), 4) AS sim
                FROM sl JOIN e qe ON qe.vec_id = sl.qid
                        JOIN e ne ON ne.vec_id = sl.nid),
          r AS (SELECT qid, nid, sim,
                row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
                FROM pr)
       SELECT qid, rank, nid, sim FROM r WHERE rank <= 5"""
  }

  /** ANN via product quantization with asymmetric distance (ADC) —
    * the FAISS-style compression path for 100 TB of embeddings. The
    * corpus is re-encoded as `m` small codes (one per subspace,
    * nearest of `k` trained sub-centroids in L2), so the scan side
    * shrinks from EmbDim doubles to m bytes per vector (~64× here)
    * and candidate scoring never touches raw vectors: each query
    * carries a lookup table of its subvector·centroid dot products
    * (m×k doubles, broadcast with the query), and an approximate
    * dot is m array lookups summed — then the ADC shortlist is
    * re-ranked by the exact dot (the same candidates-then-exact tail
    * every ANN variant here shares).
    *
    * Training is the FAISS shape: codebooks are fit to a BOUNDED
    * DETERMINISTIC SAMPLE (`vec_id % trainMod == 0`, first
    * `maxTrain` by id via TakeOrdered — k-means needs cluster
    * statistics, not the census, and maxTrain ≫ k points per
    * sub-centroid), collected once and Lloyd-iterated per subspace
    * ON THE DRIVER — the model is m×k×(EmbDim/m) doubles and the
    * sample is maxTrain×EmbDim regardless of corpus size, so
    * training is one bounded collect + driver arithmetic, zero
    * repeated corpus scans. Seeds are the sample's first k
    * subvectors; empty cells keep their previous centroid. Only the
    * ENCODE pass touches every row — at 100 TB the full-corpus cost
    * is ONE narrow scan, and the pre-scoring driver path is a single
    * Spark job (the sample TakeOrdered, which also collects the
    * query vectors: qids sort first, so the +QueryK limit headroom
    * always retains them).
    *
    * Scale shape: encode pass is narrow (m×k sub-dots per row, no
    * shuffle); scoring joins the m-byte code table against the
    * broadcast query LUTs — the full-corpus scan cost is the point
    * of PQ (compressed-domain brute force); the exact re-rank
    * re-fetches embeddings for shortlist×queries ids only. Recall@5
    * vs brute force is spec'd in VectorQueriesSpec and measured by
    * MeasureGT. */
  def annPqTopk(spark: SparkSession, dir: String,
      m: Int = 8, k: Int = 32, shortlist: Int = 100,
      lloydRounds: Int = 4, trainMod: Int = 1, maxTrain: Int = 4096): DataFrame = {
    val sub = EmbDim / m
    // persisted: the sample collect, the encode pass, and the
    // re-rank joins all read it (same cache contract as annIvfTopk)
    val emb = embNormed(spark, dir).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def assignExpr(book: Seq[Seq[Seq[Double]]], v: Column): Column =
      pqAssignExpr(book, v, m, sub)

    // ONE bounded job for everything driver-side: TakeOrdered over
    // sample ∪ queries (queries' ids < QueryK sort first, so the
    // +QueryK headroom keeps them under any maxTrain). At 100 TB set
    // trainMod ≈ corpus/maxTrain so the id-ordered limit sees a
    // corpus-spanning stride rather than the first ids; at test
    // scale the corpus is under maxTrain and trainMod=1 trains on
    // all of it (codebook quality needs ≫ k points per centroid —
    // trainMod=4 at 500 vectors measurably cost recall).
    val collected = emb
      .filter(pmod(col("vec_id"), lit(trainMod)) === 0 || QueryPred)
      .orderBy(col("vec_id")).limit(maxTrain + QueryK)
      .select(col("vec_id"), col("emb")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val sample: Array[Array[Double]] =
      collected.collect { case (id, v) if id % trainMod == 0 => v }.take(maxTrain)
    val queryVecs: Seq[(Long, Array[Double])] =
      collected.collect { case (id, v) if id < QueryK => (id, v) }.toSeq
    require(sample.length >= k,
      s"PQ training sample ${sample.length} < k=$k — lower trainMod")

    val book = pqTrain(sample, m, k, sub, lloydRounds)
    lastPqModel = Some((book, shortlist))

    val corpusCodes = emb.select(col("vec_id"),
      assignExpr(book, col("emb")).as("codes"))

    // query LUTs from the already-collected query vectors — no extra
    // job; broadcast with the scoring join (quantizer-sized)
    import spark.implicits._
    val luts = queryVecs.map { case (id, q) => (id, pqLut(book, q)) }
      .toDF("qid", "lut")

    val adc = pqAdcExpr(m, k)
    // the rank-filter shape is WindowGroupLimit-eligible (pinned in
    // PlanSpec): each partition keeps its local top-`shortlist` per
    // qid map-side, so the per-qid sort never sees the full corpus
    val candidates = corpusCodes.crossJoin(broadcast(luts))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), adc.as("adc_score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("adc_score").desc, col("nid"))))
      .filter(col("rk") <= shortlist)
      .select(col("qid"), col("nid"))
    CacheScope.owned(topkByDot(emb, candidates), emb)
  }

  // ---- PQ building blocks, shared by annPqTopk (in-query) and
  // ---- VectorIndex (persisted index build/search) ----

  /** Nearest sub-centroid code per subspace: argmax of 2·x·c − |c|²
    * (|x|² is constant across candidates, so it never needs
    * computing) — the native `graft_pq_encode` Catalyst expression
    * (functions/PqEncode.scala): the encode is the ONE full-corpus
    * pass of every PQ path, and the builtin zip_with/aggregate
    * composition it replaces is interpreted (higher-order functions
    * don't codegen). The whole codebook rides as one 3-D literal;
    * GraftFunctionsSpec pins code-for-code equality against the
    * builtin form. `m`/`sub` derive from the book inside the
    * expression (kept in the signature for call-site clarity). */
  private[queries] def pqAssignExpr(book: Seq[Seq[Seq[Double]]], v: Column,
      m: Int, sub: Int): Column =
    call_function("graft_pq_encode", v, typedlit(book))

  /** Lloyd per subspace on the driver: maxTrain×sub points, k
    * centroids — bounded arithmetic (µs at any corpus size), the
    * standard quantizer-training locus when the model is
    * broadcast-sized. Nearest by L2; ties take the lowest index;
    * an emptied cell keeps its previous centroid. */
  private[graft] def pqTrain(sample: Array[Array[Double]], m: Int, k: Int,
      sub: Int, lloydRounds: Int): Seq[Seq[Seq[Double]]] = {
    def nearestIdx(cents: Array[Array[Double]], p: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0; var i = 0
        while (i < sub) { val x = p(i) - cents(c)(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    (0 until m).map { mm =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, mm * sub, (mm + 1) * sub))
      var cents = pts.take(k).map(_.clone)
      for (_ <- 0 until lloydRounds) {
        val sums = Array.fill(k, sub)(0.0); val ns = new Array[Long](k)
        pts.foreach { p =>
          val c = nearestIdx(cents, p); ns(c) += 1
          var i = 0; while (i < sub) { sums(c)(i) += p(i); i += 1 }
        }
        cents = Array.tabulate(k)(c =>
          if (ns(c) == 0) cents(c)
          else Array.tabulate(sub)(i => sums(c)(i) / ns(c)))
      }
      cents.map(_.toSeq).toSeq
    }
  }

  /** Flat m×k LUT of a query's subvector·centroid dot products. */
  private[queries] def pqLut(book: Seq[Seq[Seq[Double]]],
      q: Seq[Double]): Seq[Double] = {
    val m = book.length; val k = book.head.length
    val sub = book.head.head.length
    for (mm <- 0 until m; kk <- 0 until k) yield
      (0 until sub).map(i => q(mm * sub + i) * book(mm)(kk)(i)).sum
  }

  /** ADC: approximate dot = sum over subspaces of the query's LUT
    * entry at (subspace, code) — m lookups, statically unrolled to
    * a flat add chain (m is a compile-time constant; the unroll
    * stays in whole-stage codegen with no lambda dispatch). Expects
    * `lut` and `codes` columns in scope. */
  private[queries] def pqAdcExpr(m: Int, k: Int): Column =
    (0 until m).map(mm => element_at(col("lut"),
        (element_at(col("codes"), mm + 1) + (mm * k + 1)).cast("int")))
      .reduce(_ + _)

  private[queries] val Dim = EmbDim

  /** Centroid roll-up: per-label mean vector, its norm, and the
    * cell-dispersion metric (mean member cosine to the centroid —
    * the quality number IVF training watches). The centroid pass is
    * one map-side-combined agg over the `graft_vec_sum` array
    * aggregate — ONE O(dim) buffer per group instead of dim separate
    * `sum(element_at)` aggregate columns, whose generated class cost
    * seconds of Janino compile at dim 64 and would exceed JVM method
    * limits at production embedding dims (512+). Dispersion is the
    * standard second pass with the 10-row centroid table broadcast
    * back onto the corpus. Full DuckDB oracle (per-dim sums via
    * unnest + generate_subscripts). */
  def embCentroids(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val agged = emb.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        call_function("graft_vec_sum", col("emb")).as("svec"))
    val cents = agged.select(col("label"), col("n").as("n_vectors"),
      call_function("graft_vec_div", col("svec"), col("n").cast("double"))
        .as("cvec"))
    val dispersion = emb.join(broadcast(cents.select(col("label"), col("cvec"))),
        Seq("label"))
      .select(col("label"),
        (dot(col("emb"), col("cvec")) / (norm(col("emb")) * norm(col("cvec"))))
          .as("cos"))
      .groupBy(col("label"))
      .agg(round(avg(col("cos")), 4).as("avg_cos_to_centroid"))
    cents.join(dispersion, Seq("label"))
      .select(col("label"), col("n_vectors"),
        round(norm(col("cvec")), 4).as("centroid_norm"),
        col("avg_cos_to_centroid"))
  }

  /** Embedding outlier audit — the SemDeDup/SSL-prototypes-style
    * centroid-distance prune a curation pipeline runs to drop
    * mislabeled or off-distribution vectors before training: every
    * vector scored by cosine to its label centroid, flagged when the
    * (rounded) cosine falls below `threshold` (0.0 = anti-correlated
    * with its own cluster center).
    *
    * Shape: the centroid pass is the same single graft_vec_sum
    * map-side-combined agg as embCentroids (groups × dim doubles on
    * the wire); scoring is one broadcast of the label-count centroid
    * table back onto the corpus — one narrow scan, no self-join.
    * The flag compares the ROUNDED cosine, so the oracle decides
    * identically from the same 4-decimal value it hashes. Full
    * DuckDB oracle (list_dot_product against the unnest-built
    * centroids). */
  def embOutliers(spark: SparkSession, dir: String,
      threshold: Double = 0.0): DataFrame = {
    val emb = embDouble(spark, dir)
    val cents = emb.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        call_function("graft_vec_sum", col("emb")).as("svec"))
      .select(col("label"),
        call_function("graft_vec_div", col("svec"), col("n").cast("double"))
          .as("cvec"))
    emb.join(broadcast(cents), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(dot(col("emb"), col("cvec")) /
          (norm(col("emb")) * norm(col("cvec"))), 4).as("cos_to_centroid"))
      .withColumn("is_outlier", col("cos_to_centroid") < threshold)
  }

  /** Duplicate clustering over the embedding near-dup graph — the
    * same clustersOf engine (contraction → bounded local finish /
    * distributed propagation) applied to the modality where
    * near-duplication is cosine similarity instead of token
    * overlap. The pair graph is oracle-exact (embNearDup), so the
    * clustering is oracle-checked end to end via DuckDB's recursive
    * reachability CTE — the cross-modality proof that the clustering
    * engine is pair-source-agnostic. */
  def embDedupClusters(spark: SparkSession, dir: String): DataFrame =
    TextQueries.clustersOf(embNearDup(spark, dir).select(col("a_id"), col("b_id")))
      .withColumnRenamed("doc_id", "vec_id")

  /** Nearest-centroid id (1-based) by squared L2, minimizing
    * |c|^2 - 2*v.c (the |v|^2 term is constant per point). Ties take
    * the lowest centroid index (array_position finds the first
    * minimum) — deterministic. */
  private def nearestCentroid(cents: Seq[Seq[Double]], v: Column): Column = {
    val scores = array(cents.map(c =>
      dot(v, typedlit(c)) * lit(-2.0) + lit(c.map(x => x * x).sum)): _*)
    array_position(scores, array_min(scores)).cast("int")
  }

  /** Budget of the `kmeans_local` gate: the element count (rows ×
    * dim) under which Lloyd training collects
    * the corpus once and iterates on the driver — 8M doubles ≈ 64 MB,
    * the BasketModelMaxElems driver-object envelope. Past it the
    * distributed per-iteration agg runs unchanged. */
  private[graft] val KmeansLocalMaxElems: Long = 8000000L

  /** Lloyd's k-means centroids after `iters` iterations, seeded by
    * the first k vectors (deterministic).
    *
    * Round-18 arithmetic: per-cluster sums accumulate in FIXED-POINT
    * integer micros — each element quantized once per iteration as
    * `(x * 1e6).toLong` (truncation toward zero, == the SQL
    * double→long cast) and summed as exact longs, centroid_d =
    * ms.toDouble / n / 1e6. Integer addition is order-free, so the
    * two routes below compute bit-identical centroids by construction
    * (the g1 integer-micros argument applied to Lloyd; the former
    * IEEE-double vec-sum depended on partial-merge arrival order):
    *
    *  - LOCAL KERNEL (the `kmeans_local` gate — stats bound, then
    *    rows × dim within KmeansLocalMaxElems): ONE corpus collect, then every iteration is
    *    driver arithmetic — no per-iteration job, no per-iteration
    *    codegen recompile of the k×dim literal assignment expression
    *    (each iteration's new centroid literals forced a fresh
    *    whole-stage compile, the flattest fixed cost in the bench's
    *    scaling table).
    *  - DISTRIBUTED (past the budget): per iteration one narrow
    *    assignment scan + posexplode into a map-side-combinable
    *    groupBy(cl, dim) of long micro-sums — the shuffle carries
    *    k×dim longs per task regardless of corpus size; the collected
    *    model is k×dim longs (the broadcast-quantizer pattern).
    *
    * Assignment everywhere is argmin of −2·dot(v,c)+|c|², first-min
    * tie-break — the kernel's Scala loop replicates graft_dot's
    * sequential i-order exactly. An emptied cluster keeps its
    * previous centroid. Route equality is spec-pinned
    * (VectorQueriesSpec, with `kmeans_local` forced dist). */
  private[graft] def kmeansCentroids(emb: DataFrame, k: Int,
      iters: Int): Seq[Seq[Double]] = {
    var cents: Seq[Seq[Double]] = emb.filter(col("vec_id") < k)
      .orderBy(col("vec_id"))
      .select(col("emb")).collect().map(_.getSeq[Double](0).toVector).toSeq
    if (iters == 0 || cents.isEmpty) return cents
    val dim = cents.head.length

    def centroidsOf(prev: Seq[Seq[Double]], n: Array[Long],
        sums: Array[Array[Long]]): Seq[Seq[Double]] =
      (1 to k).map(c => if (n(c) == 0L) prev(c - 1)
        else sums(c).map(ms => ms.toDouble / n(c) / 1e6).toVector)

    // LOCAL KERNEL: cheap stats bound first (zero jobs, ≥ 16 plan
    // bytes per element), exact count second
    if (Route.local(emb.sparkSession, "kmeans_local", KmeansLocalMaxElems.toDouble,
        bound = Route.statsBound(emb, 16L))((emb.count() * dim).toDouble)) {
      val pts = emb.select(col("emb")).collect()
        .map(_.getSeq[Double](0).toArray)
      for (_ <- 0 until iters) {
        val sumsq = cents.map(_.map(x => x * x).sum).toArray
        val ca = cents.map(_.toArray).toArray
        val n = new Array[Long](k + 1)
        val sums = Array.fill(k + 1)(new Array[Long](dim))
        pts.foreach { v =>
          var best = 0; var bestScore = Double.MaxValue
          var c = 0
          while (c < k) {
            var s = 0.0; var i = 0
            val cc = ca(c)
            while (i < dim) { s += v(i) * cc(i); i += 1 }
            val score = s * -2.0 + sumsq(c)
            if (score < bestScore) { bestScore = score; best = c }
            c += 1
          }
          val cl = best + 1
          n(cl) += 1L
          val acc = sums(cl)
          var i = 0
          while (i < dim) { acc(i) += (v(i) * 1e6).toLong; i += 1 }
        }
        cents = centroidsOf(cents, n, sums)
      }
      return cents
    }

    // DISTRIBUTED route: one job per iteration, k×dim long micro-sums
    for (_ <- 0 until iters) {
      val n = new Array[Long](k + 1)
      val sums = Array.fill(k + 1)(new Array[Long](dim))
      emb.select(nearestCentroid(cents, col("emb")).as("cl"),
          posexplode(col("emb")).as(Seq("d", "x")))
        .groupBy(col("cl"), col("d"))
        .agg(sum((col("x") * lit(1e6)).cast("long")).as("ms"),
          count(lit(1)).as("cnt"))
        .collect().foreach { r =>
          val cl = r.getInt(0)
          sums(cl)(r.getInt(1)) = r.getLong(2)
          n(cl) = r.getLong(3)
        }
      cents = centroidsOf(cents, n, sums)
    }
    cents
  }

  /** Embedding-space benchmark decontamination — the semantic
    * complement of the n-gram `t_decontaminate`: a training example
    * is contaminated when some benchmark example sits within `tau`
    * cosine, which catches the paraphrases and re-wordings n-gram
    * overlap misses. Benchmark slice = the first 25 vectors (the
    * external-benchmark stand-in; real eval suites are MBs against
    * 100 TB of training data — ALWAYS broadcast-able). One broadcast
    * nested-loop scan of the corpus with a max-agg on the uniform
    * vec_id key; the corpus is never shuffle-joined. */
  def embDecontaminate(spark: SparkSession, dir: String,
      tau: Double = 0.4): DataFrame = {
    val emb = embNormed(spark, dir)
    val bench = broadcast(emb.filter(col("vec_id") < 25)
      .select(col("vec_id").as("b_id"), col("emb").as("b_emb")))
    emb.filter(col("vec_id") >= 25)
      .crossJoin(bench)
      .groupBy(col("vec_id"))
      .agg(round(max(dot(col("emb"), col("b_emb"))), 4).as("max_bench_cos"))
      .withColumn("contaminated", col("max_bench_cos") >= tau)
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup = k-means
    * partition, then exact cosine near-dup WITHIN each cluster only.
    * A vector is dropped when a lower-id vector in its cluster is
    * within `tau` cosine — the deterministic min-id keeper over each
    * near-dup neighborhood (per-pair greedy, not transitive closure:
    * the paper's semantics). Output: one row per vector with its
    * cluster and keep/drop verdict.
    *
    * This is the scale path the pairwise near-dup queries can't be:
    * the self-join key is cluster_id, so candidate volume is
    * sum(n_c^2) — with k grown ~linearly in corpus size the
    * per-cluster population stays bounded and the quadratic term
    * never materializes (the paper runs exactly this shape at
    * billions of embeddings). Assignment is the narrow broadcast-
    * centroid pass; the only shuffles are the cluster-keyed exchange
    * (AQE splits a skewed mega-cluster) and the bounded drop-set
    * distinct. Training is k-means on the unit sphere — squared-L2
    * nearest == cosine nearest there, so one centroid model serves
    * both assignment and the cosine dedup.
    *
    * The partitioner is trained like the PQ codebooks (annPqTopk):
    * ONE bounded TakeOrdered sample collect + driver-side Lloyd
    * (pqTrain with a single subspace spanning the full vector) —
    * the clusters only need to be a balanced partition of the
    * sphere, not an optimal quantizer of the census, so sample
    * statistics suffice and the corpus is touched by exactly one
    * full pass (the assignment scan). The in-query distributed-Lloyd
    * demonstration lives in embKmeans, where training IS the query. */
  def embSemDedup(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, tau: Double = 0.4, maxTrain: Int = 4096): DataFrame = {
    val emb = embNormed(spark, dir).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sample = emb.orderBy(col("vec_id")).limit(maxTrain)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k,
      s"semdedup training sample ${sample.length} < k=$k")
    val cents = pqTrain(sample, 1, k, EmbDim, iters).head
    lastSemDedupModel = Some((cents.map(_.toSeq), tau))
    val assigned = emb
      .select(col("vec_id"), col("emb"),
        nearestCentroid(cents, col("emb")).as("cl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("cl"), col("vec_id").as("a_id"),
      col("emb").as("a_emb"))
    val b = assigned.select(col("cl"), col("vec_id").as("b_id"),
      col("emb").as("b_emb"))
    val dropped = a.join(b, Seq("cl"))
      .filter(col("a_id") < col("b_id") &&
        round(dot(col("a_emb"), col("b_emb")), 4) >= tau)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cl").cast("long").as("cluster_id"),
        coalesce(col("dup") === false, lit(true)).as("kept"))
      .transform(CacheScope.owned(_, emb, assigned))
  }

  /** Contrastive pair mining — the training-pair construction step
    * of embedding-model curation (SimCLR/SBERT-style): for each
    * anchor, the top-`perRole` SAME-label neighbors (positives) and
    * the top-`perRole` DIFFERENT-label neighbors by cosine — the
    * hard negatives, the near-misses that teach the margin; random
    * negatives are trivially separable and teach nothing. Anchors =
    * the first `nAnchors` vectors (the deterministic query-set
    * convention the ANN family shares).
    *
    * Scale shape: anchors are serving-sized by contract → one
    * broadcast; the corpus is scanned ONCE with all anchor dots
    * fused per row; the per-(anchor, role) top-k is the
    * WindowGroupLimit rank-filter shape, so each map task keeps its
    * local top-k and the sort never sees the corpus. Full oracle
    * (static SQL — no trained model in the pipeline). */
  def embHardNegatives(spark: SparkSession, dir: String,
      nAnchors: Int = 10, perRole: Int = 3): DataFrame = {
    val emb = embNormed(spark, dir)
    val anchors = emb.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("emb").as("a_emb"))
    emb.join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"),
        when(col("label") === col("a_label"), lit("positive"))
          .otherwise(lit("hard_negative")).as("role"),
        col("vec_id").as("nid"),
        round(dot(col("a_emb"), col("emb")), 4).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("anchor_id"), col("role"))
          .orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= perRole)
      .select(col("anchor_id"), col("role"), col("rank"), col("nid"), col("sim"))
  }

  /** Distributed k-means clustering of the embedding corpus — the
    * coarse partitioner behind corpus curation (topic balancing,
    * diversity sampling, SemDeDup-style pruning). Output: every
    * vector's cluster assignment plus its cluster's population.
    * Ground truth in VectorQueriesSpec: monotone non-increasing SSE
    * across iterations and assignment == an independently computed
    * driver-side nearest-centroid pass. */
  def embKmeans(spark: SparkSession, dir: String,
      k: Int = 8, iters: Int = 5): DataFrame = {
    val emb = embDouble(spark, dir).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = kmeansCentroids(emb, k, iters)
    lastKmeansModel = Some(cents)
    val assigned = emb.select(col("vec_id"),
      nearestCentroid(cents, col("emb")).as("cluster_id"))
    val sizes = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_n"))
    assigned.join(broadcast(sizes), Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
        col("cluster_n"))
      .transform(CacheScope.owned(_, emb))
  }
}
