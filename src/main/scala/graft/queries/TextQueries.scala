package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Route
import graft.ops.{Bpe, CacheScope}
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token stats, quality scoring, exact and
  * near-duplicate detection, fingerprinting, language ID.
  *
  * Everything is built from codegen'd builtins (split / higher-order
  * array functions / hash) — no UDFs in any hot path, so whole-stage
  * codegen spans each pipeline, and the dedup self-joins are always
  * bucketed first (band key / quarter key / lang) so no join ever
  * goes quadratic in corpus size.
  */
object TextQueries {

  private[graft] def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Low 32 md5 bits as a long — THE cross-engine hash: DuckDB
    * computes the identical value as
    * `('0x' || substr(md5(x), 25, 8))::BIGINT` (or the hexPolySql
    * polynomial where `::` must be avoided), which is what makes
    * every sketch built on it SQL-reproducible. All md5-low-32 sites
    * route through here so the offset/width contract lives once. */
  private[queries] def md5Low32(c: Column): Column =
    conv(substring(md5(c), 25, 8), 16, 10).cast("long")

  /** Whitespace normalization used as the dedup canonical form. */
  private[graft] def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Token counting: whitespace tokens plus a BPE-ish sub-token
    * count (letter runs / digit runs / single punctuation — the
    * shape of a byte-pair pretokenizer split, RE2-safe so the
    * DuckDB oracle computes the identical pattern). */
  def tTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
        .cast("long").as("n_subtokens"),
      length(col("text")).cast("long").as("n_chars"))

  /** Quality scoring: length / punctuation / stopword ratios —
    * the standard cheap pre-filters of a corpus pipeline. */
  def tQualityScore(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    qualityScoreOf(Tables.documents(spark, dir))
  }

  /** The scoring core over any (doc_id, text) frame — shared by the
    * batch query and the streaming micro-batch gate (same column
    * expressions, so the batch oracle doubles as the streaming
    * semantics check). Caller ensures the native functions are
    * registered. */
  def qualityScoreOf(docs: DataFrame): DataFrame = {
    val toks = tokens(lower(col("text")))
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      round(length(col("text")).cast("double") / size(toks), 4).as("avg_token_len"),
      // native fused count (functions/CountIn.scala) — the builtin
      // size(filter(toks, _.isInCollection(stop))) ran interpreted
      round(call_function("graft_count_in", toks, typedlit(stop)).cast("double") /
        size(toks), 4).as("stopword_ratio"),
      round((length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
        .cast("double") / length(col("text")), 4).as("punct_ratio"))
  }

  /** Stratified sampling: at most k docs per language, selected by
    * HASH ORDER (md5 of content, doc_id tiebreak) — deterministic
    * across runs, engines, and partitionings, which `rand()`-based
    * sampling is not; a re-run of the pipeline reproduces the exact
    * corpus. Plans as one window per stratum with WindowGroupLimit
    * keeping each map task's local top-k ahead of the shuffle
    * (pinned in PlanSpec), so the per-language sort sees tasks×k
    * rows, never the stratum. The batch twin of the streaming
    * capPerKey. */
  def tStratifiedSample(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(md5(col("text")), col("doc_id"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("lang"), col("doc_id"), col("rk"))

  /** Weighted priority sampling per source (Duffield–Lund–Thorup
    * priority sampling, the order-sample form of weighted
    * reservoirs): priority = u div w with u = md5-low-32 of the doc
    * identity and w = the doc's whitespace token count — integer
    * FLOOR division, so a doc of weight w draws its priority
    * uniformly from [0, 2^32/w) and the k SMALLEST priorities per
    * source are a weight-proportional sample. This is the
    * token-budget sampling step of a training-mix recipe (long
    * documents proportionally likelier), and the reason it is
    * priority sampling rather than A-ES exponential keys is
    * cross-engine exactness: u div w is exact integer arithmetic —
    * no ln(), no float ordering, no RNG state — so the selection is
    * bit-identical in any engine and invariant to partitioning,
    * row order, and retries.
    *
    * Scale: a narrow projection plus one per-source top-k window —
    * WindowGroupLimit prunes every map task to k rows before the
    * exchange, so the shuffle carries tasks×k rows, never the
    * corpus. */
  def tWeightedSample(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    rankSample(weightedPriorities(Tables.documents(spark, dir)), k)

  /** (source, doc_id, w, prio) for every non-null-text doc — shared
    * by the batch query above and the streaming sample maintainer
    * (StreamOps.sampleIngestBatch): a doc's priority is a pure
    * function of its identity and weight, which is what makes the
    * sample maintainable (top-k state merges by keeping the k
    * smallest, the w5 bounded-k algebra). */
  private[graft] def weightedPriorities(docs: DataFrame): DataFrame =
    docs
      // a null text has no defined weight: excluded on BOTH sides
      // (unfiltered, Spark's nulls-first ascending sort would rank a
      // null priority into the top-k while DuckDB's nulls-last
      // pushes it out — a latent engine/oracle divergence); the
      // identity hash uses concat_ws in both dialects so a null
      // source collapses identically too
      .filter(col("text").isNotNull)
      .withColumn("w", size(tokens(col("text"))).cast("long"))
      .withColumn("u",
        md5Low32(concat_ws(":", col("source"), col("doc_id"))))
      .withColumn("prio", expr("u div w"))
      .select(col("source"), col("doc_id"), col("w"), col("prio"))

  /** Per-source k smallest priorities, ranked — the read shape of
    * the weighted sample. */
  private[graft] def rankSample(prios: DataFrame, k: Int): DataFrame =
    prios
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("prio").asc, col("doc_id").asc)).cast("long"))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("doc_id"), col("w"), col("prio"))

  /** Weighted corpus mixture: per-language inclusion rates applied by
    * DETERMINISTIC hash thresholding — a doc is in the mix iff the
    * first byte of md5(text) falls under its language's threshold
    * (256ths: en keeps ~128/256, zh ~64/256, the rest everything;
    * 'g0' is lexicographically above every hex pair). The
    * sampling-by-source step every LLM data recipe ends with, as a
    * pure narrow filter: no shuffle, no RNG state, reproducible and
    * portable (the oracle spells the identical predicate), and a
    * doc's fate never depends on partitioning or row order. */
  def tCorpusMix(spark: SparkSession, dir: String): DataFrame = {
    val threshold = when(col("lang") === "en", lit("80"))
      .when(col("lang") === "zh", lit("40"))
      .otherwise(lit("g0"))
    Tables.documents(spark, dir)
      .filter(substring(md5(col("text")), 1, 2) < threshold)
      .select(col("lang"), col("doc_id"))
  }

  /** Exact dedup by normalized-content hash: one hash-groupBy, the
    * survivor is min(doc_id). At 100 TB this is the canonical first
    * dedup pass — the shuffle key is a 128-bit digest, perfectly
    * uniform, no skew. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(normText(col("text"))).as("content_key"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))

  /** Near-dup detection by EDIT DISTANCE — the levenshtein member of
    * the dedup family (jaccard measures token overlap, minhash/
    * simhash approximate it; edit distance catches character-level
    * mutations — OCR noise, tracking-code injections — that token
    * sets miss). Candidates are EQUALITY-blocked on (lang, 16-char
    * prefix): one hash-partitionable shuffle, group sizes bounded by
    * the real duplicate density, never corpus² (the prefix-blocked
    * entity-resolution shape), with exact-prefix copies collapsed to
    * one representative and blocks over MaxEditBlock DISTINCT
    * prefixes excluded (see dedupEditDistOf — the same
    * collapse + cap + expansion guards as dedupMinhashOf, so mass
    * boilerplate can't go quadratic inside one block). Verification
    * is one codegen'd `levenshtein` per distinct-prefix pair on the
    * 256-char prefixes, with the distance in the output so the
    * oracle hashes the computed values, not just the pair set.
    *
    * Scoped to ASCII prefixes in BOTH engines: Spark's levenshtein
    * counts code points while DuckDB's counts bytes, so non-ASCII
    * text has no cross-engine ground truth — those docs are served
    * by the byte-agnostic n-gram/minhash members. */
  def dedupEditDist(spark: SparkSession, dir: String,
      pfxLen: Int = 256, blkLen: Int = 16, maxDist: Int = 64,
      cap: Int = MaxEditBlock): DataFrame =
    dedupEditDistOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        substring(trim(col("text")), 1, pfxLen).as("pfx"),
        substring(trim(col("text")), 1, blkLen).as("blk"))
      .filter(col("pfx").rlike("^[ -~]*$")), maxDist, cap)

  /** Distinct-prefix population per (lang, blk) block admitted to the
    * pairwise levenshtein join — the editdist analog of MaxBandBucket.
    * A block over the cap means > MaxEditBlock genuinely DIFFERENT
    * 256-char prefixes share one 16-char opening (mass boilerplate:
    * every page starting with the same DOCTYPE/header) — the
    * O(n²)-in-one-key degenerate the blocking scheme exists to
    * prevent; such a block is excluded rather than joined. Counted
    * AFTER prefix collapse, so exact-prefix duplicate armies (n
    * copies, 1 distinct prefix) never trip it and keep their dist-0
    * pairs via the collapse path. 256² bounds any block's
    * levenshtein calls at 64k — a task-sized unit of work. */
  val MaxEditBlock = 256

  /** dedupEditDist over a prepared (doc_id, lang, pfx, blk) frame,
    * with the hot-block cap exposed for specs. Pipeline mirrors
    * dedupMinhashOf: PREFIX COLLAPSE (one representative per
    * DISTINCT prefix per block — a million exact-prefix copies are
    * one join row, their pairwise dist-0 output produced by an
    * output-bound expansion join, never an n²-row block self-join) →
    * windowed block-population cap on the SAME (lang, blk) shuffle
    * key as the join → levenshtein once per distinct-prefix PAIR
    * (not per doc pair) → expansion back to member pairs. Output is
    * IDENTICAL to the naive all-pairs form whenever no block trips
    * the cap (levenshtein(p, p) = 0 supplies the within-group arm). */
  private[graft] def dedupEditDistOf(d: DataFrame, maxDist: Int,
      cap: Int = MaxEditBlock): DataFrame = {
    // narrow (doc_id, dig) membership frame — referenced by the
    // collapse, both expansion legs, and the within-group arm;
    // persisted so the documents scan + trim/substring runs once.
    // lang is folded into the digest so expansion/within joins on
    // `dig` alone can never pair same-prefix docs across languages
    // (the block key is (lang, blk); blk itself is a prefix of pfx).
    // \u0001-separated: pfx is printable-ASCII-filtered upstream
    // (rlike "^[ -~]*$") so 0x01 can't occur in it, making the
    // encoding unambiguous. concat (unlike concat_ws, which SKIPS
    // nulls) nulls out on null lang, so a null-lang doc gets a null
    // digest and drops from every equi-join arm — exactly what the
    // naive (lang, blk) equi-join does with a null lang, instead of
    // pairing null-lang docs with each other through the within arm.
    val members = d
      .withColumn("dig", md5(concat(col("lang"), lit(""), col("pfx"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = members.groupBy(col("lang"), col("blk"), col("dig"))
      .agg(min(col("doc_id")).as("rep_id"), first(col("pfx")).as("pfx"))
      .withColumn("block_n", count(lit(1)).over(
        Window.partitionBy(col("lang"), col("blk"))))
      .filter(col("block_n") <= cap)
      .drop("block_n")
    val repPairs = reps.as("l").join(reps.as("r"), Seq("lang", "blk"))
      .filter(col("l.rep_id") < col("r.rep_id"))
      .select(col("l.dig").as("a_dig"), col("r.dig").as("b_dig"),
        levenshtein(col("l.pfx"), col("r.pfx")).as("dist"))
      .filter(col("dist") <= maxDist)
    // expansion: every member pair across the two prefix groups gets
    // the representatives' distance (identical prefixes ⇒ identical
    // levenshtein); md5(pfx) is the join key so the 256-char strings
    // never ride the pair shuffle
    val ids = members.select(col("dig"), col("doc_id"))
    val cross = repPairs
      .join(ids.select(col("dig").as("a_dig"), col("doc_id").as("a_m")), Seq("a_dig"))
      .join(ids.select(col("dig").as("b_dig"), col("doc_id").as("b_m")), Seq("b_dig"))
      .select(least(col("a_m"), col("b_m")).as("a_id"),
        greatest(col("a_m"), col("b_m")).as("b_id"), col("dist"))
    // exact-prefix pairs: dist 0 by definition, found by the collapse
    // itself — immune to the hot-block cap, like minhash's digest
    // path. The self-join legs are pre-filtered to MULTI-member
    // groups (one window on the same dig shuffle key the join needs,
    // so the filter costs no extra exchange): singleton groups — the
    // overwhelming majority of any real corpus — never enter the
    // join at all.
    val multi = ids
      .withColumn("gn", count(lit(1)).over(Window.partitionBy(col("dig"))))
      .filter(col("gn") > 1)
      .drop("gn")
    val within = multi.as("l").join(multi.as("r"), Seq("dig"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
        lit(0).as("dist"))
    CacheScope.owned(cross.unionByName(within), members)
  }

  /** Near-dup detection by token-set Jaccard ≥ 0.9 — EXACT output
    * (the oracle-checkable ground truth; dedupMinhash is the
    * approximate scale path), lang-bucketed so the self-join is
    * per-bucket rather than corpus², with a lossless size prefilter
    * (J ≥ 0.9 forces min(|A|,|B|) ≥ 0.9·max) ahead of the set
    * intersection.
    *
    * Tokens are xxhash64'd to longs before the pair stage (8-byte
    * compares; |distinct hashes| = |distinct tokens| up to 2^-64
    * collisions, so the Jaccard value — and the DuckDB string-token
    * oracle — is unchanged).
    *
    * Scale note: AllPairs/PPJoin prefix filtering was measured here
    * and LOST — this corpus's vocabulary is tiny, so even the rarest
    * prefix token appears in thousands of docs and the candidate set
    * stayed ~3M while adding two extra passes. Prefix filtering pays
    * off only on heavy-tailed vocabularies; for bounded-vocabulary
    * corpora the right scale path is MinHash banding (dedupMinhash). */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      array_distinct(transform(tokens(lower(trim(col("text")))), t => xxhash64(t)))
        .as("toks"))
      // both self-join legs reference this — persist so the
      // tokenize+hash pass runs once, not per leg
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = docs.select(col("doc_id").as("a_id"), col("lang"),
      col("toks").as("a_toks"), size(col("toks")).as("a_n"))
    val b = docs.select(col("doc_id").as("b_id"), col("lang"),
      col("toks").as("b_toks"), size(col("toks")).as("b_n"))
    a.join(b, Seq("lang")).filter(col("a_id") < col("b_id"))
      .filter(least(col("a_n"), col("b_n")) * 10 >=
        greatest(col("a_n"), col("b_n")) * 9)
      .withColumn("jaccard", round(
        size(array_intersect(col("a_toks"), col("b_toks"))).cast("double") /
          size(array_union(col("a_toks"), col("b_toks"))), 4))
      .filter(col("jaccard") >= 0.9)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .transform(CacheScope.owned(_, docs))
  }

  /** Duplicate CLUSTERING: connected components over the exact
    * near-dup pair graph (dedupNgramJaccard's J ≥ 0.9 edges), labeled
    * by each component's minimum doc_id — the step a production dedup
    * pipeline runs after pair detection, because transitive chains
    * (A≈B≈C with A̸≈C) must dedup as ONE group, not two independent
    * pairs. Output: (doc_id, cluster_id) for every doc in a
    * non-trivial component; keep-rule = "doc_id == cluster_id".
    * Deterministic (the fixpoint is unique), and SQL-expressible, so
    * the DuckDB oracle checks it with a recursive CTE. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersOf(dedupNgramJaccard(spark, dir).select(col("a_id"), col("b_id")))

  /** Connected components: one CONTRACTION pass (dense near-dup
    * cliques collapse to single super-nodes), then the contracted
    * remainder is clustered by whichever engine its size warrants:
    * under the `local_finish` gate (≤ LocalFinishEdges edges) it
    * finishes as a driver union-find (one
    * collect — the broadcast-join argument; near-dup graphs are
    * clique-heavy, so the remainder is tiny even when the pair set
    * is not), larger remainders run min-label propagation — each
    * round ONE narrow shuffle-join of the (id, label) frame against
    * the edge list plus a map-side-combinable min, with
    * `localCheckpoint(true)` truncating the lineage an iterative
    * plan would otherwise grow without bound. Components with
    * ADVERSARIAL diameters (a long chain of pairwise near-dups)
    * would need one round per hop; past the round cap the loop hands
    * off to clustersOfStar, the large-star/small-star algorithm that
    * converges in O(log² n) rounds on any graph shape. */
  /** Budget of the `local_finish` gate: the contracted-remainder size
    * (edges) below which clustering finishes driver-side — the
    * broadcast-join argument: 1M edges is ~16 MB of longs, the same
    * driver-object envelope as the graph family's
    * BroadcastClosingEdges (4M edges / 64 MB), and one
    * collect + union-find replaces O(log n) distributed rounds of
    * shuffle+action each. (Round-17: raised from 100k — the exact
    * ngram pair graph at bench scale is ~246k pairs, which paid the
    * full ~5-job contraction cascade to shrink a graph that already
    * fit the driver envelope; measured 2.3 s → 0.9 s on
    * dedup_clusters.) Contraction first collapses the dense near-dup
    * cliques, so even web-scale corpora leave remainders far under
    * this bound; above it, the distributed iteration runs
    * unchanged. */
  private[graft] val LocalFinishEdges = 1000000

  private[graft] def clustersOf(pairs: DataFrame, maxRounds: Int = 64): DataFrame = {
    // materialize the pair set ONCE before the symmetrizing
    // self-union: its two branches run concurrently on first action,
    // so without this the (possibly expensive — LSH banding +
    // verification) pair plan executes twice before any cache fills
    // (measured 4.2 s → 1.7 s on dedup_clusters_lsh at sf0.1)
    val p = pairs.select(col("a_id"), col("b_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = p.count()
    // EARLY LOCAL FINISH (round-17): when the whole pair set is
    // already under the driver bound, the contraction machinery below
    // (symmetrizing union, neighborhood-min agg, two label joins, an
    // eager checkpoint, a count — ~5 driver-synchronized jobs) costs
    // more than it saves: collect the pairs and union-find directly.
    // Same labeling by the unionFindLocal invariant (root = component
    // min); the contraction path is unchanged past the bound — it
    // exists exactly so web-scale clique-heavy graphs shrink BEFORE
    // any collect, and a pair set within the gate is within the same
    // driver envelope the contracted remainder was always allowed.
    if (localFinish(pairs.sparkSession, nPairs)) {
      val out = unionFindLocal(p)
      p.unpersist()
      return out
    }
    val edges = p
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(p.select(col("b_id").as("src"), col("a_id").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // CONTRACTION FIRST: near-dup graphs are dense (a group of k
    // near-identical docs contributes k²/2 pairs — measured 246k
    // pairs over 2.5k nodes at sf0.1), and iterating over the full
    // edge list pays that density every round. One neighborhood-min
    // pass labels every node with min(Γ(v) ∪ {v}); nodes sharing a
    // label are connected (both adjacent to the common min), so the
    // graph CONTRACTS to super-edges between DISTINCT labels — a
    // clique collapses to zero super-edges — and only the contracted
    // remainder iterates. The overall component min survives
    // contraction as itself (it has no smaller neighbor), so
    // composing the contracted labeling back over l0 yields exactly
    // the component-min labels.
    val l0 = edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("mn"), col("src")).as("lbl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val superEdges = edges
      .join(l0.select(col("id").as("src"), col("lbl").as("a_lbl")), Seq("src"))
      .join(l0.select(col("id").as("dst"), col("lbl").as("b_lbl")), Seq("dst"))
      .filter(col("a_lbl") =!= col("b_lbl"))
      .select(least(col("a_lbl"), col("b_lbl")).as("a_id"),
        greatest(col("a_lbl"), col("b_lbl")).as("b_id"))
      .distinct()
      .localCheckpoint(true)
    // superEdges is eagerly checkpointed above, so p and edges have
    // served every read they will ever get; l0 is still in the
    // returned frame's lineage and is released by its first action
    edges.unpersist()
    p.unpersist()
    val nSuper = superEdges.count()
    val out =
      if (nSuper == 0)
        l0.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      else {
        val superLabels =
          if (localFinish(pairs.sparkSession, nSuper)) unionFindLocal(superEdges)
          else propagateOrStar(superEdges, maxRounds)
        l0.join(superLabels.select(col("doc_id").as("lbl"), col("cluster_id")),
            Seq("lbl"), "left")
          .select(col("id").as("doc_id"),
            coalesce(col("cluster_id"), col("lbl")).as("cluster_id"))
      }
    CacheScope.owned(out, l0)
  }

  /** The `local_finish` gate over an edge count. */
  private[graft] def localFinish(spark: SparkSession, edges: Long): Boolean =
    Route.local(spark, "local_finish", LocalFinishEdges.toDouble)(edges.toDouble)

  /** Driver-side union-find over a collected (bounded — see
    * LocalFinishEdges) edge list. Union always roots at the smaller
    * id and roots are only ever replaced by smaller roots, so the
    * final root of every node IS its component minimum — the same
    * labeling the distributed paths produce. */
  private def unionFindLocal(pairs: DataFrame): DataFrame = {
    val sp = pairs.sparkSession
    import sp.implicits._
    val edges = pairs.select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(k => (k, find(k))).toDF("doc_id", "cluster_id")
  }

  /** Min-label propagation over a (pre-contracted) pair graph, with
    * the large-star/small-star handoff when the round cap is hit. */
  private def propagateOrStar(pairs: DataFrame, maxRounds: Int): DataFrame = {
    val edges = pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      // every node in `labels` has >= 1 edge (ids come from the edge
      // list), so the neighbor-min inner join covers all of them
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("n_lbl")),
          Seq("dst"))
        .groupBy(col("src")).agg(min(col("n_lbl")).as("n_min"))
        .select(col("src").as("id"), col("n_min"))
      val updated = labels.join(neighborMin, Seq("id"))
        .select(col("id"),
          least(col("cluster_id"), col("n_min")).as("new_lbl"),
          (col("n_min") < col("cluster_id")).as("chg"))
        .localCheckpoint(true)
      changed = updated.filter(col("chg")).count()
      labels = updated.select(col("id"), col("new_lbl").as("cluster_id"))
      rounds += 1
    }
    edges.unpersist()
    if (changed > 0) clustersOfStar(pairs) // pathological diameter
    else labels.select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — O(log² n) rounds on ANY graph shape, including the
    * long chains that make per-hop label propagation quadratic in
    * wall-clock. Each round is two narrow groupBy+join passes over
    * the canonical (u > v) edge list:
    *   large-star: every neighbor v > u relinks to min(Γ(u) ∪ {u});
    *   small-star: every downward neighbor (and u itself) relinks to
    *   the minimum downward neighbor.
    * The fixpoint is the star graph per component (every node →
    * component min). Convergence is detected by (count, hash-sum)
    * stability of the edge set — the standard trick that avoids a
    * full set-difference per round. Used as clustersOf's fallback;
    * spec-verified equivalent to label propagation AND to a
    * driver-side union-find on randomized graphs. */
  private[graft] def clustersOfStar(pairs: DataFrame): DataFrame = {
    var edges = pairs
      .select(greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var prev = (-1L, Option.empty[Long])
    var converged = false
    var rounds = 0
    val maxRounds = 40
    while (!converged && rounds < maxRounds) {
      // LARGE-STAR over symmetric neighborhoods
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val minN = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = sym.join(minN, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // canonical: v_old > u_old >= m
        .filter(col("u") =!= col("v"))
        .distinct()
      // SMALL-STAR over the downward orientation (every u here has a
      // smaller neighbor, so min(Γ_small ∪ {u}) = min(Γ_small))
      val minDown = large.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val next = large.join(minDown, Seq("u"))
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .unionByName(minDown.select(col("u"), col("mn").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      val stats = next.agg(count(lit(1)), sum(xxhash64(col("u"), col("v")))).head
      val cur = (stats.getLong(0),
        if (stats.isNullAt(1)) Option.empty[Long] else Some(stats.getLong(1)))
      converged = cur == prev
      prev = cur
      edges = next
      rounds += 1
    }
    require(converged,
      s"large-star/small-star did not converge in $maxRounds rounds")
    // fixpoint edges are (node → component root); roots label themselves
    val roots = edges.select(col("v").as("id")).distinct()
      .join(edges.select(col("u").as("id")).distinct(), Seq("id"), "left_anti")
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(roots.select(col("id").as("doc_id"), col("id").as("cluster_id")))
  }

  /** Distinct-hashed 3-shingle sets from any (doc_id, text) frame —
    * no persist (callers manage caching for their own lifecycle).
    * Both the batch dedup queries and the streaming LSH index build
    * come through here, so the ONE full-corpus scan of the MinHash
    * family is this projection: the fused native
    * `graft_shingle3_hash` expression (functions/Shingle3Hash.scala)
    * replaces the four interpreted array passes of the builtin
    * shingle→distinct→hash→distinct chain, which GraftFunctionsSpec
    * keeps as its code-for-code oracle. The <3-token guard filters on
    * size(toks), NOT on the shingle set: a filter on the set would be
    * predicate-pushed below the projection with the whole shingle
    * expression inlined, single-core before the fan-out exchange
    * (observed 21s vs 0.5s at sf0.1). */
  def hashedShinglesOf(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val toks = col("toks")
    docs
      .select(col("doc_id"), tokens(normText(col("text"))).as("toks"))
      .filter(size(toks) >= 3)
      .select(col("doc_id"), call_function("graft_shingle3_hash", toks).as("sh"))
  }

  /** Cross-source overlap audit: pairwise shingle containment and
    * Jaccard between source slices — the contamination matrix a
    * corpus curator reads before mixing sources (high containment of
    * A in B means A is mostly a subset of B: drop it or dedup the
    * union; `t_corpus_mix` decides rates from exactly this signal).
    * Output per source pair (a < b): each side's distinct-shingle
    * census, the common count, both containments, and Jaccard.
    *
    * Scale shape: one shingle scan (the fused native expression),
    * one distinct on (source, hash) — uniform 64-bit shuffle key —
    * then a self-join ON THE HASH whose per-key fan-out is bounded
    * by the number of SOURCES (a shingle contributes at most S²/2
    * pairs), and two broadcast joins against the one-row-per-source
    * census. This is an operator for corpus SLICES (sources,
    * buckets, snapshots — tens to hundreds), where S² per key is
    * trivially bounded; for millions of raw domains the right tool
    * is per-domain MinHash signatures (dedupMinhash's machinery),
    * not the exact matrix. Spark counts xxhash64 shingles, the
    * oracle counts the shingle STRINGS — equal up to 2^-64
    * collisions (the t_substring_spans deal). */
  def tSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val ss = Tables.documents(spark, dir)
      .select(col("source"), tokens(normText(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"),
        explode(call_function("graft_shingle3_hash", col("toks"))).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val common = ss.select(col("source").as("source_a"), col("h"))
      .join(ss.select(col("source").as("source_b"), col("h")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double") / col("n_a"), 4).as("containment_a"),
        round(col("n_common").cast("double") / col("n_b"), 4).as("containment_b"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 4).as("jaccard"))
      .transform(CacheScope.owned(_, ss))
  }

  /** The md5-affine universal-hash family of the SOURCE-level MinHash
    * sketch (tSourceOverlapMinhash): per-shingle base hash is the low
    * 32 md5 bits (cross-engine-stable, like the CMS/simhash hashes),
    * component i applies h ↦ (a_i·h + b_i) mod 2^32 with a_i odd <
    * 2^31, b_i < 2^31 — products stay under 2^63, so the identical
    * BIGINT arithmetic runs in DuckDB and the whole sketch is
    * bit-parity-checkable. Constants are fixed at class init; the
    * oracle SQL is GENERATED from this same table (srcOverlapOracleSql)
    * so engine and oracle can never drift apart. */
  // lazy: MinhashHashes is declared further down the object body, so
  // an eager init here would read 0 during construction
  private[graft] lazy val srcMinhashAbs: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(20260814)
    IndexedSeq.fill(MinhashHashes)(
      ((rnd.nextInt(Int.MaxValue).toLong | 1L), rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Cross-source overlap, the SKETCHED scale path: tSourceOverlap's
    * exact census self-join is the right tool for tens-to-hundreds of
    * slices, but its per-shingle S² fan-out and full (source, hash)
    * census stop being free at millions of raw domains. This variant
    * reduces each source to a constant-size MinHash signature (32
    * mins over the source's whole shingle multiset) and estimates
    * pairwise Jaccard as the fraction of agreeing components —
    * per-source state is 32 longs REGARDLESS of corpus size, so the
    * pairwise matrix costs S²·32 integer compares on a broadcast
    * frame, nothing touches the corpus twice, and no shingle census
    * is ever materialized.
    *
    * Scale shape: ONE narrow corpus scan (fused shingle pass →
    * exploded 32-bit md5 hashes), one map-side-combinable 32-min agg
    * keyed by source (partial mins collapse inside map tasks — the
    * shuffle carries ≤ 32 longs per source per task), then a
    * broadcast nested-loop a<b pair over the S-row signature frame.
    * At millions of sources the same signatures feed minhash BANDING
    * (dedupMinhash's machinery) to keep the pair step subquadratic;
    * at audit scales the full matrix is the deliverable.
    *
    * Estimator: E[sig_match]/32 = true weighted Jaccard of the hash
    * sets (standard MinHash; ±1/√32 ≈ 0.18 resolution — a triage
    * signal ranking which pairs deserve the exact tSourceOverlap
    * census, not a replacement for it). */
  /** The per-source 32-component MinHash signature frame (source,
    * m0..m31) — ONE narrow corpus scan (fused shingle pass → exploded
    * 32-bit md5 hashes) into a map-side-combinable 32-min agg keyed
    * by source: partial mins collapse inside map tasks, so the
    * shuffle carries ≤ 32 longs per source per task and per-source
    * state is constant REGARDLESS of corpus size. Shared by the exact
    * pair matrix (tSourceOverlapMinhash) and the banded candidate
    * path (tSourceOverlapLsh); callers persist. */
  private[graft] def srcSignatures(spark: SparkSession, dir: String): DataFrame = {
    val M = 4294967296L // 2^32
    val sh = Tables.documents(spark, dir)
      .select(col("source"), tokens(normText(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> " +
          "concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")).as("s"))
      .select(col("source"),
        md5Low32(col("s")).as("h"))
    val minCols = srcMinhashAbs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(M))).as(s"m$i")
    }
    sh.groupBy(col("source")).agg(minCols.head, minCols.tail: _*)
  }

  /** Per-DOCUMENT partial of the source-overlap sketch: this doc's 32
    * affine mins — the map-side partial the batch agg combines,
    * exposed row-wise so the STREAMING maintenance path
    * (StreamOps.srcSignatureStream) can merge the identical partials
    * into keyed state (component-wise min: associative, commutative,
    * idempotent). Docs under 3 tokens contribute nothing, exactly
    * like the batch filter. */
  private[graft] def srcDocSignatures(docs: DataFrame): DataFrame = {
    val M = 4294967296L
    val minCols = srcMinhashAbs.map { case (a, b) =>
      array_min(transform(col("hs"), h => pmod(h * lit(a) + lit(b), lit(M))))
    }
    docs.select(col("source"), tokens(normText(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), expr(
        "transform(sequence(1, size(toks) - 2), i -> " +
          "concat_ws(' ', toks[i-1], toks[i], toks[i+1]))").as("shs"))
      .select(col("source"), transform(col("shs"),
        s => md5Low32(s)).as("hs"))
      .select(col("source"), array(minCols: _*).as("sig"))
  }

  def tSourceOverlapMinhash(spark: SparkSession, dir: String): DataFrame = {
    // persisted: both legs of the a<b pair join read the signature
    // frame (S rows); unpersisted, each leg re-runs the full corpus
    // shingle scan + agg
    val sig = srcSignatures(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sig.select(col("source").as("source_a") +:
      (0 until MinhashHashes).map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sig.select(col("source").as("source_b") +:
      (0 until MinhashHashes).map(i => col(s"m$i").as(s"b$i")): _*)
    val matches = (0 until MinhashHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), matches.as("sig_match"),
        round(matches.cast("double") / MinhashHashes, 4).as("est_jaccard"))
      .transform(CacheScope.owned(_, sig))
  }

  /** Dialect-neutral hex→BIGINT for a fixed-width md5 slice: DuckDB's
    * `('0x'||substr(h,i,8))::BIGINT` idiom is unportable (Spark's
    * non-ANSI string→BIGINT cast nulls hex strings, and `::` is
    * DuckDB-only syntax), so portable oracle texts spell the value as
    * a positional base-16 polynomial — `position(c IN '0123…f') - 1`
    * is the digit value in BOTH dialects (md5 renders lowercase in
    * both), and the BIGINT-cast multipliers keep every partial term
    * exact. 8 hex chars < 2^32, so the sum never nears overflow. */
  private[graft] def hexPolySql(inner: String, start: Int, width: Int = 8): String =
    (0 until width).map { j =>
      val mult = math.pow(16, width - 1 - j).toLong
      val term = s"(position(substr($inner, ${start + j}, 1) IN '0123456789abcdef') - 1)"
      if (mult == 1L) term else s"$term * CAST($mult AS BIGINT)"
    }.mkString("(", "\n                      + ", ")")

  /** The DuckDB oracle for tSourceOverlapMinhash, generated from the
    * same srcMinhashAbs table the engine uses — 32 independent
    * list-min recurrences over the identical md5-low-32 shingle
    * hashes, then the same component-agreement count. */
  private[graft] def srcOverlapMinhashOracleSql: String = {
    val mins = srcMinhashAbs.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % 4294967296) AS m$i"
    }.mkString(",\n                    ")
    val eq = (0 until MinhashHashes)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH t AS (SELECT source,
                    string_split_regex(trim(lower(trim(text))), '\\s+') AS toks
                    FROM documents),
              s AS (SELECT source, unnest(
                    list_transform(generate_series(1, len(toks) - 2),
                      i -> list_extract(toks, i) || ' ' || list_extract(toks, i+1) || ' ' || list_extract(toks, i+2))) AS sh
                    FROM t WHERE len(toks) >= 3),
              h AS (SELECT source,
                    ${hexPolySql("md5(sh)", 25)} AS h FROM s),
              sig AS (SELECT source,
                    $mins
                    FROM h GROUP BY source)
         SELECT a.source AS source_a, b.source AS source_b,
           CAST($eq AS BIGINT) AS sig_match,
           round(CAST($eq AS DOUBLE) / $MinhashHashes, 4) AS est_jaccard
         FROM sig a JOIN sig b ON a.source < b.source"""
  }

  /** Banding parameters of the LSH source-overlap QUERY entry: 32
    * bands × 1 row over the 32-component signature, reporting pairs
    * agreeing on ≥ 2 components (est_jaccard ≥ 0.0625) — the audit
    * setting sized so the synthetic corpus (whose 20 sources top out
    * near 4/32 agreement) produces a non-trivial answer. The SCALE
    * setting for "millions of domains" is coarser — 16 bands × 2
    * rows with minMatch 17 — and carries the same exactness
    * guarantee; both run through the one parameterized pipeline and
    * the spec proves banded ≡ exact-filtered at both settings. */
  private[graft] val SrcLshBands = 32
  private[graft] val SrcLshMinMatch = 2

  /** Cross-source overlap, the BANDED scale path — the subquadratic
    * step past tSourceOverlapMinhash's S² pair matrix that "millions
    * of raw domains" requires: the same per-source 32-long signatures
    * feed MinHash banding (dedupMinhash's machinery at source
    * granularity), so candidate pairs come from equi-joined band
    * buckets — shuffle bounded by band-row count (bands × S), never
    * by S² — and only candidates pay the component-agreement scoring.
    *
    * EXACT above the threshold, not approximate: with `bands` bands
    * over the 32 components, a pair with ≥ 33 − bands agreeing
    * components has at most bands − 1 disagreements, which can break
    * at most bands − 1 bands — at least one band survives intact
    * (pigeonhole), so every pair at or above `minMatch ≥ 33 − bands`
    * shares a full band and is GUARANTEED a candidate. Hash-collision
    * candidates (xxhash64 band keys) only ADD candidates, which the
    * exact sig_match filter removes — so the output is identical to
    * the full matrix filtered to sig_match ≥ minMatch, and the spec
    * pins that identity. Output schema matches tSourceOverlapMinhash
    * (source_a, source_b, sig_match, est_jaccard).
    *
    * Scale shape: one corpus scan → signature agg (srcSignatures),
    * band rows via posexplode of slice-hashes (narrow), ONE shuffle
    * keyed (band, band_key) for the bucket self-join, candidate pairs
    * deduped before scoring, scoring via two broadcast-size hash
    * joins against the S-row signature frame. No nested-loop or
    * cartesian anywhere (PlanSpec pins it). Extreme hot-bucket skew
    * is guarded by the SAME two dedupMinhash mechanisms, at signature
    * granularity: identical full signatures (mirror domains serving
    * the same corpus) are digest-collapsed to one representative
    * BEFORE banding — their n² output pairs come from an output-bound
    * expansion join, never an n²-row bucket — and residual buckets
    * holding > maxBucket DISTINCT signatures are excluded from the
    * pairwise join. The exclusion trades against the pigeonhole
    * guarantee exactly as MaxBandBucket does for documents: a bucket
    * that hot means one band's slice is shared by hundreds of
    * genuinely different signatures (a degenerate band); excluded
    * members keep their other bands, so an above-threshold pair is
    * lost ONLY if every band it agrees on is saturated, and
    * identical-signature pairs are immune entirely (the digest path
    * reports them before banding). At the query settings the cap
    * never fires on non-degenerate corpora (bucket population is
    * sources-per-band-key), so the oracle identity holds; the forced
    * hot-band spec pins both the fire and the non-degenerate
    * pairs surviving it. */
  def tSourceOverlapLsh(spark: SparkSession, dir: String): DataFrame =
    tSourceOverlapLshOf(srcSignatures(spark, dir), SrcLshBands, SrcLshMinMatch)

  private[graft] def tSourceOverlapLshOf(sig0: DataFrame, bands: Int,
      minMatch: Int, maxBucket: Int = MaxBandBucket): DataFrame = {
    require(MinhashHashes % bands == 0,
      s"bands must divide $MinhashHashes, got $bands")
    require(minMatch >= MinhashHashes - bands + 1,
      s"exactness guarantee needs minMatch >= ${MinhashHashes - bands + 1} " +
        s"at $bands bands, got $minMatch")
    require(minMatch <= MinhashHashes,
      s"minMatch > $MinhashHashes can never match")
    val r = MinhashHashes / bands
    val sig = sig0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigArr = sig.select(col("source"),
      array((0 until MinhashHashes).map(i => col(s"m$i")): _*).as("sig"))
    // exact-signature digest — the source-granularity shingleDigest
    // (no array_sort: component order is significant in a signature).
    // The digest treats xxhash64 equality as signature identity: the
    // within-digest join below re-verifies COMPONENT equality (both
    // sides carry the full sig, so the check is free), which keeps a
    // 64-bit collision from fabricating sig_match=MinhashHashes pairs.
    // The one residual collision effect — a collided member's band
    // rows are subsumed by its representative's — matches the
    // documented shingleDigest practice and is negligible at 2^-64.
    val sigDig = sigArr.select(col("source"), col("sig"), xxhash64(col("sig")).as("dig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandRows = sigArr
      .select(col("source"), xxhash64(col("sig")).as("dig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * r + 1, lit(r))))))
      .select(col("source"), col("dig"), col("pos").as("band"), col("col").as("band_key"))
    // one row per (bucket, distinct signature); min(source) is the
    // digest's global representative because identical signatures
    // produce identical band rows in every band (map-side combinable)
    val collapsed = bandRows
      .groupBy(col("band"), col("band_key"), col("dig"))
      .agg(min(col("source")).as("source"))
    // same one-shuffle cap as minhashCandidatesOf: the count is a
    // window over the join key, so capping rides the exchange the
    // self-join needs anyway
    val admitted = collapsed
      .withColumn("bucket_n", count(lit(1)).over(
        Window.partitionBy(col("band"), col("band_key"))))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band"), col("band_key"), col("source"), col("dig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dig rides the candidate pairs (it is constant per
    // representative), so the expansion below never has to join it
    // back on
    val cand = admitted.select(col("band"), col("band_key"),
        col("source").as("source_a"), col("dig").as("a_dig"))
      .join(admitted.select(col("band"), col("band_key"),
        col("source").as("source_b"), col("dig").as("b_dig")),
        Seq("band", "band_key"))
      .filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("a_dig"), col("b_dig"))
      .distinct()
    val a = sig.select(col("source").as("source_a") +:
      (0 until MinhashHashes).map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sig.select(col("source").as("source_b") +:
      (0 until MinhashHashes).map(i => col(s"m$i").as(s"b$i")): _*)
    val matches = (0 until MinhashHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val repPairs = cand.join(a, Seq("source_a")).join(b, Seq("source_b"))
      .select(col("a_dig"), col("b_dig"), matches.as("sig_match"))
      .filter(col("sig_match") >= minMatch)
    // expansion back to member pairs (output-bound: every emitted row
    // IS a result pair), plus the within-digest pairs — identical
    // signatures agree on all components by definition
    val cross = repPairs
      .join(sigDig.select(col("dig").as("a_dig"), col("source").as("a_m")), Seq("a_dig"))
      .join(sigDig.select(col("dig").as("b_dig"), col("source").as("b_m")), Seq("b_dig"))
      .select(least(col("a_m"), col("b_m")).as("source_a"),
        greatest(col("a_m"), col("b_m")).as("source_b"), col("sig_match"))
    val within = sigDig.as("l").join(sigDig.as("r"), Seq("dig"))
      .filter(col("l.source") < col("r.source"))
      .filter(col("l.sig") === col("r.sig")) // digest-collision guard
      .select(col("l.source").as("source_a"), col("r.source").as("source_b"),
        lit(MinhashHashes.toLong).as("sig_match"))
    cross.unionByName(within)
      .select(col("source_a"), col("source_b"), col("sig_match"),
        round(col("sig_match").cast("double") / MinhashHashes, 4).as("est_jaccard"))
      .transform(CacheScope.owned(_, sig, sigDig, admitted))
  }

  /** The DuckDB oracle for tSourceOverlapLsh — the EXACT pair matrix
    * (srcOverlapMinhashOracleSql's recompute) filtered to the query's
    * threshold: the banding guarantee makes the banded output
    * identical to this filter, so the oracle needs no band
    * simulation. */
  private[graft] def srcOverlapLshOracleSql: String = {
    val mins = srcMinhashAbs.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % 4294967296) AS m$i"
    }.mkString(",\n                    ")
    val eq = (0 until MinhashHashes)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH t AS (SELECT source,
                    string_split_regex(trim(lower(trim(text))), '\\s+') AS toks
                    FROM documents),
              s AS (SELECT source, unnest(
                    list_transform(generate_series(1, len(toks) - 2),
                      i -> list_extract(toks, i) || ' ' || list_extract(toks, i+1) || ' ' || list_extract(toks, i+2))) AS sh
                    FROM t WHERE len(toks) >= 3),
              h AS (SELECT source,
                    ${hexPolySql("md5(sh)", 25)} AS h FROM s),
              sig AS (SELECT source,
                    $mins
                    FROM h GROUP BY source)
         SELECT a.source AS source_a, b.source AS source_b,
           CAST($eq AS BIGINT) AS sig_match,
           round(CAST($eq AS DOUBLE) / $MinhashHashes, 4) AS est_jaccard
         FROM sig a JOIN sig b ON a.source < b.source
         WHERE ($eq) >= $SrcLshMinMatch"""
  }

  /** Exact digest of a hashed-shingle SET: order-normalized before
    * hashing so any two docs with equal shingle sets — i.e. exact
    * duplicates up to shingle order, which is J = 1.0 by definition —
    * get equal digests. The digest is what lets every LSH stage run
    * over DISTINCT sets (digest collapse below): a corpus with a
    * million copies of one boilerplate page contributes ONE
    * representative to banding instead of a million rows in the same
    * band bucket — the classic hot-bucket quadratic at web scale. */
  private[graft] def shingleDigest(sh: Column): Column =
    xxhash64(array_sort(sh))

  /** Expand digest-level verified pairs (a_dig, b_dig, jaccard) back
    * to member doc pairs, plus the within-digest pairs (identical
    * sets, J = 1.0 by definition). Output-bound: each emitted row IS
    * a result pair, so this join can never exceed the size of the
    * answer — the irreducible cost of reporting n² pairs among n
    * copies, paid only in id-pair space (no shingle arrays ride
    * through it). */
  private def expandDigestPairs(pairs: DataFrame, digests: DataFrame): DataFrame = {
    val cross = pairs
      .join(digests.select(col("dig").as("a_dig"), col("doc_id").as("a_m")), Seq("a_dig"))
      .join(digests.select(col("dig").as("b_dig"), col("doc_id").as("b_m")), Seq("b_dig"))
      .select(least(col("a_m"), col("b_m")).as("a_id"),
        greatest(col("a_m"), col("b_m")).as("b_id"), col("jaccard"))
    val within = digests.as("l").join(digests.as("r"), Seq("dig"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** MinHash + LSH near-dup: 3-word shingles → one xxhash64 per
    * shingle → 32 minhash values via affine rehash of that long
    * (h_i = a_i·h + b_i, the universal-hash family MLlib's
    * MinHashLSH uses — ONE string-hash pass instead of 32; the
    * salted-xxhash64-per-function form was 5× slower) → 8 bands ×
    * 4 rows → band buckets → candidate pairs only within identical
    * bands → verify candidates with Jaccard on the hashed shingle
    * sets (long arrays; collisions at 2^-64 are noise).
    *
    * Scale shape: signatures are one narrow pass (no shuffle);
    * candidate generation shuffles by (band, band_key) — bounded by
    * data size, not pair count; only candidates pay the exact
    * set-intersection. The candidate pair set is deduped to bare ids
    * before re-fetching shingle hashes, so wide arrays never ride
    * through the pair shuffle twice. Two guards keep a degenerate
    * band bucket from going quadratic at web scale: exact duplicates
    * are digest-collapsed to one representative BEFORE banding (so a
    * million copies of a boilerplate page are one band row, and their
    * n² output pairs are produced by an output-bound expansion join,
    * not an n²-row bucket self-join), and residual buckets above
    * MaxBandBucket distinct sets are excluded from the pairwise join
    * (degenerate band; the other 7 bands keep the recall). Engine-
    * specific hash functions → no SQL oracle (rows-only check). */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    { val docs = hashedShingles(spark, dir)
      CacheScope.owned(dedupMinhashOf(docs), docs) }

  /** dedupMinhash over any hashed-shingle frame, with the band-bucket
    * cap exposed for specs. Pipeline: digest collapse (exact dups →
    * one representative — see digestCollapse) → banding + capped
    * candidate join over representatives → exact Jaccard verification
    * → expansion back to member pairs. The output pair set is
    * IDENTICAL to the uncollapsed form (Jaccard is a set function);
    * only the quadratic work inside a band bucket shrinks. */
  private[graft] def dedupMinhashOf(docs: DataFrame,
      cap: Int = MaxBandBucket): DataFrame = {
    // The hashed-shingle table is referenced by the signature pass AND
    // both candidate-verification legs; unpersisted, the whole
    // tokenize→shingle→hash pipeline re-ran per leg (the plan scanned
    // the documents parquet 8×). It is ~50 longs/doc — tiny relative
    // to the corpus — so persisting it is the standard LSH shape at
    // any scale (at 100 TB this would be a written intermediate).
    //
    // Candidate generation is digest-collapsed WITHOUT ever shuffling
    // the wide shingle arrays (minhashCandidatesOf collapses narrow
    // band rows); only verified candidate ids re-fetch their arrays,
    // exactly as before the collapse existed.
    val digests = docs
      .select(col("doc_id"), shingleDigest(col("sh")).as("dig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verified = minhashCandidatesOf(docs, cap)
      .join(docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .withColumn("jaccard", round(
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))), 4))
      .filter(col("jaccard") >= 0.7)
      .join(digests.select(col("doc_id").as("a_id"), col("dig").as("a_dig")), Seq("a_id"))
      .join(digests.select(col("doc_id").as("b_id"), col("dig").as("b_dig")), Seq("b_id"))
      .select(col("a_dig"), col("b_dig"), col("jaccard"))
    CacheScope.owned(expandDigestPairs(verified, digests), digests)
  }

  /** Distinct-hashed 3-shingle sets per doc, persisted (see
    * dedupMinhash's scale note) — the dir-based wrapper over
    * hashedShinglesOf, so batch and streaming share ONE hashing
    * expression tree. */
  private def hashedShingles(spark: SparkSession, dir: String): DataFrame =
    hashedShinglesOf(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Brute-force all-pairs shingle-set Jaccard — the exact ground
    * truth dedupMinhash approximates (same sets, same measure).
    * Quadratic; spec/verification scale only. NOTE this is NOT
    * dedupNgramJaccard's measure: that one compares distinct TOKEN
    * sets, which on this corpus's tiny shared vocabulary are near-
    * identical across docs whose 3-shingle (order-sensitive) sets
    * are disjoint — containment of token-set pairs in shingle
    * candidates was measured at ~1% and is the wrong assertion. */
  def shingleJaccardExact(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame = {
    val docs = hashedShingles(spark, dir)
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("jaccard", round(
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .transform(CacheScope.owned(_, docs))
  }

  /** MinHash band-bucket candidate pairs (pre-verification) — split
    * out so TextQueriesSpec can assert the banding guarantee against
    * shingleJaccardExact: a J = 0.9 pair shares a band w.p.
    * 1-(1-0.9⁴)⁸ ≈ 1 - 4e-5 (the spec asserts full containment
    * there), while at the J = 0.7 output threshold the theoretical
    * per-pair catch rate is 1-(1-0.7⁴)⁸ ≈ 0.89 — on THIS corpus the
    * near-dup pairs are all J ≥ 0.9, so the spec can assert the
    * stronger set EQUALITY of dedupMinhash vs the exact J ≥ 0.7
    * pairs (measured, deterministic). */
  def minhashCandidates(spark: SparkSession, dir: String): DataFrame = {
    val docs = hashedShingles(spark, dir)
    val digests = docs
      .select(col("doc_id"), shingleDigest(col("sh")).as("dig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val digPairs = minhashCandidatesOf(docs)
      .join(digests.select(col("doc_id").as("a_id"), col("dig").as("a_dig")), Seq("a_id"))
      .join(digests.select(col("doc_id").as("b_id"), col("dig").as("b_dig")), Seq("b_id"))
      .select(col("a_dig"), col("b_dig"), lit(0.0).as("jaccard"))
    CacheScope.owned(expandDigestPairs(digPairs, digests).drop("jaccard"),
      digests, docs)
  }

  // MinHash family parameters — ONE definition so batch queries and
  // the streaming ingest index always hash into the same bands.
  private[graft] val MinhashHashes = 32
  private val MinhashBands = 8

  /** Frequency cap on a (band, band_key) bucket admitted to the
    * pairwise candidate join, applied AFTER digest collapse — so only
    * buckets holding > MaxBandBucket DISTINCT shingle sets are
    * excluded. Such a bucket means one band's 4 minhash minima are
    * shared by hundreds of genuinely different docs — a degenerate
    * (low-selectivity) band, the O(n²)-in-one-key scale-killer at
    * web scale. Excluded members keep their 7 other bands, so a true
    * J ≥ 0.7 pair is lost only if EVERY band it collides in is
    * saturated; exact duplicates are immune entirely (the digest
    * path catches them before banding). 256² bounds any bucket's
    * pair fan-out at 64k — a task-sized unit of work. */
  val MaxBandBucket = 256

  /** Band buckets whose DISTINCT-set population exceeds `cap` — the
    * buckets minhashCandidatesOf would exclude. Spec/observability
    * surface: (band, band_key, bucket_n). */
  private[graft] def minhashHotBuckets(docs: DataFrame, cap: Int): DataFrame =
    collapsedBands(docs)
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
  // fixed odd multipliers/offsets — any deterministic odd-a family
  private[graft] val minhashAbs: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    IndexedSeq.fill(MinhashHashes)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** The 32 affine-rehash minima in ONE fused codegen'd pass — the
    * native `graft_minhash_sig` expression (functions/MinHashSig
    * .scala). The signature pass is the sole full-corpus scan of
    * both the batch MinHash path and the streaming LSH index build;
    * the builtin composition it replaces (GraftFunctionsSpec keeps it
    * as its oracle) made 32 interpreted higher-order passes per row. */
  private[graft] def minhashSigExpr(sh: Column): Column =
    call_function("graft_minhash_sig", sh,
      typedlit(minhashAbs.map(_._1)), typedlit(minhashAbs.map(_._2)))

  /** (doc_id, band, band_key) from hashed-shingle sets — the LSH
    * index rows. Public so the streaming ingest path can persist the
    * same band space as a lake table. */
  def minhashBandsOf(docs: DataFrame): DataFrame = bandsOf(docs, withDig = false)

  /** Shared band-row pipeline; `withDig` additionally carries the
    * exact set digest through the narrow pass (for the collapsed
    * candidate generation — no extra shuffle, just one more column
    * riding the projection). */
  private def bandsOf(docs: DataFrame, withDig: Boolean): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val rowsPerBand = MinhashHashes / MinhashBands
    val keyCols =
      if (withDig) Seq(col("doc_id"), shingleDigest(col("sh")).as("dig"))
      else Seq(col("doc_id"))
    val sig = docs.select(keyCols :+ minhashSigExpr(col("sh")).as("sig"): _*)
    val carried = if (withDig) Seq(col("doc_id"), col("dig")) else Seq(col("doc_id"))
    sig.select(carried :+
      posexplode(transform(sequence(lit(0), lit(MinhashBands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))): _*)
      .select(carried ++ Seq(col("pos").as("band"), col("col").as("band_key")): _*)
  }

  /** One band row per (band, band_key, DISTINCT shingle set): bands
    * are computed for every doc in one narrow pass and collapsed by
    * a map-side-combinable min(doc_id) per (band, band_key, digest)
    * — a million exact copies combine down to one row per band
    * INSIDE their map tasks, and the wide shingle arrays never enter
    * any shuffle. The surviving doc_id is the set's global
    * representative (identical sets produce identical band rows, so
    * the per-bucket min is the group min everywhere). */
  private def collapsedBands(docs: DataFrame): DataFrame =
    bandsOf(docs, withDig = true)
      .groupBy(col("band"), col("band_key"), col("dig"))
      .agg(min(col("doc_id")).as("doc_id"))

  /** REPRESENTATIVE candidate pairs over a hashed-shingle frame, with
    * the hot-bucket cap: band rows are digest-collapsed
    * (collapsedBands — one row per distinct set per bucket), bucket
    * populations are counted (a map-side-combinable agg on the same
    * shuffle key as the join), and buckets above `cap` are excluded
    * from the self-join — see MaxBandBucket for why that is the
    * right trade at scale. Pairs between exact-duplicate members are
    * NOT here by construction; dedupMinhashOf's expansion adds them
    * back output-bound. */
  private[graft] def minhashCandidatesOf(docs: DataFrame,
      cap: Int = MaxBandBucket): DataFrame = {
    // The cap is a count OVER the join key, so compute it as a window
    // on the (band, band_key)-shuffled rows instead of a separate
    // groupBy + re-join: one exchange that ALSO pre-partitions (and
    // pre-sorts) both legs of the self-join below — the admitted
    // frame's distribution satisfies the join requirement, so the
    // whole cap costs one shuffle of the narrow band rows, not three.
    // `admitted` (not the pre-window frame) carries the persist: it
    // is what both self-join legs read.
    val admitted = collapsedBands(docs)
      .withColumn("bucket_n", count(lit(1)).over(
        Window.partitionBy(col("band"), col("band_key"))))
      .filter(col("bucket_n") <= cap)
      .drop("bucket_n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CacheScope.owned(admitted.as("l")
      .join(admitted.as("r"), Seq("band", "band_key"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .distinct(), admitted)
  }

  /** SimHash near-dup: 64-bit signature — bit b is the sign of
    * Σ_tokens (±1 by bit b of the token hash); computed per doc in
    * ONE narrow codegen'd map (the native `graft_simhash64`
    * expression — no token explode, no shuffle; see
    * simhashSignatures). Pairs within hamming ≤ 6 found by
    * pigeonhole bucketing on 8-bit signature bytes: 6 differing bits
    * spread over 8 blocks leave at least one block identical (true
    * for any hamming < 8), so candidate generation is EXACT for the
    * ≤ 6 threshold — TextQueriesSpec asserts set equality against
    * brute-force all-pairs hamming. (The earlier 16-bit-quarter
    * scheme only guaranteed hamming ≤ 3.) Self-join stays
    * bucket-local; at larger corpora widen the signature or use
    * multi-block Manku-style keys to keep 8-bit buckets from
    * growing with corpus size. Rows-only driver check; ground truth
    * lives in the spec. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sig = simhashSignatures(spark, dir)
    val blocked = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 8).map(q =>
        shiftrightunsigned(col("simhash"), q * 8).bitwiseAND(lit(0xFFL))): _*)))
      .select(col("doc_id"), col("simhash"), col("pos").as("q"), col("col").as("qkey"))
      // both self-join legs reference this — persist so the
      // signature scan (an MD5 per token) runs once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = blocked.select(col("q"), col("qkey"),
      col("doc_id").as("a_id"), col("simhash").as("a_sig"))
    val r = blocked.select(col("q"), col("qkey"),
      col("doc_id").as("b_id"), col("simhash").as("b_sig"))
    l.join(r, Seq("q", "qkey")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .transform(CacheScope.owned(_, blocked))
  }

  /** 64-bit SimHash signature per doc — public so TextQueriesSpec
    * can brute-force all-pairs hamming and assert dedupSimhash's
    * pigeonhole candidate generation loses nothing at ≤ 6.
    *
    * The per-token 64-bit hash is the LOWER HALF OF md5 (hex chars
    * 17..32, assembled from two 32-bit conv halves so the unsigned
    * top bit survives the long cast) rather than xxhash64: md5 is
    * the one 64-bit-capable hash DuckDB computes bit-identically, so
    * the whole query — signatures, majority bits, hamming — has a
    * full SQL oracle instead of a rows-only check. SimHash only
    * needs a uniform deterministic hash; which one is arbitrary. */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    Tables.documents(spark, dir).select(col("doc_id"),
      call_function("graft_simhash64", tokens(normText(col("text"))))
        .as("simhash"))
  }

  /** Document fingerprinting: cross-engine-stable md5 content
    * fingerprint plus its 4-hex-digit prefix as a uniform shard
    * key — the pattern for stable dedup keys + balanced partitioning
    * at 100 TB. md5 is byte-identical in DuckDB → full oracle. */
  def tFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      md5(normText(col("text"))).as("fingerprint"),
      substring(md5(normText(col("text"))), 1, 4).as("shard_key"))

  /** Winnowing fingerprint (Schleimer et al., MOSS): character
    * k-grams of the normalized text → one hash per gram → the
    * minimum hash of every w-gram window is selected → the distinct
    * selected set is the document's fingerprint. Robust to
    * insertions/reordering where the whole-document md5
    * (tFingerprint) is not: any shared substring of length w+k-1
    * guarantees a shared selected hash — the standard
    * partial-overlap dedup signal.
    *
    * The gram "rolling hash" is md5 with lexicographic min — chosen
    * because DuckDB computes the identical bytes, making this the
    * rare fingerprint with a FULL SQL oracle (engine-native hashes
    * like xxhash64 differ across engines and would force a rows-only
    * check). Emitted per doc: selected-hash count plus a digest of
    * the sorted selected set. All codegen'd builtins; one narrow
    * map, no shuffle. */
  def tWinnow(spark: SparkSession, dir: String,
      k: Int = 8, w: Int = 4): DataFrame =
    winnowSelected(spark, dir, k, w)
      .select(col("doc_id"),
        size(col("sel")).cast("long").as("n_selected"),
        md5(concat_ws(",", col("sel"))).as("winnow_digest"))

  /** The selected-hash set behind tWinnow — public so the spec can
    * assert winnowing's guarantee directly: two docs sharing any
    * normalized substring of length ≥ w+k-1 share at least one
    * selected hash (one full window of grams fits inside the match,
    * and its minimum is selected on both sides). */
  def winnowSelected(spark: SparkSession, dir: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val t = col("t")
    Tables.documents(spark, dir)
      .select(col("doc_id"), normText(col("text")).as("t"))
      .filter(length(t) >= k)
      .select(col("doc_id"),
        call_function("graft_winnow_sel", t, lit(k), lit(w)).as("sel"))
  }

  /** Language ID by corpus-trained character-trigram profiles: one
    * distributed pass learns the top-40 trigrams per labeled
    * language; the tiny profile is broadcast back and each doc is
    * scored by profile overlap. The "model" is an agg output — no
    * driver-side state, scales to any corpus. Rows-only check (the
    * prediction is heuristic, not SQL-canonical). */
  def tLangId(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // Trigrams come from the native graft_char_ngrams
    // (functions/CharNgrams.scala); the <3-char whole-text fallback
    // is folded into the expression. Round-18 shape: training stays
    // the one distributed pass (explode → map-side-combinable
    // (lang, tri) count → per-lang top-40 — output is vocabulary-
    // bounded), but the trained profile is a MODEL (40 × |languages|
    // strings — the kmeansCentroids locus), so it is collected and
    // scoring becomes ONE map-only pass over the corpus: per doc,
    // occurrence-count hits against each profile via array filters,
    // argmax by (hits desc, profile_lang asc). That removes the
    // round-17 shape's corpus-sized persist of the exploded trigram
    // frame, its scoring join + (doc, lang, profile) exchange, and
    // the per-doc rank window — at 100 TB, two corpus shuffles and a
    // corpus cache become zero (guide §2.3/§8: decide with the small
    // rows, score with a narrow pass). Integer hit counts make the
    // two shapes identical by construction (TextQueriesSpec pins the
    // fused pass row-equal to the join+window form).
    val trisOf = call_function("graft_char_ngrams",
      normText(col("text")), lit(3))
    val topPerLang = Tables.documents(spark, dir)
      .select(col("lang"), explode(trisOf).as("tri"))
      .groupBy(col("lang"), col("tri")).count()
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("count").desc, col("tri"))))
      .filter(col("rk") <= 40)
      .select(col("lang").as("profile_lang"), col("tri"))
    val profiles: Seq[(String, Array[String])] = topPerLang.collect()
      .groupBy(_.getString(0))
      .map { case (l, rows) => (l, rows.map(_.getString(1))) }
      .toSeq.sortBy(_._1)
    // per-profile (−hits, lang) structs: array_min picks max hits
    // with ties to the smallest profile_lang — exactly the rank
    // window's (hits desc, profile_lang asc) first row. Hit counting
    // rides the native graft_count_in (one hash-set probe per
    // trigram occurrence) — a filter/array_contains chain here costs
    // |tris| × 40 string compares per doc per language.
    val scoreCols = profiles.map { case (l, ts) =>
      struct(
        (-call_function("graft_count_in", col("tris"), typedlit(ts.toSeq)))
          .cast("long").as("nh"),
        lit(l).as("pl"))
    }
    // no-hit docs drop via an explode of a 0/1-element array (the
    // sorted candidates' head) instead of a Filter: filter pushdown
    // would substitute the `tris` alias into the pushed condition and
    // re-run the trigram extraction once per language per row — the
    // guide §4.4 duplicated-evaluation pathology in JVM form. A
    // single Generate evaluates the scoring array once per row.
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), trisOf.as("tris"))
      .select(col("doc_id"), col("lang"),
        explode(slice(array_sort(
          filter(array(scoreCols: _*), s => s.getField("nh") < 0)),
          1, 1)).as("best"))
      .select(col("doc_id"), col("lang"),
        col("best").getField("pl").as("predicted"),
        (-col("best").getField("nh")).as("hits"))
  }

  // ——— training-set assembly: deterministic shuffle-shard, context-
  //     window packing, benchmark decontamination, repetition stats,
  //     and clustering over the LSH (scale-path) pair graph ———

  /** Deterministic per-doc shuffle key under a named seed. md5 (not
    * xxhash64) so the DuckDB oracle computes the identical bytes —
    * the portability argument of tStratifiedSample applied to the
    * global corpus shuffle every training run starts with. */
  private def shuffleHash(seed: String): Column =
    md5(concat(col("doc_id").cast("string"), lit(":" + seed)))

  /** Global deterministic shuffle + sharding — the "shuffle the
    * corpus, write N shards" step of training-data prep, with zero
    * RNG state: shard = first hex nibble of md5(doc_id:seed) (16
    * shards; at 100 TB take k nibbles for 16^k shards), position =
    * rank of the hash within the shard. A re-run, on any cluster
    * size or partitioning, reproduces byte-identical shard files.
    * Plans as one hash-partitioned exchange + per-shard sort — the
    * minimum any global shuffle pays; no global ordering, no
    * single-partition window. */
  def tShardShuffle(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), shuffleHash("s42").as("hx"))
      .withColumn("shard", conv(substring(col("hx"), 1, 1), 16, 10).cast("long"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("hx"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))

  /** Context-window packing under concatenation: lay the shuffled
    * corpus (tShardShuffle order) end to end and split into
    * `budget`-token chunks; each doc reports the first and last
    * chunk index it lands in. This is the concat-and-split packing
    * every pretraining pipeline runs (doc boundaries ignored, chunk
    * = attention-window worth of tokens); the doc→chunk map is what
    * sample-level provenance needs. Chunk indices are per-shard, so
    * the cumulative sum is a per-shard window (never a global one)
    * and each shard packs independently — exactly how N writers
    * would pack N shards in parallel at 100 TB. */
  def tPackChunks(spark: SparkSession, dir: String, budget: Int = 256): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("hx"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), shuffleHash("s42").as("hx"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("shard", conv(substring(col("hx"), 1, 1), 16, 10).cast("long"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor(col("cum_before") / budget).cast("long").as("chunk_first"),
        floor((col("cum_before") + col("n_tokens") - 1) / budget).cast("long")
          .as("chunk_last"))
  }

  /** Benchmark decontamination — the n-gram-overlap check (GPT-3
    * appendix C / Llama style) every training corpus runs before a
    * model ships: a training doc is contaminated to the degree its
    * word n-grams appear in the held-out benchmark set. Benchmark
    * membership here is the deterministic doc_id % `benchMod` == 0
    * slice (a stand-in for the real eval suites); output is every
    * training doc with its count of distinct contaminated n-grams
    * (0 = clean — the filter threshold is the caller's policy
    * knob). Grams are xxhash64'd before the join (8-byte keys, same
    * trick as dedupNgramJaccard) and the benchmark gram set is
    * BROADCAST: real benchmarks are a few MB against 100 TB of
    * training text, so the contamination check is a map-side
    * semi-join — the full corpus is never shuffled. */
  /** Hashed DISTINCT word n-grams of a (doc_id, text, …) frame — ONE
    * expression tree shared by batch decontamination and its
    * streaming twin (StreamOps.decontaminateBatch), so both paths
    * flag the same grams by construction. */
  private[graft] def hashedGramsOf(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id"), tokens(lower(trim(col("text")))).as("w"))
      .select(col("doc_id"),
        explode(call_function("graft_ngram_hash", col("w"), lit(n))).as("g"))
      .distinct()
  }

  def tDecontaminate(spark: SparkSession, dir: String, n: Int = 5,
      benchMod: Int = 97): DataFrame = {
    val grams = hashedGramsOf(Tables.documents(spark, dir), n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bench = grams.filter(col("doc_id") % benchMod === 0)
      .select(col("g")).distinct()
    val hits = grams.filter(col("doc_id") % benchMod =!= 0)
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_grams"))
    Tables.documents(spark, dir)
      .filter(col("doc_id") % benchMod =!= 0)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"))
      .transform(CacheScope.owned(_, grams))
  }

  /** N-gram decontamination, the BLOOM-FILTER scale path:
    * tDecontaminate broadcasts the exact benchmark gram set — 8 bytes
    * per gram, fine for bounded suites, but a wall when the held-out
    * side grows to hundreds of millions of grams. This variant folds
    * the benchmark into a fixed `mBits`-bit Bloom filter (16 KiB at
    * the 2^17 default — the broadcast cost no longer scales with the
    * benchmark at all) and flags a training gram when all `k`
    * double-hashed positions are set. One-sided by construction:
    * every true contamination is flagged (no false negatives — the
    * property decontamination must not lose); false positives occur
    * at ≈ (1-e^(-kn/m))^k and only ever REMOVE extra training docs,
    * the conservative direction.
    *
    * Cross-engine parity: positions derive from md5 of the gram
    * string (h1 = low 32 bits, h2 = next 32 | 1; position_j =
    * (h1 + j·h2) mod m — Kirsch-Mitzenmacher double hashing), so the
    * DuckDB oracle recomputes the filter INCLUDING its false
    * positives bit-identically: the sketch is the checked artifact,
    * not a proxy. The filter itself is built DISTRIBUTIVELY by the
    * `graft_bloom_agg` native aggregate (partial bit arrays OR-merge
    * map-side), so the driver collects one mBits/8-byte row no
    * matter how many grams the held-out suite contains — unlike
    * tDecontaminate's broadcast set, NOTHING here scales with the
    * benchmark.
    *
    * Scale shape: one corpus scan to distinct (doc_id, gram) rows —
    * the same shuffle tDecontaminate pays — then a PURE MAP-SIDE
    * membership test (4 element_at probes into a codegen'd literal
    * array; no join, no second shuffle) and a doc_id-keyed count. */
  def tDecontaminateBloom(spark: SparkSession, dir: String, n: Int = 5,
      benchMod: Int = 97, mBits: Int = BloomMBits, k: Int = BloomK): DataFrame =
    tDecontaminateBloomOf(Tables.documents(spark, dir), n, benchMod, mBits, k)

  /** The Bloom-decontamination core over any (doc_id, text, …) frame
    * — separated so specs can drive engineered corpora and tiny
    * filters (forced false positives) through the production path. */
  private[graft] def tDecontaminateBloomOf(docs: DataFrame, n: Int,
      benchMod: Int, mBits: Int, k: Int): DataFrame = {
    // ONE hashed-gram frame serves the build leg and the probe leg
    val grams = bloomGramHashes(docs, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val words = bloomWordsOf(grams.filter(col("doc_id") % benchMod === 0),
      mBits, k)
    bloomProbeCounts(grams.filter(col("doc_id") % benchMod =!= 0),
        docs.filter(col("doc_id") % benchMod =!= 0), words, k)
      .transform(CacheScope.owned(_, grams))
  }

  /** Distinct (doc_id, h1, h2) md5 double-hash rows of a frame's word
    * n-grams — ONE expression tree shared by the batch query and the
    * streaming micro-batch twin (StreamOps.decontaminateBloomBatch).
    * Grams are hashed IN the explode projection so the distinct
    * shuffles 16-byte rows, never gram strings — "distinct gram"
    * becomes "distinct md5 halves", equal up to 2^-64 within-doc
    * collisions (the t_substring_spans deal). */
  private[graft] def bloomGramHashes(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), tokens(lower(trim(col("text")))).as("w"))
      .select(col("doc_id"), explode(when(size(col("w")) >= n,
        transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => concat_ws(" ", slice(col("w"), i, lit(n)))))
        .otherwise(array().cast("array<string>"))).as("g"))
      .select(col("doc_id"), md5(col("g")).as("hx"))
      .select(col("doc_id"),
        conv(substring(col("hx"), 25, 8), 16, 10).cast("long").as("h1"),
        conv(substring(col("hx"), 17, 8), 16, 10).cast("long")
          .bitwiseOR(lit(1L)).as("h2"))
      .distinct()

  /** OR-aggregate a hashed-gram frame into the filter's word array.
    * The build is DISTRIBUTIVE (graft_bloom_agg: partial bit arrays
    * per task, bitwise-OR merge) — the driver receives one
    * mBits/8-byte row however large the benchmark is. */
  private[graft] def bloomWordsOf(grams: DataFrame, mBits: Int,
      k: Int): IndexedSeq[Long] = {
    graft.functions.GraftFunctions.ensureRegistered(grams.sparkSession)
    graft.functions.BloomAgg.wordsOf(
      grams.agg(call_function("graft_bloom_agg",
        col("h1"), col("h2"), lit(mBits), lit(k)).as("bits"))
        .collect()(0).getAs[Array[Byte]](0)).toIndexedSeq
  }

  /** Probe leg: per-doc count of grams whose k filter positions are
    * all set — a pure map-side test (element_at probes into the
    * codegen'd literal word array; no join) plus one doc_id-keyed
    * count. `docs` supplies the row universe (docs with zero hits
    * emit 0). The modulus is DERIVED from the filter itself
    * (words.length × 64), so a probe can never silently disagree
    * with the filter it was handed. */
  private[graft] def bloomProbeCounts(grams: DataFrame, docs: DataFrame,
      words: IndexedSeq[Long], k: Int): DataFrame = {
    val mBits = words.length * 64
    val bits = typedlit(words)
    // pre-reduced double-hash stepping — the SAME exact (h1 + j·h2)
    // mod m arithmetic BloomAgg.update performs, so build and probe
    // agree for ARBITRARY long hashes, not just the md5-low-32 ones
    // current callers pass (reduced operands stay < m, so j·h2r + h1r
    // cannot wrap for any real (k, m))
    val hitCond = (0 until k).map { j =>
      val h1r = pmod(col("h1"), lit(mBits.toLong))
      val h2r = pmod(col("h2"), lit(mBits.toLong))
      val p = pmod(h1r + lit(j.toLong) * h2r, lit(mBits.toLong))
      val word = element_at(bits, (p / 64).cast("int") + 1)
      word.bitwiseAND(call_function("shiftleft", lit(1L),
        pmod(p, lit(64L)).cast("int"))) =!= 0
    }.reduce(_ && _)
    val hits = grams.filter(hitCond)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_grams"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"))
  }

  private[graft] val BloomMBits = 1 << 17
  private[graft] val BloomK = 4

  /** The DuckDB oracle for tDecontaminateBloom: the filter's set-bit
    * positions and the probe positions are the same md5 double-hash
    * arithmetic, so the oracle reproduces the Bloom semantics — false
    * positives included — via an all-k-positions-present join. */
  private[graft] def decontaminateBloomOracleSql: String =
    s"""WITH toks AS (SELECT doc_id,
                    string_split_regex(lower(trim(text)), '\\s+') AS w
                    FROM documents),
              g AS (SELECT DISTINCT doc_id,
                      array_to_string(array_slice(w, i, i + 4), ' ') AS g
                    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                          FROM toks)),
              h AS (SELECT doc_id, g,
                    ${hexPolySql("md5(g)", 25)} AS h1,
                    (${hexPolySql("md5(g)", 17)} | 1) AS h2 FROM g),
              bp AS (SELECT DISTINCT (h1 + j * h2) % $BloomMBits AS p
                    FROM (SELECT doc_id, g, h1, h2, unnest(range(0, $BloomK)) AS j
                          FROM h WHERE doc_id % 97 = 0)),
              pr AS (SELECT doc_id, g, (h1 + j * h2) % $BloomMBits AS p
                    FROM (SELECT doc_id, g, h1, h2, unnest(range(0, $BloomK)) AS j
                          FROM h WHERE doc_id % 97 <> 0)),
              hit AS (SELECT doc_id, g FROM pr LEFT JOIN bp ON pr.p = bp.p
                    GROUP BY doc_id, g HAVING count(*) = count(bp.p)),
              c AS (SELECT doc_id, count(*) AS n_hit_grams FROM hit GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(c.n_hit_grams, 0) AS BIGINT) AS n_hit_grams
         FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
         WHERE d.doc_id % 97 <> 0"""

  /** Gopher-style repetition quality stats: distinct-token fraction
    * and the share of bigrams taken by the most frequent bigram —
    * the cheap repetition filters (Rae et al. 2021 §A1.1) that kill
    * boilerplate/spam before any model-based scoring. Per-doc
    * aggregation keyed by doc_id: uniform shuffle, no skew; the
    * token arrays stay inside one narrow projection (never shuffled
    * — only (doc_id, gram-hash) rows move). */
  def tRepetition(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    repetitionOf(Tables.documents(spark, dir))
  }

  /** The repetition core over any (doc_id, text) frame — shared with
    * the streaming micro-batch gate. Caller ensures the native
    * functions are registered. */
  def repetitionOf(in: DataFrame): DataFrame = {
    val docs = in
      .select(col("doc_id"), tokens(lower(trim(col("text")))).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = docs.select(col("doc_id"),
      size(col("w")).cast("long").as("n_tokens"),
      size(array_distinct(col("w"))).cast("long").as("n_uniq"))
    val top = docs
      .select(col("doc_id"),
        explode(call_function("graft_ngram_hash", col("w"), lit(2))).as("g"))
      .groupBy(col("doc_id"), col("g")).count()
      .groupBy(col("doc_id")).agg(max(col("count")).as("top_c"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round(col("n_uniq").cast("double") / col("n_tokens"), 4)
          .as("uniq_token_frac"),
        round(coalesce(col("top_c"), lit(0L)).cast("double") /
          greatest(col("n_tokens") - 1, lit(1L)), 4).as("top_bigram_frac"))
      .transform(CacheScope.owned(_, docs))
  }

  /** Cross-document exact-substring duplicate spans (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * span-granular dedup that doc-level MinHash/SimHash cannot
    * express): a token position is duplicated when its `spanGram`-
    * token window occurs MORE THAN ONCE in the corpus (any doc,
    * including its own), and overlapping-or-adjacent duplicated
    * windows merge into maximal per-doc spans — the regions a
    * training pipeline masks or cuts, where doc-level dedup would
    * either drop a mostly-unique document or keep its boilerplate.
    *
    * Shape at scale: one narrow gram pass (grams ride as xxhash64
    * longs — the oracle counts the gram STRINGS, equal up to 64-bit
    * collisions, the t_decontaminate precedent), ONE exchange on the
    * uniform hash key whose window count finds duplicated grams (the
    * minhash-cap one-shuffle trick), then the gaps-and-islands merge
    * (e2_sessionize's pattern) on the uniform doc_id key. Token
    * arrays never shuffle; Lee et al.'s suffix array becomes two
    * bounded exchanges of (doc_id, pos, hash) rows. */
  def tSubstringSpans(spark: SparkSession, dir: String,
      spanGram: Int = 8): DataFrame =
    tSubstringSpansOf(Tables.documents(spark, dir), spanGram)

  /** tSubstringSpans over any (doc_id, text) frame — fixture surface
    * for the hand-computed span spec. */
  private[graft] def tSubstringSpansOf(docs: DataFrame,
      spanGram: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val w = col("w")
    val grams = docs
      .select(col("doc_id"), tokens(lower(trim(col("text")))).as("w"))
      .filter(size(w) >= spanGram)
      .select(col("doc_id"),
        posexplode(call_function("graft_ngram_hash", col("w"), lit(spanGram))))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    val dupPos = grams
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("occ") > 1)
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + (spanGram - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dupPos
      .withColumn("new_span",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1).otherwise(0))
      .withColumn("island", sum(col("new_span")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (spanGram - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** TF-IDF keyword extraction: top-k terms per doc. Classic corpus
    * statistics as two uniform-key aggs (term frequency per doc,
    * document frequency per term) joined back on `term` — the df
    * side is vocabulary-sized, so AQE broadcasts it when the
    * vocabulary is bounded and falls back to a term-keyed shuffle
    * when it is not (web-scale vocabularies don't fit a broadcast).
    *
    * idf is the UN-LOGGED (N+1)/(df+1): monotone in df exactly like
    * log-idf (so per-doc rankings only reorder across extreme
    * tf/df trades), chosen because the whole score is then one IEEE
    * division — bit-identical in any engine — where ln's last-ulp
    * differences between libm implementations could flip a rounded
    * 4th decimal and break the cross-engine hash compare. */
  def tTfidf(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(lower(trim(col("text")))).as("w"))
    val tf = docs.select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir).count()
    tf.join(dfreq, Seq("term"))
      .withColumn("score", col("tf") * (lit(nDocs) + lit(1.0)) / (col("df") + 1))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("score"), 4).as("tfidf"), col("rk"))
      .transform(CacheScope.owned(_, tf))
  }

  /** Inverted-index build: per term, its document frequency and a
    * posting list CAPPED at the first `cap` doc_ids — hot terms
    * (stopwords) are exactly the skewed keys whose full posting
    * list must never ride through a single reducer, so the cap is
    * applied by a rank window WindowGroupLimit prunes map-side
    * (each task forwards ≤ cap rows per term before the shuffle,
    * same plan shape PlanSpec pins for tStratifiedSample), and only
    * the capped rows are collected. True df comes from the uncapped
    * count agg — map-side-combinable, never a list. At 100 TB the
    * full lists would be written sharded ((term, doc_id-range)
    * partitioned), with this cap as the serving-tier head. */
  def tInvertedIndex(spark: SparkSession, dir: String, cap: Int = 100): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(lower(trim(col("text")))).as("w"))
      .select(col("doc_id"), explode(array_distinct(col("w"))).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val postings = tf
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("doc_id"))))
      .filter(col("rk") <= cap)
      .groupBy(col("term"))
      .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
        i => i.cast("string")), ",").as("postings"))
    dfreq.join(postings, Seq("term"))
      .select(col("term"), col("df"), col("postings"))
      .transform(CacheScope.owned(_, tf))
  }

  /** Compression-ratio quality signal: deflate each doc's UTF-8
    * bytes (zlib level 6) and report compressed/raw — the classic
    * cheap redundancy detector (boilerplate and keyword-stuffed spam
    * compress far below prose; the repetition-filter family of
    * Gopher §A1.1 by other means). The one operator here that needs
    * a NATIVE resource per row, so it is the mapPartitions showcase:
    * ONE Deflater allocated per partition, reset() per doc —
    * amortizing the handle exactly as MediaOps.decode documents for
    * codecs (JDK 17's Cleaner reclaims it when the iterator is
    * dropped). No SQL oracle — DuckDB exposes no zlib — so the spec
    * pins every row equal to direct java.util.zip output. */
  def tCompressRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](8192)
        it.map { case (id, text) =>
          val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          (id, raw.length.toLong, n)
        }
      }
      .toDF("doc_id", "raw_bytes", "zlib_bytes")
      .select(col("doc_id"), col("raw_bytes"), col("zlib_bytes"),
        round(col("zlib_bytes").cast("double") /
          greatest(col("raw_bytes"), lit(1L)), 4).as("compress_ratio"))
  }

  /** Duplicate clustering over the LSH pair graph — dedupClusters'
    * production twin: pairs come from the capped MinHash banding
    * (dedupMinhash) instead of the exact quadratic join, so the
    * WHOLE path — candidate generation, verification, clustering —
    * is the one that survives 100 TB. Spec-verified set-equal to
    * clustering the exact shingle-Jaccard pairs (no SQL oracle: the
    * pair source is hash-defined). */
  def dedupClustersLsh(spark: SparkSession, dir: String): DataFrame =
    clustersOf(dedupMinhash(spark, dir).select(col("a_id"), col("b_id")))

  /** Leakage-safe train/val/test split assignment — the split step a
    * pretraining pipeline must run AFTER near-dedup, not before: two
    * near-duplicates straddling train and eval leak training text
    * into the benchmark, so the unit of assignment is the NEAR-DUP
    * CLUSTER, not the document. Pipeline: the banded-LSH verified
    * pair graph ([[dedupMinhash]], Jaccard ≥ 0.7) → connected
    * components ([[clustersOf]]) → every document labeled with its
    * component (singletons label themselves) → split decided by the
    * md5 of the CLUSTER label (first two hex chars as a 0..255
    * bucket: < 205 train ≈80%, < 230 val ≈10%, else test ≈10%).
    * Hashing the label (not the doc id) makes the assignment
    * deterministic, reproducible across runs, co-assigns every
    * member of a cluster by construction, and stays stable under
    * corpus growth for unchanged clusters.
    *
    * Scale: the pair + component cost IS the dedup pipeline's — a
    * warehouse reads the stored clusters index (clustersIngestBatch
    * maintains it) instead of recomputing; everything downstream of
    * the labels is a narrow, shuffle-free map over
    * (doc_id, cluster_id). */
  def tSplitSafe(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(dedupClustersLsh(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split", splitOf(col("cluster_id")))
      .select(col("doc_id"), col("cluster_id"), col("split"))

  /** The split decision shared by [[tSplitSafe]] and the maintained-
    * index serving path (StreamOps.splitsOfIndex): md5 of the cluster
    * label, first two hex chars as a 0..255 bucket — < 205 train
    * (≈80%), < 230 val (≈10%), else test. One definition so batch and
    * incremental serving can never disagree on an unchanged label. */
  private[graft] def splitOf(label: Column): Column = {
    val bucket = conv(substring(
      md5(concat(label.cast("string"), lit(":split42"))),
      1, 2), 16, 10).cast("long")
    when(bucket < 205, "train").when(bucket < 230, "val").otherwise("test")
  }

  /** Corpus heavy hitters, exact: global top-k terms by occurrence
    * count. The scalable global-top-k shape: partial-agg'd counts
    * (vocabulary-sized, uniform term key) then `orderBy.limit(k)` —
    * Catalyst plans TakeOrderedAndProject, every task keeps its
    * local top-k and only tasks×k rows reach the driver-side heap;
    * there is never a global sort of the vocabulary. */
  def tHeavyHitters(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val top = Tables.documents(spark, dir)
      .select(explode(tokens(normText(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(k)
    // rank assigned after the limit: the single-partition window
    // (WindowExec warns) sees exactly k rows, never the vocabulary
    top.withColumn("rk", row_number().over(
      Window.orderBy(col("cnt").desc, col("term").asc)).cast("long"))
  }

  private val CmsDepth = 4
  private val CmsWidth = 2048

  /** CMS bucket for hash row `row` and term `term`: low 32 md5 bits
    * mod CmsWidth — the DSIR hashed-bucket trick, chosen over
    * xxhash64 because DuckDB computes md5 bit-identically, making
    * the whole sketch SQL-reproducible (CmsWidth divides 2^32, so
    * the low half alone determines the bucket). */
  private def cmsBucket(row: Column, term: Column): Column =
    pmod(md5Low32(concat_ws(":", row, term)), lit(CmsWidth))

  /** Count-min-sketch bucket counts: CmsDepth independent hash rows
    * of CmsWidth buckets. Partial aggregation bounds every
    * partition's shuffle contribution at depth×width rows no matter
    * how many tokens it holds — the sketch, not the vocabulary, is
    * what moves. */
  private def cmsSketchOf(terms: DataFrame): DataFrame =
    terms
      .select(col("term"),
        explode(array((0 until CmsDepth).map(lit(_)): _*)).as("row"))
      .select(col("row"), cmsBucket(col("row"), col("term")).as("bucket"))
      .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("cnt"))

  /** CMS estimate per candidate term: min over hash rows of the
    * bucket count the term lands in. The sketch side is ≤
    * depth×width rows — always broadcast. */
  private def cmsEstimate(candidates: DataFrame, sketch: DataFrame): DataFrame =
    candidates
      .select(col("term"),
        explode(array((0 until CmsDepth).map(lit(_)): _*)).as("row"))
      .select(col("term"), col("row"),
        cmsBucket(col("row"), col("term")).as("bucket"))
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(col("term")).agg(min(col("cnt")).as("est"))

  /** Heavy hitters via count-min sketch — the fixed-size-state twin
    * of tHeavyHitters for when exact per-term counts can't be kept
    * (streaming, merging sketches across corpora): the sketch is
    * CmsDepth×CmsWidth longs regardless of corpus size, and two
    * sketches merge by addition. Candidate terms come from a
    * deterministic 1/16 document sample (heavy hitters survive
    * sampling; the sample agg is corpus/16 and its top-4k cut is
    * TakeOrdered) and are then estimated against the full-corpus
    * sketch. CMS never under-counts, so no true heavy hitter ranked
    * into the top-k can be displaced by an absent one — only
    * over-count collisions can promote a lighter term. Spec:
    * estimates bound the exact counts above within depth×N/width,
    * and the top-k set matches the exact query's. */
  /** DuckDB oracle for `t_heavy_hitters_cms`, generated here so it
    * shares the engine's constants (depth, width, sample gate, k).
    * Every ingredient is SQL-computable bit-identically: the bucket
    * hash is the low 32 md5 bits (cmsBucket), the candidate sample
    * is the md5-first-hex-digit gate, and counts/mins are integers —
    * so the two engines can only agree or genuinely diverge. */
  private[graft] def cmsOracleSql(k: Int = 20): String =
    s"""WITH toks AS (SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\\s+') AS w
                  FROM documents),
            terms AS (SELECT doc_id, unnest(w) AS term FROM toks),
            hrows AS (SELECT unnest(range(0, $CmsDepth)) AS r),
            sk AS (SELECT r,
                  ${hexPolySql("md5(concat(r, ':', term))", 25)}
                    % $CmsWidth AS bucket,
                  count(*) AS cnt
                  FROM terms CROSS JOIN hrows GROUP BY 1, 2),
            cand AS (SELECT term FROM (
                  SELECT term, count(*) AS sample_cnt FROM terms
                  WHERE substr(md5(concat(doc_id, '::hh')), 1, 1) = '0'
                  GROUP BY 1 ORDER BY sample_cnt DESC, term LIMIT ${k * 8})),
            cb AS (SELECT c.term, h.r,
                  ${hexPolySql("md5(concat(h.r, ':', c.term))", 25)}
                    % $CmsWidth AS bucket
                  FROM cand c CROSS JOIN hrows h),
            est AS (SELECT cb.term, min(sk.cnt) AS est
                  FROM cb JOIN sk ON sk.r = cb.r AND sk.bucket = cb.bucket
                  GROUP BY cb.term),
            ranked AS (SELECT term, est,
                  row_number() OVER (ORDER BY est DESC, term) AS rk FROM est)
       SELECT term, est, rk FROM ranked WHERE rk <= $k"""

  def tHeavyHittersCms(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val terms = docs.select(explode(tokens(normText(col("text")))).as("term"))
    val sketch = cmsSketchOf(terms)
    val candidates = docs
      .filter(substring(md5(concat_ws("::", col("doc_id"), lit("hh"))), 1, 1) === "0")
      .select(explode(tokens(normText(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("sample_cnt"))
      .orderBy(col("sample_cnt").desc, col("term").asc).limit(k * 8)
      .select(col("term"))
    val top = cmsEstimate(candidates, sketch)
      .orderBy(col("est").desc, col("term").asc).limit(k)
    top.withColumn("rk", row_number().over(
      Window.orderBy(col("est").desc, col("term").asc)).cast("long"))
  }

  /** Bigram language-model quality scoring — the CCNet-style
    * perplexity filter (Wenzek et al., "CCNet: Extracting High
    * Quality Monolingual Datasets from Web Crawl Data", LREC 2020):
    * train add-one-smoothed bigram statistics on a reference slice
    * of the corpus (even doc_ids — deterministic so the DuckDB
    * oracle replays the split), then score EVERY document by average
    * negative log-likelihood under that model. High `avg_nll` (high
    * `ppl`) = far from the reference distribution = filter
    * candidate. The model here is the corpus's own clean half; in a
    * real pipeline it would be a curated reference corpus — the
    * query shape is identical.
    *
    * Scale shape: training is two map-side-combinable groupBy
    * counts whose OUTPUT is vocab-bounded, not corpus-bounded.
    * Scoring joins the corpus bigram stream against the counts on
    * (w1, w2) / (w1): the count side carries ONE row per key, so a
    * hot key (stopword pairs) fans out 1:N without pair blowup —
    * skew only unbalances partition sizes, which AQE's skew split
    * re-levels. V (distinct reference vocab) rides a broadcast
    * single-row cross join. No collect, no windows, no UDFs — every
    * expression whole-stage codegens. */
  /** (doc_id, toks, n): lowercased non-empty whitespace tokens per
    * doc — the shared prelude of the bigram family (tLmScore,
    * tCollocations). */
  private def docToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        filter(tokens(lower(col("text"))), t => t =!= "").as("toks"))
      .withColumn("n", size(col("toks")))

  /** Adjacent-token pairs of every doc with >= 2 tokens. The
    * construction must keep matching the oracles' DuckDB
    * list_zip(toks[1:n-1], toks[2:n]) exactly — it lives once so an
    * edge-case fix cannot drift per query. */
  private def bigramsOf(toks: DataFrame): DataFrame =
    toks.filter(col("n") >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, n - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  def tLmScore(spark: SparkSession, dir: String): DataFrame = {
    // the >= 2 filter appears once per purpose: bigramsOf applies it
    // for the pair explode; this one scopes the REFERENCE unigrams to
    // the oracle's d2 domain (docs that contribute bigrams)
    // ONE tokenize pass: the token frame is read by three legs (the
    // reference bigram counts, the reference unigram counts, and the
    // corpus-wide scoring stream) — unpersisted, the documents scan +
    // tokenizer re-ran per leg (the dedupMinhash shingle-table
    // rationale; ~50 longs/doc, a written intermediate at 100 TB)
    val all = docToks(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks = all.filter(col("n") >= 2)
    val bigrams = bigramsOf(all)
    val refBig = bigrams.filter(col("doc_id") % 2 === 0)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val refUni = toks.filter(col("doc_id") % 2 === 0)
      .select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val vocab = broadcast(refUni.agg(count(lit(1)).as("v")))
    val nll = -log((coalesce(col("cb"), lit(0L)) + lit(1.0d)) /
      (coalesce(col("cu"), lit(0L)) + col("v")))
    CacheScope.owned(bigrams
      .join(refBig, Seq("w1", "w2"), "left")
      .join(refUni, Seq("w1"), "left")
      .crossJoin(vocab)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(nll) / count(lit(1)), 4).as("avg_nll"),
        round(exp(sum(nll) / count(lit(1))), 2).as("ppl")), all)
  }

  /** PMI collocations — the classic association-mining pass a corpus
    * pipeline runs to find multi-word expressions ("new york",
    * "machine learning") worth protecting from tokenizer splits or
    * worth indexing as units:
    *
    *   pmi(w1,w2) = ln( P(w1,w2) / (P(w1)·P(w2)) )
    *              = ln( cb·NU·NU / (NB·cu1·cu2) )
    *
    * with a min-support cut (cb ≥ minCount) so rare-pair noise (PMI
    * is maximal for two hapaxes seen once together) never ranks.
    *
    * Cross-engine discipline: every count is an exact integer; the
    * single IEEE evaluation is one left-associative multiply/divide
    * chain into one ln, written with the SAME operation order in the
    * oracle text, then rounded to 4dp (the tLmScore argument: equal
    * integer inputs through an identical double expression tree).
    *
    * Scale: unigram and bigram counts are map-side-combinable
    * groupBys (the shuffle carries vocabulary, not corpus); the
    * totals are two broadcast scalars; ranking is orderBy+limit (a
    * distributed TakeOrdered, never a global sort) with the k-row
    * window assigned after the limit (tHeavyHitters pattern). */
  def tCollocations(spark: SparkSession, dir: String,
      minCount: Int = 5, k: Int = 50): DataFrame = {
    // one tokenize pass for the unigram and bigram counts (the
    // tLmScore persist rationale)
    val toks = docToks(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nu = broadcast(uni.agg(sum(col("cu")).as("nu")))
    val bigrams = bigramsOf(toks).select(col("w1"), col("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nb = broadcast(bigrams.agg(count(lit(1)).as("nb")))
    val big = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)
    // ONE double chain, left-associative, mirrored in the oracle:
    // ((((cb*nu)/cu1)/cu2)*nu)/nb
    val pmi = round(log(col("cb").cast("double") * col("nu") /
      col("cu1") / col("cu2") * col("nu") / col("nb")), 4)
    val scored = big
      .join(uni.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(nu).crossJoin(nb)
      .select(col("w1"), col("w2"), col("cb"), pmi.as("pmi"))
    val top = scored.orderBy(col("pmi").desc, col("cb").desc,
        col("w1").asc, col("w2").asc).limit(k)
    // rank assigned after the limit (tHeavyHitters pattern: the
    // single-partition window sees k rows, never the pair table)
    CacheScope.owned(
      top.withColumn("rk", row_number().over(
        Window.orderBy(col("pmi").desc, col("cb").desc,
          col("w1").asc, col("w2").asc)).cast("long")),
      uni, bigrams, toks)
  }

  /** Composite quality gate — the Gopher/RedPajama-style rule bundle
    * that turns the per-signal feature queries into ONE keep/drop
    * verdict with per-rule attribution (the form a curation pipeline
    * actually consumes: per-rule booleans let you audit WHY mass was
    * dropped, not just how much). Thresholds are this corpus's
    * calibration; the shape is threshold-agnostic.
    *
    * Scale: both feature frames are per-doc aggregates joining on
    * the uniform doc_id key (AQE picks broadcast or shuffle by
    * size); the verdict itself is a narrow boolean projection over
    * ALREADY-ROUNDED features, so the gate is exactly reproducible
    * cross-engine — full oracle. */
  def tQualityGate(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    qualityGateOf(Tables.documents(spark, dir))
  }

  /** Domain-level corpus gate — the C4/RefinedWeb-style pass that
    * drops whole SOURCES on aggregate evidence (a domain whose pages
    * are mostly mutual duplicates or boilerplate is removed
    * wholesale; per-doc filters never see the cross-doc signal).
    * Per source: doc count, distinct-content count, duplicate
    * fraction, corpus-weighted stopword fraction, mean tokens per
    * doc; verdict = thresholds over the ALREADY-ROUNDED ratios (the
    * tQualityGate reproducibility argument).
    *
    * Every aggregate is an exact integer until one rounded IEEE
    * division each (the e8_spike/g2 pattern), so the whole
    * trained-nothing pipeline is a full oracle row.
    *
    * Scale shape: the corpus-scale agg is keyed by (source, digest)
    * — uniform even when one domain is a billion pages, because the
    * digest spreads the hot source across reducers and duplicate
    * counting IS the digest collapse (dedup_exact's key argument);
    * the second agg folds digest groups into the vocabulary-sized
    * per-source frame. Applying the verdict to docs is then a
    * broadcast semi-join of the keep list. */
  def tSourceFilter(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    sourceFilterOf(Tables.documents(spark, dir))
  }

  def sourceFilterOf(docs: DataFrame): DataFrame = {
    val toks = tokens(lower(col("text")))
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val perDoc = docs.select(
      col("source"),
      md5(normText(col("text"))).as("dg"),
      size(tokens(col("text"))).cast("long").as("nt"),
      call_function("graft_count_in", toks, typedlit(stop)).cast("long").as("ns"))
    val byDigest = perDoc.groupBy(col("source"), col("dg"))
      .agg(count(lit(1)).as("c"), sum(col("nt")).as("t"), sum(col("ns")).as("s"))
    val src = byDigest.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_docs"),
        count(lit(1)).as("n_uniq"),
        sum(col("t")).as("tok"), sum(col("s")).as("st"))
    src.select(col("source"), col("n_docs"), col("n_uniq"),
        round((col("n_docs") - col("n_uniq")).cast("double") / col("n_docs"), 4)
          .as("dup_frac"),
        round(col("st").cast("double") / col("tok"), 4).as("stop_frac"),
        round(col("tok").cast("double") / col("n_docs"), 4).as("mean_tok"))
      .withColumn("keep",
        col("n_docs") >= 5L && col("dup_frac") <= 0.2 &&
          col("stop_frac") >= 0.055 && col("mean_tok") >= 50.0)
  }

  /** T-HTML: C4/RefinedWeb-style boilerplate extraction — the one
    * corpus-ingest step every web-scale text pipeline runs UPSTREAM
    * of the operators in this file (tag strip, then line-level
    * keep/drop rules: link-dense navigation lines, lines without
    * terminal punctuation, sub-5-word fragments, cookie/javascript
    * policy notices). The testdata corpus carries no HTML, so the
    * query derives a deterministic page per document
    * ([[renderHtmlPage]]: head + script + nav boilerplate wrapped
    * around the document's text) and extracts from that — the
    * extraction core ([[htmlCleanOf]]) takes any (doc_id, html)
    * frame, which is what the hand-computed spec drives directly.
    *
    * Scale: a pure per-row array pipeline — split / filter /
    * transform / join builtins only, no UDF, no shuffle, no state —
    * so it maps over a 100 TB crawl at scan speed and fuses into
    * whole-stage codegen. Every step is expressed as split+rejoin
    * rather than regexp_replace because Spark's and DuckDB's
    * regexp_replace 3-arg semantics DIVERGE (first-match vs global);
    * split semantics (trailing empties kept, Java and RE2 agree on
    * these patterns) are identical, which is what makes the oracle a
    * full row-identity check. */
  def tHtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val docs = Tables.documents(spark, dir)
    htmlCleanOf(docs.select(col("doc_id"),
      renderHtmlPage(col("doc_id"), col("text")).as("html")))
  }

  /** Deterministic HTML page around a document's text: title+script
    * head (stripped whole), a 3-anchor nav (dropped by the link
    * rule), a terminal-punctuated content line (kept), an
    * unpunctuated fragment (dropped), a cookie notice (dropped), a
    * short copyright line (dropped by min-words), and the text tail
    * (kept when long enough). ASCII-only so char/byte length
    * semantics can never diverge cross-engine. */
  private[graft] def renderHtmlPage(docId: Column, text: Column): Column =
    concat(
      lit("<html><head><title>Doc "), docId.cast("string"),
      lit("</title><script type=\"text/javascript\">var x = 1; " +
        "console.log(x);</script></head><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/contact\">Contact</a></nav>"),
      lit("<p>"), substring(text, 1, 120), lit(".</p>"),
      lit("<p>"), substring(text, 121, 80), lit("</p>"),
      lit("<div>This site uses cookies. Accept.</div>"),
      lit("<p>(c) 2024 Corp.</p>"),
      lit("<p>"), substring(text, 201, 1000000), lit(".</p>"),
      lit("</body></html>"))

  /** The extraction core over any (doc_id, html) frame. Pipeline:
    * script/style blocks out (split on the whole block, rejoin);
    * block-close tags delimit lines; lines with ≥ 2 anchors drop
    * (link density); remaining lines are tag-stripped and
    * whitespace-normalized; a line survives if it ends in terminal
    * punctuation, has ≥ 5 words, and mentions neither cookies nor
    * javascript. Output: per-doc line counts, rounded keep ratio,
    * and the newline-joined clean text. */
  def htmlCleanOf(pages: DataFrame): DataFrame = {
    def stripJoin(c: Column, pattern: String): Column =
      array_join(split(c, pattern), " ")
    val noScript = stripJoin(stripJoin(col("html"),
      "(?s)<script[^>]*>.*?</script>"), "(?s)<style[^>]*>.*?</style>")
    val raw = split(noScript, "</p>|</div>|</nav>|</li>|</h[1-6]>|</tr>")
    val noAnchor = filter(raw, l =>
      length(l) - length(replace(l, lit("<a "), lit(""))) < 6)
    // entity decoding sits AFTER tag stripping (a decoded "&lt;" must
    // read as literal text, never as a new tag) and BEFORE whitespace
    // normalization (a "&nbsp;" between words must SEPARATE them for
    // the ≥5-word rule, not fuse them). Literal global replace —
    // identical semantics in Spark and DuckDB, unlike the divergent
    // regexp_replace — keeps the oracle a full row-identity check;
    // "&amp;" decodes LAST so "&amp;lt;" yields the text "&lt;", not
    // a double-decoded "<".
    def decodeEntities(c: Column): Column =
      Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
        .foldLeft(c) { case (acc, (e, r)) => replace(acc, lit(e), lit(r)) }
    val norm = transform(noAnchor, l => array_join(
      filter(split(decodeEntities(array_join(split(l, "<[^>]*>"), " ")),
        "\\s+"), w => w =!= ""), " "))
    val kept = filter(norm, l =>
      length(l) > 0 && substring(l, -1, 1).isin(".", "!", "?") &&
        size(split(l, " ")) >= 5 &&
        !lower(l).contains("cookie") && !lower(l).contains("javascript"))
    pages.select(col("doc_id"),
      size(raw).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      round(size(kept).cast("double") / size(raw), 4).as("keep_ratio"),
      array_join(kept, "\n").as("clean_text"))
  }

  /** The gate core over any (doc_id, text) frame — the streaming
    * micro-batch twin scores with exactly these expressions. */
  def qualityGateOf(docs: DataFrame): DataFrame = {
    val q = qualityScoreOf(docs)
    val r = repetitionOf(docs)
      .select(col("doc_id"), col("uniq_token_frac"), col("top_bigram_frac"))
    q.join(r, Seq("doc_id"))
      .select(col("doc_id"),
        (col("n_tokens") >= 20L).as("len_ok"),
        (col("stopword_ratio") >= 0.02).as("stopword_ok"),
        (col("uniq_token_frac") >= 0.3).as("uniq_ok"),
        (col("top_bigram_frac") <= 0.1).as("repetition_ok"))
      .withColumn("keep",
        col("len_ok") && col("stopword_ok") &&
          col("uniq_ok") && col("repetition_ok"))
  }

  /** Per-doc feature vector + rule-gate label for the learned
    * quality classifier: the gate's five signals scaled into [0, ~2]
    * (GD conditioning), label = the rule bundle's verdict. */
  private[graft] def classifierFrame(docs: DataFrame): DataFrame = {
    val q = qualityScoreOf(docs)
    val r = repetitionOf(docs)
      .select(col("doc_id"), col("uniq_token_frac"), col("top_bigram_frac"))
    q.join(r, Seq("doc_id")).select(
      col("doc_id"),
      array(
        least(col("n_tokens").cast("double") / lit(100.0), lit(2.0)),
        col("avg_token_len") / lit(10.0),
        col("stopword_ratio"),
        col("uniq_token_frac"),
        col("top_bigram_frac")).as("x"),
      ((col("n_tokens") >= 20L) && (col("stopword_ratio") >= 0.02) &&
        (col("uniq_token_frac") >= 0.3) && (col("top_bigram_frac") <= 0.1))
        .cast("double").as("y"))
  }

  /** Learned quality classifier — the GPT-3/CCNet-style smooth
    * quality scorer, here distilling the rule gate into a calibrated
    * probability (real pipelines bootstrap exactly this way: label a
    * slice with rules or a reference corpus, train a cheap linear
    * model, score everything with it; the smooth score supports
    * threshold sweeps and importance-weighted sampling the hard rule
    * verdict cannot).
    *
    * Scale shape (the PQ-codebook / BPE-vocabulary pattern):
    * training consumes a BOUNDED sample — `maxTrain` rows cut by one
    * TakeOrdered collect in content-hash order (deterministic at any
    * corpus size and partitioning, unlike limit()) — and runs
    * full-batch GD on the driver (ops/LogReg, standardization folded
    * back into raw-space weights). The corpus-scale work is the
    * narrow feature scan and ONE scoring pass: a `graft_dot` against
    * the dims+1 literal weights. The feature frame is persisted
    * because the sample cut and the scoring pass both read it. */
  def tQualityClassifier(spark: SparkSession, dir: String,
      iters: Int = 500, lr: Double = 0.5, maxTrain: Int = 100000): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val frame = classifierFrame(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sample = frame
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(maxTrain)
      .collect().map(r => (r.getSeq[Double](1).toArray, r.getDouble(2))).toSeq
    val w = graft.ops.LogReg.train(sample, iters, lr)
    lastClassifierModel = Some(w)
    val p = lit(1.0) / (lit(1.0) +
      exp(-(call_function("graft_dot", col("x"), typedlit(w.init.toSeq)) +
        lit(w.last))))
    // keep-verdict compares the ROUNDED probability, so the oracle
    // decides identically from the same 4-decimal value it hashes
    // (the embOutliers precedent)
    frame.select(col("doc_id"),
      round(p, 4).as("quality_prob"),
      (round(p, 4) >= 0.5).as("predicted_keep"),
      (col("y") === 1.0).as("rule_keep"))
      .transform(CacheScope.owned(_, frame))
  }

  /** Weights of the most recently trained quality classifier
    * (raw-space, bias last) — the oracle-renderer register. Verify
    * evaluates `SparkEntry.oracleSql` AFTER running every query in
    * the same JVM, so by render time this holds exactly the weights
    * the dumped result was scored with; training is deterministic
    * (hash-ordered bounded sample, fixed init/iters/lr), so the
    * weights are a pure function of the sf dir, like annLshTopk's
    * planes are a pure function of the seed. */
  @volatile private[graft] var lastClassifierModel: Option[Array[Double]] = None

  /** DuckDB oracle for `t_quality_classifier`, rendered from the
    * trained weights in [[lastClassifierModel]] — None (→ rows-only
    * driver check) until the query has run in this JVM. The feature
    * CTEs are the already-oracle-green t_quality_score /
    * t_repetition recomputes; every feature is compared ROUNDED to
    * 4 decimals before entering the dot product, exactly as
    * classifierFrame builds them. */
  private[graft] def classifierOracleSql: Option[String] =
    lastClassifierModel.map { w =>
      val Array(w0, w1, w2, w3, w4) = w.init
      val b = w.last
      s"""WITH q AS (SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  round(CAST(length(text) AS DOUBLE) / len(toks), 4) AS avg_token_len,
                  round(CAST(len(list_filter(toks,
                    t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE)
                    / len(toks), 4) AS stopword_ratio
                  FROM (SELECT doc_id, text,
                        string_split_regex(trim(lower(text)), '\\s+') AS toks
                        FROM documents)),
              tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
                  FROM documents),
              base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS nt,
                  CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq FROM tk),
              bi AS (SELECT doc_id, concat(list_extract(w, g), ' ',
                    list_extract(w, g + 1)) AS gram
                  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS g
                        FROM tk)),
              cnt AS (SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY 1, 2),
              top AS (SELECT doc_id, max(c) AS top_c FROM cnt GROUP BY 1),
              r AS (SELECT b.doc_id,
                  round(CAST(b.n_uniq AS DOUBLE) / b.nt, 4) AS uniq_token_frac,
                  round(CAST(coalesce(t.top_c, 0) AS DOUBLE)
                    / greatest(b.nt - 1, 1), 4) AS top_bigram_frac
                  FROM base b LEFT JOIN top t USING (doc_id)),
              f AS (SELECT q.doc_id,
                  least(CAST(q.n_tokens AS DOUBLE) / 100.0, 2.0) AS x0,
                  q.avg_token_len / 10.0 AS x1,
                  q.stopword_ratio AS x2,
                  r.uniq_token_frac AS x3,
                  r.top_bigram_frac AS x4,
                  CASE WHEN q.n_tokens >= 20 AND q.stopword_ratio >= 0.02
                        AND r.uniq_token_frac >= 0.3 AND r.top_bigram_frac <= 0.1
                       THEN 1.0 ELSE 0.0 END AS y
                  FROM q JOIN r USING (doc_id)),
              s AS (SELECT doc_id, y,
                  1.0 / (1.0 + exp(-(($w0) * x0 + ($w1) * x1 + ($w2) * x2
                    + ($w3) * x3 + ($w4) * x4 + ($b)))) AS p
                  FROM f)
         SELECT doc_id, round(p, 4) AS quality_prob,
           round(p, 4) >= 0.5 AS predicted_keep,
           y = 1.0 AS rule_keep FROM s"""
    }

  private val DsirBuckets = 1024L

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every
    * document by the average log ratio of its hashed-bigram
    * likelihood under a TARGET distribution versus the RAW corpus
    * distribution — positive means the document looks like the
    * target and should survive resampling. The target slice here is
    * the English documents (a deterministic stand-in for the paper's
    * curated target corpus; the query shape is identical).
    *
    * This is the fixed-state sibling of tLmScore: both models are
    * BUCKET tables — at most `DsirBuckets` rows regardless of
    * vocabulary or corpus size (the paper's hashed-ngram trick) — so
    * scoring is two broadcast joins plus a broadcast single-row
    * totals frame, and the corpus shuffles exactly once, for the
    * final per-doc rollup on the uniform doc_id key. The bucket is
    * the low 32 md5 bits mod DsirBuckets: md5 is the hash DuckDB
    * computes bit-identically (and 1024 divides 2^32, so the low
    * half alone determines the bucket) → full SQL oracle, unlike
    * an xxhash64 bucketing. */
  def tDsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        filter(tokens(lower(col("text"))), t => t =!= "").as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 2)
    // MODEL PASS: one corpus scan into a map-side-combinable
    // per-bucket agg — raw count and target (conditional) count, ≤
    // DsirBuckets rows out. BOTH models in the one agg.
    val counts = toks.select(col("lang"), explode(expr(
        "transform(sequence(0, n - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .as("g"))
      .select(col("lang"), pmod(md5Low32(col("g")), lit(DsirBuckets)).as("b"))
      .groupBy(col("b")).agg(
        count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    // The model is ≤ DsirBuckets rows (the paper's hashed-ngram
    // trick) — collect it and fold the per-bucket log weight into a
    // literal array (round-18; the kmeansCentroids locus argument:
    // the collected object is the MODEL, never the corpus). The log
    // weights are evaluated by Spark's OWN expression tree over the
    // collected counts (a LocalTableScan job, zero corpus work) so
    // the doubles are bit-identical to the former broadcast-join
    // form. Totals are exact integer sums — order-free.
    val cRows = counts.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nr = cRows.map(_._2).sum
    val nt = cRows.map(_._3).sum
    val logwArr = new Array[Double](DsirBuckets.toInt)
    spark.createDataset(cRows.toSeq).toDF("b", "cr", "ct")
      .select(col("b"),
        (log((col("ct") + lit(1.0d)) / (lit(nt) + lit(DsirBuckets.toDouble))) -
         log((col("cr") + lit(1.0d)) / (lit(nr) + lit(DsirBuckets.toDouble))))
          .as("w"))
      .collect().foreach(r => logwArr(r.getLong(0).toInt) = r.getDouble(1))
    // SCORING PASS: map-only — per doc, fold the gram buckets through
    // the literal weight array in gram order (the former groupBy's
    // partial agg accumulated each doc's rows in exactly this order
    // inside its one partition, so the IEEE sum is unchanged). The
    // round-17 shape's corpus-sized persist of the bucketed gram
    // frame, its scoring join, and the doc_id exchange all disappear
    // (guide §2.3/§8): at 100 TB this is two narrow passes and a
    // 1024-row driver model, zero corpus shuffles.
    toks
      .withColumn("bs", transform(sequence(lit(0), col("n") - 2), i =>
        pmod(md5Low32(concat(
          element_at(col("toks"), (i + lit(1)).cast("int")), lit(" "),
          element_at(col("toks"), (i + lit(2)).cast("int")))), lit(DsirBuckets))))
      .select(col("doc_id"),
        (col("n") - 1).cast("long").as("n_grams"),
        round(
          aggregate(col("bs"), lit(0.0d), (acc, b) =>
            acc + element_at(lit(logwArr), (b + lit(1)).cast("int")))
            / (col("n") - 1).cast("long"), 4).as("dsir_logratio"))
      .withColumn("target_like", col("dsir_logratio") > 0)
  }

  /** BPE tokenizer, trained on the corpus and applied to it — the
    * real subword token accounting an LLM data pipeline budgets with
    * (whitespace counts under-split; tTokenCount's regex is only
    * BPE-ish). Per doc: word count, BPE token count, tokens/word.
    *
    * Scale shape (the production tokenizer-trainer split): training
    * NEVER sees the corpus — it consumes the (word, count)
    * vocabulary, cut to the top `maxTrainVocab` words by one
    * TakeOrdered collect (bounded at any corpus size), and runs
    * Sennrich merge learning on the driver (ops/Bpe). The corpus-
    * scale work is all uniform aggregation: one groupBy(word) count
    * (vocab-bounded output, map-side combinable — persisted, it
    * feeds both the training cut and the encode), the per-word
    * encode applied ONCE per distinct word (vocabulary-sized
    * mapPartitions with broadcast merge ranks — the one non-codegen
    * step, deliberately off the corpus), and a broadcast join of the
    * encoded lengths back onto the (doc_id, word) stream with a
    * final groupBy(doc_id). The corpus is scanned twice and never
    * carries anything wider than a word. */
  def tBpe(spark: SparkSession, dir: String, numMerges: Int = 200,
      maxTrainVocab: Int = 50000): DataFrame =
    tBpeOf(Tables.documents(spark, dir), numMerges, maxTrainVocab)

  private[graft] def tBpeOf(docs: DataFrame, numMerges: Int = 200,
      maxTrainVocab: Int = 50000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(col("doc_id"), explode(tokens(lower(trim(col("text"))))).as("word"))
      .filter(length(col("word")) > 0)
    val wc = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trainSample = wc
      .orderBy(col("cnt").desc, col("word").asc).limit(maxTrainVocab)
      .as[(String, Long)].collect().toSeq
    val merges = Bpe.train(trainSample, numMerges)
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val bRanks = spark.sparkContext.broadcast(ranks)
    // oracle-renderer register (the classifierOracleSql pattern):
    // the SQL replay delimits symbols with BpeSep inside plain
    // single-quoted literals, so it is only exact when NO corpus
    // word carries the separator, a quote, or a backslash (quote
    // escaping itself is dialect-divergent: '' concatenates adjacent
    // literals in Spark, backslash is literal in DuckDB), and no word
    // leaves the BMP: Bpe.symbols splits on UTF-16 chars, so a
    // supplementary character (emoji) becomes two surrogate-half
    // symbols while the SQL replay's substr/length split on code
    // points — counts would diverge AND trained merges would embed
    // lone surrogates (mangled by any UTF-8 writer) into the rendered
    // literals. One tiny vocabulary-sized probe on the already-
    // persisted word counts decides; an unsafe vocabulary falls back
    // to the rows-only check instead of a subtly-wrong oracle
    // the unsafe class covers ALL C0 controls, not just the U+001F
    // separator: any control char trained into a merge would embed
    // raw into the rendered single-quoted literals, where it can
    // break or subtly diverge the DuckDB replay
    val vocabUnsafe = wc
      .filter(col("word").rlike("['\\\\\\x00-\\x1f]") ||
        col("word").rlike("[\\x{10000}-\\x{10FFFF}\\ud800-\\udfff]"))
      .limit(1).count() > 0
    lastBpeMerges = if (merges.isEmpty || vocabUnsafe) None else Some(merges)
    val encoded = wc.select(col("word")).as[String]
      .mapPartitions(it => it.map(w => (w, Bpe.encode(w, bRanks.value).length.toLong)))
      .toDF("word", "n_bpe")
    words.join(broadcast(encoded), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_bpe")).as("n_bpe_tokens"))
      .withColumn("bpe_per_word",
        round(col("n_bpe_tokens") / col("n_words"), 4))
      .transform(CacheScope.owned(_, wc))
  }

  /** Merge list of the most recently trained BPE tokenizer — the
    * oracle-renderer register (the classifierOracleSql pattern).
    * None until tBpe has run in this JVM, or when the vocabulary
    * carries a character the SQL replay cannot delimit (see the
    * render guard in [[tBpeOf]]). */
  @volatile private[graft] var lastBpeMerges: Option[Seq[(String, String)]] =
    None

  /** Symbol delimiter of the SQL encode replay: U+001F (the ASCII
    * unit separator — definitionally absent from text content). Each
    * symbol rides as `␟sym␟`, so a merge of (a, b) is ONE substring
    * replace of `␟a␟␟b␟` with `␟ab␟` — self-delimited occurrences
    * make replace()'s left-to-right non-overlapping scan EXACTLY
    * Bpe.mergePair's semantics (a bare single-separator encoding
    * would mis-merge runs: `a a a a` must become `aa aa`, not
    * `aa a a`). */
  private val BpeSep = "\u001f"

  /** DuckDB oracle for `t_bpe_tokens`, rendered from the learned
    * merges in [[lastBpeMerges]] — the rendered-model pattern one
    * level up from weights: the SQL replays the ENCODE LOOP itself
    * as a recursive CTE (UNION distinct), which runs natively in
    * DuckDB and through the driver-paced recursion bridge on the
    * Spark SQL door. Per word: the state string starts as the
    * delimited character symbols + the end mark; each round applies
    * the lowest-ranked merge PRESENT in the state (row_number over
    * the rendered rank on a contains-join — exactly Bpe.encode's
    * best-rank step, with replace-all = mergePair); a word whose
    * state admits no merge leaves the frontier, and the final state
    * per word is the one no rendered pattern matches. Token count =
    * separator pairs. Rounds = max merge ops per word (≤ the longest
    * word's length), never corpus-sized. */
  private[graft] def bpeOracleSql: Option[String] =
    lastBpeMerges.map { merges =>
      val S = BpeSep
      val rows = merges.zipWithIndex.map { case ((a, b), i) =>
        s"($i, '$S$a$S$S$b$S', '$S$a$b$S')"
      }.mkString(", ")
      s"""WITH RECURSIVE
           m(mrk, pat, rep) AS (VALUES $rows),
           words AS (SELECT DISTINCT word FROM (
                 SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
                 FROM documents) WHERE length(word) > 0),
           walk(word, state) AS (
                 SELECT word, '$S' || array_to_string(
                     list_transform(range(1, length(word) + 1),
                       i -> substr(word, i, 1)), '$S$S')
                   || '$S$S</w>$S'
                 FROM words
                 UNION
                 SELECT word, replace(state, pat, rep) AS state
                 FROM (SELECT w.word, w.state, m.pat, m.rep,
                       row_number() OVER (PARTITION BY w.word
                         ORDER BY m.mrk) AS pick
                       FROM walk w JOIN m ON contains(w.state, m.pat)) x
                 WHERE pick = 1),
           fin AS (SELECT word, state FROM walk w
                 WHERE NOT EXISTS (SELECT 1 FROM m
                                   WHERE contains(w.state, m.pat))),
           enc AS (SELECT word, CAST((length(state)
                 - length(replace(state, '$S', ''))) / 2 AS BIGINT) AS n_bpe
                 FROM fin),
           wt AS (SELECT doc_id, word FROM (
                 SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
                 FROM documents) WHERE length(word) > 0)
         SELECT wt.doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(e.n_bpe) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(e.n_bpe) AS DOUBLE) / count(*), 4) AS bpe_per_word
         FROM wt JOIN enc e USING (word) GROUP BY wt.doc_id"""
    }
}
