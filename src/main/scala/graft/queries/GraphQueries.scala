package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{DerivedCache, Route}
import graft.sources.Tables

/** Iterative graph dataflow over the star schema — the remaining
  * operator family of a large-scale curation pipeline (link-analysis
  * quality weighting, e.g. CommonCrawl's centrality-based domain
  * ranking): each superstep is one pass over the edge frame plus a
  * node-sized model fold, the Pregel shape.
  *
  * The reference has no graph operators (SURVEY §2 — absence backed
  * by the full file inventory); this family is driver-brief
  * (LLM-pipeline) scope alongside SURVEY §8.
  */
object GraphQueries {

  /** Budget of the `model_nodes` gate: nodes above it switch the
    * superstep loop from the driver-merged partial-map form to the
    * fully distributed join+agg form — the clustersOf `local_finish`
    * pattern: the bounded structure (here the rank/degree MODEL,
    * graph vocabulary × one long — ~16 MB at a million nodes) lives
    * locally while it fits, and the computation degrades to the
    * shuffle form, never breaks, when it doesn't. */
  val LocalModelNodes: Long = 1000000L

  /** Driver-kernel worker count: the SESSION's declared core budget
    * (`local[N]` ⇒ defaultParallelism = N), not the machine's
    * `availableProcessors` — an 8-core session must not spin 16
    * threads past its budget (it muddies the scaling measurement and
    * oversubscribes a shared box). Capped at 16: the kernels' LongMap
    * merges are driver-bound past that. */
  private def kernelThreads(spark: SparkSession): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, 16))

  /** Run `nT` indexed range-workers to completion and RETHROW the
    * first worker failure after the join: a worker that dies (OOM on
    * LongMap growth, any bug) must abort the kernel loudly instead of
    * letting the partials merge proceed and emit silently-incomplete
    * sums. */
  private def runWorkers(nT: Int)(body: Int => Unit): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until nT).map { t =>
      new Thread(() => {
        try body(t)
        catch { case e: Throwable => failure.compareAndSet(null, e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val e = failure.get()
    if (e != null) throw e
  }

  /** Per-order canonical (a < b) co-occurrence pairs: per-order
    * `collect_set` then a basket-bounded pair explode — fanout is
    * items-per-order squared, never corpus². One row per pair
    * OCCURRENCE (callers distinct or count as their semantics
    * need). */
  private def orderSets(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))

  private def pairsOf(sets: DataFrame): DataFrame = {
    val pairExpr = flatten(transform(col("ps"), a =>
      transform(filter(col("ps"), b => b > a), b =>
        struct(a.as("src"), b.as("dst")))))
    sets.select(explode(pairExpr).as("p"))
      .select(col("p.src"), col("p.dst"))
  }

  private def orderPairs(li: DataFrame): DataFrame = pairsOf(orderSets(li))

  /** Element budget of the `basket_model` gate (round-17): the
    * per-order part sets total ≤ 8M longs ≈ 64 MB — the same
    * driver-object envelope as [[BroadcastClosingEdges]], which is the
    * gate's pair budget. Under both the pair explode, dedup exchange,
    * and downstream kernel all run as driver loops; past either the
    * distributed builds run unchanged. */
  private[graft] val BasketModelMaxElems: Long = 8000000L

  /** Collect the per-order part sets when the `basket_model` gate
    * holds — its estimate is ONE tiny agg over the persisted sets
    * frame (element count and exact canonical-pair-occurrence count),
    * so the decision itself never collects. None past either budget. */
  private def basketModelOf(sets: DataFrame): Option[Array[Array[Long]]] = {
    val fits = basketGate(sets.sparkSession) {
      val st = sets.agg(
        coalesce(sum(size(col("ps")).cast("long")), lit(0L)),
        coalesce(sum(expr(
          "CAST(size(ps) AS BIGINT) * (size(ps) - 1) div 2")), lit(0L))).head
      Seq(st.getLong(0).toDouble, st.getLong(1).toDouble)
    }
    if (fits) Some(sets.select(col("ps")).collect()
      .map(_.getSeq[Long](0).toArray))
    else None
  }

  /** The `basket_model` gate: (elements, canonical pairs) within
    * (BasketModelMaxElems, BroadcastClosingEdges). */
  private def basketGate(spark: SparkSession)(sizes: => Seq[Double]): Boolean =
    Route.localAll(spark, "basket_model",
      Seq(BasketModelMaxElems.toDouble, BroadcastClosingEdges.toDouble))(sizes)

  /** Budget of the `raw_collect` gate, the no-exchange basket collect:
    * when the (orderkey, partkey) input itself is ≤ this many rows, the
    * per-order sets are grouped on the driver from ONE scan-collect —
    * no order-sets exchange, no budget agg, no second collect (the
    * three jobs the sets-first decision costs). 8M narrow rows is the
    * same driver-envelope class as [[BasketModelMaxElems]]; the
    * grouped sets must then pass the EXACT SAME elems/pairs budgets
    * before any kernel runs. Past any budget the distributed sets
    * build runs unchanged. */
  private[graft] val RawCollectMaxRows: Long = 8000000L

  /** Generous upper bound on the bytes one input row can occupy —
    * the cheap-bound constant of the `raw_collect` gate. A TPC-H
    * lineitem row is ~120 B raw / ~20 B in compressed parquet; 512 B
    * is far above either, so `planBytes > RawCollectMaxRows * 512`
    * PROVES the row count exceeds the budget (rows ≥ bytes / 512)
    * and the exact count() gate job can be skipped. At 100 TB every
    * g-query's gate resolves from plan statistics (file lengths the
    * scan's file index already holds — zero jobs, zero extra RPCs);
    * only inputs under ~4 GB still pay the cheap exact count. Any
    * estimation error is conservative both ways: inflated stats skip
    * a count the raw path would have declined anyway, deflated stats
    * just run the count. */
  private[graft] val RawGateMaxBytesPerRow: Long = 512L

  /** Group raw (orderkey, partkey) rows into per-order DISTINCT,
    * sorted part sets — `collect_set`'s semantics (null parts
    * skipped, a null order key is its own group) replayed on the
    * driver. The `raw_collect` gate (plan statistics, then one cheap
    * count) guards the collect; the collected model then passes the
    * same `basket_model` gate as [[basketModelOf]]. None past any
    * budget — callers fall through to the distributed sets build
    * unchanged. */
  private[graft] def basketSetsRaw(li: DataFrame): Option[Array[Array[Long]]] = {
    val spark = li.sparkSession
    if (!Route.local(spark, "raw_collect", RawCollectMaxRows.toDouble,
        bound = Route.statsBound(li, RawGateMaxBytesPerRow))(li.count().toDouble))
      return None
    // a forced basket_model gate never collects
    lazy val sets = groupRaw(li)
    if (basketGate(spark)(Seq(sets.map(_.length.toLong).sum.toDouble,
        sets.map(s => s.length.toLong * (s.length - 1) / 2).sum.toDouble)))
      Some(sets)
    else None
  }

  private def groupRaw(li: DataFrame): Array[Array[Long]] = {
    // executor-parallel packing: each scan partition ships primitive
    // long arrays instead of boxed Rows (the driver's single-threaded
    // Row decode was most of this path's cost — the scan itself is
    // exchange-free, so .rdd costs no adaptivity). Null semantics are
    // collect_set's: a null part is skipped but its order still
    // groups; a null order key is its own group.
    val blobs = li.rdd.mapPartitions { it =>
      val pairs = new scala.collection.mutable.ArrayBuilder.ofLong
      val nullPartOrders = new scala.collection.mutable.ArrayBuilder.ofLong
      val nullOrderParts = new scala.collection.mutable.ArrayBuilder.ofLong
      var nullOrderRows = 0L
      it.foreach { r =>
        val no = r.isNullAt(0); val np = r.isNullAt(1)
        if (!no && !np) { pairs += r.getLong(0); pairs += r.getLong(1) }
        else if (!no) nullPartOrders += r.getLong(0)
        else { nullOrderRows += 1L; if (!np) nullOrderParts += r.getLong(1) }
      }
      Iterator.single((pairs.result(), nullPartOrders.result(),
        nullOrderParts.result(), nullOrderRows))
    }.collect()
    import scala.collection.mutable
    val byOrder = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    val nullOrderSet = mutable.ArrayBuffer.empty[Long]
    var nullOrderGroup = false
    blobs.foreach { case (pairs, nullPartOrders, nullOrderParts, nullOrderRows) =>
      var i = 0
      while (i < pairs.length) {
        byOrder.getOrElseUpdate(pairs(i),
          mutable.ArrayBuffer.empty[Long]) += pairs(i + 1)
        i += 2
      }
      nullPartOrders.foreach(o =>
        byOrder.getOrElseUpdate(o, mutable.ArrayBuffer.empty[Long]))
      if (nullOrderRows > 0) { nullOrderGroup = true; nullOrderSet ++= nullOrderParts }
    }
    val groups = byOrder.valuesIterator ++
      (if (nullOrderGroup) Iterator.single(nullOrderSet) else Iterator.empty)
    groups.map { b =>
      val a = b.toArray
      java.util.Arrays.sort(a)
      var w = 0
      var i = 0
      while (i < a.length) {
        if (i == 0 || a(i) != a(i - 1)) { a(w) = a(i); w += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(a, w)
    }.toArray
  }

  /** Every canonical (a < b) pair OCCURRENCE of a collected basket
    * model, PACKED as (a << 31 | b) in one sorted primitive array —
    * the boxing-free base of the driver kernels, which then iterate at
    * memory speed. None when any id is outside [0, 2^31): that
    * vocabulary scale is the distributed regime anyway (the
    * basket-local paths decline and fall through). */
  private def packedPairs(sets: Array[Array[Long]]): Option[Array[Long]] = {
    if (!sets.forall(_.forall(id => id >= 0 && id < (1L << 31)))) return None
    var n = 0
    sets.foreach { ps => n += ps.length * (ps.length - 1) / 2 }
    val packed = new Array[Long](n)
    var k = 0
    sets.foreach { ps =>
      var i = 0
      while (i < ps.length) {
        var j = i + 1
        while (j < ps.length) {
          val a = math.min(ps(i), ps(j)); val b = math.max(ps(i), ps(j))
          packed(k) = (a << 31) | b; k += 1
          j += 1
        }
        i += 1
      }
    }
    java.util.Arrays.sort(packed)
    Some(packed)
  }

  /** (a, b, occurrences) of each distinct pair in sorted packed
    * occurrences with at least `minSup` of them — the run-length twin
    * of `orderPairs.groupBy.count.filter(sup >= minSup)`. */
  private def supportRuns(packed: Array[Long], minSup: Int): Array[(Long, Long, Long)] = {
    val mask = (1L << 31) - 1
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var i = 0
    while (i < packed.length) {
      var j = i
      while (j < packed.length && packed(j) == packed(i)) j += 1
      if (j - i >= minSup) out += ((packed(i) >>> 31, packed(i) & mask, (j - i).toLong))
      i = j
    }
    out.toArray
  }

  /** Canonical (a < b) support-thresholded edges of a collected basket
    * model. None when an id is outside the packed range. */
  private def supportEdgesLocal(sets: Array[Array[Long]],
      minSup: Int): Option[Array[(Long, Long)]] =
    packedPairs(sets).map(supportRuns(_, minSup).map(r => (r._1, r._2)))

  /** Distinct canonical (a < b) edges of a collected basket model,
    * packed and sorted — the driver twin of
    * `orderPairs(li).distinct()`. */
  private def packedCanonEdges(sets: Array[Array[Long]]): Option[Array[Long]] =
    packedPairs(sets).map { packed =>
      var w = 0
      var i = 0
      while (i < packed.length) {
        if (i == 0 || packed(i) != packed(i - 1)) { packed(w) = packed(i); w += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(packed, w)
    }

  /** Integer-exact PageRank over the part co-purchase graph (parts
    * sharing an order are linked — the item-importance signal a
    * marketplace curation pipeline derives from baskets).
    *
    * All arithmetic is in BIGINT micros with floor division so every
    * engine computes bit-identical ranks — a float PageRank's
    * per-node sums are IEEE order-dependent and could never
    * hash-match across engines (the t_bm25_topk integer-micros
    * argument applied to an iterative kernel). The recurrence, with
    * rank mass 1e6 per node and damping 85/100:
    *
    *   r0(n)   = 1_000_000
    *   r_i(n)  = 150_000 + (85 * Σ_{(m,n)∈E} (r_{i-1}(m) div deg(m))) div 100
    *
    * Edge build: per-order `collect_set` then an a<b pair explode —
    * fanout is items-per-order squared (bounded by basket size,
    * never corpus²) and the distinct dedup exchange carries each
    * undirected edge ONCE; symmetrization is a narrow union/inline
    * flip after the shuffle.
    *
    * Supersteps (node count ≤ LocalModelNodes, the `model_nodes`
    * gate): one job per
    * iteration — a mapPartitions pass over the persisted primitive
    * pair RDD accumulates contributions into a per-partition
    * node-sized LongMap (both edge directions inline, so the
    * canonical frame is never doubled), partials merge by addition
    * on the driver, and the teleport fold is driver arithmetic.
    * This is the kmeansCentroids/CMS-sketch locus argument: the
    * collected object is the MODEL (nodes × one long), never the
    * corpus, and per-superstep cost is one scan with no codegen
    * recompile, no checkpoint job, and no broadcast rebuild
    * (measured 2× vs the DataFrame-loop form at sf0.1, whose
    * per-iteration floor is plan-compile + two job launches).
    *
    * Past the bound the loop runs distributed: broadcast rank join
    * against the degree-attached edge frame + map-side-combined sum
    * per superstep, lineage truncated with `localCheckpoint` — at
    * web-graph node counts (100M domains) that path runs with edges
    * bucketed by src and ranks co-partitioned, exchange-free on the
    * edge side. Both paths compute identical integers (same
    * recurrence; integer addition is order-free), pinned against
    * each other and a driver recompute in GraphQueriesSpec.
    */
  def g1PageRank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame =
    g1PageRankOf(spark, Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")), iters)

  /** Input-injectable form (ProfileScale-style rehearsals feed a
    * replicated basket frame). */
  private[graft] def g1PageRankOf(spark: SparkSession, li: DataFrame,
      iters: Int): DataFrame = {
    // RAW-COLLECT PATH (round-17, second pass): under the raw-row
    // budget even the order-sets exchange disappears — one gated
    // count and one no-shuffle scan collect feed the same kernel.
    val raw = basketSetsRaw(li)
    raw.flatMap(g1Kernel(spark, _, iters)) match {
      case Some(out) => return out
      case None => ()
    }
    // BASKET-MODEL PATH (round-17): the distributed build's only job
    // is expanding baskets into deduped pairs — two corpus exchanges
    // (order sets, pair dedup) plus a nodes distinct, all to feed a
    // model that already lives on the driver on the bounded path.
    // When the collected sets fit the basket_model budgets AND the
    // node count fits the model_nodes budget, everything after
    // the one sets shuffle is driver arithmetic — the same integer
    // recurrence over the same deduped edges (order-free addition).
    val sets = orderSets(li).persist(StorageLevel.MEMORY_AND_DISK)
    // a raw model that collected but whose kernel declined (ids past
    // the packed range / nodes past the model bound) would decline
    // identically from basketModelOf — skip the re-collect
    val model = if (raw.isEmpty) basketModelOf(sets) else None
    val localOut = model.flatMap(g1Kernel(spark, _, iters))
    if (localOut.isDefined) { sets.unpersist(); return localOut.get }
    val canon = pairsOf(sets).distinct()
    val nodes = li.select(col("l_partkey").as("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    val out =
      if (Route.local(spark, "model_nodes", LocalModelNodes.toDouble)(
          nodes.count().toDouble))
        localSupersteps(spark, canon, nodes, iters)
      else distributedSupersteps(canon, nodes, iters)
    nodes.unpersist(); sets.unpersist()
    out
  }

  /** Driver PageRank kernel over a collected basket model — the
    * identical integer recurrence as the superstep engines (addition
    * is order-free, so all routes compute the same longs). None past
    * the `model_nodes` gate or when an id falls outside the packed
    * range — callers fall through to the distributed builds. */
  private def g1Kernel(spark: SparkSession, psArr: Array[Array[Long]],
      iters: Int): Option[DataFrame] = {
    import scala.collection.mutable
    val nodeSet = mutable.LongMap.empty[Unit]
    psArr.foreach(_.foreach(nodeSet(_) = ()))
    if (!Route.local(spark, "model_nodes", LocalModelNodes.toDouble)(
        nodeSet.size.toDouble)) None
    else packedCanonEdges(psArr).map { edges =>
      val mask = (1L << 31) - 1
      val allNodes = nodeSet.keys.toArray
      val deg = mutable.LongMap.empty[Long]
      var i = 0
      while (i < edges.length) {
        val a = edges(i) >>> 31; val b = edges(i) & mask
        deg(a) = deg.getOrElse(a, 0L) + 1L
        deg(b) = deg.getOrElse(b, 0L) + 1L
        i += 1
      }
      var rank = mutable.LongMap.empty[Long]
      for (n <- allNodes) rank(n) = 1000000L
      // each iteration's contribution pass parallelizes over disjoint
      // edge ranges — workers READ the frozen rank/deg maps and
      // accumulate into their own LongMap, merged by addition
      // (order-free integer sums: identical to the sequential loop,
      // pinned by the three-route spec and the driver recompute)
      val nT = kernelThreads(spark)
      for (_ <- 1 to iters) {
        val frozen = rank
        val partials = Array.fill(nT)(mutable.LongMap.empty[Long])
        runWorkers(nT) { t =>
          val m = partials(t)
          var e = (edges.length.toLong * t / nT).toInt
          val hi = (edges.length.toLong * (t + 1) / nT).toInt
          while (e < hi) {
            val a = edges(e) >>> 31; val b = edges(e) & mask
            m(b) = m.getOrElse(b, 0L) + frozen(a) / deg(a)
            m(a) = m.getOrElse(a, 0L) + frozen(b) / deg(b)
            e += 1
          }
        }
        val contrib = mutable.LongMap.empty[Long]
        partials.foreach(_.foreach { case (k, v) =>
          contrib(k) = contrib.getOrElse(k, 0L) + v })
        val next = mutable.LongMap.empty[Long]
        for (n <- allNodes)
          next(n) = 150000L + 85L * contrib.getOrElse(n, 0L) / 100L
        rank = next
      }
      import spark.implicits._
      spark.createDataset(allNodes.map(n => (n, rank(n))).toSeq)
        .toDF("part_key", "rank_micros")
    }
  }

  /** Bounded-model path: primitive pair RDD persisted once; each
    * superstep is ONE job of per-partition LongMap accumulation with
    * the rank/degree model broadcast, merged by addition on the
    * driver. */
  private def localSupersteps(spark: SparkSession, canon: DataFrame,
      nodes: DataFrame, iters: Int): DataFrame = {
    import scala.collection.mutable
    val sc = spark.sparkContext
    // materialize the edge build through the DataFrame path (AQE
    // plans the distinct), THEN hang the superstep RDD off the
    // cache — executing the build via .rdd would compile the whole
    // plan non-adaptively (measured 3× slower at 10× volume)
    val canonDf = canon.persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = canonDf.count()
    val allNodes = nodes.collect().map(_.getLong(0))

    // FULL-LOCAL FINISH (round-17, the broadcast_edges gate): the
    // model (ranks/degrees) already lives on the driver on this path —
    // when the EDGE list also fits the BroadcastClosingEdges envelope
    // (4M edges ≈ 64 MB, the same driver-object budget g3's broadcast
    // adjacency rides), the per-iteration cluster round-trip
    // (broadcast + one job + partial-map collect, ×iters) costs more
    // than iterating over the collected pairs directly — iters × 2
    // integer ops per edge, ≤ 40M ops at the bound. Bit-identical:
    // the same integer recurrence over the same pairs — addition
    // order is immaterial. Past the bound, the
    // RDD superstep loop below runs unchanged (and past
    // LocalModelNodes the fully distributed form, as before).
    def merged(partials: Array[mutable.LongMap[Long]]): mutable.LongMap[Long] = {
      val m = mutable.LongMap.empty[Long]
      for (p <- partials; (k, v) <- p) m(k) = m.getOrElse(k, 0L) + v
      m
    }
    def degOf(it: Iterator[(Long, Long)]): mutable.LongMap[Long] = {
      val m = mutable.LongMap.empty[Long]
      for ((a, b) <- it) {
        m(a) = m.getOrElse(a, 0L) + 1L
        m(b) = m.getOrElse(b, 0L) + 1L
      }
      m
    }
    def contribOf(it: Iterator[(Long, Long)], r: mutable.LongMap[Long],
        d: mutable.LongMap[Long]): mutable.LongMap[Long] = {
      val m = mutable.LongMap.empty[Long]
      // both directions inline — the canonical frame is the only
      // data that moves or is stored
      for ((a, b) <- it) {
        m(b) = m.getOrElse(b, 0L) + r(a) / d(a)
        m(a) = m.getOrElse(a, 0L) + r(b) / d(b)
      }
      m
    }
    def teleport(contrib: mutable.LongMap[Long]): mutable.LongMap[Long] = {
      val next = mutable.LongMap.empty[Long]
      for (n <- allNodes)
        next(n) = 150000L + 85L * contrib.getOrElse(n, 0L) / 100L
      next
    }

    var rank = mutable.LongMap.empty[Long]
    for (n <- allNodes) rank(n) = 1000000L
    if (Route.local(spark, "broadcast_edges", BroadcastClosingEdges.toDouble)(
        nEdges.toDouble)) {
      val pairsA = canonDf.collect().map(r => (r.getLong(0), r.getLong(1)))
      canonDf.unpersist()
      val deg = degOf(pairsA.iterator)
      for (_ <- 1 to iters)
        rank = teleport(contribOf(pairsA.iterator, rank, deg))
    } else {
      val pairs = canonDf.rdd.map(r => (r.getLong(0), r.getLong(1)))
      val deg = merged(pairs.mapPartitions(it =>
        Iterator.single(degOf(it))).collect())
      for (_ <- 1 to iters) {
        val bc = sc.broadcast((rank, deg))
        val contrib = merged(pairs.mapPartitions { it =>
          val (r, d) = bc.value
          Iterator.single(contribOf(it, r, d))
        }.collect())
        bc.destroy()
        rank = teleport(contrib)
      }
      canonDf.unpersist()
    }
    import spark.implicits._
    spark.createDataset(allNodes.map(n => (n, rank(n))).toSeq)
      .toDF("part_key", "rank_micros")
  }

  /** Per-node triangle counts over the part co-purchase graph — the
    * clustering-coefficient / community-density signal of the graph
    * family (a tightly clustered neighborhood is the structural twin
    * of g2's pairwise lift).
    *
    * Algorithm: degree-ordered orientation (the MapReduce triangle
    * literature's standard fix for skew). Each undirected edge is
    * oriented from its (degree, id)-smaller endpoint to its larger
    * one, making the edge set a DAG in which every triangle has
    * EXACTLY ONE node with both triangle edges outgoing — so
    * triangles = wedges (ordered out-neighbor pairs) that close, each
    * counted once, no post-dedup. Orientation is what survives scale:
    * max out-degree is O(√m) regardless of raw hub degree (a
    * celebrity node's million in-edges orient INTO it and produce
    * zero wedges at it), so wedge volume is Σ outdeg² ≤ m^1.5 instead
    * of the unbounded Σ deg² of naive id-ordering.
    *
    * Shape: one corpus shuffle for the canonical edge build (shared
    * orderPairs path) and a vocabulary-sized degree agg broadcast
    * onto the edges (at web-graph vocabularies this becomes a
    * shuffle join on the uniform edge key). The triangle work itself
    * never materializes the wedge frame (Σ outdeg², ~60× the edge
    * count on this corpus) while the adjacency index fits a
    * broadcast (`BroadcastClosingEdges` — the LocalModelNodes
    * degrade-don't-break pattern): each oriented edge (u, v)
    * intersects the broadcast out-neighbor arrays N⁺(u) ∩ N⁺(v),
    * which closes every triangle exactly once at its pivot edge
    * (the one edge between the triangle's two out-degree-carrying
    * nodes), so the per-edge row carries a triangle-sized — not
    * wedge-sized — array and one explode + map-side-combined agg
    * produces the per-node counts (measured 9.3 s → ~2 s warm at
    * sf0.1 vs the wedge-join form). Past the bound the computation
    * degrades to the explicit wedge explode + shuffle closing join,
    * pinned integer-identical in the spec. Counts are exact integers
    * end to end — full oracle row (the DuckDB side counts the same
    * triangles via the id-ordered a<b<c 3-way join, which is
    * algorithm-independent ground truth). */
  def g3Triangles(spark: SparkSession, dir: String): DataFrame =
    g3TrianglesOf(spark, Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")))

  /** Budget of the `broadcast_edges` gate: the edge count under which
    * the oriented edge list (two longs a row) is broadcast for the
    * closing-edge probe — 4M edges ≈ 64 MB, the same order as g2's
    * item-support broadcast. g1's superstep finish and the
    * `basket_model` pair budget share this driver-object envelope. */
  val BroadcastClosingEdges: Long = 4000000L

  /** Intersection-work ceiling for the driver triangle kernel (the
    * `wedge_work` gate):
    * Σ over oriented edges of (outdeg(u) + outdeg(v)) — the EXACT
    * two-pointer comparison count, computed from the already-built
    * degree table before any intersection runs. ~2e9 long compares
    * ≈ a few seconds single-threaded; adversarial graphs past it
    * (the m^1.5 worst case) stay on the distributed intersection,
    * which spreads the same work across the cluster. */
  private[graft] val LocalWedgeWorkMax: Long = 2000000000L

  /** Driver triangle kernel over a collected basket model: the same
    * degree-ordered orientation as the distributed routes, walked
    * over contiguous primitive adjacency runs. None when an id falls
    * outside the packed range or the EXACT intersection-work count
    * fails the `wedge_work` gate — callers fall through to the
    * distributed intersection. */
  private def g3Kernel(spark: SparkSession,
      psArr: Array[Array[Long]]): Option[DataFrame] = {
    import scala.collection.mutable
    packedCanonEdges(psArr).flatMap { canonP =>
      val mask = (1L << 31) - 1
      val deg = mutable.LongMap.empty[Long]
      var ci = 0
      while (ci < canonP.length) {
        val a = canonP(ci) >>> 31; val b = canonP(ci) & mask
        deg(a) = deg.getOrElse(a, 0L) + 1L
        deg(b) = deg.getOrElse(b, 0L) + 1L
        ci += 1
      }
      // degree-ordered orientation, PACKED (u << 31 | v) and
      // sorted: the adjacency is then contiguous primitive runs
      // (v ascending within each u) — no boxed collections in the
      // O(Σ(d⁺u + d⁺v)) intersect loop
      val packed = new Array[Long](canonP.length)
      var k = 0
      ci = 0
      while (ci < canonP.length) {
        val a = canonP(ci) >>> 31; val b = canonP(ci) & mask
        val fwd = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
        packed(k) = if (fwd) (a << 31) | b else (b << 31) | a
        k += 1; ci += 1
      }
      java.util.Arrays.sort(packed)
      val startOf = mutable.LongMap.empty[Int]
      val lenOf = mutable.LongMap.empty[Int]
      var i = 0
      while (i < packed.length) {
        val u = packed(i) >>> 31
        var j = i
        while (j < packed.length && (packed(j) >>> 31) == u) j += 1
        startOf(u) = i; lenOf(u) = j - i
        i = j
      }
      val fits = Route.local(spark, "wedge_work", LocalWedgeWorkMax.toDouble) {
        var work = 0L
        var e = 0
        while (e < packed.length) {
          work += lenOf.getOrElse(packed(e) >>> 31, 0) +
            lenOf.getOrElse(packed(e) & mask, 0)
          e += 1
        }
        work.toDouble
      }
      if (!fits) None
      else {
        val cnt = mutable.LongMap.empty[Long]
        psArr.foreach(_.foreach(n => cnt.getOrElseUpdate(n, 0L)))
        // the intersect loop parallelizes over disjoint edge ranges:
        // workers only READ the immutable packed/startOf/lenOf index
        // and accumulate into their own LongMap, merged by addition —
        // integer sums are order-free, so the counts are exactly the
        // single-thread loop's (pinned by the brute-force spec)
        val nT = kernelThreads(spark)
        val partials = Array.fill(nT)(mutable.LongMap.empty[Long])
        runWorkers(nT) { t =>
          val m = partials(t)
          def bump(n: Long, c: Long): Unit =
            m(n) = m.getOrElse(n, 0L) + c
          var e = (packed.length.toLong * t / nT).toInt
          val hi = (packed.length.toLong * (t + 1) / nT).toInt
          while (e < hi) {
            val u = packed(e) >>> 31; val v = packed(e) & mask
            var iu = startOf.getOrElse(u, 0)
            val eu = iu + lenOf.getOrElse(u, 0)
            var iv = startOf.getOrElse(v, 0)
            val ev = iv + lenOf.getOrElse(v, 0)
            var w = 0L
            while (iu < eu && iv < ev) {
              val xu = packed(iu) & mask; val xv = packed(iv) & mask
              if (xu == xv) { bump(xu, 1L); w += 1; iu += 1; iv += 1 }
              else if (xu < xv) iu += 1
              else iv += 1
            }
            bump(u, w); bump(v, w)
            e += 1
          }
        }
        partials.foreach(_.foreach { case (k, v) =>
          cnt(k) = cnt.getOrElse(k, 0L) + v })
        import spark.implicits._
        Some(spark.createDataset(cnt.toSeq)
          .toDF("part_key", "n_triangles"))
      }
    }
  }

  private[graft] def g3TrianglesOf(spark: SparkSession, li: DataFrame): DataFrame = {
    // RAW-COLLECT PATH (round-17, second pass): under the raw-row
    // budget even the order-sets exchange disappears — one gated
    // count and one no-shuffle scan collect feed the same kernel.
    val raw = basketSetsRaw(li)
    raw.flatMap(g3Kernel(spark, _)) match {
      case Some(out) => return out
      case None => ()
    }
    // BASKET-MODEL PATH (round-17): under the collected-sets budget
    // the whole computation — pair explode, dedup exchange, degree
    // agg, two broadcast joins, adjacency collect_list, per-edge
    // intersect explode, final sum, nodes distinct — collapses to one
    // sets shuffle + one collect + a driver loop over the SAME
    // degree-ordered orientation (identical integer counts; the
    // spec's brute-force 3-way ground truth and the DuckDB oracle
    // gate both still apply). A work-based gate (LocalWedgeWorkMax,
    // the exact comparison count) sends adversarial degree profiles
    // to the distributed intersection even when the edge list fits.
    val sets = orderSets(li).persist(StorageLevel.MEMORY_AND_DISK)
    // a raw model that collected but whose kernel declined would
    // decline identically from basketModelOf — skip the re-collect
    val localOut: Option[DataFrame] = if (raw.isDefined) None
      else basketModelOf(sets).flatMap(g3Kernel(spark, _))
    if (localOut.isDefined) { sets.unpersist(); return localOut.get }
    val canon = pairsOf(sets).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = canon.count()
    sets.unpersist()
    val deg = canon.select(col("src").as("n"))
      .union(canon.select(col("dst").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = canon
      .join(broadcast(deg.select(col("n").as("src"), col("d").as("ds"))), Seq("src"))
      .join(broadcast(deg.select(col("n").as("dst"), col("d").as("dd"))), Seq("dst"))
    val fwd = col("ds") < col("dd") ||
      (col("ds") === col("dd") && col("src") < col("dst"))
    // oriented edge u → v with v's (degree, id) kept for wedge ordering
    val oriented = withDeg.select(
        when(fwd, col("src")).otherwise(col("dst")).as("u"),
        when(fwd, col("dst")).otherwise(col("src")).as("v"),
        when(fwd, col("dd")).otherwise(col("ds")).as("dv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val perNode = if (Route.local(spark, "broadcast_edges",
        BroadcastClosingEdges.toDouble)(nEdges.toDouble)) {
      // broadcast-adjacency intersection: N⁺ arrays keyed by node
      // (vocabulary rows, O(m) total payload) ride one broadcast,
      // re-used for both endpoints; each edge row computes its
      // closure array and emits (node, count) contributions for the
      // pivot, the middle, and each closing node in ONE explode —
      // no wedge frame ever exists
      val nbrs = oriented.groupBy(col("u"))
        .agg(sort_array(collect_list(col("v"))).as("nb"))
      val withI = oriented
        .join(broadcast(nbrs), Seq("u"))
        .withColumnRenamed("nb", "nb_u")
        .join(broadcast(nbrs.select(col("u").as("v"), col("nb").as("nb_v"))),
          Seq("v"))
        .select(col("u"), col("v"),
          array_intersect(col("nb_u"), col("nb_v")).as("w"))
      withI.select(explode(concat(
          array(struct(col("u").as("n"), size(col("w")).cast("long").as("c")),
            struct(col("v").as("n"), size(col("w")).cast("long").as("c"))),
          transform(col("w"), x => struct(x.as("n"), lit(1L).as("c"))))).as("p"))
        .select(col("p.n").as("part_key"), col("p.c").as("c"))
        .groupBy(col("part_key")).agg(sum(col("c")).as("c"))
    } else {
      // past the broadcast bound: explicit wedges at each pivot —
      // ordered out-neighbor pairs under the SAME (degree, id)
      // comparator, so the closing edge, if present, is oriented
      // a → b and one shuffle equi-join decides it
      val nbrs = oriented.groupBy(col("u"))
        .agg(sort_array(collect_list(struct(col("dv"), col("v")))).as("nb"))
      val wedgeExpr = flatten(transform(col("nb"), (x, i) =>
        transform(
          slice(col("nb"), i + lit(2), greatest(size(col("nb")) - i - 1, lit(0))),
          y => struct(x.getField("v").as("a"), y.getField("v").as("b")))))
      val wedges = nbrs.select(col("u"), explode(wedgeExpr).as("p"))
        .select(col("u"), col("p.a").as("a"), col("p.b").as("b"))
      val closing = oriented.select(col("u").as("a"), col("v").as("b"))
      wedges.join(closing, Seq("a", "b"))
        .select(explode(array(col("u"), col("a"), col("b"))).as("part_key"))
        .groupBy(col("part_key")).agg(count(lit(1)).as("c"))
    }
    val nodes = li.select(col("l_partkey").as("part_key")).distinct()
    graft.ops.CacheScope.owned(
      nodes.join(perNode, Seq("part_key"), "left_outer")
        .select(col("part_key"),
          coalesce(col("c"), lit(0L)).as("n_triangles")),
      canon, oriented)
  }

  /** Market-basket association mining over the same basket
    * structure: co-purchase pairs with support ≥ `minSup`, scored by
    * confidence and lift — the Apriori-for-pairs pass a marketplace
    * recommendation/curation pipeline runs (and the statistical
    * complement of g1: PageRank ranks items by graph position, lift
    * scores EDGES by deviation from independence).
    *
    * Shape: support counts are one map-side-combinable groupBy over
    * the basket-bounded pair explode (orderPairs — the pair frame is
    * Σ basket² rows, never corpus²); item supports are a
    * vocabulary-sized agg broadcast back onto the surviving pairs
    * (minSup filters FIRST, so the join touches the frequent tail,
    * not the raw pair mass); the order total is a one-row agg. All
    * counts stay exact integers until the final confidence/lift
    * divisions — one IEEE division each, rounded, so the oracle
    * hashes bit-identically (the e8_spike argument). */
  def g2CopurchaseLift(spark: SparkSession, dir: String,
      minSup: Int = 2): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    // RAW-COLLECT PATH (round-17, second pass): support counts, item
    // supports and the order total are all functions of the collected
    // basket model — a run-length pass over the packed pair
    // occurrences and one LongMap over the sets. Only the INTEGER
    // columns are computed on the driver; the confidence/lift
    // divisions stay the SAME Spark projection (below) over those
    // integers, so the scored rows are bit-identical by construction.
    basketSetsRaw(li).flatMap(g2Kernel(spark, _, minSup)) match {
      case Some(ints) => return g2Score(ints._1, ints._2)
      case None => ()
    }
    // ONE corpus shuffle total: the per-order set build. The order
    // count, item supports (explode of the already-order-distinct
    // sets), and pair explode are all narrow reads of this cache
    // (left cached for the consumer's execution — the returned
    // frame is lazy).
    val sets = orderSets(li).persist(StorageLevel.MEMORY_AND_DISK)
    val nOrders = sets.count()
    val item = sets.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n_item"))
      .select(col("p").as("l_partkey"), col("n_item"))
    val nAb = pairsOf(sets)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSup)
    val ints = nAb
      .join(broadcast(item.select(col("l_partkey").as("src"),
        col("n_item").as("n_a"))), Seq("src"))
      .join(broadcast(item.select(col("l_partkey").as("dst"),
        col("n_item").as("n_b"))), Seq("dst"))
      .select(col("src").as("part_a"), col("dst").as("part_b"),
        col("n_ab"), col("n_a"), col("n_b"))
    graft.ops.CacheScope.owned(g2Score(ints, nOrders), sets)
  }

  /** The ONE scoring projection both g2 routes share: identical
    * expression trees over identical integer columns ⇒ identical
    * IEEE divisions and rounding on either route. */
  private def g2Score(ints: DataFrame, nOrders: Long): DataFrame =
    ints.select(col("part_a"), col("part_b"),
      col("n_ab"), col("n_a"), col("n_b"),
      round(col("n_ab").cast("double") * lit(nOrders) /
        (col("n_a") * col("n_b")), 4).as("lift"),
      round(col("n_ab").cast("double") / col("n_a"), 4).as("confidence"))

  /** Driver kernel for g2's integer counts over a collected basket
    * model: (part_a, part_b, n_ab, n_a, n_b) rows with support ≥
    * minSup, plus the order total. None when an id falls outside the
    * packed range. */
  private def g2Kernel(spark: SparkSession, psArr: Array[Array[Long]],
      minSup: Int): Option[(DataFrame, Long)] = packedPairs(psArr).map { packed =>
    import scala.collection.mutable
    // item supports: set elements are order-distinct, so each set
    // contributes one count per element — exactly the explode+groupBy
    val nItem = mutable.LongMap.empty[Long]
    psArr.foreach(_.foreach(p => nItem(p) = nItem.getOrElse(p, 0L) + 1L))
    val rows = supportRuns(packed, minSup).map { case (a, b, n) =>
      (a, b, n, nItem(a), nItem(b)) }
    import spark.implicits._
    (spark.createDataset(rows.toSeq)
      .toDF("part_a", "part_b", "n_ab", "n_a", "n_b"), psArr.length.toLong)
  }

  /** Distributed path: degree-attached symmetric edge frame
    * hash-partitioned on `src` ONCE and persisted; per superstep one
    * co-partitioned rank join (ranks exchange O(V) — never an O(V)
    * broadcast rebuilt per iteration: at web scale ranks is a
    * 100M-row frame and a per-iteration broadcast ships it to every
    * executor, guide §3.1) + one map-side-combined sum keyed by the
    * uniform dst key (a celebrity hub's in-edges partial-aggregate
    * before the exchange), teleport fused into the same agg via a
    * zero-contribution node union, lineage truncated per superstep.
    * The edge side reuses the persisted partitioning across ALL
    * iterations (guide §2.4 share-one-exchange); the rank side builds
    * the per-partition hash table (SHUFFLE_HASH — node-sized per
    * partition, no edge-side sort). */
  private def distributedSupersteps(canonIn: DataFrame,
      nodes: DataFrame, iters: Int): DataFrame = {
    // persisted BEFORE the symmetrizing union — both branches read
    // the cache, not the pair-build plan (the dedup_clusters_lsh
    // lesson)
    val canon = canonIn.persist(StorageLevel.MEMORY_AND_DISK)
    val edges = canon.union(
        canon.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
    // deg reuses the src partitioning (no exchange); the join back
    // onto edges is co-partitioned on src — the persisted frame
    // carries hashpartitioning(src) into every superstep
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ewd = edges.join(deg.hint("shuffle_hash"), Seq("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the cache BEFORE the loop: an unmaterialized
    // AQE-planned cache exposes no final output partitioning, so
    // iteration 1 would re-exchange the edge side it was built to
    // avoid (the localSupersteps nEdges-count discipline)
    ewd.count()
    val zeros = nodes.select(col("node"), lit(0L).as("c"))
    var ranks = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) {
      ranks = ewd.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .union(zeros)
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
        .select(col("node"), expr("150000 + (85 * s) div 100").as("r"))
        .localCheckpoint(true)
    }
    val out = ranks.select(col("node").as("part_key"),
      col("r").cast("long").as("rank_micros"))
    canon.unpersist(); ewd.unpersist()
    out
  }

  /** Connected components over the SUPPORT-THRESHOLDED co-purchase
    * graph (edges = part pairs co-purchased in ≥ `minSup` orders —
    * the same robust-co-occurrence cut g2 applies before scoring).
    * Thresholding first is what keeps the graph meaningful: the raw
    * basket graph is one giant component, while the support-filtered
    * graph decomposes into genuine product communities.
    *
    * The clustering itself is the pair-source-agnostic clustersOf
    * engine (clique contraction → bounded driver union-find or
    * distributed label propagation past the `local_finish` gate) — the
    * third modality on that engine after token near-dup
    * (dedup_clusters) and embedding near-dup (emb_dedup_clusters).
    * Support counting is one map-side-combinable groupBy over the
    * basket-bounded pair explode, so the only corpus-scale shuffle
    * is the shared per-order set build. Output is exact integers
    * (component id = min member id) — full oracle row via DuckDB's
    * recursive reachability CTE. */
  def g4Components(spark: SparkSession, dir: String,
      minSup: Int = 2): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    // RAW-COLLECT PATH (round-17, second pass): the support-filtered
    // edge set comes from one run-length pass over the collected
    // basket model instead of the pair-explode + count exchange; the
    // clustering itself stays the SAME clustersOf engine (its label
    // fixpoint is a function of the edge SET alone — route-pinned in
    // its spec), fed a driver-local pair frame.
    val edges = basketSetsRaw(li).flatMap(supportEdgesLocal(_, minSup)) match {
      case Some(local) =>
        import spark.implicits._
        spark.createDataset(local.toSeq).toDF("a_id", "b_id")
      case None =>
        orderPairs(li)
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("sup"))
          .filter(col("sup") >= minSup)
          .select(col("src").as("a_id"), col("dst").as("b_id"))
    }
    TextQueries.clustersOf(edges)
      .select(col("doc_id").as("part_key"),
        col("cluster_id").as("component_id"))
  }

  /** BFS hop distances from a deterministic root (the minimum node id)
    * over the SAME support-thresholded co-purchase graph as g4/g5 —
    * the traversal member of the graph family (reachability radius /
    * "how related is this part to the anchor product", the
    * neighborhood-expansion query a recommender runs from a seed):
    *
    *   dist(root) = 0;  dist(n) = 1 + min over neighbors — exact
    *   integers, so the DuckDB recursive-CTE oracle hash-matches.
    *
    * Execution is the textbook frontier loop: per superstep, one
    * edge join from the CURRENT frontier only (never the visited
    * set), an anti-join against visited, and a localCheckpoint to
    * truncate lineage (the g1 superstep discipline). Work per step
    * is frontier-adjacent edges; total work is O(E) across all
    * steps — each undirected edge is expanded at most twice. The
    * loop stops at the first empty frontier (diameter-many steps,
    * not maxHops), with `maxHops` as the runaway bound mirrored by
    * the oracle's depth cap. Unreachable nodes are absent from the
    * output, exactly like the oracle's walk. */
  def g6BfsDists(spark: SparkSession, dir: String,
      minSup: Int = 2, maxHops: Int = 20): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    // RAW-COLLECT PATH (round-17, second pass): support edges from
    // one run-length pass over the collected basket model, then the
    // identical driver BFS — no pair-explode exchange, no support
    // persist/count/collect jobs. Engages only for a non-empty edge
    // set within the SAME local_finish gate as the collect below, so
    // the empty and past-the-bound behaviors stay byte-for-byte the
    // existing routes'.
    basketSetsRaw(li).flatMap(supportEdgesLocal(_, minSup)) match {
      case Some(canon)
          if canon.nonEmpty && TextQueries.localFinish(spark, canon.length) =>
        return bfsLocal(spark, canon, maxHops)
      case _ => ()
    }
    // canonical thresholded edges persisted ONCE: the local-finish
    // collect and the distributed loop's symmetrization both read
    // this cache (collecting the un-persisted parent re-ran the whole
    // pair build — measured as g6's entire cost at sf0.1)
    val sup = orderPairs(li)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minSup)
      .select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // LOCAL FINISH (clustersOf's local_finish gate): the
    // support-thresholded graph is vocabulary-sized, and the frontier
    // loop below costs ~4 driver-synchronized actions (join, distinct,
    // anti-join, checkpoint) PER HOP — diameter × 4 job launches to
    // traverse a graph whose edge list is a few MB. Under the bound,
    // collect the canonical edges once and run the identical
    // level-order BFS on the driver (exact integers, same root rule,
    // same maxHops cap — spec-pinned equal to the loop); past it, the
    // distributed loop runs unchanged.
    val nCanon = sup.count()
    if (nCanon > 0 && TextQueries.localFinish(spark, nCanon)) {
      val canon = sup.collect().map(r => (r.getLong(0), r.getLong(1)))
      sup.unpersist()
      return bfsLocal(spark, canon, maxHops)
    }
    // symmetrize once; both directions persisted for the hop joins
    val edges = sup
      .unionByName(sup.select(col("dst").as("src"), col("src").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val root = edges.agg(min(col("src")).as("id"))
    var dist = root.withColumn("dist", lit(0L)).localCheckpoint(true)
    var frontier = dist.select(col("id"))
    var hop = 1L
    var done = frontier.isEmpty
    while (!done && hop <= maxHops) {
      val next = frontier.join(edges, frontier("id") === edges("src"))
        .select(col("dst").as("id")).distinct()
        .join(dist.select(col("id")), Seq("id"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint(true)
      if (next.isEmpty) done = true
      else {
        // plain union: every hop frame is already checkpointed, so
        // the accumulated dist is a shallow union of materialized
        // legs — re-checkpointing it would rewrite all O(V) visited
        // rows every superstep (O(V×diameter) total) for no lineage
        // benefit
        dist = dist.unionByName(next)
        frontier = next.select(col("id"))
        hop += 1
      }
    }
    edges.unpersist(); sup.unpersist()
    dist.select(col("id").as("part_key"), col("dist"))
  }

  /** The driver level-order BFS both bounded g6 routes share: exact
    * integers, root = minimum node id, same maxHops cap — pinned
    * equal to the distributed frontier loop in the spec. */
  private def bfsLocal(spark: SparkSession, canon: Array[(Long, Long)],
      maxHops: Int): DataFrame = {
    import scala.collection.mutable
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    def nb(x: Long) = adj.getOrElseUpdate(x, mutable.ArrayBuffer.empty[Long])
    canon.foreach { case (a, b) => nb(a) += b; nb(b) += a }
    val root = adj.keys.min
    val dist = mutable.LongMap.empty[Long]
    dist(root) = 0L
    var frontier = Seq(root)
    var hop = 1L
    while (frontier.nonEmpty && hop <= maxHops) {
      frontier = frontier.flatMap(adj(_))
        .filterNot(dist.contains).distinct
      frontier.foreach(dist(_) = hop)
      hop += 1
    }
    import spark.implicits._
    spark.createDataset(dist.toSeq).toDF("part_key", "dist")
  }

  /** g4's support-thresholded co-purchase edges (a_id, b_id), each
    * tagged with its deterministic `slice` (edge-hash mod `nBatches`)
    * and persisted — the arrival order of the incremental builds. */
  private def slicedEdges(spark: SparkSession, dir: String, minSup: Int,
      nBatches: Int): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    orderPairs(li)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minSup)
      .select(col("src").as("a_id"), col("dst").as("b_id"))
      .withColumn("slice",
        pmod(xxhash64(col("a_id"), col("b_id")), lit(nBatches)))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** g4's labeling rebuilt INCREMENTALLY: the same support-thresholded
    * co-purchase edges, split into `nBatches` deterministic slices
    * (edge-hash mod n — arbitrary arrival order, exactly what a
    * streaming pair detector produces) and fed one slice at a time
    * through the LSM cluster maintainer
    * (StreamOps.clustersIngestBatch), with one mid-stream compaction
    * folding the merge log into the labels table halfway. The read
    * is the maintained labeling (StreamOps.readClusters).
    *
    * The oracle is the SAME recursive-reachability CTE that backs
    * g4_components, so the driver's hash gate proves the strongest
    * statement the incremental family can make: ingest-N-batches +
    * compact + resolve ≡ one batch clustering of the full edge set —
    * through an independent engine, not just the in-repo spec.
    *
    * Scale shape: each ingest touches batch-proportional state
    * (partition-pruned label lookup + delta-sized clustersOf); the
    * only corpus-scale work is the final corpus-sized read, which is
    * the output floor. The build amortizes across serves through
    * DerivedCache, like the stored ANN indexes: a root keyed on the
    * lineitem files and the code, so the build the oracle gate proves
    * is always this code's. */
  def g5ComponentsInc(spark: SparkSession, dir: String,
      minSup: Int = 2, nBatches: Int = 6): DataFrame = {
    // the kind folds in the parameters: a different slicing (or
    // support cut) is a different derived index, not a cache hit
    val idx = DerivedCache.ensure(spark, s"cc${minSup}b$nBatches", dir,
        Seq("lineitem.parquet")) { root =>
      val edges = slicedEdges(spark, dir, minSup, nBatches)
      (0 until nBatches).foreach { b =>
        graft.streaming.StreamOps.clustersIngestBatch(root, metricsEvery = 0)(
          edges.filter(col("slice") === b).select(col("a_id"), col("b_id")),
          b.toLong)
        if (b == nBatches / 2 - 1)
          graft.streaming.StreamOps.compactClustersIndex(spark, root)
      }
      edges.unpersist()
    }
    graft.streaming.StreamOps.readClusters(spark, idx)
      .select(col("doc_id").as("part_key"),
        col("cluster_id").as("component_id"))
  }

  /** g5's labeling with DELETIONS — the clusters-index forget path
    * (StreamOps.deleteDocs) under the oracle gate: the same sliced
    * ingest, then one residue class of the nodes deleted and FOLDED
    * by compactClustersIndex (rows physically erased), a second class
    * deleted LIVE (serve-time tombstone filter). The oracle is g5's
    * recursive-reachability CTE with the deleted classes filtered
    * from the OUTPUT ONLY: survivors keep their component_id
    * unchanged — including components whose min-label id was itself
    * deleted (the label is an identifier, not a membership claim),
    * and connectivity that ran THROUGH a deleted node stays (its
    * edges were folded into the labeling at ingest). That is the
    * leakage-safety contract: a takedown must not silently relabel —
    * and with it re-split — every surviving member of its cluster.
    * Scale: deletion cost is one tiny append + the already-scheduled
    * compaction; the serve pays one anti-join on the uniform id key. */
  def g7ComponentsDel(spark: SparkSession, dir: String,
      minSup: Int = 2, nBatches: Int = 4): DataFrame = {
    val idx = DerivedCache.ensure(spark, s"ccdel${minSup}b$nBatches", dir,
        Seq("lineitem.parquet")) { root =>
      val edges = slicedEdges(spark, dir, minSup, nBatches)
      (0 until nBatches).foreach { b =>
        graft.streaming.StreamOps.clustersIngestBatch(root, metricsEvery = 0)(
          edges.filter(col("slice") === b).select(col("a_id"), col("b_id")),
          b.toLong)
      }
      val nodes = edges.select(col("a_id").as("id"))
        .unionByName(edges.select(col("b_id").as("id"))).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // class 3: folded physically by the compaction
      graft.streaming.StreamOps.deleteDocs(root,
        nodes.filter(pmod(col("id"), lit(10)) === 3))
      graft.streaming.StreamOps.compactClustersIndex(spark, root)
      // class 7: live in the log — serve-time filtered
      graft.streaming.StreamOps.deleteDocs(root,
        nodes.filter(pmod(col("id"), lit(10)) === 7))
      nodes.unpersist(); edges.unpersist()
    }
    graft.streaming.StreamOps.readClusters(spark, idx)
      .select(col("doc_id").as("part_key"),
        col("cluster_id").as("component_id"))
  }
}
