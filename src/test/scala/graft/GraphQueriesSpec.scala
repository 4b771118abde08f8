package graft

import graft.queries.GraphQueries

/** Ground truth for the iterative PageRank kernel: an independent
  * driver-side recompute of the integer recurrence from the raw
  * lineitem rows (edges, degrees, and five supersteps re-derived
  * from scratch with plain Scala Longs — no Spark expressions
  * shared with the query). The DuckDB oracle checks the same
  * recurrence cross-engine at sf0.01; this pins it against a third,
  * non-SQL implementation and on a hand-built graph where the
  * expected ranks are verifiable by eye.
  */
class GraphQueriesSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"

  /** (node, value) pairs as sorted full rows, for [[sortedRows]]. */
  private def rowsOf(m: Iterable[(Long, Long)]): Seq[Seq[Any]] =
    m.toSeq.map { case (a, b) => Seq[Any](a, b) }.sortBy(_.mkString("\u0001"))

  test("g1PageRank equals a driver-side integer recompute on sf0.001 — both paths") {
    val basket = Seq("raw_collect", "basket_model")
    val out = withRoutes(local = basket :+ "model_nodes")(
      sortedRows(GraphQueries.g1PageRank(spark, sf001)))
    // past-the-bound fallbacks, each forced by its gates: the superstep
    // engine's full-local finish, the RDD superstep loop (edges past
    // broadcast_edges, model still local) and the fully distributed
    // join+agg loop must all compute the identical integers
    val outFinish = withRoutes(dist = basket,
        local = Seq("model_nodes", "broadcast_edges"))(
      sortedRows(GraphQueries.g1PageRank(spark, sf001)))
    assert(outFinish == out, "superstep full-local finish diverges from the kernel")
    val outRdd = withRoutes(dist = basket :+ "broadcast_edges",
        local = Seq("model_nodes"))(
      sortedRows(GraphQueries.g1PageRank(spark, sf001)))
    assert(outRdd == out, "RDD superstep path diverges from full-local path")
    val outDist = withRoutes(dist = basket :+ "model_nodes")(
      sortedRows(GraphQueries.g1PageRank(spark, sf001)))
    assert(outDist == out, "distributed superstep path diverges from bounded-model path")

    val li = graft.sources.Tables.lineitem(spark, sf001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder: Map[Long, Seq[Long]] =
      li.groupBy(_._1).map { case (o, rs) => o -> rs.map(_._2).distinct.toSeq }
    val edges: Set[(Long, Long)] = byOrder.values.flatMap { parts =>
      for (a <- parts; b <- parts if a != b) yield (a, b)
    }.toSet
    val deg: Map[Long, Long] =
      edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = li.map(_._2).distinct
    var r: Map[Long, Long] = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((s, d) <- edges) contrib(d) += r(s) / deg(s)
      r = nodes.map(n => n -> (150000L + 85L * contrib(n) / 100L)).toMap
    }

    assert(out == rowsOf(r), "spark ranks != driver recompute")
    // non-degenerate: ranks actually spread on this corpus
    assert(r.values.max > r.values.min)
  }

  test("g2CopurchaseLift equals a driver-side recompute on sf0.001") {
    val out = GraphQueries.g2CopurchaseLift(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .toMap

    val li = graft.sources.Tables.lineitem(spark, sf001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val nOrders = li.map(_._1).distinct.length
    val nItem = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nAb = li.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2)
    assert(out.keySet == nAb.keySet.toSet)
    for (((a, b), s) <- nAb) {
      val (gAb, gA, gB, lift, conf) = out((a, b))
      assert(gAb == s && gA == nItem(a) && gB == nItem(b))
      assert(lift == r4(s.toDouble * nOrders / (nItem(a) * nItem(b))))
      assert(conf == r4(s.toDouble / nItem(a)))
    }
    assert(out.nonEmpty)
    // lift must actually discriminate (not all pairs identical)
    assert(out.values.map(_._4).toSet.size > 1)
  }

  test("g3Triangles equals a naive driver-side a<b<c recompute on sf0.001 — both paths") {
    val basket = Seq("raw_collect", "basket_model")
    val out = withRoutes(local = basket :+ "wedge_work")(
      sortedRows(GraphQueries.g3Triangles(spark, sf001)))
    // past-the-bound fallback: the shuffle-join closing check must
    // count the identical triangles
    val liDf = graft.sources.Tables.lineitem(spark, sf001)
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
    // broadcast-intersection route (past the local bound, inside the
    // broadcast bound), then the wedge shuffle-join route (past both)
    val outBcast = withRoutes(dist = basket, local = Seq("broadcast_edges"))(
      sortedRows(GraphQueries.g3TrianglesOf(spark, liDf)))
    assert(outBcast == out, "broadcast-intersection path diverges from local path")
    val outShuffle = withRoutes(dist = basket :+ "broadcast_edges")(
      sortedRows(GraphQueries.g3TrianglesOf(spark, liDf)))
    assert(outShuffle == out, "shuffle-join closing path diverges from broadcast path")

    val li = graft.sources.Tables.lineitem(spark, sf001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges: Set[(Long, Long)] = li.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj: Map[Long, Set[Long]] = (edges.toSeq.flatMap { case (a, b) =>
      Seq(a -> b, b -> a)
    }).groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val cnt = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj(a) if c > b && adj(b).contains(c)) {
      cnt(a) += 1; cnt(b) += 1; cnt(c) += 1
    }
    val nodes = li.map(_._2).distinct
    assert(out == rowsOf(nodes.map(n => n -> cnt(n))),
      "spark triangle counts != driver recompute")
    // non-degenerate on this corpus: baskets create real triangles
    val counts = nodes.map(cnt)
    assert(counts.max > 0L)
    assert(counts.contains(0L) || counts.toSet.size > 1)
  }

  test("g3Triangles hand-built graph: two triangles sharing an edge, plus an isolated edge") {
    import spark.implicits._
    // o1 = {1,2,3} and o2 = {2,3,4}: triangles (1,2,3) and (2,3,4)
    // share edge 2–3; o3 = {7,8} is an edge in no triangle; part 9
    // is isolated entirely
    val li = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 2L), (11L, 3L), (11L, 4L),
      (12L, 7L), (12L, 8L), (13L, 9L))
      .toDF("l_orderkey", "l_partkey")
    val out = GraphQueries.g3TrianglesOf(spark, li).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L,
      7L -> 0L, 8L -> 0L, 9L -> 0L))
  }

  test("g1PageRank hand-built graph: star hub outranks leaves, isolated node gets teleport only") {
    import spark.implicits._
    // orders: o1 = {1,2}, o2 = {1,3}, o3 = {1,4} — a star around part 1;
    // o4 = {9} alone — part 9 is isolated (no co-purchase edges)
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L),
      (12L, 1L), (12L, 4L), (13L, 9L))
      .toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("graphspec").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = GraphQueries.g1PageRank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 9L))
    // hub collects three leaves' full ranks; leaves split the hub's
    assert(out(1L) > out(2L))
    assert(out(2L) == out(3L) && out(3L) == out(4L))
    // isolated node: teleport term only after the first superstep
    assert(out(9L) == 150000L)
    // hand-check superstep 1 on the star: hub gets 3 × (1e6 div 1)?
    // no — each leaf's only edge is to the hub with deg 1, so
    // contrib(hub) = 3 × 1_000_000; r1(hub) = 150000 + 85*3e6/100
    // (verifies the recurrence constants are wired as documented)
    var r: Map[Long, Long] = Map(1L -> 1000000L, 2L -> 1000000L,
      3L -> 1000000L, 4L -> 1000000L, 9L -> 1000000L)
    val edges = Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
    val deg = Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 1L)
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((s, d) <- edges) contrib(d) += r(s) / deg(s)
      r = r.keys.map(n => n -> (150000L + 85L * contrib(n) / 100L)).toMap
    }
    for ((n, v) <- r) assert(out(n) == v, s"node $n: ${out(n)} != $v")
  }

  test("g6BfsDists equals a driver-side BFS on sf0.001; hand-built graph " +
      "pins root choice, hop counts, and unreachable exclusion") {
    // independent ground truth: queue BFS over the same thresholded
    // edge set, re-derived from raw lineitem rows with plain Scala
    val li = graft.sources.Tables.lineitem(spark, sf001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSeq)
    val pairCounts = scala.collection.mutable.Map.empty[(Long, Long), Int]
      .withDefaultValue(0)
    for (parts <- byOrder.values; a <- parts; b <- parts if a < b)
      pairCounts((a, b)) += 1
    // iterator first: collect on a Map producing pairs would build a
    // MAP and silently collapse the edge list to one edge per source
    val und = pairCounts.iterator
      .collect { case ((a, b), c) if c >= 2 => (a, b) }.toSeq
    val adj = (und ++ und.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val root = und.map(_._1).min
    val want = scala.collection.mutable.Map(root -> 0L)
    var frontier = Set(root)
    var d = 1L
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(want.contains)
      frontier.foreach(want(_) = d)
      d += 1
    }
    val basket = Seq("raw_collect", "basket_model")
    val got = withRoutes(local = basket :+ "local_finish")(
      sortedRows(GraphQueries.g6BfsDists(spark, sf001)))
    assert(got == rowsOf(want), "local-finish path diverged from driver BFS")
    // the past-the-bound route (local_finish forced dist) must walk to
    // the identical distances — the degrade-don't-break pin for the
    // distributed frontier loop
    val gotDist = withRoutes(dist = Seq("local_finish"), local = basket)(
      sortedRows(GraphQueries.g6BfsDists(spark, sf001)))
    assert(gotDist == rowsOf(want), "frontier loop diverged from driver BFS")

    // hand-built: chain 1-2-3-4 (orders repeated twice to pass the
    // support cut), a branch 2-9, and a pair below support (5-6, one
    // co-order only) that must stay unreachable AND not create edges
    import spark.implicits._
    val orders =
      Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 2L -> 9L).zipWithIndex.flatMap {
        case ((a, b), i) => Seq((100L + i, a), (100L + i, b),
          (200L + i, a), (200L + i, b))
      } ++ Seq((300L, 5L), (300L, 6L))
    val dir = java.nio.file.Files.createTempDirectory("g6spec").toString
    orders.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(sortedRows(GraphQueries.g6BfsDists(spark, dir)) ==
      rowsOf(Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 9L -> 2L)))
  }

  test("raw-collect basket route equals the sets route on every g-query " +
      "(raw_collect forced dist)") {
    // the raw path groups collect_set's semantics on the driver from
    // one scan collect; forcing raw_collect dist re-runs each query
    // through the order-sets exchange it replaces — every row must be
    // identical (same longs, same IEEE doubles), compared as sorted
    // full-row multisets
    val liDf = graft.sources.Tables.lineitem(spark, sf001)
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
    def bothRoutes(q: => org.apache.spark.sql.DataFrame): (Seq[Seq[Any]], Seq[Seq[Any]]) =
      (withRoutes(local = Seq("raw_collect"))(sortedRows(q)),
        withRoutes(dist = Seq("raw_collect"))(sortedRows(q)))
    Seq("g1" -> (() => GraphQueries.g1PageRank(spark, sf001)),
        "g2" -> (() => GraphQueries.g2CopurchaseLift(spark, sf001)),
        "g3" -> (() => GraphQueries.g3TrianglesOf(spark, liDf)),
        "g4" -> (() => GraphQueries.g4Components(spark, sf001)),
        "g6" -> (() => GraphQueries.g6BfsDists(spark, sf001))).foreach {
      case (name, q) =>
        val (raw, sets) = bothRoutes(q())
        assert(raw == sets, s"$name raw route diverges from sets route")
    }
  }

  test("g5ComponentsInc equals the one-shot g4 labeling, invariant to the " +
      "batch split, idempotent on re-read") {
    val batch = sortedRows(GraphQueries.g4Components(spark, sf001))
    // default split (6 slices, compaction after slice 2)
    val inc6 = sortedRows(GraphQueries.g5ComponentsInc(spark, sf001))
    assert(inc6 == batch,
      "incremental labeling diverges from one-shot clustersOf")
    // a DIFFERENT deterministic split must land on the same labeling
    // — the maintained state is a function of the accumulated edge
    // SET, not the arrival order (the spec-level twin of the oracle's
    // engine-independence argument)
    val inc3 = sortedRows(GraphQueries.g5ComponentsInc(spark, sf001, nBatches = 3))
    assert(inc3 == batch, "labeling depends on the batch split")
    // re-serve from the cached index: pure read, same rows
    assert(sortedRows(GraphQueries.g5ComponentsInc(spark, sf001)) == batch)
  }
}
