package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col
import graft.queries.{CoreQueries, GraphQueries, VectorIndex, VectorQueries}

/** The one route gate: its decision order (force, cheap bound, exact
  * estimate), its record, and that a forced gate costs no estimate in
  * the queries that use it. */
class RouteSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"

  /** Call sites ("count at X.scala:N") of the jobs and SQL executions
    * `body` runs — an adaptive plan's stage jobs start on a pool thread,
    * so a Dataset action's call site is its SQL execution's. Listener
    * events arrive asynchronously, in order: a sentinel job run after
    * `body` marks the point where every earlier event has been seen. */
  private def jobSites(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val sites = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("route.spec.sentinel") != null)
          drained.countDown()
        else e.stageInfos.foreach(st => sites.add(st.name))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sites.add(x.description)
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("route.spec.sentinel", "1")
      try sc.parallelize(Seq(1), 1).collect() finally sc.setLocalProperty("route.spec.sentinel", null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus never drained")
    } finally sc.removeSparkListener(listener)
    sites.toArray(Array.empty[String]).toSeq
  }

  test("decision order and record: bound first, exact estimate second, " +
      "strict budgets, several budgets; take() clears") {
    Route.take()
    assert(Route.local(spark, "spec_gate", 10)(3))
    assert(Route.take() == Map("spec_gate" ->
      Route.Decision(Seq(3.0), Seq(10.0), local = true, forced = false)))
    assert(Route.take().isEmpty, "take() must clear the record")
    // a bound past the budget decides alone: the estimate never runs
    var evaluated = false
    assert(!Route.local(spark, "spec_gate", 10, bound = Some(11))({ evaluated = true; 0 }))
    assert(!evaluated)
    assert(Route.take()("spec_gate") ==
      Route.Decision(Seq(11.0), Seq(10.0), local = false, forced = false))
    // a bound within the budget leaves the decision to the estimate
    assert(!Route.local(spark, "spec_gate", 10, bound = Some(10))(11))
    assert(Route.take()("spec_gate").estimate == Seq(11.0))
    // at the budget: local, unless the budget is strict
    assert(Route.local(spark, "spec_gate", 8.0)(8.0))
    assert(!Route.local(spark, "spec_gate", 8.0, strict = true)(8.0))
    assert(Route.local(spark, "spec_gate", 8.0, strict = true)(7.99))
    // several budgets: local only when every estimate fits its own
    assert(Route.localAll(spark, "spec_multi", Seq(10.0, 5.0))(Seq(10.0, 5.0)))
    assert(!Route.localAll(spark, "spec_multi", Seq(10.0, 5.0))(Seq(1.0, 6.0)))
    // the latest decision per gate is what the record keeps
    val rec = Route.take()
    assert(rec.keySet == Set("spec_gate", "spec_multi"))
    assert(rec("spec_gate").local && rec("spec_multi") ==
      Route.Decision(Seq(1.0, 6.0), Seq(10.0, 5.0), local = false, forced = false))
    assert(Route.json(rec) == """{"spec_gate":{"estimate":7.99,"budget":8,""" +
      """"route":"local","forced":false},"spec_multi":{"estimate":[1,6],""" +
      """"budget":[10,5],"route":"dist","forced":false}}""")
  }

  test("a forced gate goes dist with no estimate and no bound, by name or by *") {
    Route.take()
    var evaluated = false
    def probe(gate: String): Boolean =
      Route.local(spark, gate, 10, bound = { evaluated = true; Some(0) })({
        evaluated = true; 0 })
    Route.forcingDist(spark, "other_gate", " spec_gate") {
      assert(!probe("spec_gate"))
      assert(probe("spec_free"), "an unnamed gate must stay auto")
    }
    val rec = Route.take()
    assert(rec("spec_gate") == Route.Decision(Nil, Seq(10.0), local = false, forced = true))
    assert(!rec("spec_free").forced)
    evaluated = false
    Route.forcingDist(spark, "*")(assert(!probe("spec_free")))
    assert(!evaluated, "a forced gate evaluated its bound or estimate")
    assert(Route.json(Route.take()) == """{"spec_free":{"estimate":null,""" +
      """"budget":10,"route":"dist","forced":true}}""")
    assert(spark.conf.getOption(Route.DistConf).isEmpty, "forcingDist must restore the conf")
  }

  test("forced skew dispatch runs no probe scan") {
    import spark.implicits._
    // a fileless frame is never memoized: every auto call probes
    val mem = (1 to 50)
      .map(i => (i.toLong, i.toLong, java.sql.Date.valueOf("2024-01-05"), 1.0))
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val b = CoreQueries.probeScanCount.get()
    val forced = withRoutes(dist = Seq("running_total"))(
      sortedRows(CoreQueries.runningTotalAutoOf(mem)))
    assert(CoreQueries.probeScanCount.get() == b, "a forced skew gate probed")
    val auto = withRoutes(local = Seq("running_total"))(
      sortedRows(CoreQueries.runningTotalAutoOf(mem)))
    assert(CoreQueries.probeScanCount.get() == b + 1)
    assert(forced == auto, "two-phase and one-pass running totals differ")
  }

  test("forced k-means and raw-collect gates run no count job") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val emb = graft.sources.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    def counts(sites: Seq[String]) = sites.filter(_.startsWith("count at VectorQueries"))
    val autoSites = jobSites(withRoutes(local = Seq("kmeans_local"))(
      VectorQueries.kmeansCentroids(emb, 4, 1)))
    assert(counts(autoSites).nonEmpty, s"the auto gate's count job is missing: $autoSites")
    val forcedSites = jobSites(withRoutes(dist = Seq("kmeans_local"))(
      VectorQueries.kmeansCentroids(emb, 4, 1)))
    assert(counts(forcedSites).isEmpty, s"a forced k-means gate counted: $forcedSites")

    val li = graft.sources.Tables.lineitem(spark, sf001)
      .select(col("l_orderkey"), col("l_partkey"))
    val rawAuto = jobSites(withRoutes(local = Seq("raw_collect", "basket_model"))(
      assert(GraphQueries.basketSetsRaw(li).isDefined)))
    assert(rawAuto.exists(_.startsWith("count at GraphQueries")), rawAuto)
    val rawForced = jobSites(withRoutes(dist = Seq("raw_collect"))(
      assert(GraphQueries.basketSetsRaw(li).isEmpty)))
    assert(rawForced.isEmpty, s"a forced raw_collect gate ran jobs: $rawForced")
    // a forced basket_model gate after an auto raw_collect never collects
    val basketForced = jobSites(withRoutes(dist = Seq("basket_model"),
        local = Seq("raw_collect"))(assert(GraphQueries.basketSetsRaw(li).isEmpty)))
    assert(!basketForced.exists(_.startsWith("collect at GraphQueries")), basketForced)
  }

  test("a forced tombstone_set call never serves the set an auto call cached") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("route-ts").toString
    graft.streaming.StreamOps.deleteDocs(idx, Seq(5L, 2L, 9L).toDF("id"))
    def set(): Option[Seq[Long]] =
      VectorIndex.cachedTombstoneSet(spark, idx).map(_.toSeq)
    assert(withRoutes(local = Seq("tombstone_set"))(set()) == Some(Seq(2L, 5L, 9L)))
    assert(withRoutes(dist = Seq("tombstone_set"))(set()).isEmpty,
      "a forced call served the auto call's cached set")
    assert(withRoutes(local = Seq("tombstone_set"))(set()) == Some(Seq(2L, 5L, 9L)))
    // a new delete moves the cache key
    graft.streaming.StreamOps.deleteDocs(idx, Seq(1L).toDF("id"))
    assert(set() == Some(Seq(1L, 2L, 5L, 9L)))
  }
}
