package graft

import java.nio.file.Files
import java.sql.Timestamp
import scala.util.Success

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.model.{Schemas, VendorApi}
import graft.ops.CacheScope
import graft.pipeline.SyncJob
import graft.sink.{DirSwap, MergeWriter}
import graft.streaming.StreamOps

/** A sync runs its relational core ONCE: the stats action and the
  * snapshot write share one execution of the merge's full-outer join
  * (the write reads it from cache), and every cache the sync made is
  * gone when it returns — on success, on dry-run and on a failed
  * write. */
class SyncExecutionSpec extends SparkSpec {
  import spark.implicits._

  private val apis = Seq(
    VendorApi("va-01", "v-100", "app1", "s1", Some("wholecell")),
    VendorApi("va-02", "v-200", "app2", "s2", Some("wholecell")))

  private def payload(vendorId: String): String = vendorId match {
    case "v-100" => resourceText("vendor_items_v100.json")
    case "v-200" => resourceText("vendor_items_v200.json")
  }

  private val fetch: graft.sources.HttpSource.Fetcher = api => Success(payload(api.vendorId))

  private val now = Timestamp.valueOf("2026-08-12 00:00:00")

  private def sync(sink: String, dryRun: Boolean = false) = {
    spark.conf.set("graft.sync.admin.path", resourcePath("admin_products.json"))
    SyncJob.sync(spark, apis.toDS(), fetch, sink, now = now, dryRun = dryRun)
  }

  // every full-outer join of an executed plan, looking through AQE
  // stages and INTO cached relations: a join that was computed into a
  // cache is the same node object in every plan that reads the cache
  private def fullOuterJoins(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case j: BaseJoinExec if j.joinType == FullOuter => Seq(j)
      case _ => Nil
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case o => o.children ++ o.subqueries
    }
    here ++ inner.flatMap(fullOuterJoins)
  }

  /** Run `body`, calling `seen` on every SQL execution it finishes,
    * in order, as each finishes. */
  private def onExecutions(seen: QueryExecution => Unit)(body: => Unit): Unit = {
    val done = new java.util.concurrent.CountDownLatch(1)
    val sentinel = spark.range(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq sentinel.queryExecution) done.countDown() else seen(qe)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order on the bus: once the sentinel
      // is seen, every execution of `body` has been seen
      sentinel.collect()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
    } finally spark.listenerManager.unregister(listener)
  }

  /** Number of SQL executions inside `body` that RAN a full-outer
    * join: executions whose plan holds such a join whose output-row
    * metric grew since the previous execution that held it. A plan
    * that only reads the join's cached output does not count. */
  private def joinExecutions(body: => Unit): Int = {
    val seen = new java.util.IdentityHashMap[SparkPlan, java.lang.Long]()
    var ran = 0
    onExecutions { qe =>
      val grew = fullOuterJoins(qe.executedPlan).map { j =>
        val rows = j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        val before = Option(seen.put(j, rows)).map(_.longValue).getOrElse(0L)
        rows > before
      }
      if (grew.contains(true)) ran += 1
    }(body)
    ran
  }

  // shuffle exchanges from `p` down to the first join below it,
  // looking through AQE stages, reads and cached relations
  private def exchangesAboveJoin(p: SparkPlan): Int = p match {
    case _: BaseJoinExec => 0
    case a: AdaptiveSparkPlanExec => exchangesAboveJoin(a.executedPlan)
    case q: QueryStageExec => exchangesAboveJoin(q.plan)
    case m: InMemoryTableScanExec => exchangesAboveJoin(m.relation.cachedPlan)
    case s: ShuffleExchangeLike => 1 + exchangesAboveJoin(s.child)
    case o => o.children.map(exchangesAboveJoin).sum
  }

  test("one SyncJob.sync runs the merge's full-outer join in exactly one execution") {
    val sink = Files.createTempDirectory("graft-once").toString + "/vp"
    sync(sink) // populate: on an empty snapshot the join is planned away
    val runs = joinExecutions { sync(sink) }
    assert(runs == 1, s"the merge join ran in $runs executions")
  }

  test("one StreamOps.syncBatch runs the merge's full-outer join in exactly one execution") {
    val sink = Files.createTempDirectory("graft-once-batch").toString + "/vp"
    sync(sink)
    val batch = apis.map(a => a.vendorId -> payload(a.vendorId)).toDF("vendorId", "payload")
    val runs = joinExecutions {
      StreamOps.syncBatch(MergeWriter.ParquetStore(sink), clock = _ => now)(batch, 0L)
    }
    assert(runs == 1, s"the merge join ran in $runs executions")
    assert(MergeWriter.readBatchToken(spark, sink).contains(0L))
  }

  test("one StreamOps.syncBatch: one exchange from the item join to the merge's join") {
    // the items are hash-partitioned on (vendorId, admin_id) once; both
    // aggregates and the incoming side of the full-outer join on
    // (vendorId, product = admin_id) reuse that partitioning
    val sink = Files.createTempDirectory("graft-one-exchange").toString + "/vp"
    sync(sink)
    val batch = apis.map(a => a.vendorId -> payload(a.vendorId)).toDF("vendorId", "payload")
    val joins = new java.util.IdentityHashMap[SparkPlan, Unit]()
    onExecutions(qe => fullOuterJoins(qe.executedPlan).foreach(joins.put(_, ()))) {
      StreamOps.syncBatch(MergeWriter.ParquetStore(sink), clock = _ => now)(batch, 0L)
    }
    import scala.jdk.CollectionConverters._
    val incoming = joins.keySet.asScala.toSeq.collect {
      case j: BaseJoinExec => exchangesAboveJoin(j.right)
    }
    assert(incoming.nonEmpty, "no full-outer join ran")
    assert(incoming.forall(_ == 1), s"exchanges on the incoming side: $incoming")
  }

  test("no cache outlives a sync: success, dry-run, failed write") {
    spark.catalog.clearCache()
    val sink = Files.createTempDirectory("graft-hygiene").toString + "/vp"
    sync(sink)
    assert(CacheScope.sqlCacheEmpty(spark), "cache left after a sync")

    val dry = sync(sink, dryRun = true)
    assert(CacheScope.sqlCacheEmpty(spark), "cache left after a dry-run sync")
    // the dry-run view stays readable: it recomputes from the sink
    assert(dry.sink.count() == MergeWriter.readSnapshot(spark, sink).count())
    assert(CacheScope.sqlCacheEmpty(spark), "reading the dry-run view cached it")

    val refusing = new MergeWriter.SnapshotStore {
      def read(spark: SparkSession): DataFrame = MergeWriter.readSnapshot(spark, sink)
      def write(spark: SparkSession, df: DataFrame): Unit =
        throw new java.io.IOException("store refused the write")
    }
    spark.conf.set("graft.sync.admin.path", resourcePath("admin_products.json"))
    val e = intercept[java.io.IOException] {
      SyncJob.syncStore(spark, apis.toDS(), fetch, refusing, now = now)
    }
    assert(e.getMessage.contains("refused"))
    assert(CacheScope.sqlCacheEmpty(spark), "cache left after a failed write")
  }

  /** A directory under the `refuse:` scheme (RefusingRenameFs). */
  private def refuseDir(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.refuse.impl", classOf[RefusingRenameFs].getName)
    "refuse://" + Files.createTempDirectory(prefix).toString
  }

  /** The message of the IOException `body` throws while renames onto
    * `names` are refused. */
  private def refusing(names: String*)(body: => Unit): String = {
    RefusingRenameFs.refused = names.toSet
    try intercept[java.io.IOException](body).getMessage
    finally RefusingRenameFs.refused = Set.empty
  }

  private def oneRow = Seq(("v-1", "p-1", "c", "wholecell"))
    .toDF("vendorId", "product", "condition", "database")
    .withColumn("selectedOptions", array().cast(ArrayType(Schemas.selectedOption)))
    .withColumn("createdAt", lit(now)).withColumn("updatedAt", lit(now))

  test("a refused snapshot rename fails the write loudly") {
    val sink = refuseDir("graft-rename") + "/vp"
    val df = oneRow
    // the staged snapshot cannot move in: nothing was written
    assert(refusing("vp")(MergeWriter.writeSnapshot(spark, df, sink))
      .startsWith("could not move new snapshot"))
    MergeWriter.writeSnapshot(spark, df, sink)
    // the live snapshot cannot move aside: it stays live and readable
    assert(refusing("vp__old")(MergeWriter.writeSnapshot(spark, df, sink))
      .contains("aside"))
    assert(MergeWriter.readSnapshot(spark, sink).count() == 1)
  }

  test("DirSwap: each refused rename throws, and the data is readable after the heal") {
    val root = refuseDir("graft-dirswap")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (live, aside) = (new Path(s"$root/s"), new Path(s"$root/s__old"))
    def staged(n: Long): Path = {
      val p = new Path(s"$root/s__tmp")
      spark.range(n).write.mode("overwrite").parquet(p.toString)
      p
    }
    def rows = spark.read.parquet(live.toString).count()
    DirSwap.commit(fs, staged(1), live, aside)
    assert(rows == 1 && !fs.exists(aside))
    // the live copy cannot move aside: it stays live
    assert(refusing("s__old")(DirSwap.commit(fs, staged(2), live, aside)).contains("aside"))
    assert(rows == 1)
    // neither the new copy nor the restore can move in: the state is
    // left only aside, and the heal (refused once) brings it back
    assert(refusing("s")(DirSwap.commit(fs, staged(3), live, aside)).contains("nor restore"))
    assert(!fs.exists(live) && fs.exists(aside))
    assert(refusing("s")(DirSwap.heal(fs, live, aside)).startsWith("could not restore"))
    DirSwap.heal(fs, live, aside)
    assert(rows == 1 && !fs.exists(aside))
    DirSwap.commit(fs, staged(4), live, aside)
    assert(rows == 4 && !fs.exists(aside))

    // per-vendor swaps keep their backups beside the table, and the
    // snapshot read heals them
    val sink = s"$root/vp"
    MergeWriter.writeSnapshot(spark, oneRow, sink)
    // (the Spark write's own task commits move a `vendorId=v-1` too,
    // into the staging dir; only the move into the table is refused)
    val vendorDir = "vendorId=v-1"
    assert(refusing(s"vp/$vendorDir")(
      MergeWriter.writeSnapshotVendors(spark, oneRow, sink, Seq("v-1"))).contains("nor restore"))
    assert(fs.exists(new Path(s"${sink}__vold_$vendorDir")))
    assert(refusing(s"vp/$vendorDir")(MergeWriter.readSnapshot(spark, sink))
      .startsWith("could not restore"))
    assert(MergeWriter.readSnapshot(spark, sink).count() == 1)
    assert(!fs.exists(new Path(s"${sink}__vold_$vendorDir")))
  }
}

/** The local filesystem under the `refuse:` scheme, whose rename
  * answers `false` without moving anything when the target's name (or
  * `<parent name>/<name>`) is in `refused` — the way Hadoop reports
  * most rename failures. */
class RefusingRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refuse:///")
  override def getScheme: String = "refuse"
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    val names = Set(dst.getName, s"${dst.getParent.getName}/${dst.getName}")
    (names & RefusingRenameFs.refused).isEmpty && super.rename(src, dst)
  }
}

object RefusingRenameFs {
  @volatile var refused: Set[String] = Set.empty
}
