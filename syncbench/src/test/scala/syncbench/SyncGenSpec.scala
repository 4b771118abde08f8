package syncbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.model.VendorSummary
import graft.pipeline.SyncJob
import graft.sink.MergeWriter
import graft.streaming.StreamOps

/** The sync_churn generator is deterministic and knows every sync's
  * outcome from construction: pinned on a tiny instance run through the
  * real sync paths. */
class SyncGenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val dir = Files.createTempDirectory("syncgen").toFile

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(dir.getPath)
  }

  private def tiny(seed: Long) = new SyncGen(seed, vendors = 3, itemsPerVendor = 80, catalogSize = 60)

  test("the same seed gives the same payload bytes, before and after churn") {
    val (a, b) = (tiny(5), tiny(5))
    assert((0 until 3).map(a.payload) == (0 until 3).map(b.payload))
    assert(a.catalog == b.catalog)
    val (ra, rb) = (a.pickVendors(2), b.pickVendors(2))
    assert(ra == rb)
    ra.foreach(a.churn); rb.foreach(b.churn)
    assert((0 until 3).map(a.payload) == (0 until 3).map(b.payload))
    assert(tiny(6).payload(0) != a.payload(0))
  }

  test("expected counts match SyncJob.sync and StreamOps.syncBatch on a tiny instance") {
    import spark.implicits._
    val gen = tiny(11)
    val catalog = s"$dir/catalog"
    spark.createDataFrame(gen.catalog.map(p => (p.id, p.name, p.storage)))
      .selectExpr("_1 AS _id", "_2 AS name", "named_struct('storage', _3) AS specifications")
      .write.parquet(catalog)
    spark.conf.set("graft.sync.admin.path", catalog)
    val sink = s"$dir/sink"
    val all = 0 until gen.vendors
    val fetch = new SyncChurn.Fetcher(all.map(v => SyncGen.vendorIdOf(v) -> gen.payload(v)).toMap)
    val expected = all.map(gen.expect)
    assert(expected.forall(e => e.fetched == 80 && e.inserted > 0 && e.updated == 0))
    val full = SyncJob.sync(spark, gen.apis.toDS(), fetch, sink)
    SyncChurn.check(full.summary, expected, Seq("v-x0", "v-x1"))
    all.foreach(gen.commit)

    for (round <- 1 to 2) {
      val vs = gen.pickVendors(2)
      vs.foreach(gen.churn)
      val exp = vs.map(gen.expect)
      assert(exp.exists(_.updated > 0))
      val batch = vs.map(v => SyncGen.vendorIdOf(v) -> gen.payload(v)).toDF("vendorId", "payload")
      var summary = Seq.empty[VendorSummary]
      StreamOps.syncBatch(MergeWriter.ParquetStore(sink), onSummary = s => summary = s)(batch, round)
      SyncChurn.check(summary, exp, Seq.empty)
      vs.foreach(gen.commit)
    }
    assert(MergeWriter.readSnapshot(spark, sink).count() == gen.sinkRows)
    assert(SyncChurn.checkRollup(spark, sink, gen) == gen.sinkRows)
  }

  test("a wrong count is reported as a mismatch") {
    val gen = tiny(3)
    val e = gen.expect(0)
    val wrong = VendorSummary(e.vendorId, "wholecell", "ok", e.fetched + 1, e.valid, e.skipped,
      e.inserted, e.updated, 0, 0, None)
    assertThrows[IllegalStateException](SyncChurn.check(Seq(wrong), Seq(e), Seq.empty))
  }
}
