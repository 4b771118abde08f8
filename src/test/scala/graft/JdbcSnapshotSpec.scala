package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.Row
import graft.model.Schemas
import graft.sink.JdbcSnapshot

/** JDBC source/sink path against embedded Derby (bundled with Spark —
  * no added dependencies): nested-column round-trip fidelity and the
  * flat-dimension read. */
class JdbcSnapshotSpec extends SparkSpec {

  private def derbyUrl =
    s"jdbc:derby:${Files.createTempDirectory("graft-derby")}/db;create=true"

  test("vendorProduct snapshot round-trips through Derby (nested options via JSON)") {
    val t0 = Timestamp.valueOf("2026-08-12 00:00:00")
    val rows = Seq(
      Row("v-1", "ap-1", "cond-fixed", "wholecell",
        Seq(Row("id-1", "Black", "128GB 4GB RAM", 4, 250L, 250L,
          Seq("ESN-1", "ESN-2"))),
        t0, t0),
      Row("v-2", "ap-2", "cond-fixed", "wholecell", Seq.empty, t0, t0),
      Row("v-3", "ap-3", "cond-fixed", null, null, t0, t0))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.vendorProduct)
    val url = derbyUrl
    JdbcSnapshot.write(df, url, "vendor_products")
    val back = JdbcSnapshot.read(spark, url, "vendor_products")
    // compare names/types — the JDBC reader annotates fields with
    // connector metadata (jdbcClientType etc.), which is fine
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      Schemas.vendorProduct.map(f => (f.name, f.dataType)))
    val byKey = back.collect().map(r => r.getString(0) -> r).toMap
    assert(byKey.keySet == Set("v-1", "v-2", "v-3"))
    val opts = byKey("v-1").getSeq[Row](4)
    assert(opts.length == 1)
    assert(opts.head.getString(1) == "Black" && opts.head.getInt(3) == 4)
    assert(opts.head.getSeq[String](6) == Seq("ESN-1", "ESN-2"))
    assert(byKey("v-2").getSeq[Row](4).isEmpty)
    assert(byKey("v-3").isNullAt(3))
  }

  test("JdbcStore.read: missing table means empty; other failures propagate") {
    import graft.sink.MergeWriter.JdbcStore
    // missing table on a healthy connection → first-sync empty snapshot
    val empty = JdbcStore(derbyUrl, "never_written").read(spark)
    assert(empty.count() == 0)
    // unreachable database → must THROW, not read as empty (an empty
    // snapshot here would let the next write wipe the real sink)
    val bad = JdbcStore("jdbc:derby:/nonexistent/denied/path/db", "t")
    intercept[Exception] { bad.read(spark) }
  }

  test("staged write: a lazy plan reading the live table survives its own overwrite") {
    import graft.sink.MergeWriter.JdbcStore
    val t0 = Timestamp.valueOf("2026-08-12 00:00:00")
    def vp(id: String) = Row(id, s"ap-$id", "c", "wholecell",
      Seq(Row("o", "Black", "128GB", 1, 10L, 10L, Seq("ESN"))), t0, t0)
    val url = derbyUrl
    val store = JdbcStore(url, "vendor_products")
    store.writeVendors(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(vp("v-1"))), Schemas.vendorProduct), Seq("v-1"))
    // merged-snapshot shape: a LAZY union of the live table with new
    // rows, handed straight to write with NO materialization barrier.
    // An in-place overwrite would truncate the table this plan reads
    // (silently losing v-1 on recompute); the staged write must not.
    val merged = store.read(spark).unionByName(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(vp("v-2"))), Schemas.vendorProduct))
    store.writeVendors(spark, merged, Seq("v-1", "v-2"))
    val after = store.read(spark).collect().map(_.getString(0)).toSet
    assert(after == Set("v-1", "v-2"))
    // and the staging/backup tables are gone
    intercept[Exception] { JdbcSnapshot.readTable(spark, url,
      "vendor_products_vstg").collect() }
    intercept[Exception] { JdbcSnapshot.readTable(spark, url,
      "vendor_products_old").collect() }
  }

  test("JDBC partial write replaces only the touched vendors' rows") {
    import graft.sink.MergeWriter.JdbcStore
    val t0 = Timestamp.valueOf("2026-08-12 00:00:00")
    val t1 = Timestamp.valueOf("2026-08-13 00:00:00")
    def vp(id: String, stock: Int, ts: Timestamp) = Row(id, s"ap-$id", "c",
      "wholecell", Seq(Row("o", "Black", "128GB", stock, 10L, 10L, Seq("ESN"))), ts, ts)
    def df(rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.vendorProduct)
    val url = derbyUrl
    val store = JdbcStore(url, "vendor_products")
    // first sync through the partial path: creates the table
    store.writeVendors(spark, df(vp("v-1", 1, t0), vp("v-2", 1, t0)), Seq("v-1", "v-2"))
    // second sync touches only v-2 (new stock, new timestamp)
    store.writeVendors(spark, df(vp("v-2", 9, t1)), Seq("v-2"))
    val after = store.read(spark).collect()
      .map(r => r.getString(0) -> (r.getSeq[Row](4).head.getInt(3), r.getTimestamp(6)))
      .toMap
    assert(after.keySet == Set("v-1", "v-2"))
    assert(after("v-1") == ((1, t0)), "untouched vendor's row changed")
    assert(after("v-2") == ((9, t1)))
    // staging table cleaned up
    intercept[Exception] { JdbcSnapshot.readTable(spark, url,
      "vendor_products_vstg").collect() }
  }

  test("partial write filters out smuggled rows of undeclared vendors") {
    import graft.sink.MergeWriter.JdbcStore
    val t0 = Timestamp.valueOf("2026-08-12 00:00:00")
    def vp(id: String, stock: Int) = Row(id, s"ap-$id", "c", "wholecell",
      Seq(Row("o", "Black", "128GB", stock, 10L, 10L, Seq("ESN"))), t0, t0)
    def df(rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.vendorProduct)
    val url = derbyUrl
    val store = JdbcStore(url, "vendor_products")
    store.writeVendors(spark, df(vp("v-1", 1), vp("v-2", 1)), Seq("v-1", "v-2"))
    // this write DECLARES only v-1 but the frame smuggles a v-2 row:
    // v-2's old row is never deleted, so inserting the smuggled row
    // would leave a duplicate (vendorId, product) key — the contract
    // guard must drop it from staging instead
    store.writeVendors(spark, df(vp("v-1", 5), vp("v-2", 99)), Seq("v-1"))
    val rows = store.read(spark).collect()
      .map(r => r.getString(0) -> r.getSeq[Row](4).head.getInt(3))
    assert(rows.length == 2, s"duplicate keys after smuggled write: ${rows.toSeq}")
    val m = rows.toMap
    assert(m("v-1") == 5, "declared vendor's row not updated")
    assert(m("v-2") == 1, "smuggled undeclared row replaced the stored one")
  }

  test("a crashed staged swap self-heals on the next read instead of reading empty") {
    import graft.sink.MergeWriter.JdbcStore
    val t0 = Timestamp.valueOf("2026-08-12 00:00:00")
    val rows = Seq(Row("v-1", "ap-1", "c", "wholecell",
      Seq(Row("o", "Black", "128GB", 4, 250L, 250L, Seq("ESN-1"))), t0, t0))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.vendorProduct)
    val url = derbyUrl
    // simulate the crash window: staging fully written AND the old
    // table renamed aside (the _old marker proves the swap — not the
    // staging write — was interrupted), live table missing
    val oldRows = Seq(Row("v-0", "ap-0", "c", "wholecell",
      Seq(Row("o", "Red", "64GB", 1, 50L, 50L, Seq("E"))), t0, t0))
    JdbcSnapshot.write(spark.createDataFrame(
      spark.sparkContext.parallelize(oldRows), Schemas.vendorProduct),
      url, "vendor_products_old")
    JdbcSnapshot.write(df, url, "vendor_products_stg")
    val recovered = JdbcStore(url, "vendor_products").read(spark)
    assert(recovered.collect().map(_.getString(0)).toSeq == Seq("v-1"),
      "read did not complete the interrupted swap")
    // staging renamed into place, not copied; stale backup dropped
    intercept[Exception] { JdbcSnapshot.readTable(spark, url,
      "vendor_products_stg").collect() }
    intercept[Exception] { JdbcSnapshot.readTable(spark, url,
      "vendor_products_old").collect() }
  }

  test("a PARTIAL first-sync staging table is never promoted to live") {
    import graft.sink.MergeWriter.JdbcStore
    val t0 = Timestamp.valueOf("2026-08-12 00:00:00")
    val rows = Seq(Row("v-9", "ap-9", "c", "wholecell",
      Seq(Row("o", "Black", "128GB", 4, 250L, 250L, Seq("E"))), t0, t0))
    val url = derbyUrl
    // _stg exists but NO _old and NO live table: a first-ever sync
    // crashed mid-staging-write — _stg may hold half the rows, and
    // promoting it would turn them into accumulated state
    JdbcSnapshot.write(spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.vendorProduct),
      url, "vendor_products_stg")
    val snap = JdbcStore(url, "vendor_products").read(spark)
    assert(snap.count() == 0, "partial staging table was promoted to live")
  }

  test("flat dimension read (S1 source shape) returns what was written") {
    import spark.implicits._
    val url = derbyUrl
    val creds = Seq(("va-1", "v-100", "app1", "s1", "wholecell"),
      ("va-2", "v-200", "app2", "s2", null))
      .toDF("_id", "vendorId", "appId", "appSecret", "database")
    creds.write.format("jdbc").option("url", url)
      .option("dbtable", "apis").mode("overwrite").save()
    val back = JdbcSnapshot.readTable(spark, url, "apis")
    assert(back.count() == 2)
    assert(back.filter($"database".isNull).count() == 1)
  }
}
