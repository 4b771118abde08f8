package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sink.Compact

/** Compaction: file counts shrink to the byte-target, data is
  * byte-for-row identical, already-compact partitions are not
  * touched (their files stay byte-identical on disk), and crash
  * residue doesn't wedge the next run. */
class CompactSpec extends SparkSpec {
  import spark.implicits._

  test("flat table: 32 small files collapse to the byte-target count; data identical") {
    val dir = Files.createTempDirectory("compact").toString + "/t"
    val df = spark.range(10000).select(col("id"), (col("id") % 7).as("g"))
    df.repartition(32).write.parquet(dir)
    // crash residue from a hypothetical earlier run must be cleared
    Files.createDirectories(java.nio.file.Paths.get(dir + "__ctmp"))

    val res = Compact.compactTable(spark, dir, targetBytes = 1L << 30)
    assert(res.size == 1 && res.head.rewritten)
    assert(res.head.filesBefore == 32 && res.head.filesAfter == 1)
    val back = spark.read.parquet(dir).select(col("id")).as[Long].collect().sorted
    assert(back.toSeq == (0L until 10000L))
  }

  test("partitioned table: only fragmented partitions rewrite; compact ones stay byte-identical") {
    val dir = Files.createTempDirectory("compactp").toString + "/t"
    // vendor=a fragmented (16 files), vendor=b already compact (1 file)
    spark.range(5000).select(lit("a").as("vendor"), col("id"))
      .repartition(16).write.partitionBy("vendor").parquet(dir)
    spark.range(100).select(lit("b").as("vendor"), (col("id") + 10000).as("id"))
      .coalesce(1).write.mode("append").partitionBy("vendor").parquet(dir)

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sig(part: String): Set[(String, Long, Long)] =
      fs.listStatus(new Path(s"$dir/vendor=$part")).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val bBefore = sig("b")

    val res = Compact.compactTable(spark, dir, targetBytes = 1L << 30)
      .map(r => r.partition -> r).toMap
    assert(res("vendor=a").rewritten && res("vendor=a").filesAfter == 1)
    assert(!res("vendor=b").rewritten)
    assert(sig("b") == bBefore, "compact partition was touched")
    val back = spark.read.parquet(dir)
    assert(back.count() == 5100)
    assert(back.filter(col("vendor") === "a").count() == 5000)
  }

  test("partitioned table: staging and aside copies sit beside the root; a partition left only aside is restored") {
    val dir = Files.createTempDirectory("compacth").toString + "/t"
    spark.range(5000).select(lit("a").as("vendor"), col("id"))
      .repartition(16).write.partitionBy("vendor").parquet(dir)
    spark.range(100).select(lit("b").as("vendor"), (col("id") + 10000).as("id"))
      .coalesce(1).write.mode("append").partitionBy("vendor").parquet(dir)
    def vendors = spark.read.parquet(dir).select("vendor").distinct().as[String].collect().toSet

    // neither the compacted copy nor the restore can move in: vendor=a
    // is left only in its aside copy, which readers must not see
    spark.sparkContext.hadoopConfiguration
      .set("fs.refuse.impl", classOf[RefusingRenameFs].getName)
    RefusingRenameFs.refused = Set("t/vendor=a")
    try intercept[Exception](Compact.compactTable(spark, "refuse://" + dir, 1L << 30))
    finally RefusingRenameFs.refused = Set.empty
    assert(vendors == Set("b"))

    val res = Compact.compactTable(spark, dir, targetBytes = 1L << 30)
      .map(r => r.partition -> r).toMap
    assert(res.keySet == Set("vendor=a", "vendor=b"))
    assert(res("vendor=a").rewritten && res("vendor=a").filesAfter == 1)
    assert(vendors == Set("a", "b"))
    assert(spark.read.parquet(dir).count() == 5100)
    val residue = new java.io.File(dir).getParentFile.list().toSet - "t"
    assert(residue.isEmpty, s"left beside the table: $residue")
  }
}
