package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the table-maintenance chore every
  * long-lived lake table needs. Streaming sinks and k-of-N partial
  * syncs append files per micro-batch/run; after a month a partition
  * holds thousands of KB-sized files and every scan pays a task per
  * file (plus a namenode listing storm). Compaction rewrites each
  * partition into ceil(bytes / targetBytes) files.
  *
  * Scale discipline: partitions compact INDEPENDENTLY — the unit of
  * work, skip decision, and atomic swap are all per partition
  * directory, so compacting one hot partition never rewrites (or
  * even lists) the rest of a 100 TB table, and a scheduler can fan
  * partitions out as separate jobs. Already-compact partitions are
  * skipped without a write (their files stay byte-identical, the
  * same untouched-partition guarantee MergeWriter's partial sync
  * makes). Each rewrite commits through DirSwap: a crash leaves
  * either the old files or the new, never a mix, the next run heals
  * a copy left only aside before it lists anything, and a stale tmp
  * from a previous crash is cleared. A partition's staging and aside
  * copies sit BESIDE the table root (`<root>__ctmp_<part>`,
  * `<root>__cold_<part>`), where readers never see them as partition
  * values; a flat table's are `<root>__ctmp` and `<root>__cold`.
  *
  * Ordering note: a plain repartition rewrite does not preserve
  * clustering; re-clustering a z-ordered table is
  * `Layout.writeZOrdered`'s job (compaction and re-layout are the
  * same write, so do the z-order one there).
  */
object Compact {

  final case class PartitionResult(partition: String, filesBefore: Int,
      filesAfter: Int, bytes: Long, rewritten: Boolean)

  private def isDataFile(p: Path): Boolean = {
    val n = p.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** Compact the parquet table at `path` (flat, or one-level
    * hive-partitioned `col=value`) toward `targetBytes` per file.
    * Returns per-partition accounting so callers can log what a run
    * actually did — silent maintenance is unauditable maintenance. */
  def compactTable(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Seq[PartitionResult] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def beside(kind: String, part: String) = new Path(s"${root}__$kind$part")
    DirSwap.heal(fs, root, beside("cold", ""))
    DirSwap.healBeside(fs, root, "__cold_")
    val partDirs = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath)
    if (partDirs.isEmpty) Seq(compactDir(spark, fs, root, "<root>",
      beside("ctmp", ""), beside("cold", ""), targetBytes))
    else partDirs.map(d => compactDir(spark, fs, d, d.getName,
      beside("ctmp", "_" + d.getName), beside("cold", "_" + d.getName), targetBytes))
  }

  private def compactDir(spark: SparkSession, fs: FileSystem, dir: Path,
      label: String, tmp: Path, old: Path, targetBytes: Long): PartitionResult = {
    val files = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && isDataFile(st.getPath))
    val bytes = files.map(_.getLen).sum
    val nTarget = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    if (files.size <= nTarget)
      return PartitionResult(label, files.size, files.size, bytes, rewritten = false)

    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.read.parquet(dir.toString)
      .repartition(nTarget)
      .write.mode("overwrite").parquet(tmp.toString)
    DirSwap.commit(fs, tmp, dir, old)
    val after = fs.listStatus(dir).toSeq
      .count(st => st.isFile && isDataFile(st.getPath))
    PartitionResult(label, files.size, after, bytes, rewritten = true)
  }
}
