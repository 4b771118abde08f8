package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.ops.OptionMerge

/** K1+J4: the keyed MERGE/upsert sink. Spark has no DataFrame-level
  * upsert to parquet, so the reference's per-group
  * `findOne`-then-`bulkWrite` (products.js:285-341 — an N+1 probe
  * followed by a batch) becomes ONE outer join against the current
  * sink snapshot, one projection, and a snapshot rewrite:
  *
  *   incoming FULL OUTER JOIN existing ON (vendorId, product,
  *   condition) → matched rows merge options (A4), right-only rows
  *   keep, left-only rows insert.
  *
  * Scale design: the snapshot is parquet partitioned by vendorId, so
  * a 1000-executor rewrite is partition-parallel. A sync that touches
  * k of N vendors goes through writeSnapshotVendors — only those k
  * vendors' partition directories are rewritten and (via SyncJob's
  * pre-filtered snapshot read) only their files scanned; the
  * full-table swap remains for full-sync semantics and
  * non-partitionable stores. The join shuffles on the 3-column key
  * with AQE handling skew.
  */
object MergeWriter {

  /** Pluggable snapshot backend: the merge logic is identical whether
    * the sink state lives in a keyed parquet table or a JDBC table
    * (the reference's sink is a live database — JdbcStore is the
    * closer analog; ParquetStore is the lakehouse form). */
  trait SnapshotStore {
    def read(spark: SparkSession): DataFrame
    def write(spark: SparkSession, df: DataFrame): Unit
    /** Whether writeVendors is implemented. When true, a sync that
      * touches k of N vendors can hand this store a frame holding
      * ONLY those k vendors' merged rows — the other N-k vendors'
      * stored rows must survive untouched. When false, callers must
      * always write the FULL snapshot through `write` (handing a
      * partial frame to `write` would erase the missing vendors). */
    def supportsPartialWrite: Boolean = false
    /** Replace only `vendors`' rows with `df` (which holds exactly
      * those vendors' rows); every other vendor is left untouched.
      * Only callable when supportsPartialWrite. */
    def writeVendors(spark: SparkSession, df: DataFrame,
        vendors: Seq[String]): Unit =
      throw new UnsupportedOperationException(
        s"$this does not support partial writes")
  }

  final case class ParquetStore(path: String) extends SnapshotStore {
    def read(spark: SparkSession): DataFrame = readSnapshot(spark, path)
    def write(spark: SparkSession, df: DataFrame): Unit =
      writeSnapshot(spark, df, path)
    override def supportsPartialWrite: Boolean = true
    override def writeVendors(spark: SparkSession, df: DataFrame,
        vendors: Seq[String]): Unit =
      writeSnapshotVendors(spark, df, path, vendors)
  }

  /** JDBC-backed snapshot (see JdbcSnapshot for type mapping). */
  final case class JdbcStore(url: String, table: String,
      options: Map[String, String] = Map.empty) extends SnapshotStore {
    def read(spark: SparkSession): DataFrame = {
      // A crashed staged swap leaves the live table missing with the
      // complete new snapshot still in _stg — complete it BEFORE
      // reading, or table-missing would be misread as "first sync →
      // empty" and the next write would erase the accumulated state.
      JdbcSnapshot.recoverStagedSwap(url, table, options)
      try JdbcSnapshot.read(spark, url, table, options)
      catch {
        // ONLY a missing table means "first sync → empty snapshot".
        // Anything else (connection refused, auth, network) must
        // propagate: mapping it to empty would mark every incoming
        // row 'insert' and the subsequent overwrite would silently
        // destroy the accumulated sink state.
        case e: Exception if isTableMissing(e) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Schemas.vendorProduct)
      }
    }

    /** Walk the cause chain for an SQLException whose SQLState is a
      * table-not-found code (Derby 42X05, SQL-standard/MySQL 42S02,
      * Postgres 42P01). */
    private def isTableMissing(t: Throwable): Boolean = {
      val states = Set("42X05", "42S02", "42P01")
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).exists {
        case sql: java.sql.SQLException =>
          states.contains(String.valueOf(sql.getSQLState))
        case _ => false
      }
    }
    def write(spark: SparkSession, df: DataFrame): Unit =
      // Staging-table + rename swap: the lazy merge plan reads `table`,
      // and overwriting it in place would truncate its own source (a
      // persist()+count() barrier only protects until an executor
      // loses cached blocks and recomputes from the truncated table —
      // safe in local mode only). The staged write leaves the live
      // table untouched until every merged row is durable.
      JdbcSnapshot.writeStaged(df, url, table, options)
    override def supportsPartialWrite: Boolean = true
    override def writeVendors(spark: SparkSession, df: DataFrame,
        vendors: Seq[String]): Unit =
      JdbcSnapshot.writeVendors(df, url, table, vendors, options)
  }

  /** JdbcStore variant whose every write commits `token` inside the
    * staged swap's transaction (JdbcSnapshot.writeStagedToken) — the
    * TokenParquetStore twin for live-DB sinks, with the same
    * no-partial-write trade: one commit point needs ONE transaction,
    * so streamed exactly-once syncs write the full snapshot. */
  final case class TokenJdbcStore(url: String, table: String, token: Long,
      options: Map[String, String] = Map.empty) extends SnapshotStore {
    private val inner = JdbcStore(url, table, options)
    def read(spark: SparkSession): DataFrame = inner.read(spark)
    def write(spark: SparkSession, df: DataFrame): Unit =
      JdbcSnapshot.writeStagedToken(df, url, table, token, options)
  }

  sealed trait MergeMode
  /** Reference semantics (SURVEY §7.4#2): stock accumulates across
    * re-syncs — NOT idempotent, re-running doubles stock. */
  case object Accumulate extends MergeMode
  /** Idempotent variant: incoming replaces the matched record. */
  case object Replace extends MergeMode

  private val keyCols = Seq("vendorId", "product", "condition")

  /** Read the current sink snapshot, or an empty frame with the sink
    * schema when the table doesn't exist yet. Heals any interrupted
    * swap FIRST: a crashed write leaves a vendor only in its `__vold_`
    * backup (or the whole snapshot only in `__old`), and reading
    * without restoring it would hand the merge a snapshot missing that
    * state — the next write would then reset it to `insert`. */
  def readSnapshot(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DirSwap.healBeside(fs, p, VendorAside)
    DirSwap.heal(fs, p, DirSwap.old(p))
    if (fs.exists(p))
      spark.read.schema(Schemas.vendorProduct).parquet(path)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.vendorProduct)
  }

  /** Compute the merged snapshot plus an `action` column
    * (insert | merge | keep) used for A5 counters. `now` is injected
    * for deterministic tests (P12's `new Date()`). */
  def merge(existing: DataFrame, incoming: DataFrame, mode: MergeMode,
      now: java.sql.Timestamp): DataFrame = {
    val e = existing.select(
      col("vendorId"), col("product"), col("condition"),
      col("database").as("e_database"),
      col("selectedOptions").as("e_options"),
      col("createdAt").as("e_createdAt"),
      col("updatedAt").as("e_updatedAt"))
    val i = incoming.select(
      col("vendorId"), col("product"), col("condition"),
      col("database").as("i_database"),
      col("selectedOptions").as("i_options"))

    val joined = e.join(i, keyCols, "full_outer")
      .withColumn("action",
        when(col("e_options").isNull, lit("insert"))
          .when(col("i_options").isNull, lit("keep"))
          .otherwise(lit("merge")))

    // A4 runs row-locally: no second reference to the join, no shuffle
    val mergedOptions = mode match {
      case Accumulate => OptionMerge.merge(col("e_options"), col("i_options"), keyCols.map(col))
      case Replace => col("i_options")
    }

    joined.select(
      col("vendorId"), col("product"), col("condition"),
      coalesce(col("i_database"), col("e_database")).as("database"),
      when(col("action") === "insert", col("i_options"))
        .when(col("action") === "keep", col("e_options"))
        .otherwise(mergedOptions).as("selectedOptions"),
      coalesce(col("e_createdAt"), lit(now)).as("createdAt"),
      // Rows untouched by this sync keep their existing updatedAt —
      // the reference only $set-updates touched documents
      // (products.js:309-318), so a snapshot rewrite must not
      // regress unchanged records' timestamps.
      when(col("action") === "keep", col("e_updatedAt")).otherwise(lit(now))
        .as("updatedAt"),
      col("action"))
  }

  /** Atomically replace the snapshot at `path` (write to a temp dir,
    * then swap) — parquet partitioned by vendorId. The frame is
    * repartitioned on vendorId first: without it every upstream task
    * writes a file into every vendor directory it has rows for
    * (tasks × vendors small files — the classic partitionBy
    * explosion); with it each vendor's rows land in one task → one
    * file per partition directory. AQE coalescing keeps the shuffle
    * cheap when vendors are few. */
  def writeSnapshot(spark: SparkSession, df: DataFrame, path: String): Unit =
    writeSnapshot(spark, df, path, None)

  /** As writeSnapshot, optionally committing a batch TOKEN atomically
    * with the data: the token file is written INTO the staged
    * directory before the swap, so token and snapshot become visible
    * in the same rename — a replayed micro-batch whose token is
    * already committed can be detected and skipped (exactly-once for
    * foreachBatch sinks; see StreamOps.syncBatch). The `_`-prefixed
    * file is invisible to parquet readers. */
  def writeSnapshot(spark: SparkSession, df: DataFrame, path: String,
      token: Option[Long]): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.select(Schemas.vendorProduct.fieldNames.map(col).toSeq: _*)
      .repartition(col("vendorId"))
      // sorted by (vendorId, product): the dynamic-partition write
      // REQUIRES ordering by the partition column — matching that
      // prefix means the planner injects no extra sort, and the
      // product suffix gives each vendor file row-group min/max
      // stats so point lookups (J4's existence probes, S7) skip row
      // groups instead of scanning the vendor
      .sortWithinPartitions(col("vendorId"), col("product"))
      .write.mode("overwrite").partitionBy("vendorId").parquet(tmp.toString)
    token.foreach(DirSwap.writeToken(fs, tmp, TokenFile, _))
    DirSwap.commit(fs, tmp, p, DirSwap.old(p))
  }

  private val TokenFile = "_graft_batch"
  // where a per-vendor swap keeps the previous copy, beside the table
  private val VendorAside = "__vold_"

  /** Last batch token committed with the snapshot (None before the
    * first tokened write, or for untokened snapshots). */
  def readBatchToken(spark: SparkSession, path: String): Option[Long] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DirSwap.heal(fs, p, DirSwap.old(p))
    DirSwap.readToken(fs, p, TokenFile)
  }

  /** ParquetStore variant whose every write commits `token` in the
    * same rename as the data — the exactly-once sink for streamed
    * syncs. Deliberately NO partial-vendor writes: the token must
    * ride ONE atomic swap, and k independent partition renames
    * cannot carry one commit point (a transactional table format is
    * the at-scale answer; batch syncs keep the k-partition path via
    * plain ParquetStore). */
  final case class TokenParquetStore(path: String, token: Long) extends SnapshotStore {
    def read(spark: SparkSession): DataFrame = readSnapshot(spark, path)
    def write(spark: SparkSession, df: DataFrame): Unit =
      writeSnapshot(spark, df, path, Some(token))
  }

  /** Partition-overwrite variant of writeSnapshot: rewrites ONLY the
    * given vendors' `vendorId=` partition directories and leaves every
    * other vendor's files byte-identical — the optimal write path when
    * a sync touches k of N vendors (the reference's bulkWrite likewise
    * only touches changed documents, products.js:339-341). `df` must
    * hold exactly `vendors`' rows (the caller pre-filters; at 100 TB
    * the caller also pre-filters the snapshot READ to those vendors,
    * so a k-vendor sync scans and writes k partitions, not N).
    *
    * Each vendor directory swaps through DirSwap.commit, like the
    * full-snapshot path, with its backup beside the table. The swap
    * is atomic per vendor but not across vendors: a crash mid-loop
    * leaves some vendors new and some old — each still a consistent
    * snapshot of SOME sync, which is the same guarantee class as the
    * reference's non-transactional bulkWrite batches. Single-writer,
    * like every sink path here. */
  def writeSnapshotVendors(spark: SparkSession, df: DataFrame, path: String,
      vendors: Seq[String]): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DirSwap.healBeside(fs, p, VendorAside)
    val tmp = new Path(path + "__vtmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.select(Schemas.vendorProduct.fieldNames.map(col).toSeq: _*)
      .filter(col("vendorId").isin(vendors: _*))
      .repartition(col("vendorId"))
      .sortWithinPartitions(col("vendorId"), col("product"))
      .write.mode("overwrite").partitionBy("vendorId").parquet(tmp.toString)
    if (!fs.exists(p)) fs.mkdirs(p)
    // swap the partition dirs the write actually produced (listing tmp
    // rather than constructing names keeps Spark's partition-value
    // escaping out of our hands); each backup sits beside the table
    val written = fs.listStatus(tmp).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("vendorId="))
    for (st <- written) {
      val name = st.getPath.getName
      DirSwap.commit(fs, st.getPath, new Path(p, name), new Path(path + VendorAside + name))
    }
    fs.delete(tmp, true)
  }
}
