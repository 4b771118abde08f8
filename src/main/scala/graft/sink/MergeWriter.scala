package graft.sink

import java.io.IOException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.ops.OptionMerge

/** K1+J4: the keyed MERGE/upsert sink. Spark has no DataFrame-level
  * upsert to parquet, so the reference's per-group
  * `findOne`-then-`bulkWrite` (products.js:285-341 — an N+1 probe
  * followed by a batch) becomes ONE outer join against the current
  * sink snapshot, one projection, and a k-vendor write:
  *
  *   incoming FULL OUTER JOIN existing ON (vendorId, product,
  *   condition) → matched rows merge options (A4), right-only rows
  *   keep, left-only rows insert.
  *
  * Scale design: the snapshot is parquet partitioned by vendorId, and
  * every write goes through writeSnapshotVendors. A sync that touches
  * k of N vendors reads (SyncJob pre-filters the snapshot read) and
  * rewrites only those k vendors' partition directories, like the
  * reference's one unordered bulkWrite that touches only the
  * documents a sync changed (products.js:339-341). The join shuffles
  * on the 3-column key with AQE handling skew.
  */
object MergeWriter {

  /** Pluggable snapshot backend: the merge logic is identical whether
    * the sink state lives in a keyed parquet table or a JDBC table
    * (the reference's sink is a live database — JdbcStore is the
    * closer analog; ParquetStore is the lakehouse form). Both write k
    * of N vendors and commit the optional batch token at the same
    * point as the data, so a replayed streamed batch is a no-op. */
  trait SnapshotStore {
    def read(spark: SparkSession): DataFrame
    /** Replace only `vendors`' rows with `df` (which holds exactly
      * those vendors' rows); every other vendor is left untouched.
      * `token`, when set, becomes visible together with the rows. */
    def writeVendors(spark: SparkSession, df: DataFrame,
        vendors: Seq[String], token: Option[Long] = None): Unit
    /** The last batch token committed with the data, if any. */
    def lastToken(spark: SparkSession): Option[Long]
  }

  final case class ParquetStore(path: String) extends SnapshotStore {
    def read(spark: SparkSession): DataFrame = readSnapshot(spark, path)
    def writeVendors(spark: SparkSession, df: DataFrame,
        vendors: Seq[String], token: Option[Long]): Unit =
      writeSnapshotVendors(spark, df, path, vendors, token)
    def lastToken(spark: SparkSession): Option[Long] = readBatchToken(spark, path)
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
    def writeVendors(spark: SparkSession, df: DataFrame,
        vendors: Seq[String], token: Option[Long]): Unit =
      JdbcSnapshot.writeVendors(df, url, table, vendors, token, options)
    def lastToken(spark: SparkSession): Option[Long] =
      JdbcSnapshot.lastToken(url, table, options)
  }

  sealed trait MergeMode
  /** Reference semantics (SURVEY §7.4#2): stock accumulates across
    * re-syncs — NOT idempotent, re-running doubles stock. */
  case object Accumulate extends MergeMode
  /** Idempotent variant: incoming replaces the matched record. */
  case object Replace extends MergeMode

  private val keyCols = Seq("vendorId", "product", "condition")

  /** Read the current sink snapshot, or an empty frame with the sink
    * schema when the table doesn't exist yet. Heals FIRST (see
    * `heal`): reading past an interrupted write would hand the merge a
    * snapshot missing a vendor, and the next write would reset that
    * vendor's rows to `insert`. */
  def readSnapshot(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    heal(fs, p)
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

  private val TokenFile = "_graft_batch"
  // where a vendor move keeps the previous copy, beside the table
  private val VendorAside = "__vold_"
  // a complete staged write; its existence is the commit point
  private def committed(p: Path) = new Path(p.toString + "__vcommit")

  /** Last batch token committed with the snapshot (None before the
    * first tokened write). Heals first, like every read. */
  def readBatchToken(spark: SparkSession, path: String): Option[Long] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    heal(fs, p)
    DirSwap.readToken(fs, p, TokenFile)
  }

  /** Crash recovery, run by every read and write of the sink: restore
    * a snapshot left only in `<path>__old` (by the full-table swap
    * older writers used), restore each vendor left only in its
    * `__vold_` copy, then roll a committed write forward. Recovery,
    * not concurrency control: the sink has a single writer. */
  private def heal(fs: FileSystem, p: Path): Unit = {
    DirSwap.heal(fs, p, DirSwap.old(p))
    DirSwap.healBeside(fs, p, VendorAside)
    rollForward(fs, p)
  }

  /** Move every vendor directory staged in `<path>__vcommit` into the
    * table (DirSwap.commit, previous copy at `__vold_<dir>`), then the
    * token, then drop `__vcommit`. Each step consumes its source, so
    * rerunning after a crash redoes exactly what was left undone. */
  private def rollForward(fs: FileSystem, p: Path): Unit = {
    val done = committed(p)
    if (!fs.exists(done)) return
    if (!fs.exists(p)) fs.mkdirs(p)
    val staged = fs.listStatus(done).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("vendorId=")).sortBy(_.getName)
    for (d <- staged)
      DirSwap.commit(fs, d, new Path(p, d.getName), new Path(p.toString + VendorAside + d.getName))
    val token = new Path(done, TokenFile)
    if (fs.exists(token)) {
      val live = new Path(p, TokenFile)
      fs.delete(live, false)
      if (!fs.rename(token, live))
        throw new IOException(s"could not move batch token $token into $p")
    }
    fs.delete(done, true)
  }

  /** The one sink write: replace ONLY `vendors`' `vendorId=`
    * partition directories with `df`'s rows for them, leaving every
    * other vendor's files byte-identical, and commit `token` (when
    * set) with them. `df` should hold exactly `vendors`' rows; others
    * are filtered out. At 100 TB the caller also pre-filters the
    * snapshot READ to those vendors, so a k-vendor sync scans and
    * writes k partitions, not N.
    *
    * The rows are written into `<path>__vtmp` — repartitioned on
    * vendorId (one task → one file per vendor directory, not tasks ×
    * vendors small files) and sorted by (vendorId, product): the
    * dynamic-partition write needs the vendorId order anyway, and the
    * product suffix gives each file row-group min/max stats that point
    * lookups skip on. The token goes into `__vtmp` too. ONE checked
    * rename of `__vtmp` to `<path>__vcommit` is the commit point;
    * `rollForward` then moves each vendor and the token into the
    * table. A crash before the rename leaves the old snapshot and
    * token (the next write drops the stale `__vtmp`); a crash after it
    * is finished by the next `heal`, which every reader runs first, so
    * the k vendors and the token become visible together. */
  def writeSnapshotVendors(spark: SparkSession, df: DataFrame, path: String,
      vendors: Seq[String], token: Option[Long] = None): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    heal(fs, p)
    val tmp = new Path(path + "__vtmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.select(Schemas.vendorProduct.fieldNames.map(col).toSeq: _*)
      .filter(col("vendorId").isin(vendors: _*))
      .repartition(col("vendorId"))
      .sortWithinPartitions(col("vendorId"), col("product"))
      .write.mode("overwrite").partitionBy("vendorId").parquet(tmp.toString)
    token.foreach(DirSwap.writeToken(fs, tmp, TokenFile, _))
    if (!fs.rename(tmp, committed(p)))
      throw new IOException(s"could not commit $tmp as ${committed(p)}")
    rollForward(fs, p)
  }
}
