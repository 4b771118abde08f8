package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.model.Schemas

/** JDBC variant of the sink snapshot — BASELINE.json names "DataFrame
  * read/write with JDBC connectors" as the reference-analogous
  * approach (its real sink is a live MongoDB; a relational DB behind
  * JDBC is the Spark-native equivalent). Verified against embedded
  * Apache Derby, which ships inside Spark's own jar directory
  * (derby-10.16.1.1.jar), so this path needs zero new dependencies
  * and Spark's built-in DerbyDialect handles type mapping.
  *
  * JDBC cannot carry `array<struct>` columns, so `selectedOptions`
  * travels as its JSON encoding (`to_json` on write, `from_json` on
  * read) — the standard relational projection of a nested column.
  * Round-trip fidelity is asserted in JdbcSnapshotSpec.
  *
  * Scale notes: `read` partitions on a numeric/hash column via the
  * standard JDBC partitioning options when callers pass them through
  * `options`; `write` is executor-parallel (one connection per
  * partition). Embedded Derby serializes inside one JVM — it is the
  * verification harness, not the production target; against a server
  * DB (same API, different URL) the parallel paths are real.
  */
object JdbcSnapshot {

  private val optionsJsonCol = "selectedOptions_json"

  /** Write a vendorProduct-shaped frame to a JDBC table (full
    * overwrite; writeVendors stages its rows through it). Strings keep the dialect's default mapping
    * (CLOB on Derby): forcing VARCHAR via createTableColumnTypes
    * breaks the writer's setNull (the dialect still declares CLOB
    * parameters) and caps values at 32k; instead the READ side
    * disables predicate pushdown (see read). */
  def write(df: DataFrame, url: String, table: String,
      options: Map[String, String] = Map.empty): Unit =
    df.withColumn(optionsJsonCol, to_json(col("selectedOptions")))
      .drop("selectedOptions")
      .write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options)
      .mode("overwrite").save()

  /** Read the snapshot back in vendorProduct shape. Predicate
    * pushdown is off: Derby stores the strings as CLOB, and a
    * pushed-down `col = literal` filter dies with "Comparisons
    * between CLOB and CHAR are not supported" — the MERGE reads the
    * full snapshot anyway, so filters run engine-side at zero cost
    * to the actual access pattern. */
  def read(spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val optType = Schemas.vendorProduct("selectedOptions")
      .dataType.asInstanceOf[ArrayType]
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("pushDownPredicate", "false")
      .options(options)
      .load()
      .withColumn("selectedOptions", from_json(col(optionsJsonCol), optType))
      .drop(optionsJsonCol)
      .select(Schemas.vendorProduct.fieldNames.map(col).toSeq: _*)
  }

  private def withConnection[A](url: String, options: Map[String, String])(
      f: java.sql.Connection => A): A = {
    val props = new java.util.Properties()
    options.foreach { case (k, v) => props.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  private def exec(conn: java.sql.Connection, sql: String): Int = {
    val st = conn.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

  private def tryExec(conn: java.sql.Connection, sql: String): Boolean =
    try { exec(conn, sql); true } catch { case _: java.sql.SQLException => false }

  /** Determine the dialect's working rename statement — `RENAME TABLE
    * a TO b` (Derby/MySQL) or `ALTER TABLE a RENAME TO b` (Postgres et
    * al) — OUTSIDE any transaction (a throwaway probe table under a
    * clearly RESERVED name), so a transaction body issues only
    * statements that succeed — on Postgres a failed `RENAME TABLE`
    * aborts the whole transaction, which would make the
    * try-then-fallback pattern unusable there. Probed ONCE per URL
    * (the answer never changes for a given engine): a per-call probe
    * would bill every micro-batch ~6 DDL statements forever. */
  private val renameSyntaxCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String) => String]()

  private def renameSyntax(conn: java.sql.Connection,
      url: String): (String, String) => String =
    renameSyntaxCache.computeIfAbsent(url, _ => {
      // per-probe random suffix: two writers sharing one database can
      // never race on the probe table (a fixed name would let writer
      // B's DROP delete writer A's in-flight probe and fail A's first
      // write), and a pre-existing user table can never be
      // silently dropped. CREATE is retried on a fresh name rather
      // than hard-failed, for the same shared-database reason.
      var attempts = 0
      var probe: String = null
      while (probe == null) {
        val cand = "graft_rnprobe_" +
          java.util.UUID.randomUUID().toString.replace("-", "").take(12)
        attempts += 1
        if (tryExec(conn, s"CREATE TABLE $cand (x INT)")) probe = cand
        else if (attempts >= 3)
          throw new IllegalStateException(
            s"rename-syntax probe: CREATE TABLE failed $attempts times on $url")
      }
      val mysqlStyle = tryExec(conn, s"RENAME TABLE $probe TO ${probe}_r")
      tryExec(conn, s"DROP TABLE $probe"); tryExec(conn, s"DROP TABLE ${probe}_r")
      if (mysqlStyle) (from, to) => s"RENAME TABLE $from TO $to"
      else (from, to) => s"ALTER TABLE $from RENAME TO $to"
    })

  private def tableExists(conn: java.sql.Connection, table: String): Boolean =
    try {
      val st = conn.createStatement()
      try { st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close(); true }
      finally st.close()
    } catch { case _: java.sql.SQLException => false }

  /** Repair an interrupted staged swap of the full-table writer older
    * versions used (this object no longer writes `_stg`; the table a
    * crash left there is still healed). `_stg` is only promoted when
    * `_old` ALSO exists: the old-table rename happens strictly after
    * the staging write completes, so table-missing + _old-present
    * proves the crash hit the swap window and `_stg` is a COMPLETE
    * new snapshot. Without `_old` (a first-ever sync whose staging
    * write itself crashed) `_stg` may be PARTIAL — promoting it would
    * turn half-written rows into accumulated state — so it is left
    * alone and the read correctly sees first-sync-empty. Called before every write AND before
    * JdbcStore.read, so a crashed sync self-heals instead of reading
    * table-missing as an empty snapshot and erasing the accumulated
    * state on the next write. */
  def recoverStagedSwap(url: String, table: String,
      options: Map[String, String] = Map.empty): Unit =
    withConnection(url, options) { conn =>
      if (!tableExists(conn, table) && tableExists(conn, table + "_stg") &&
          tableExists(conn, table + "_old")) {
        exec(conn, renameSyntax(conn, url)(table + "_stg", table))
        tryExec(conn, s"DROP TABLE ${table}_old")
      }
    }

  private def tokenTable(table: String) = table + "_token"

  /** Last batch token committed with the vendor rows (None before
    * the first tokened write) — the JDBC twin of
    * MergeWriter.readBatchToken. */
  def lastToken(url: String, table: String,
      options: Map[String, String] = Map.empty): Option[Long] =
    withConnection(url, options) { conn =>
      if (!tableExists(conn, tokenTable(table))) None
      else {
        val st = conn.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT tok FROM ${tokenTable(table)}")
          try { if (rs.next()) Some(rs.getLong(1)) else None }
          finally rs.close()
        } finally st.close()
      }
    }

  /** The one sink write: replace ONLY `vendors`' rows, leaving every
    * other vendor's stored rows untouched — the JDBC analog of the
    * parquet vendor-directory write. The touched rows stage
    * executor-parallel into `<table>_vstg` (the live table stays the
    * readable merge source until every row is durable), then ONE
    * driver-side transaction deletes the old vendor rows,
    * INSERT..SELECTs the staged ones server-side and upserts `token`
    * (when set) — other vendors are never read, written, or locked
    * beyond the row deletes, and a crash before commit rolls back to
    * the pre-sync rows and token. On the first sync (no table yet) the
    * transaction renames the staged table into place instead. The
    * token table is created and the rename dialect probed OUTSIDE the
    * transaction: a failed statement inside it aborts the whole
    * transaction on Postgres. Exactly-once for the first sync's rename
    * assumes transactional DDL (Derby — the verification harness — and
    * Postgres); the DML commit is transactional everywhere. */
  def writeVendors(df: DataFrame, url: String, table: String,
      vendors: Seq[String], token: Option[Long] = None,
      options: Map[String, String] = Map.empty): Unit = {
    recoverStagedSwap(url, table, options)
    val staging = table + "_vstg"
    // the DELETE below touches only `vendors`' rows, so a frame
    // smuggling an extra vendor would INSERT duplicates for keys that
    // were never deleted — filter staging to the declared vendors
    write(df.filter(col("vendorId").isin(vendors: _*)), url, staging, options)
    withConnection(url, options) { conn =>
      if (token.nonEmpty && !tableExists(conn, tokenTable(table)))
        exec(conn, s"CREATE TABLE ${tokenTable(table)} (tok BIGINT)")
      val first = !tableExists(conn, table)
      val rename = renameSyntax(conn, url)
      conn.setAutoCommit(false)
      try {
        if (first) exec(conn, rename(staging, table)) // the staged rows ARE the snapshot
        else {
          // column list from the JSON-projected frame, quoted exactly as
          // the Spark JDBC writer created them (case-preserving quotes)
          val cols = df.withColumn(optionsJsonCol, to_json(col("selectedOptions")))
            .drop("selectedOptions")
            .schema.fieldNames.map(n => "\"" + n + "\"").mkString(", ")
          // Derby stores Spark-written strings as CLOB, and CLOB
          // equality is unsupported — the CAST forces a comparable
          // VARCHAR (Derby's documented workaround; harmless on
          // engines that store plain VARCHAR)
          val del = conn.prepareStatement(
            s"""DELETE FROM $table WHERE CAST("vendorId" AS VARCHAR(512)) = ?""")
          try vendors.foreach { v => del.setString(1, v); del.executeUpdate() }
          finally del.close()
          exec(conn, s"INSERT INTO $table ($cols) SELECT $cols FROM $staging")
        }
        token.foreach { t =>
          if (exec(conn, s"UPDATE ${tokenTable(table)} SET tok = $t") == 0)
            exec(conn, s"INSERT INTO ${tokenTable(table)} VALUES ($t)")
        }
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case _: java.sql.SQLException => () }
          throw e
      }
      conn.setAutoCommit(true)
      if (!first) exec(conn, s"DROP TABLE $staging")
    }
  }

  /** Read any JDBC table as-is (the S1/S2 source path for flat
    * dimensions like credentials or the admin catalog). */
  def readTable(spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options)
      .load()
}
