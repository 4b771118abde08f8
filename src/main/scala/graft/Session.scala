package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured. Every entry
  * point (Bench, Verify, the sync service, the tools) and the shared
  * spec session build through here, so they all run the same engine;
  * a caller that needs more chains its own confs onto the result. */
object Session {

  /** A builder on `master` with `shufflePartitions` shuffle partitions
    * and the canonical conf set, one reason each:
    *  - `spark.sql.extensions`: the graft SQL functions, optimizer
    *    rules and ASOF-capable parser register through this route only.
    *  - `spark.ui.enabled=false`: no web UI on batch and test runs.
    *  - `spark.sql.session.timeZone=UTC`: timestamps render as in the
    *    DuckDB oracle, whatever the host's zone.
    *  - `spark.sql.ansi.enabled=false`: Spark 4 defaults ANSI on, and
    *    the MinHash affine rehash deliberately overflows longs (also
    *    DuckDB-parity permissive casts and null out-of-range
    *    `element_at` for the oracle compare).
    *  - `spark.sql.adaptive.enabled=true`: AQE coalesces the tiny
    *    shuffles of small inputs.
    *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the `events`
    *    table is parquet TIMESTAMP(NANOS), which Spark reads only as a
    *    long (`Tables.events` converts it to a timestamp). */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
