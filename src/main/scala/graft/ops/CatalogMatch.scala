package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.SyncExprs

/** One-pass fuzzy catalog lookup — the set-oriented replacement for
  * the reference's per-group sequential `findOne` probes
  * (products.js:23-51 called from 249-260, an N+1 anti-pattern —
  * SURVEY.md §4).
  *
  * The reference tries a case-insensitive exact match first and, for
  * names longer than 3 characters (products.js:38), falls back to a
  * substring match (the admin name need only CONTAIN the vendor
  * name). Here both tiers are ONE left join of the distinct probes to
  * the broadcast catalog on `admin_key = probe_key OR (length > 3 AND
  * admin_key contains probe_key)` — a BroadcastNestedLoopJoin, never a
  * shuffled cartesian — followed by one aggregate that keeps the best
  * hit per name: exact (tier 0) before substring (tier 1), then the
  * shortest admin name, then lexical, then admin_id. The reference's
  * "first match wins" under MongoDB natural order is nondeterministic
  * (SURVEY §7.4#1); this order pins it.
  *
  * Cost: every probe is checked against every catalog row (probes ×
  * catalog contains-checks, e.g. 117 × 1000 per streamed sync of the
  * benchmark), where a two-pass form checks only the exact-match
  * misses. At 100 TB the join stays shuffle-free: the catalog is the
  * broadcast side and the probes are distinct names, bounded by the
  * group count, not the item count: 10^5 distinct names against a
  * 10^6-row catalog would be 10^11 short-string checks, spread over the
  * probe partitions. The
  * only exchange is the distinct on the probe names, which the
  * aggregate reuses.
  */
object CatalogMatch {

  /** Annotate each distinct vendor product name with its admin match
    * (null columns when unmatched — J5's anti side). Catalog rows
    * without an `_id` are not matchable.
    *
    * @param names DataFrame with a `vendorName` column (distinct)
    * @param admin catalog with `_id`, `name`, `specifications.storage`
    * @return one row per name: vendorName, admin_id, admin_name,
    *         admin_storage
    */
  def matchCatalog(names: DataFrame, admin: DataFrame): DataFrame = {
    val adminFlat = admin.filter(col("_id").isNotNull).select(
      col("_id").as("admin_id"),
      col("name").as("admin_name"),
      col("specifications.storage").as("admin_storage"),
      SyncExprs.nameKey(col("name")).as("admin_key"))

    val probes = names.select(
      col("vendorName"), SyncExprs.nameKey(col("vendorName")).as("probe_key"))

    val exact = col("admin_key") === col("probe_key")
    val hits = probes.join(broadcast(adminFlat),
      exact || (length(col("vendorName")) > 3 && col("admin_key").contains(col("probe_key"))),
      "left")

    // min over the struct is the deterministic pick: tier, then the
    // shortest admin name, then lexical, then admin_id — the id is the
    // final tiebreak so even byte-identical duplicate names resolve
    // identically on every run. A miss contributes null, which min skips.
    val best = min(when(col("admin_id").isNotNull, struct(
      when(exact, 0).otherwise(1).as("tier"),
      length(col("admin_name")).as("len"),
      col("admin_name"), col("admin_id"), col("admin_storage"))))
    hits.groupBy(col("vendorName")).agg(best.as("best"))
      .select(col("vendorName"), col("best.admin_id"), col("best.admin_name"),
        col("best.admin_storage"))
  }
}
