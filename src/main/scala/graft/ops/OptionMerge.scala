package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expr.SyncExprs

/** A4: `mergeSelectedOptions` (products.js:194-223) as one row-local
  * column expression over two option arrays. Options of either side
  * survive; per distinct (color, variant), compared null-safe: stock
  * sums, uniqueNumbers concatenates (duplicates KEPT — the reference
  * uses array concat, not a set: products.js:208-212) and sorts,
  * price takes the min, discount follows price.
  *
  * NOTE the reference semantic quirk preserved here (SURVEY §7.4#2):
  * merging is an ACCUMULATE — re-syncing the same items doubles
  * stock. MergeWriter exposes a Replace mode for idempotent syncs.
  */
object OptionMerge {

  /** Merge the `existing` and `incoming` selectedOptions arrays of one
    * row; `key` are the row's key columns, hashed with (color, variant)
    * into each option's `_id`. Built-in higher-order functions only —
    * no shuffle, no UDF; the result is sorted like OptionAgg's. */
  def merge(existing: Column, incoming: Column, key: Seq[Column]): Column = {
    val all = concat(existing, incoming)
    val cvs = array_distinct(transform(all, o =>
      struct(o("color").as("color"), o("variant").as("variant"))))
    sort_array(transform(cvs, cv => {
      val same = filter(all, o =>
        o("color") <=> cv("color") && o("variant") <=> cv("variant"))
      // SQL sum semantics: null stocks are skipped, all-null sums to null
      val stock = aggregate(same("stock"), lit(null).cast("long"), (acc, s) =>
        when(s.isNull, acc).otherwise(coalesce(acc, lit(0L)) + s))
      val price = array_min(same("price"))
      struct(
        SyncExprs.surrogateId(key ++ Seq(cv("color"), cv("variant")): _*).as("_id"),
        cv("color").as("color"), cv("variant").as("variant"),
        stock.cast("int").as("stock"), price.as("price"), price.as("discount"),
        sort_array(flatten(filter(same("uniqueNumbers"), u => u.isNotNull)))
          .as("uniqueNumbers"))
    }))
  }
}
