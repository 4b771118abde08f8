package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.SyncExprs
import graft.model.Schemas

/** A1+A2: from raw vendor items to one sink-shaped record per
  * (vendorId, product, condition) with a nested `selectedOptions`
  * array.
  *
  * The reference does this in two in-memory Maps
  * (groupItemsByProductAndCondition at products.js:58-79,
  * createSelectedOptionsForWholecell at 83-191); here it is two
  * aggregations over ONE exchange — the group keys are real
  * multi-column keys, not the reference's collision-prone
  * `"{m}_{model}_{grade}"` string (SURVEY §7.4#5).
  *
  * The items are hash-partitioned on (vendorId, admin_id) once, up
  * front. That one exchange satisfies the option-level group-by, the
  * product-level group-by and the incoming side of the merge's
  * full-outer join on (vendorId, product = admin_id)
  * (`graft.sink.MergeWriter.merge`), which would otherwise each shuffle
  * again. The map-side partial aggregate this gives up saved little:
  * `collect_list` keeps every serial, so the partials shrink nothing
  * but the counts.
  *
  * Deterministic choices pinned per SURVEY §7.4#1: option price is
  * min(dollars) (the reference takes first-seen under Map insertion
  * order; min is consistent with its own merge step), and
  * uniqueNumbers / selectedOptions are sorted.
  */
object OptionAgg {

  /** Flatten raw envelope items (Schemas.vendorItem) and derive the
    * scalar columns. `items` must carry a `vendorId` column. */
  def enrich(items: DataFrame): DataFrame = {
    val p = col("product_variation.product")
    items.select(
      col("vendorId"),
      col("id"), col("status"),
      SyncExprs.productName(p.getField("manufacturer"), p.getField("model"))
        .as("vendorName"),
      SyncExprs.orUnknown(col("product_variation.grade")).as("grade"),
      SyncExprs.orUnknown(p.getField("color")).as("color"),
      p.getField("capacity").as("capacity"),
      SyncExprs.serial(col("esn"), col("hex_id"),
        col("product_variation.sku"), col("id")).as("serial"),
      SyncExprs.centsToDollars(col("total_price_paid")).as("dollars"))
  }

  /** A2 + collect: available items (already annotated with admin_id
    * and admin_storage via CatalogMatch) → one row per sink key with
    * nested options.
    *
    * Distinct grades of the same product map to the same sink key
    * (the reference hard-codes `condition` — products.js:230,294 —
    * so its per-grade groups race on one document, resolved by
    * whichever bulk op lands; SURVEY §7.4). We merge them
    * deterministically: options of the same (color, variant) combine
    * by stock-sum / serial-concat / price-min — the same semantics
    * as the A4 re-sync merge. */
  def aggregate(enriched: DataFrame): DataFrame = {
    val optLevel = enriched
      .filter(SyncExprs.isAvailable(col("status")))
      .filter(col("admin_id").isNotNull)
      .withColumn("variant",
        SyncExprs.resolveVariant(col("admin_storage"), col("capacity")))
      .repartition(col("vendorId"), col("admin_id"))
      .groupBy(col("vendorId"), col("admin_id"), col("color"), col("variant"))
      .agg(
        count(lit(1)).cast("int").as("stock"),
        sort_array(collect_list(col("serial"))).as("uniqueNumbers"),
        min(col("dollars")).as("price"))

    optLevel
      .groupBy(col("vendorId"), col("admin_id").as("product"))
      .agg(sort_array(collect_list(struct(
        SyncExprs.surrogateId(col("vendorId"), col("admin_id"),
          lit(Schemas.FixedCondition), col("color"), col("variant")).as("_id"),
        col("color"), col("variant"), col("stock"),
        col("price"), col("price").as("discount"),
        col("uniqueNumbers")))).as("selectedOptions"))
      .withColumn("condition", lit(Schemas.FixedCondition))
      .withColumn("database", lit(Schemas.WholecellDb))
      .filter(SyncExprs.hasStock(col("selectedOptions")))
      .select(col("vendorId"), col("product"), col("condition"),
        col("database"), col("selectedOptions"))
  }
}
