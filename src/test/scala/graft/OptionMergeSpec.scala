package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.SyncExprs
import graft.ops.OptionMerge

/** A4: the row-local option merge — stock sums, serials concatenate
  * with duplicates kept, price takes min, options of either side
  * survive — pinned by hand-derived cases and by a seeded property
  * against the relational explode → union → re-aggregate formulation
  * it replaced. */
class OptionMergeSpec extends SparkSpec {
  import spark.implicits._

  private def optsDf(rows: Seq[(String, String, String, Int, Long, Seq[String])]) =
    rows.toDF("k", "color", "variant", "stock", "price", "uniqueNumbers")
      .groupBy(col("k"))
      .agg(collect_list(struct(col("color"), col("variant"), col("stock"),
        col("price"), col("price").as("discount"), col("uniqueNumbers")))
        .as("selectedOptions"))

  /** Both option tables merged per key `k`; a key missing on one side
    * merges against no options. */
  private def mergeTables(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val none = array().cast(existing.schema("selectedOptions").dataType)
    existing.withColumnRenamed("selectedOptions", "e")
      .join(incoming.withColumnRenamed("selectedOptions", "i"), Seq("k"), "full_outer")
      .select(col("k"), OptionMerge.merge(coalesce(col("e"), none),
        coalesce(col("i"), none), Seq(col("k"))).as("selectedOptions"))
  }

  test("merge: sum/concat/min per (color, variant); either-side keys survive") {
    val existing = optsDf(Seq(
      ("k1", "Black", "128GB", 2, 240L, Seq("X1", "X2")),
      ("k1", "Red", "64GB", 1, 100L, Seq("R1")),
      ("k2", "Blue", "64GB", 5, 300L, Seq("B1"))))
    val incoming = optsDf(Seq(
      ("k1", "Black", "128GB", 3, 220L, Seq("X2", "Y1")),
      ("k1", "Gold", "256GB", 1, 999L, Seq("G1"))))

    val out = mergeTables(existing, incoming)
      .select(col("k"), explode(col("selectedOptions")).as("o"))
      .select(col("k"), col("o.color"), col("o.variant"), col("o.stock"),
        col("o.price"), col("o.discount"), col("o.uniqueNumbers"))
      .as[(String, String, String, Int, Long, Long, Seq[String])]
      .collect().map(r => (r._1, r._2) -> r).toMap

    val black = out(("k1", "Black"))
    assert(black._4 == 5)                       // 2 + 3
    assert(black._5 == 220L && black._6 == 220L) // min, discount follows
    assert(black._7 == Seq("X1", "X2", "X2", "Y1")) // duplicates KEPT, sorted
    assert(out(("k1", "Red"))._4 == 1)          // existing-only survives
    assert(out(("k1", "Gold"))._4 == 1)         // incoming-only survives
    assert(out(("k2", "Blue"))._4 == 5)         // untouched key survives
  }

  test("merge is idempotent on an empty incoming side") {
    val existing = optsDf(Seq(("k1", "Black", "128GB", 2, 240L, Seq("X1"))))
    val empty = optsDf(Seq.empty)
    val out = mergeTables(existing, empty)
      .select(explode(col("selectedOptions")).as("o"))
      .select(col("o.stock")).as[Int].collect()
    assert(out.toSeq == Seq(2))
  }

  /** The relational formulation the row-local merge replaced: explode
    * both sides, regroup on (key, color, variant), regroup on key. */
  private def oracle(existing: DataFrame, incoming: DataFrame, keyCols: Seq[String]) = {
    val key = keyCols.map(col)
    def exploded(df: DataFrame) = df
      .select(key :+ explode(col("selectedOptions")).as("o"): _*)
      .select(key ++ Seq(
        col("o.color").as("color"), col("o.variant").as("variant"),
        col("o.stock").as("stock"), col("o.price").as("price"),
        col("o.uniqueNumbers").as("uniqueNumbers")): _*)
    exploded(existing).unionByName(exploded(incoming))
      .groupBy(key :+ col("color") :+ col("variant"): _*)
      .agg(
        sum(col("stock")).cast("int").as("stock"),
        sort_array(flatten(collect_list(col("uniqueNumbers")))).as("uniqueNumbers"),
        min(col("price")).as("price"))
      .groupBy(key: _*)
      .agg(sort_array(collect_list(struct(
        SyncExprs.surrogateId(key ++ Seq(col("color"), col("variant")): _*).as("_id"),
        col("color"), col("variant"), col("stock"),
        col("price"), col("price").as("discount"),
        col("uniqueNumbers")))).as("selectedOptions"))
  }

  // (color, variant, stock, price, uniqueNumbers)
  private type Opt =
    (Option[String], Option[String], Option[Int], Option[Long], Option[Seq[String]])

  test("seeded property: the row-local merge equals the explode/regroup oracle") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
      // small pools force (color, variant) collisions across sides,
      // null colors/variants, repeated serials and null serial arrays
      def opt(): Opt = (
        pick(Seq(Some("Black"), Some("Red"), None)),
        pick(Seq(Some("64GB"), Some("128GB"), None)),
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(9)),
        if (rnd.nextInt(10) == 0) None else Some(100L + rnd.nextInt(5)),
        if (rnd.nextInt(6) == 0) None
        else Some(Seq.fill(rnd.nextInt(3))(pick(Seq("S1", "S2", "S3", "S4")))))
      // a key per side holds 0-4 options; both sides always present,
      // as on a merge row of MergeWriter's full-outer join
      val rows = (1 to 150).map(i => (s"v${i % 7}", s"p$i",
        Seq.fill(rnd.nextInt(5))(opt()), Seq.fill(rnd.nextInt(5))(opt())))
      val joined = rows.toDF("vendorId", "product", "e", "i")
        .select(col("vendorId"), col("product"),
          transform(col("e"), o => struct(o("_1").as("color"), o("_2").as("variant"),
            o("_3").as("stock"), o("_4").as("price"), o("_4").as("discount"),
            o("_5").as("uniqueNumbers"))).as("e"),
          transform(col("i"), o => struct(o("_1").as("color"), o("_2").as("variant"),
            o("_3").as("stock"), o("_4").as("price"), o("_4").as("discount"),
            o("_5").as("uniqueNumbers"))).as("i"))
        .persist()
      val keys = Seq("vendorId", "product")
      val got = joined.select(col("vendorId"), col("product"),
          OptionMerge.merge(col("e"), col("i"), keys.map(col)).as("m"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getSeq[Any](2)).toMap
      val want = oracle(
          joined.select(col("vendorId"), col("product"), col("e").as("selectedOptions")),
          joined.select(col("vendorId"), col("product"), col("i").as("selectedOptions")),
          keys)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getSeq[Any](2)).toMap
      joined.unpersist()
      assert(got.size == rows.size)
      for ((k, m) <- got)  // a key with no options on either side merges to none
        assert(m == want.getOrElse(k, Seq.empty), s"seed $seed key $k")
      assert(got.values.map(_.size).sum > 300, s"seed $seed: too few merged options")
    }
  }
}
