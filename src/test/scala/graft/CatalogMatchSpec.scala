package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expr.SyncExprs
import graft.ops.CatalogMatch

/** J1/J2/J5: the one-pass fuzzy catalog match, pinned by hand-derived
  * cases and by a seeded property against the two-pass formulation it
  * replaced (exact equi-join, then a substring join of the misses). */
class CatalogMatchSpec extends SparkSpec {
  import spark.implicits._

  private def admin = Seq(
    ("ap-1", "Apple iPhone 12", "64GB, 128GB"),
    ("ap-2", "Samsung Galaxy S21 Ultra", "128GB, 256GB"),
    ("ap-3", "Samsung Galaxy S21", "128GB"))
    .toDF("_id", "name", "storage")
    .select(col("_id"), col("name"), struct(col("storage")).as("specifications"))

  private def matchNames(names: String*) =
    CatalogMatch.matchCatalog(names.toDF("vendorName"), admin)
      .select(col("vendorName"), col("admin_id"))
      .as[(String, Option[String])].collect().toMap

  test("pass 1: exact match is case- and whitespace-insensitive") {
    val m = matchNames("apple IPHONE 12", "Apple iPhone 12  ")
    assert(m("apple IPHONE 12").contains("ap-1"))
    assert(m("Apple iPhone 12  ").contains("ap-1"))
  }

  test("pass 2: substring fallback picks shortest admin name deterministically") {
    // "galaxy s21" is contained in BOTH ap-2 and ap-3 → deterministic
    // tiebreak = shortest admin name (ap-3), not MongoDB natural order
    val m = matchNames("Galaxy S21")
    assert(m("Galaxy S21").contains("ap-3"))
  }

  test("pass 2 guard: names of length <= 3 never substring-match") {
    val m = matchNames("S21", "ung")
    assert(m("S21").isEmpty && m("ung").isEmpty)
  }

  test("unmatched names survive with null admin (J5 anti side)") {
    val m = matchNames("Nokia 3310", "Apple iPhone 12")
    assert(m("Nokia 3310").isEmpty)
    assert(m("Apple iPhone 12").contains("ap-1"))
  }

  test("output cardinality: exactly one row per input name") {
    val names = Seq("apple iphone 12", "Galaxy S21", "zzz", "S21")
    val out = CatalogMatch.matchCatalog(names.toDF("vendorName"), admin)
    assert(out.count() == names.size)
  }

  test("pass 1: duplicate-keyed catalog rows yield ONE deterministic match") {
    // Two admin rows share lower(trim(name)); the reference's findOne
    // returns one — without the pass-1 pick, each vendorName would
    // emit two rows and fan out every joined item downstream.
    val dupAdmin = Seq(
      ("ap-1", "Apple iPhone 12", "64GB"),
      ("ap-9", "APPLE IPHONE 12 ", "64GB"))
      .toDF("_id", "name", "storage")
      .select(col("_id"), col("name"), struct(col("storage")).as("specifications"))
    val out = CatalogMatch.matchCatalog(
      Seq("apple iphone 12").toDF("vendorName"), dupAdmin)
    val rows = out.as[(String, Option[String], Option[String], Option[String])].collect()
    assert(rows.length == 1)
    // tiebreak: shortest admin name then lexical → "APPLE IPHONE 12 "
    // (16 chars w/ trailing space) loses to "Apple iPhone 12" (15)
    assert(rows.head._2.contains("ap-1"))
  }

  test("a catalog row with a null _id never matches and never duplicates a name") {
    // the null-_id row shares the exact key of ap-1: it must not add a
    // second row for the name, or the item join downstream doubles
    // that name's items and stock
    val nullIdAdmin = Seq(
      (Option("ap-1"), "Apple iPhone 12", "64GB"),
      (Option.empty[String], "apple iphone 12", "128GB"),
      (Option.empty[String], "Nokia 3310", "16MB"))
      .toDF("_id", "name", "storage")
      .select(col("_id"), col("name"), struct(col("storage")).as("specifications"))
    val rows = CatalogMatch.matchCatalog(
        Seq("Apple iPhone 12", "nokia 3310").toDF("vendorName"), nullIdAdmin)
      .as[(String, Option[String], Option[String], Option[String])].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq("Apple iPhone 12", "nokia 3310"),
      rows.toSeq)
    val m = rows.map(r => r._1 -> r).toMap
    assert(m("Apple iPhone 12") == ("Apple iPhone 12", Some("ap-1"),
      Some("Apple iPhone 12"), Some("64GB")))
    assert(m("nokia 3310")._2.isEmpty)
  }

  /** The two-pass formulation the one-pass match replaced: an exact
    * equi-join, then a substring join of the misses longer than 3
    * characters, each with a windowed pick, and an anti join for the
    * names left unmatched. It expects a catalog without null ids. */
  private def twoPass(names: DataFrame, admin: DataFrame): DataFrame = {
    val adminFlat = admin.select(
      col("_id").as("admin_id"),
      col("name").as("admin_name"),
      col("specifications.storage").as("admin_storage"),
      SyncExprs.nameKey(col("name")).as("admin_key"))
    val probes = names.select(
      col("vendorName"), SyncExprs.nameKey(col("vendorName")).as("probe_key"))
    val pick = Window.partitionBy(col("vendorName"))
      .orderBy(length(col("admin_name")).asc, col("admin_name").asc,
        col("admin_id").asc)
    val out = Seq(col("vendorName"), col("admin_id"), col("admin_name"), col("admin_storage"))
    val exact = probes.join(broadcast(adminFlat),
        col("probe_key") === col("admin_key"), "left")
    val matched1 = exact.filter(col("admin_id").isNotNull)
      .withColumn("rk", row_number().over(pick)).filter(col("rk") === 1).select(out: _*)
    val missed = exact.filter(col("admin_id").isNull)
      .select(col("vendorName"), col("probe_key"))
    val matched2 = missed.filter(length(col("vendorName")) > 3)
      .join(broadcast(adminFlat), col("admin_key").contains(col("probe_key")), "left")
      .filter(col("admin_id").isNotNull)
      .withColumn("rk", row_number().over(pick)).filter(col("rk") === 1).select(out: _*)
    val unmatched = missed.select(col("vendorName"))
      .join(matched2.select(col("vendorName")), Seq("vendorName"), "left_anti")
      .select(col("vendorName"),
        lit(null).cast("string").as("admin_id"),
        lit(null).cast("string").as("admin_name"),
        lit(null).cast("string").as("admin_storage"))
    matched1.unionByName(matched2).unionByName(unmatched)
  }

  private type Match = (String, Option[String], Option[String], Option[String])

  test("seeded property: the one-pass match equals the two-pass oracle") {
    val words = Seq("Apple", "iPhone", "12", "13", "Pro", "Galaxy", "S21", "S22",
      "Ultra", "Pixel", "7a", "Note")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
      // case and whitespace variants of one key
      def vary(name: String): String = {
        val cased = rnd.nextInt(3) match {
          case 0 => name
          case 1 => name.toUpperCase
          case _ => name.toLowerCase
        }
        pick(Seq("", " ", "  ")) + cased + pick(Seq("", " "))
      }
      // a small word pool makes duplicate keys and equal-length names
      // ("Apple iPhone 12" / "Apple iPhone 13") that contain one probe
      val baseNames = Seq.fill(25)(Seq.fill(1 + rnd.nextInt(3))(pick(words)).mkString(" ")) ++
        Seq("X1", "Pro")
      // every base name at least once, then random repeats
      val catalog = (baseNames ++ Seq.fill(35)(pick(baseNames))).zipWithIndex.map {
        case (n, i) => (Option(f"a$i%03d"), vary(n),
          pick(Seq(Option("64GB"), Option("128GB, 256GB"), None)))
      } ++ Seq.fill(4)((Option.empty[String], vary(pick(baseNames)), Option("1TB"))) ++
        // equal-length ties: "plus" hits two 12-char names (lexical
        // pick), "moto g" a 7-char name held under two ids (id pick)
        Seq(("tie-b", "Moto G5 Plus"), ("tie-a", "Moto G6 Plus"),
          ("tie-d", "Moto G7"), ("tie-c", "Moto G7"))
          .map { case (id, n) => (Option(id), n, Option("32GB")) }
      val admin = rnd.shuffle(catalog).toDF("_id", "name", "storage")
        .select(col("_id"), col("name"), struct(col("storage")).as("specifications"))
      val keys = catalog.map(_._2.trim.toLowerCase)
      val names = (
        Seq.fill(20)(vary(pick(baseNames))) ++                   // exact hits
        Seq.fill(20) {                                           // substrings
          val k = pick(keys); val from = rnd.nextInt(k.length)
          k.substring(from, from + 1 + rnd.nextInt(k.length - from))
        } ++
        Seq.fill(6)(Seq.fill(2)(pick(words)).mkString(" ")) ++  // may match nothing
        Seq("Nokia 3310", "zz", "S2", "x1", "ro", "plus", "moto g") // no match, <= 3 chars, ties
      ).distinct
      val probes = names.toDF("vendorName")

      val got = CatalogMatch.matchCatalog(probes, admin).as[Match].collect()
      val want = twoPass(probes, admin.filter(col("_id").isNotNull)).as[Match].collect()
      assert(got.length == names.size, s"seed $seed: not one row per name")
      assert(got.sortBy(_._1).toSeq == want.sortBy(_._1).toSeq, s"seed $seed")

      // the cases the property must cover
      val hit = got.filter(_._2.isDefined)
      val exact = hit.count(r => r._3.get.trim.equalsIgnoreCase(r._1.trim))
      assert(exact > 0 && hit.length - exact > 0 && got.exists(_._2.isEmpty),
        s"seed $seed: exact $exact, substring ${hit.length - exact}, " +
          s"missed ${got.count(_._2.isEmpty)}")
      assert(got.exists(r => r._1.trim.length <= 3 && r._2.isDefined), s"seed $seed")
      val ids = got.map(r => r._1 -> r._2).toMap
      assert(ids("plus").contains("tie-b") && ids("moto g").contains("tie-c"), s"seed $seed")
    }
  }
}
