package syncbench

import java.util.SplittableRandom
import scala.collection.mutable

import graft.model.VendorApi

/** Seeded generator of the sync_churn instance: vendor credentials
  * (FIXTURES.md A3), an admin catalog (A2) and per-vendor item
  * inventories served as `{data: [...]}` envelopes (A1), plus the
  * churn applied to a few vendors per round.
  *
  * The generator labels every vendor product name with the catalog
  * entry it must match (or none), so it knows the outcome of every
  * sync from construction alone: `expect` returns the per-vendor
  * summary counters a sync of the current inventories must report, and
  * `commit` advances the expected sink state after that sync.
  *
  * Catalog names fall into five classes against the vendor names:
  * exact, case-variant (matched by the case-insensitive pass), substring
  * (the admin name contains the vendor name), at most 3 characters (the
  * substring pass must skip them) and unmatched.
  */
final class SyncGen(seed: Long, val vendors: Int = 64, val itemsPerVendor: Int = 3000,
    val catalogSize: Int = 2000) {
  import SyncGen._

  private val rng = new SplittableRandom(seed)
  private def pick[T](xs: collection.IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
  private def chance(p: Double): Boolean = rng.nextDouble() < p

  private val usedTokens = mutable.HashSet.empty[String]
  private def token(len: Int): String = {
    var t = ""
    while (t.isEmpty || usedTokens.contains(t.toLowerCase)) {
      val sb = new StringBuilder
      sb += Alpha(rng.nextInt(26)).toUpper
      while (sb.length < len) sb += AlphaNum(rng.nextInt(AlphaNum.length))
      t = sb.toString
    }
    usedTokens += t.toLowerCase
    t
  }

  val (catalog: IndexedSeq[Product], names: IndexedSeq[Name]) = {
    val products = mutable.ArrayBuffer.empty[Product]
    val vnames = mutable.ArrayBuffer.empty[Name]
    def spec(): String =
      if (chance(0.15)) null
      else Storage.filter(_ => chance(0.6)) match {
        case Seq() => Storage.head
        case s => s.mkString(", ")
      }
    val shortNames = (0 until 30).map(_ => token(2 + rng.nextInt(2)))
    val nExact = catalogSize * 2 / 5
    val nCase = catalogSize / 5
    val nSub = catalogSize / 5
    for (i <- 0 until catalogSize) {
      val id = f"ap-$i%05d"
      val mfr = pick(Manufacturers)
      val model = token(6)
      val n = Name(mfr, model, Some(id))
      if (i < nExact) {
        products += Product(id, n.vendorName, spec()); vnames += n
      } else if (i < nExact + nCase) {
        products += Product(id, n.vendorName.toUpperCase, spec()); vnames += n
      } else if (i < nExact + nCase + nSub) {
        // every fourth substring entry also embeds a short vendor name,
        // which only the length guard keeps from matching
        val extra = if (i % 4 == 0) " " + pick(shortNames) else ""
        products += Product(id, s"${n.vendorName} ${token(5)}$extra", spec()); vnames += n
      } else products += Product(id, s"$mfr ${token(6)}", spec())
    }
    for (_ <- 0 until catalogSize / 10) vnames += Name(pick(OtherMakers), token(6), None)
    for (s <- shortNames) vnames += Name(null, s, None)
    (products.toIndexedSeq, vnames.toIndexedSeq)
  }

  /** Credentials: `vendors` fetchable vendors (one in eight with a null
    * database, which the sync backfills) and two on an unsupported
    * database. */
  val apis: IndexedSeq[VendorApi] =
    (0 until vendors).map { v =>
      VendorApi(f"va-$v%03d", vendorIdOf(v), s"app$v", s"secret$v",
        if (v % 8 == 7) None else Some("wholecell"))
    } ++ (0 until 2).map { j =>
      VendorApi(f"va-x$j", f"v-x$j", s"appx$j", s"secretx$j", Some("other-db"))
    }

  private val inventory: IndexedSeq[mutable.ArrayBuffer[Item]] =
    IndexedSeq.fill(vendors)(mutable.ArrayBuffer.empty[Item])
  private val nextId = Array.fill(vendors)(1L)
  private val vendorNames: IndexedSeq[mutable.ArrayBuffer[Name]] =
    IndexedSeq.fill(vendors)(mutable.ArrayBuffer.empty[Name])

  private def newItem(v: Int, name: Name): Item = {
    val id = v * 10000000L + nextId(v); nextId(v) += 1
    val serialKind = rng.nextInt(10)
    Item(id,
      status = if (chance(0.8)) "Available" else pick(NotAvailable),
      esn = if (serialKind < 6) s"ESN-$id" else null,
      hexId = if (serialKind == 6 || serialKind == 7) f"0x$id%X" else null,
      // one price in ten ends in an odd half dollar (rounding edge)
      cents = if (chance(0.1)) 2000L + 100L * rng.nextInt(1500) + 50 else 2000L + rng.nextInt(150000),
      sku = if (serialKind == 8) s"SKU-$id" else null,
      grade = if (chance(0.05)) null else pick(Grades),
      name = name,
      color = if (chance(0.05)) null else pick(Colors),
      capacity = if (chance(0.05)) null else pick(Capacities))
  }

  private val matchedNames = names.filter(_.adminId.isDefined)
  private val otherNames = names.filter(_.adminId.isEmpty)
  private def drawName(): Name =
    if (chance(0.003)) EmptyName
    else if (chance(0.06)) pick(otherNames)
    else pick(matchedNames)

  for (v <- 0 until vendors) {
    val pool = vendorNames(v)
    for (_ <- 0 until itemsPerVendor / 10) pool += drawName()
    for (_ <- 0 until itemsPerVendor) inventory(v) += newItem(v, pick(pool))
  }

  /** Apply one round of churn to vendor `v`: price changes, status
    * flips, sold-out removals and new items (some under names the
    * vendor never carried, which insert new sink rows). */
  def churn(v: Int): Unit = {
    val inv = inventory(v)
    for (i <- inv.indices) {
      val it = inv(i)
      if (chance(0.05)) inv(i) = it.copy(cents = it.cents + rng.nextInt(2001) - 1000 max 100)
      if (chance(0.03))
        inv(i) = inv(i).copy(status = if (it.status == "Available") "Sold" else "Available")
    }
    val removed = (0 until inv.size / 50).map(_ => rng.nextInt(inv.size)).toSet
    val kept = inv.zipWithIndex.collect { case (it, i) if !removed(i) => it }
    inv.clear(); inv ++= kept
    for (_ <- 0 until itemsPerVendor / 50) inv += newItem(v, pick(vendorNames(v)))
    for (_ <- 0 until itemsPerVendor / 300) {
      val n = drawName(); vendorNames(v) += n; inv += newItem(v, n)
    }
  }

  /** Seeded choice of `k` distinct vendors for one round. */
  def pickVendors(k: Int): Seq[Int] = {
    val chosen = mutable.LinkedHashSet.empty[Int]
    while (chosen.size < math.min(k, vendors)) chosen += rng.nextInt(vendors)
    chosen.toSeq.sorted
  }

  /** The vendor's current `{data: [...]}` envelope. */
  def payload(v: Int): String = {
    val sb = new java.lang.StringBuilder(inventory(v).size * 260)
    sb.append("{\"data\": [")
    var first = true
    for (it <- inventory(v)) {
      if (!first) sb.append(", ")
      first = false
      sb.append("{\"id\": ").append(it.id)
        .append(", \"status\": ").append(js(it.status))
        .append(", \"esn\": ").append(js(it.esn))
        .append(", \"hex_id\": ").append(js(it.hexId))
        .append(", \"total_price_paid\": ").append(it.cents)
        .append(", \"product_variation\": {\"sku\": ").append(js(it.sku))
        .append(", \"grade\": ").append(js(it.grade))
        .append(", \"product\": {\"manufacturer\": ").append(js(it.name.manufacturer))
        .append(", \"model\": ").append(js(it.name.model))
        .append(", \"color\": ").append(js(it.color))
        .append(", \"capacity\": ").append(js(it.capacity))
        .append("}}}")
    }
    sb.append("]}").toString
  }

  def itemCount(v: Int): Int = inventory(v).size

  // expected sink state: per vendor, the catalog ids stored and the
  // accumulated stock (every sync adds one unit per available matched
  // item; Accumulate-mode merges sum stock)
  private val sinkKeys = IndexedSeq.fill(vendors)(mutable.HashSet.empty[String])
  private val sinkStock = Array.fill(vendors)(0L)

  /** The summary counters a sync of vendor `v`'s current inventory must
    * report. */
  def expect(v: Int): Expected = {
    val inv = inventory(v)
    val avail = inv.filter(_.status == "Available")
    val groups = avail.map(it => (it.name.vendorName, Option(it.grade).getOrElse("Unknown"),
      it.name.adminId.isDefined)).distinct
    val incoming = avail.flatMap(_.name.adminId).toSet
    Expected(vendorIdOf(v), fetched = inv.size, valid = groups.count(_._3),
      skipped = groups.count(!_._3), inserted = (incoming -- sinkKeys(v)).size,
      updated = incoming.count(sinkKeys(v)))
  }

  /** Advance the expected sink state past a sync of vendor `v`. */
  def commit(v: Int): Unit = {
    val avail = inventory(v).filter(it => it.status == "Available" && it.name.adminId.isDefined)
    sinkKeys(v) ++= avail.flatMap(_.name.adminId)
    sinkStock(v) += avail.size
  }

  /** Expected sink rows and accumulated stock of vendor `v`. */
  def sinkOf(v: Int): (Long, Long) = (sinkKeys(v).size.toLong, sinkStock(v))

  def sinkRows: Long = sinkKeys.map(_.size.toLong).sum
}

object SyncGen {
  /** One catalog entry: `(_id, name, storage spec or null)`. */
  final case class Product(id: String, name: String, storage: String)

  /** A vendor-side product name: manufacturer/model as sent and the
    * catalog id it must resolve to. */
  final case class Name(manufacturer: String, model: String, adminId: Option[String]) {
    /** The name the pipeline derives from manufacturer and model. */
    val vendorName: String = Seq(manufacturer, model).filter(_ != null).mkString(" ")
  }

  final case class Item(id: Long, status: String, esn: String, hexId: String, cents: Long,
      sku: String, grade: String, name: Name, color: String, capacity: String)

  final case class Expected(vendorId: String, fetched: Long, valid: Long, skipped: Long,
      inserted: Long, updated: Long)

  def vendorIdOf(v: Int): String = f"v-$v%03d"

  private val Alpha = "abcdefghijklmnopqrstuvwxyz"
  private val AlphaNum = Alpha + "0123456789"
  private val Manufacturers = IndexedSeq("Apple", "Samsung", "Google", "Motorola", "Nokia",
    "Sony", "Xiaomi", "Huawei", "Lenovo", "Asus", "Honor", "Realme")
  private val OtherMakers = IndexedSeq("Fairphone", "Blackview", "Doogee", "Ulefone")
  private val NotAvailable = IndexedSeq("Sold", "Pending", "Reserved")
  private val Grades = IndexedSeq("A", "B", "C")
  private val Colors = IndexedSeq("Black", "White", "Blue", "Red", "Gold")
  private val Capacities = IndexedSeq("64", "128", "256", "512", " 128 ", "1 TB")
  private val Storage = Seq("64GB 4GB RAM", "128GB 6GB RAM", "256GB 8GB RAM", "512GB 12GB RAM")
  private val EmptyName = Name(null, null, None)

  private def js(s: String): String =
    if (s == null) "null" else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
