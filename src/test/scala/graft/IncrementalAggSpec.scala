package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.IncrementalAgg
import graft.ops.IncrementalAgg.AggSpec

/** Incremental aggregate maintenance: mergeable state refresh must
  * equal full recompute, in any delta order, through the
  * parquet-stored refresh path and its crash-swap discipline. */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private val spec = AggSpec(keys = Seq("k"),
    sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))

  private def facts(rows: (String, Long)*): DataFrame =
    rows.toSeq.toDF("k", "v")

  private def asMap(df: DataFrame): Map[String, (Long, Long, Long, Long)] =
    df.select(col("k"), col("sum_v"), col("min_v"), col("max_v"), col("n_rows"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  private val d1 = facts("a" -> 1L, "a" -> 5L, "b" -> 10L)
  private val d2 = facts("a" -> 2L, "c" -> 7L)
  private val d3 = facts("b" -> -3L, "c" -> 7L, "c" -> 9L)
  private def full = d1.unionByName(d2).unionByName(d3)

  test("merge of per-delta partials equals full recompute, any order") {
    val expected = asMap(IncrementalAgg.partial(full, spec))
    val parts = Seq(d1, d2, d3).map(IncrementalAgg.partial(_, spec))
    assert(asMap(IncrementalAgg.merge(parts, spec)) == expected)
    assert(asMap(IncrementalAgg.merge(parts.reverse, spec)) == expected)
    // associativity: merge of a merged prefix with the last delta
    val prefix = IncrementalAgg.merge(parts.take(2), spec)
    assert(asMap(IncrementalAgg.merge(Seq(prefix, parts(2)), spec)) == expected)
  }

  test("stored refresh: bootstrap, fold deltas, survive a stale tmp dir") {
    val dir = Files.createTempDirectory("graft-incragg").toString
    val store = s"$dir/agg_state"
    IncrementalAgg.refresh(spark, store, d1, spec) // bootstrap
    IncrementalAgg.refresh(spark, store, d2, spec)
    // crash residue: a stale tmp from an interrupted refresh must not
    // corrupt the next one
    Files.createDirectories(java.nio.file.Paths.get(store + "__tmp"))
    Files.write(java.nio.file.Paths.get(store + "__tmp", "junk"), Array[Byte](1, 2))
    val out = IncrementalAgg.refresh(spark, store, d3, spec)
    val expected = asMap(IncrementalAgg.partial(full, spec))
    assert(asMap(out) == expected)
    // state on disk is the refreshed one (re-read, not the returned plan)
    assert(asMap(spark.read.parquet(store)) == expected)
  }

  test("state left only in __old by a crashed commit heals: refresh and replay gate") {
    val dir = Files.createTempDirectory("graft-incragg-heal").toString
    val store = s"$dir/agg_state"
    assert(IncrementalAgg.refreshOnce(spark, store, d1, spec, 1L))
    assert(IncrementalAgg.refreshOnce(spark, store, d2, spec, 2L))
    // the crash window between the commit's two renames
    def crash(): Unit = Files.move(Paths.get(store), Paths.get(store + "__old"))
    crash()
    val expected = asMap(IncrementalAgg.partial(full, spec))
    assert(asMap(IncrementalAgg.refresh(spark, store, d3, spec)) == expected)
    crash()
    // the token came back with the state: a replay stays a no-op
    assert(!IncrementalAgg.refreshOnce(spark, store, d2, spec, 2L))
    assert(asMap(spark.read.parquet(store)) == expected)
    assert(!Files.exists(Paths.get(store + "__old")))
  }

  test("HLL distinct state: mergeable across refreshes, estimate exact at small card") {
    val dspec = AggSpec(keys = Seq("k"), distincts = Seq("v"))
    val parts = Seq(d1, d2, d3).map(IncrementalAgg.partial(_, dspec))
    def estimates(st: org.apache.spark.sql.DataFrame): Map[String, Long] =
      IncrementalAgg.finalize(st, dspec)
        .select(col("k"), col("approx_distinct_v").cast("long"))
        .as[(String, Long)].collect().toMap
    // exact truth: a -> {1,5,2}, b -> {10,-3}, c -> {7,9}
    val expected = Map("a" -> 3L, "b" -> 2L, "c" -> 2L)
    assert(estimates(IncrementalAgg.merge(parts, dspec)) == expected)
    // merge order cannot change a sketch union
    assert(estimates(IncrementalAgg.merge(parts.reverse, dspec)) == expected)
    // duplicate values across deltas collapse (d2 and d3 both carry c=7)
    // — already covered by expected("c") == 2, the MV property sums lack
    // sketch column is NOT in the finalized output
    val cols = IncrementalAgg.finalize(IncrementalAgg.merge(parts, dspec), dspec).columns
    assert(!cols.exists(_.startsWith("hll_")))
  }

  test("finalize derives avg from state without touching fact rows") {
    val st = IncrementalAgg.partial(full, spec)
    val fin = IncrementalAgg.finalize(st, spec)
      .select(col("k"), col("avg_v")).as[(String, Double)].collect().toMap
    assert(fin("a") == (1d + 5 + 2) / 3)
    assert(fin("c") == (7d + 7 + 9) / 3)
  }
}
