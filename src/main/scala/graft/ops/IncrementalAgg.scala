package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sink.DirSwap

/** Incremental maintenance of a materialized aggregate — the
  * "refresh the rollup without recomputing history" pattern every
  * 100 TB lake pipeline needs once a fact table stops fitting in one
  * nightly groupBy.
  *
  * The stored state is a MERGEABLE representation: per group key,
  * `sum_<c>` / `min_<c>` / `max_<c>` per tracked column plus
  * `n_rows`. Sums, mins, maxes, and counts are associative and
  * commutative, so refreshing with a new partition is
  * partial(delta) ∪ stored → re-aggregate — the raw fact rows of
  * history are never touched again. Non-mergeable finalizers (avg =
  * sum/count) are derived at read time by `finalize`, never stored.
  *
  * Scale discipline: `partial` shuffles ONLY the delta's rows,
  * keyed by the group key (map-side combine applies — the state IS
  * the combiner output). `merge` unions two already-aggregated
  * tables whose size is bounded by group-key cardinality, not fact
  * rows. A refresh therefore costs O(|delta| + |groups|) regardless
  * of how much history the stored aggregate summarizes — at 1000
  * daily partitions, 1000× cheaper than recompute.
  *
  * Beyond-reference component (SURVEY §8); the reference re-reads
  * every vendor's full catalog per sync (products.js:383-395) —
  * this is the operator that retires exactly that cost.
  */
object IncrementalAgg {

  /** Declarative shape of the maintained aggregate. `distincts`
    * columns are tracked as DataSketches HLL state (`hll_<c>`, a
    * binary sketch column): approximate, but MERGEABLE — the one
    * property exact COUNT(DISTINCT) fundamentally lacks, and the
    * reason every incremental-MV engine stores a sketch instead.
    * Finalize surfaces the estimate as `approx_distinct_<c>`. */
  final case class AggSpec(
      keys: Seq[String],
      sums: Seq[String] = Nil,
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil,
      distincts: Seq[String] = Nil)

  private def stateAggs(spec: AggSpec, of: String => org.apache.spark.sql.Column) =
    spec.sums.map(c => sum(of(s"sum_$c")).as(s"sum_$c")) ++
      spec.mins.map(c => min(of(s"min_$c")).as(s"min_$c")) ++
      spec.maxs.map(c => max(of(s"max_$c")).as(s"max_$c")) ++
      spec.distincts.map(c => hll_union_agg(of(s"hll_$c")).as(s"hll_$c")) :+
      sum(of("n_rows")).cast("long").as("n_rows")

  /** One-pass mergeable state of `df` under `spec`. One shuffle on
    * the group key with map-side partial aggregation. */
  def partial(df: DataFrame, spec: AggSpec): DataFrame = {
    val aggs = spec.sums.map(c => sum(col(c)).as(s"sum_$c")) ++
      spec.mins.map(c => min(col(c)).as(s"min_$c")) ++
      spec.maxs.map(c => max(col(c)).as(s"max_$c")) ++
      spec.distincts.map(c => hll_sketch_agg(col(c)).as(s"hll_$c")) :+
      count(lit(1)).as("n_rows")
    df.groupBy(spec.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge mergeable states. Associative + commutative: any
    * grouping/order of deltas yields the same refreshed aggregate,
    * which is what makes replay and backfill safe. */
  def merge(states: Seq[DataFrame], spec: AggSpec): DataFrame = {
    require(states.nonEmpty, "merge of zero states")
    val unioned = states.reduce(_.unionByName(_))
    val aggs = stateAggs(spec, col)
    unioned.groupBy(spec.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Read-time finalizer: exposes each tracked sum alongside its
    * derived average (`avg_<c>` = sum/count) and each HLL sketch as
    * its cardinality estimate — the non-mergeable metrics that must
    * NOT be stored in the state. Sketch columns are replaced by
    * their estimates in the output. */
  def finalize(state: DataFrame, spec: AggSpec): DataFrame = {
    val kept = state.columns.filterNot(_.startsWith("hll_")).map(col)
    val derived = spec.sums.map(c =>
      (col(s"sum_$c") / col("n_rows")).as(s"avg_$c")) ++
      spec.distincts.map(c =>
        hll_sketch_estimate(col(s"hll_$c")).as(s"approx_distinct_$c"))
    state.select(kept ++ derived: _*)
  }

  /** Refresh the parquet-stored aggregate at `storePath` with a new
    * fact `delta`: state' = merge(stored, partial(delta)), committed
    * by graft.sink.DirSwap so a crash mid-write leaves the previous
    * state readable (healed from `__old` before any read) — the caller
    * simply re-runs the refresh. First call (no stored state)
    * bootstraps from the delta alone.
    *
    * NOTE at-least-once semantics: replaying the SAME delta doubles
    * its contribution (the same accumulate quirk as the reference's
    * option merge — SURVEY §7.4#2). Callers that can replay should
    * key refreshes by partition and overwrite, or track applied
    * partition ids as the streaming index does
    * (StreamOps.scala BatchMarkersDir).
    */
  def refresh(spark: SparkSession, storePath: String, delta: DataFrame,
      spec: AggSpec): DataFrame = {
    refreshInternal(spark, storePath, delta, spec, token = None)
    spark.read.parquet(storePath)
  }

  /** Sidecar inside the state directory carrying the high-water
    * applied token. Leading underscore = invisible to parquet
    * directory reads. */
  private val TokenFile = "_graft_mv_token"

  /** EXACTLY-once refresh keyed by a monotonically increasing token
    * (a Structured Streaming batchId): the applied high-water token
    * is written INSIDE the new state directory BEFORE the atomic
    * rename, so state and ledger commit together — there is no
    * crash window in which the delta was folded but the token lost
    * (which would double-fold on replay), nor the reverse. A token
    * at-or-below the recorded high water is a no-op returning
    * false. Contrast nearDupIngestBatch's marker-after-append
    * ledger, which tolerates its (harmless, dedupable) duplicates;
    * an additive aggregate tolerates none, hence the stricter
    * discipline here. */
  def refreshOnce(spark: SparkSession, storePath: String, delta: DataFrame,
      spec: AggSpec, token: Long): Boolean = {
    val p = new Path(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (readToken(fs, p).exists(_ >= token)) false
    else { refreshInternal(spark, storePath, delta, spec, Some(token)); true }
  }

  /** High-water token of the state at `p`, if any, after healing a
    * crashed commit. Absent file (no state yet, or a state only ever
    * driven by plain refresh) reads None; an unreadable one throws
    * (DirSwap.readToken). */
  private def readToken(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[Long] = {
    DirSwap.heal(fs, p, DirSwap.old(p))
    DirSwap.readToken(fs, p, TokenFile)
  }

  private def refreshInternal(spark: SparkSession, storePath: String,
      delta: DataFrame, spec: AggSpec, token: Option[Long]): Unit = {
    val p = new Path(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // carry the ledger forward even through plain refresh() calls, so
    // interleaving batch backfills with streaming maintenance cannot
    // silently drop the high-water token
    val carried = (token.toSeq ++ readToken(fs, p).toSeq).maxOption
    val deltaState = partial(delta, spec)
    val next =
      if (fs.exists(p)) merge(Seq(spark.read.parquet(storePath), deltaState), spec)
      else deltaState
    val tmp = new Path(storePath + "__tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    next.write.mode("overwrite").parquet(tmp.toString)
    carried.foreach(DirSwap.writeToken(fs, tmp, TokenFile, _))
    DirSwap.commit(fs, tmp, p, DirSwap.old(p))
  }
}
