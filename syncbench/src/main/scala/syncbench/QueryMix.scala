package syncbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import syncbench.Main.{Op, Opts, runOp}

/** The query_mix workload: one `SparkEntry` query from each query
  * family over the generated tables, relational and event queries
  * (planning-bound) next to text, vector, index and graph ones (shuffle-
  * and kernel-bound). The first pass executes every query once in a
  * fresh JVM (the cold op), writing each result as parquet for the
  * oracle check; then one untimed warm-up pass, executing every query
  * once more; then `Main.units(seconds, NominalPassS)` measured passes,
  * each running every query `Repeats` times in a seeded order into the
  * `noop` sink. The cache is cleared between queries. */
object QueryMix {

  /** The queries, each with its family: the module that implements it. */
  val Queries: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "core", "e2_sessionize" -> "event", "q_zorder_key" -> "layout",
    "dedup_minhash_lsh" -> "text", "t_curation_e2e" -> "curation", "t_bm25_topk" -> "retrieval",
    "emb_kmeans" -> "vector", "ann_ivf_stored" -> "index", "g5_components_inc" -> "graph")

  /** Executions of each query per measured pass. The op latencies form
    * one cluster per query, and with three executions the percentile
    * behind latency_tail_s (rank 17 of 27) falls between two clusters,
    * where it jumps from run to run; four (rank 26 of 36) puts it inside
    * one. */
  val Repeats = 4
  /** Length of one measured pass at the reference speed (4 cores). */
  val NominalPassS = 25.0

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** One-time preparation after a build: run every query once so the
    * derived indexes some queries build on first use (under
    * `java.io.tmpdir`) exist before any measured run, as they do for a
    * long-running service. */
  def prepare(spark: SparkSession, o: Opts): Unit =
    for ((q, _) <- Queries)
      try SparkEntry.queries(q)(spark, o.data).write.mode("overwrite").format("noop").save()
      catch { case e: Exception => System.err.println(s"prepare: $q failed: ${e.getMessage}") }
      finally spark.catalog.clearCache()

  def run(spark: SparkSession, o: Opts, rec: mutable.Map[String, Any]): Unit = {
    val queries = Queries.map(_._1)
    Tables.foreach { t =>
      val f = new java.io.File(s"${o.data}/$t.parquet")
      require(f.length > 0, s"missing input table $f")
    }
    rec("inputs") = Map("queries" -> queries.size)

    val out = s"${o.work}/out"
    /** Run query `q` into `sink`, then clear the cache it filled. */
    def exec(q: String)(sink: org.apache.spark.sql.DataFrame => Unit): Long =
      try { sink(SparkEntry.queries(q)(spark, o.data)); 0L }
      finally spark.catalog.clearCache()
    def noop(q: String) = exec(q)(_.write.mode("overwrite").format("noop").save())

    Main.deleteTree(out)
    val rng = new scala.util.Random(o.seed)
    val cold = rng.shuffle(queries).map(q => runOp(q, "query") {
      exec(q)(_.coalesce(1).write.mode("overwrite").parquet(s"$out/$q"))
    })
    rec("cold") = cold.map(Main.opRecord)
    // oracle SQL only now: register-gated queries render theirs from
    // state their own run left in this JVM
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Main.writeJson(s"$out/oracle_sql.json", oracle)

    // one untimed pass before the window, as set-up: the measured
    // executions are then at least the third of each query in this JVM,
    // past most of the JIT compilation the first ones trigger
    val (warmOps, warmPassS) = Main.timed(rng.shuffle(queries).map(q => runOp(q, "query")(noop(q))))
    rec("warmup_ops") = warmOps.map(Main.opRecord)
    // no staging: the inputs are prepared at build time, and the first
    // query starts as soon as the session is up
    val bootS = (cold.head.start - o.t0) / 1e3
    rec("setup_s") = bootS + warmPassS
    rec("setup_note") = f"process start to the first timed op (JVM, session, extensions) $bootS%.3f s" +
      f" + warm-up pass $warmPassS%.3f s"

    val tracer = new Tracer(spark)
    var opId = 0
    def window(): (Seq[Op], Double) = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val start = System.nanoTime()
      for (_ <- 0 until Main.units(o.seconds, NominalPassS);
           q <- rng.shuffle(Seq.fill(Repeats)(queries).flatten)) {
        opId += 1
        ops += tracer.op(opId, s"query:$q")(runOp(q, "query")(noop(q)))
      }
      (ops.toSeq, (System.nanoTime() - start) / 1e9)
    }
    val (ops, windowS) = window()
    rec("ops") = ops.map(Main.opRecord)
    rec("window_s") = windowS
    if (o.trace) {
      tracer.start()
      val (tops, twindow) = window()
      tracer.finish()
      rec("traced_ops") = tops.map(Main.opRecord)
      rec("traced_window_s") = twindow
      val warm = tops.groupBy(_.name).map { case (q, xs) => q -> Main.median(xs.map(_.seconds)) }
      rec("layers") = tracer.engineSummary(tops.map(_.interval)) ++
        Queries.groupMapReduce(q => s"queries.${q._2}_s")(q => warm.getOrElse(q._1, 0.0))(_ + _) +
        ("queries.cold_warm_ratio" -> cold.map(_.seconds).sum / math.max(1e-9, warm.values.sum))
      rec("spans") = tracer.spanRecords
    }
  }
}
