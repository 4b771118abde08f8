package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one route gate. Every budgeted choice in the engine between a
  * LOCAL route (a driver kernel, a driver finish, a broadcast, a
  * one-pass plan) and its DIST twin (the shuffle form, the two-phase
  * decomposition — the route that runs at 100 TB) is decided here,
  * always in the same order:
  *
  *  1. the force: a gate named in [[DistConf]] (or `*`) goes dist
  *     and evaluates nothing — zero jobs, zero plan statistics;
  *  2. the cheap upper bound, read from plan statistics (zero jobs):
  *     past the budget it alone decides dist;
  *  3. the exact estimate, evaluated only when the bound did not
  *     decide (the stats-first, count-second pattern).
  *
  * Each call records the decision as its gate's latest (a driver map,
  * one entry per gate), which [[take]] hands to the run records —
  * Bench's `BENCH_SELF.json` and Verify's `routes.json`. Budgets and
  * estimates are doubles: every count-like estimate is exact there
  * below 2^53, far above every budget, so each comparison decides as
  * the integer one would. */
object Route {

  /** Comma-separated gate names, or `*` for every gate, forced to
    * their dist route. */
  val DistConf = "spark.graft.route.dist"

  /** A gate's decision. `estimate` is empty when forced, and is the
    * cheap bound when the bound alone decided. */
  final case class Decision(estimate: Seq[Double], budget: Seq[Double],
      local: Boolean, forced: Boolean) {
    def route: String = if (local) "local" else "dist"
    def json: String = s"""{"estimate":${nums(estimate)},"budget":${nums(budget)},""" +
      s""""route":"$route","forced":$forced}"""
  }

  /** One number, a JSON array of several, or null for none. */
  private def nums(xs: Seq[Double]): String = xs.map(x =>
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 9e15) x.toLong.toString
    else x.toString) match {
    case Seq() => "null"
    case Seq(x) => x
    case many => many.mkString("[", ",", "]")
  }

  private val latest = scala.collection.mutable.Map.empty[String, Decision]

  /** The latest decision of every gate decided since the last take,
    * and an empty record after it. */
  def take(): Map[String, Decision] = synchronized {
    try latest.toMap finally latest.clear()
  }

  /** A record as one JSON object, gates sorted. */
  def json(decisions: Map[String, Decision]): String = decisions.toSeq.sortBy(_._1)
    .map { case (g, d) => s""""$g":${d.json}""" }.mkString("{", ",", "}")

  /** True ⇒ `gate` takes its local route: not forced, the cheap
    * `bound` (if any) within `budget`, then the exact `estimate`
    * within it — at most the budget, or below it when `strict`. */
  def local(spark: SparkSession, gate: String, budget: Double,
      bound: => Option[Double] = None, strict: Boolean = false)(
      estimate: => Double): Boolean =
    decide(spark, gate, Seq(budget), strict, bound)(Seq(estimate))

  /** [[local]] for a gate with several budgets: local only when every
    * estimate is within its own budget. */
  def localAll(spark: SparkSession, gate: String, budgets: Seq[Double])(
      estimates: => Seq[Double]): Boolean =
    decide(spark, gate, budgets, strict = false, None)(estimates)

  private def decide(spark: SparkSession, gate: String, budgets: Seq[Double],
      strict: Boolean, bound: => Option[Double])(
      estimates: => Seq[Double]): Boolean = {
    def fits(xs: Seq[Double]): Boolean = xs.lazyZip(budgets).forall((x, b) =>
      if (strict) x < b else x <= b)
    val forced = spark.conf.getOption(DistConf).exists(
      _.split(',').map(_.trim).exists(g => g == "*" || g == gate))
    val d =
      if (forced) Decision(Nil, budgets, local = false, forced = true)
      else bound.map(Seq(_)).filterNot(fits) match {
        case Some(b) => Decision(b, budgets, local = false, forced = false)
        case None =>
          val e = estimates
          Decision(e, budgets, fits(e), forced = false)
      }
    synchronized { latest(gate) = d }
    d.local
  }

  /** Upper bound on `df`'s row (or element) count from plan
    * statistics — file lengths the scan already holds, zero jobs:
    * `ceil(sizeInBytes / bytesPerUnit)`, so it exceeds a budget B
    * exactly when `sizeInBytes > B * bytesPerUnit`. */
  def statsBound(df: DataFrame, bytesPerUnit: Long): Option[Double] = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    Some(((bytes + (bytesPerUnit - 1)) / bytesPerUnit).toDouble)
  }

  /** Run `body` with `gates` forced to their dist route, then restore
    * the conf. */
  def forcingDist[T](spark: SparkSession, gates: String*)(body: => T): T = {
    val prev = spark.conf.getOption(DistConf)
    spark.conf.set(DistConf, gates.mkString(","))
    try body
    finally prev match {
      case Some(v) => spark.conf.set(DistConf, v)
      case None => spark.conf.unset(DistConf)
    }
  }
}
