package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.Session

/** Whole-suite plan-health audit: one line per SparkEntry query with
  * the counts that decide scale behavior — exchanges (shuffles),
  * broadcast vs sort-merge joins, cartesian products, whole-stage
  * codegen spans, WindowGroupLimit prunes — plus a suite summary.
  *
  * PlanSpec pins the load-bearing shapes as hard assertions; this
  * tool is the WIDE lens: run it after any optimizer-visible change
  * and diff the output to catch a query whose plan silently grew an
  * exchange or dropped a broadcast, before the bench says so slower.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def count(s: String, token: String): Int =
      token.r.findAllIn(s).size

    case class Audit(name: String, exch: Int, bhj: Int, bnlj: Int,
      smj: Int, cart: Int, wscg: Int, wgl: Int)

    val audits = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val r = try {
          val df = fn(spark, dir)
          val p: SparkPlan = df.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.initialPlan
            case other => other
          }
          val s = p.toString
          val a = Audit(name,
            count(s, "Exchange"), count(s, "BroadcastHashJoin"),
            count(s, "BroadcastNestedLoopJoin"), count(s, "SortMergeJoin"),
            count(s, "CartesianProduct"), count(s, "WholeStageCodegen"),
            count(s, "WindowGroupLimit"))
          println(f"[audit] ${a.name}%-24s exch=${a.exch}%2d bhj=${a.bhj}%2d " +
            f"bnlj=${a.bnlj}%d smj=${a.smj}%d cart=${a.cart}%d " +
            f"wscg=${a.wscg}%2d wgl=${a.wgl}%d")
          Some(a)
        } catch { case e: Throwable =>
          println(s"[audit] $name FAILED to plan: ${e.getMessage}")
          None
        }
        spark.catalog.clearCache()
        r
    }

    val carts = audits.filter(_.cart > 0)
    val smjHeavy = audits.filter(_.smj >= 3)
    println(s"[audit] ${audits.size} queries planned; " +
      s"cartesian products: ${carts.size} " +
      carts.map(_.name).mkString("[", ",", "]") +
      s"; smj>=3: ${smjHeavy.size} " +
      smjHeavy.map(a => s"${a.name}=${a.smj}").mkString("[", ",", "]"))
    // a true cartesian (not broadcast-nested-loop) over corpus-scale
    // frames is always a bug in this engine — loudly flag any
    assert(carts.isEmpty,
      s"CartesianProduct in: ${carts.map(_.name).mkString(", ")}")
    spark.stop()
  }
}
