package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Session

/** Measures the two ASOF lowerings (AsofJoinRewriteRule) on uniform
  * vs hot-key corpora — the rehearsal behind the "window form is
  * linear at any skew, join form pays the per-key residual" claim in
  * the rule's Scaladoc. Builds the ProfileSkew-style fixture (one
  * user owns `hotShare` of all events), runs the e3 ASOF SQL text
  * through spark.sql under each lowering, and prints wall seconds.
  * Optional ×N replication legs grow the corpus to show the
  * divergence curve (join: ~N² inside the hot key; window: ~N).
  *
  * Usage: runMain graft.tools.ProfileAsof [sfDir] [replicas...]
  */
object ProfileAsof {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val replicas = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 2, 4)
    val spark = Session.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SqlGateway.open(spark, dir)
    val base = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))

    val text = graft.SparkEntry.oracleSql("e3_asof_join")
    def time(lowering: String): Double = {
      spark.conf.set(graft.plans.AsofJoinRewriteRule.LoweringConfKey, lowering)
      try {
        val t0 = System.nanoTime()
        spark.sql(text).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally spark.conf.unset(graft.plans.AsofJoinRewriteRule.LoweringConfKey)
    }

    for (n <- replicas) {
      // ×n replication with distinct event ids; hot fixture: one user
      // owns ~20% of all events (the ProfileSkew discipline)
      val rep =
        if (n == 1) base
        else (0 until n).map(i => base
          .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L)))
          .reduce(_ unionByName _)
      val uniform = rep.cache(); uniform.count()
      val hot = rep.withColumn("user_id",
        when(pmod(col("event_id"), lit(5)) === 0, lit(424242L))
          .otherwise(col("user_id"))).cache()
      hot.count()
      for ((name, df) <- Seq("uniform" -> uniform, "hot20" -> hot)) {
        df.createOrReplaceTempView("events")
        // warm once per (corpus, lowering) then report the 2nd run
        val w = { time("window"); time("window") }
        val j = { time("join"); time("join") }
        println(f"[asof] x$n%-2d $name%-8s rows=${df.count()}%9d  window=$w%6.2fs  join=$j%6.2fs  ratio=${j / w}%5.2fx")
      }
      uniform.unpersist(); hot.unpersist()
      graft.SqlGateway.open(spark, dir) // restore the real events view
    }
    spark.stop()
  }
}
