package graft.tools

import graft.Session

/** Dev harness: time one query cold then warm in a fresh session —
  * separates plan cost from first-run JIT when a bench number looks
  * anomalous. */
object ColdOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      println(f"run$i ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
