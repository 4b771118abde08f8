package graft.tools

import org.apache.spark.sql.functions._
import graft.Session

/** Consumer-style demo of the streaming layer: rate source →
  * 1-second tumbling counts with watermark → memory sink. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rate = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
      .select(col("timestamp").as("ts"),
        (col("value") % 3).cast("string").as("event_type"),
        lit(1.0).as("value"))
    val q = graft.streaming.StreamOps.tumblingCounts(rate, "0 seconds", "1 second")
      .writeStream.format("memory").queryName("live").outputMode("append").start()
    Thread.sleep(6000)
    q.processAllAvailable()
    q.stop()
    println("STREAM_ROWS=" + spark.table("live").count())
    spark.table("live").orderBy("window_start").show(6, truncate = false)
    spark.stop()
  }
}
