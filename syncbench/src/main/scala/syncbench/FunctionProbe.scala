package syncbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row cost of the repo's native expressions: each one projected
  * (or, for the Bloom aggregate, aggregated) over a fixed cached input
  * of `Rows` rows and materialized to the `noop` sink; the median of
  * three timings over the row count. The input is the same for every
  * workload, so these numbers move only with the expressions. */
object FunctionProbe {
  val Rows = 50000

  def run(spark: SparkSession): Map[String, Double] = {
    val rng = new java.util.Random(7)
    val aLits = typedLit(Seq.fill(64)(rng.nextLong() | 1L))
    val bLits = typedLit(Seq.fill(64)(rng.nextLong()))
    val book = typedLit(Seq.fill(8)(Seq.fill(16)(Seq.fill(8)(rng.nextGaussian()))))
    val input = spark.range(Rows).repartition(spark.sparkContext.defaultParallelism)
      .select(
        transform(sequence(lit(1), lit(48)),
          i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(500L)).cast("string"))).as("toks"),
        transform(sequence(lit(1), lit(64)),
          i => (pmod(xxhash64(col("id"), i, lit(1)), lit(2001L)) - 1000).cast("double") / 1000.0)
          .as("vec"))
      .withColumn("sh", call_function("graft_shingle3_hash", col("toks")))
      .cache()
    input.write.mode("overwrite").format("noop").save()
    def timeOf(df: DataFrame): Double =
      Main.median((0 until 3).map(_ =>
        Main.timed(df.write.mode("overwrite").format("noop").save())._2))
    def proj(c: Column): Double = timeOf(input.select(c.as("r")))
    val probes = Seq(
      "graft_minhash_sig" -> (() => proj(call_function("graft_minhash_sig", col("sh"), aLits, bLits))),
      "graft_simhash64" -> (() => proj(call_function("graft_simhash64", col("toks")))),
      "graft_shingle3_hash" -> (() => proj(call_function("graft_shingle3_hash", col("toks")))),
      "graft_ngram_hash" -> (() => proj(call_function("graft_ngram_hash", col("toks"), lit(3)))),
      "graft_dot" -> (() => proj(call_function("graft_dot", col("vec"), col("vec")))),
      "graft_pq_encode" -> (() => proj(call_function("graft_pq_encode", col("vec"), book))),
      "graft_bloom_agg" -> (() => timeOf(input.agg(call_function("graft_bloom_agg",
        xxhash64(col("vec")), xxhash64(col("toks")), lit(1 << 16), lit(4))))))
    val out = probes.map { case (name, f) => s"functions.${name}_ns_per_row" -> f() * 1e9 / Rows }
    input.unpersist()
    out.toMap
  }
}
