package graft.tools

import graft.Session

/** Time the graph-ANN BUILD (the stage the round-13 verdict flagged
  * as latently quadratic under the old 256-cell cap) across corpus
  * scales: for each given data dir, run `buildGraph` into a fresh
  * temp root and print wall seconds, cells, supers, and the member
  * count — the numbers that show the pair frame and assignment scan
  * staying linear with the cap gone.
  * Usage: runMain graft.tools.ProfileGraphBuild <dir> [<dir> ...] */
object ProfileGraphBuild {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileGraphBuild <dir> [<dir> ...]")
    val spark = Session.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { dir =>
      val idx = java.nio.file.Files
        .createTempDirectory("graft_graphbuild").toString
      val t0 = System.nanoTime()
      graft.queries.VectorIndex.buildGraph(spark, dir, idx)
      val secs = (System.nanoTime() - t0) / 1e9
      val qz = graft.queries.VectorIndex.cachedGraphQuantizer(spark, idx)
      val n = spark.read.parquet(s"$idx/graph").count()
      val mem = spark.read.parquet(s"$idx/members").count()
      println(f"[graphbuild] $dir%-40s n=$n%8d members=$mem%9d " +
        f"cells=${qz.cells.length}%5d supers=${qz.supers.length}%3d " +
        f"build=$secs%7.1fs")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    }
    spark.stop()
  }
}
