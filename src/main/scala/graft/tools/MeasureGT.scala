package graft.tools

import org.apache.spark.sql.functions._
import graft.Session
import graft.queries.{TextQueries, VectorQueries}

/** Dev harness: prints the ground-truth measurements behind the
  * VectorQueriesSpec / TextQueriesSpec floors (ANN recall, near-dup
  * LSH recall, simhash exactness, minhash containment, lang-id
  * accuracy) so the asserted floors are measured, not guessed. */
object MeasureGT {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Session.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ANN recall@5
    val brute = VectorQueries.annBruteTopk(spark, dir)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorQueries.annLshTopk(spark, dir)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"ann recall@5 = ${(brute & lsh).size.toDouble / brute.size} (${(brute & lsh).size}/${brute.size})")
    val ivf = VectorQueries.annIvfTopk(spark, dir)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"ivf recall@5 = ${(brute & ivf).size.toDouble / brute.size} (${(brute & ivf).size}/${brute.size})")
    val pq = VectorQueries.annPqTopk(spark, dir)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"pq recall@5 = ${(brute & pq).size.toDouble / brute.size} (${(brute & pq).size}/${brute.size})")

    // near-dup LSH recall
    val exact = VectorQueries.embNearDup(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshDup = VectorQueries.embNearDupLsh(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"near-dup lsh recall = ${(exact & lshDup).size}/${exact.size}; extra=${(lshDup -- exact).size}")

    // simhash exactness vs brute hamming
    val sig = TextQueries.simhashSignatures(spark, dir)
    val a = sig.select(col("doc_id").as("a_id"), col("simhash").as("a_sig"))
    val b = sig.select(col("doc_id").as("b_id"), col("simhash").as("b_sig"))
    val bruteHam = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .filter(col("hamming") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketHam = TextQueries.dedupSimhash(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"simhash: brute=${bruteHam.size} bucket=${bucketHam.size} equal=${bruteHam == bucketHam}")

    // minhash vs exact shingle-jaccard ground truth
    val exact07 = TextQueries.shingleJaccardExact(spark, dir, 0.7)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact09 = TextQueries.shingleJaccardExact(spark, dir, 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = TextQueries.dedupMinhash(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"minhash: exact07=${exact07.size} exact09=${exact09.size} emitted=${mh.size} " +
      s"missed07=${(exact07 -- mh).size} missed09=${(exact09 -- mh).size} false+=${(mh -- exact07).size}")

    // stored-index recalls (build into a temp dir, self-matches
    // excluded to compare against the self-excluding brute baseline)
    val qs = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    def storedRecall(name: String, res: org.apache.spark.sql.DataFrame): Unit = {
      val got = res.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (q, n) => q != n }.toSet
      println(s"$name stored recall@5 = ${(brute & got).size.toDouble / brute.size}")
    }
    val tmpIdx = java.nio.file.Files.createTempDirectory("measuregt-idx").toString
    try {
      graft.queries.VectorIndex.buildIvf(spark, dir, s"$tmpIdx/ivf")
      storedRecall("ivf", graft.queries.VectorIndex.searchIvf(spark, s"$tmpIdx/ivf", qs, kNN = 6))
      graft.queries.VectorIndex.buildPq(spark, dir, s"$tmpIdx/pq")
      storedRecall("pq", graft.queries.VectorIndex.searchPq(spark, dir, s"$tmpIdx/pq", qs, kNN = 6))
      graft.queries.VectorIndex.buildIvfPq(spark, dir, s"$tmpIdx/ivfpq")
      storedRecall("ivfpq", graft.queries.VectorIndex.searchIvfPq(spark, dir, s"$tmpIdx/ivfpq", qs, kNN = 6))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpIdx))

    // lang-id accuracy
    val li = TextQueries.tLangId(spark, dir)
      .select(when(col("lang") === col("predicted"), 1).otherwise(0).as("ok"))
      .agg(avg(col("ok"))).head.getDouble(0)
    println(s"lang-id accuracy = $li")

    spark.stop()
  }
}
