package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.TextQueries.{MinhashHashes, minhashAbs, normText, tokens}
import graft.sources.Tables

/** The builtin-expression compositions each native `graft_*`
  * expression replaced, kept as GraftFunctionsSpec's independent
  * ground truth: the spec compares every native expression against
  * its twin here, code for code. */
object BuiltinTwins {

  /** 3-word shingle STRING sets of the normalized text (docs with <3
    * tokens drop out). Tokens are materialized as their own
    * projection so `element_at` indexes a bound array column:
    * CollapseProject declines to inline a non-cheap alias referenced
    * 5×, keeping the tokenizer split OUT of the shingle lambda.
    * (Inlined, the split re-ran per element_at per position —
    * O(tokens²) per doc, interpreted: the original single-expression
    * form ran 60× slower at sf0.1.) */
  private def shingleDocsOf(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    // The <3-token guard filters on size(toks), NOT size(sh): sh is
    // nonempty iff tokens >= 3, and a size(sh)>0 filter would be
    // predicate-pushed below the projections with the whole shingle
    // expression inlined — re-running the quadratic form.
    docs
      .select(col("doc_id"), tokens(normText(col("text"))).as("toks"))
      .filter(size(toks) >= 3)
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ",
            element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3))))
          .as("sh"))
  }

  /** The shingle→distinct→hash→distinct chain
    * TextQueries.hashedShinglesOf replaced with `graft_shingle3_hash`. */
  def hashedShinglesBuiltin(docs: DataFrame): DataFrame =
    shingleDocsOf(docs)
      .select(col("doc_id"),
        array_distinct(transform(col("sh"), s => xxhash64(s))).as("sh"))

  /** The signature TextQueries.minhashSigExpr replaced with
    * `graft_minhash_sig`. */
  def minhashSigBuiltin(sh: Column): Column =
    array((0 until MinhashHashes).map { i =>
      val (a, b) = minhashAbs(i)
      array_min(transform(sh, h => h * lit(a) + lit(b)))
    }: _*)

  /** The explode → 64-conditional-sum groupBy composition
    * TextQueries.simhashSignatures replaced with `graft_simhash64`
    * (a ~100× row blowup plus a full-corpus shuffle, vs. the native
    * expression's one narrow map). */
  def simhashSignaturesBuiltin(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(normText(col("text")))).as("tok"))
      .select(col("doc_id"), {
        val hx = md5(col("tok"))
        shiftleft(conv(substring(hx, 17, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(hx, 25, 8), 16, 10).cast("long")).as("h")
      })
    val bitSums = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val summed = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until 64).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    summed.select(col("doc_id"), simhash.as("simhash"))
  }

  /** The selector TextQueries.winnowSelected replaced with
    * `graft_winnow_sel` — four interpreted array passes materializing
    * every gram and hash as strings. */
  def winnowSelectedBuiltin(spark: SparkSession, dir: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    val t = col("t")
    val grams = col("grams")
    val hashes = col("hashes")
    Tables.documents(spark, dir)
      .select(col("doc_id"), normText(col("text")).as("t"))
      .filter(length(t) >= k)
      .select(col("doc_id"),
        transform(sequence(lit(1), length(t) - (k - 1)),
          i => t.substr(i, lit(k))).as("grams"))
      .select(col("doc_id"),
        transform(grams, g => md5(g)).as("hashes"))
      .select(col("doc_id"),
        when(size(hashes) >= w,
          array_sort(array_distinct(
            transform(sequence(lit(1), size(hashes) - (w - 1)),
              i => array_min(slice(hashes, i, lit(w)))))))
          .otherwise(array(array_min(hashes))).as("sel"))
  }

  /** The per-position gram hash `graft_ngram_hash` replaced in
    * hashedGramsOf / tRepetition / tSubstringSpans. */
  def ngramHashBuiltin(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => xxhash64(concat_ws(" ", slice(w, i, lit(n))))))
      .otherwise(array().cast("array<bigint>"))

  /** The encode VectorQueries.pqAssignExpr replaced with
    * `graft_pq_encode`. */
  def pqAssignExprBuiltin(book: Seq[Seq[Seq[Double]]], v: Column,
      m: Int, sub: Int): Column =
    array((0 until m).map { mm =>
      val cents = typedlit(book(mm))
      val norms2 = typedlit(book(mm).map(c => c.map(x => x * x).sum))
      val sv = slice(v, mm * sub + 1, sub)
      val scores = zip_with(cents, norms2, (c, n2) =>
        aggregate(zip_with(sv, c, (a, b) => a * b),
          lit(0.0d), (acc, x) => acc + x) * 2 - n2)
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }: _*)
}
