package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{GraftExtensions, GraftFunctions}

/** Both registration routes for the native expressions: the
  * SparkSessionExtensions injection (config route) and the idempotent
  * runtime hook; and the session factory that carries the config
  * route to every entry point. */
class GraftFunctionsSpec extends SparkSpec {

  test("config route: withExtensions(GraftExtensions) resolves graft_dot in SQL") {
    // Force a NEW session (sharing the existing SparkContext) so the
    // extension injection actually runs — getOrCreate would otherwise
    // return the shared test session.
    val prev = spark // materialize the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val d = s2.sql(
        "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0)
      assert(d == 11.0)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("the shared spec session carries every canonical factory conf") {
    val canonical = Map(
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    canonical.foreach { case (k, v) =>
      assert(SparkSpec.session.conf.get(k) == v, s"$k on the spec session")
    }
  }

  test("src/main builds a SparkSession only through the factory") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val builders = try walk.iterator().asScala
      .filter(f => f.toString.endsWith(".scala") &&
        Files.readString(f).contains("SparkSession.builder"))
      .map(f => root.relativize(f).toString).toSeq.sorted
    finally walk.close()
    assert(builders == Seq("graft/Session.scala"))
  }

  test("runtime route is idempotent and registers the same function") {
    GraftFunctions.ensureRegistered(spark)
    GraftFunctions.ensureRegistered(spark) // no-op second time
    val d = spark.sql(
      "SELECT graft_dot(array(1.0d, 0.0d, 2.0d), array(5.0d, 9.0d, 0.5d)) AS d")
      .head().getDouble(0)
    assert(d == 6.0)
  }

  test("graft_dot truncates to the shorter array (zip semantics)") {
    GraftFunctions.ensureRegistered(spark)
    val d = spark.sql(
      "SELECT graft_dot(array(2.0d, 3.0d, 100.0d), array(4.0d, 5.0d)) AS d")
      .head().getDouble(0)
    assert(d == 23.0)
  }

  test("graft_dot is bit-identical to the builtin aggregate(zip_with) composition") {
    // Same left-to-right fold order → EXACT equality, not tolerance:
    // the native expression must be a pure performance substitution.
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    GraftFunctions.ensureRegistered(spark)
    val gen = Gen.listOfN(64, Gen.chooseNum(-1e6, 1e6))
    val cases = (0 until 200).flatMap { i =>
      for {
        a <- gen.apply(Gen.Parameters.default, Seed(i * 2L))
        b <- gen.apply(Gen.Parameters.default, Seed(i * 2L + 1))
      } yield (a, b)
    }
    import spark.implicits._
    val df = cases.toDF("a", "b")
    val diff = df.select(
      (call_function("graft_dot", col("a"), col("b")) =!=
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0d), (acc, x) => acc + x)).as("ne"))
      .filter(col("ne")).count()
    assert(diff == 0, s"$diff of ${cases.size} cases diverge from the builtin form")
    assert(cases.size >= 150) // generator actually produced cases
  }

  test("graft_pq_encode: code-for-code equal to the builtin composition on the corpus") {
    GraftFunctions.ensureRegistered(spark)
    val dir = "/root/testdata/sf0.01"
    val m = 8; val k = 32; val sub = 64 / m
    // a real trained codebook (deterministic) over real vectors —
    // the exact shapes the production encode runs on
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val sample = emb.orderBy(col("vec_id")).limit(512)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
    val book = graft.queries.VectorQueries.pqTrain(sample, m, k, sub, 4)
    val native = call_function("graft_pq_encode", col("emb"),
      typedlit(book))
    val builtin = BuiltinTwins
      .pqAssignExprBuiltin(book, col("emb"), m, sub)
    val diverging = emb.select((native =!= builtin).as("ne"))
      .filter(col("ne")).count()
    assert(diverging == 0, s"$diverging vectors encode differently")
    // codes in range, m per row
    val stats = emb.select(native.as("c"))
      .select(min(size(col("c"))), max(size(col("c"))),
        min(array_min(col("c"))), max(array_max(col("c")))).collect()(0)
    assert(stats.getInt(0) == m && stats.getInt(1) == m)
    assert(stats.getInt(2) >= 0 && stats.getInt(3) < k)
  }

  test("graft_minhash_sig: code-for-code equal to the builtin composition on the corpus") {
    GraftFunctions.ensureRegistered(spark)
    val docs = graft.queries.TextQueries.hashedShinglesOf(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.01"))
    val native = graft.queries.TextQueries.minhashSigExpr(col("sh"))
    val builtin = BuiltinTwins.minhashSigBuiltin(col("sh"))
    val diverging = docs.select((!(native <=> builtin)).as("ne"))
      .filter(col("ne")).count()
    assert(diverging == 0, s"$diverging docs sign differently")
    assert(docs.count() >= 400) // the corpus actually flowed through

    // degenerate inputs match the builtin exactly: empty set and
    // null entries (array_min skips nulls; all-null -> null minima)
    val edge = spark.range(1).select(
      expr("cast(array() as array<bigint>)").as("empty"),
      expr("array(cast(null as bigint))").as("allnull"),
      expr("array(9223372036854775807L, cast(null as bigint), -1L)").as("mixed"))
    Seq("empty", "allnull", "mixed").foreach { c =>
      val ne = edge.select((!(graft.queries.TextQueries.minhashSigExpr(col(c)) <=>
        BuiltinTwins.minhashSigBuiltin(col(c)))).as("ne"))
        .filter(col("ne")).count()
      assert(ne == 0, s"edge case '$c' diverges from the builtin")
    }
  }

  test("graft_simhash64: code-for-code equal to the explode/groupBy composition") {
    GraftFunctions.ensureRegistered(spark)
    val dir = "/root/testdata/sf0.01"
    val native = graft.queries.TextQueries.simhashSignatures(spark, dir)
    val builtin = BuiltinTwins.simhashSignaturesBuiltin(spark, dir)
    assert(native.count() == builtin.count())
    val diverging = native.as("n")
      .join(builtin.withColumnRenamed("simhash", "simhash_b"), Seq("doc_id"))
      .filter(col("simhash") =!= col("simhash_b")).count()
    assert(diverging == 0, s"$diverging docs sign differently")
    assert(native.count() >= 400)

    // a null token contributes exactly as hash 0 does in the builtin
    // (when/otherwise fallthrough decrements every bit counter)
    val one = spark.sql(
      "SELECT graft_simhash64(array('alpha', 'beta')) AS s").head().getLong(0)
    val withNull = spark.sql(
      "SELECT graft_simhash64(array('alpha', cast(null as string), 'beta')) AS s")
      .head().getLong(0)
    // 2 tokens: a tie (sum 0) on any bit where they disagree -> bit 0;
    // adding the null's all-bits -1 can only clear bits, never set
    assert((withNull & ~one) == 0L)
  }

  test("graft_shingle3_hash: code-for-code equal to the builtin shingle chain") {
    GraftFunctions.ensureRegistered(spark)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val native = graft.queries.TextQueries.hashedShinglesOf(docs)
    val builtin = BuiltinTwins.hashedShinglesBuiltin(docs)
    assert(native.count() == builtin.count())
    val diverging = native.as("n")
      .join(builtin.withColumnRenamed("sh", "sh_b"), Seq("doc_id"))
      .filter(!(col("sh") <=> col("sh_b"))).count()
    assert(diverging == 0, s"$diverging docs shingle differently")
    assert(native.count() >= 400)

    // repeated shingles dedupe to first occurrence; null tokens are
    // skipped by the join exactly as concat_ws skips them
    val edge = spark.sql(
      "SELECT graft_shingle3_hash(array('a','b','a','b','a','b')) AS rep, " +
        "graft_shingle3_hash(array('a', cast(null as string), 'b', 'c')) AS nul")
      .head()
    // windows: "a b a","b a b","a b a","b a b" -> 2 distinct
    assert(edge.getSeq[Long](0).length == 2)
    // windows: "a b","b c" (null skipped) -> 2 distinct
    assert(edge.getSeq[Long](1).length == 2)
  }

  test("graft_ngram_hash: code-for-code equal to the builtin gram chain") {
    GraftFunctions.ensureRegistered(spark)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), split(trim(lower(trim(col("text")))), "\\s+").as("w"))
    for (n <- Seq(2, 5, 8)) {
      val native = call_function("graft_ngram_hash", col("w"), lit(n))
      val builtin = BuiltinTwins.ngramHashBuiltin(col("w"), n)
      val ne = docs.select((!(native <=> builtin)).as("ne")).filter(col("ne")).count()
      assert(ne == 0, s"n=$n: grams diverge from the builtin")
    }
    assert(docs.count() >= 400)

    // fewer than n tokens -> empty; null tokens skipped exactly as
    // concat_ws skips them, positions kept
    val edge = spark.sql(
      "SELECT graft_ngram_hash(array('a'), 2) AS short, " +
        "graft_ngram_hash(array('a', cast(null as string), 'b'), 2) AS nul, " +
        "xxhash64('a') AS ha, xxhash64('b') AS hb").head()
    assert(edge.getSeq[Long](0).isEmpty)
    assert(edge.getSeq[Long](1) == Seq(edge.getLong(2), edge.getLong(3)))
  }

  test("graft_winnow_sel: code-for-code equal to the builtin winnow chain") {
    GraftFunctions.ensureRegistered(spark)
    val dir = "/root/testdata/sf0.01"
    val native = graft.queries.TextQueries.winnowSelected(spark, dir)
    val builtin = BuiltinTwins.winnowSelectedBuiltin(spark, dir)
    assert(native.count() == builtin.count())
    val diverging = native.as("n")
      .join(builtin.withColumnRenamed("sel", "sel_b"), Seq("doc_id"))
      .filter(!(col("sel") <=> col("sel_b"))).count()
    assert(diverging == 0, s"$diverging docs select differently")
    assert(native.count() >= 400)

    // < w windows falls back to the single global minimum, and the
    // selected hex strings are real md5s of the k-char grams
    val short = spark.sql( // 9 chars, k=8 -> 2 grams, w=4 -> fallback
      "SELECT graft_winnow_sel('abcdefghi', 8, 4) AS sel, " +
        "least(md5('abcdefgh'), md5('bcdefghi')) AS mn").head()
    assert(short.getSeq[String](0) == Seq(short.getString(1)))
  }

  test("graft_vec_div: code-for-code equal to the transform lambda on the corpus") {
    GraftFunctions.ensureRegistered(spark)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("emb"),
        sqrt(call_function("graft_dot", col("emb"), col("emb"))).as("nrm"))
      .filter(col("nrm") > 0)
    val native = call_function("graft_vec_div", col("emb"), col("nrm"))
    val builtin = transform(col("emb"), x => x / col("nrm"))
    val ne = emb.select((!(native <=> builtin)).as("ne")).filter(col("ne")).count()
    assert(ne == 0, s"$ne vectors normalize differently")
    assert(emb.count() >= 400)

    // null elements stay null, the lambda's null-propagating divide
    val edge = spark.sql(
      "SELECT v[0] = 1.0d AND v[1] IS NULL AND v[2] = 2.0d AS ok FROM " +
        "(SELECT graft_vec_div(array(2.0d, cast(null as double), 4.0d), 2.0d) AS v)")
      .head()
    assert(edge.getBoolean(0))
  }

  test("graft_char_ngrams / graft_count_in: equal to their builtin chains") {
    GraftFunctions.ensureRegistered(spark)
    val t = col("t")
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
    val triNative = call_function("graft_char_ngrams", t, lit(3))
    val triBuiltin = when(length(t) >= 3,
      transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
      .otherwise(array(t))
    val triNe = docs.select((!(triNative <=> triBuiltin)).as("ne"))
      .filter(col("ne")).count()
    assert(triNe == 0, s"$triNe docs produce different trigrams")

    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val toks = split(t, "\\s+")
    val cntNative = call_function("graft_count_in", toks, typedlit(stop))
    val cntBuiltin = size(filter(toks, x => x.isInCollection(stop)))
    val cntNe = docs.select((!(cntNative <=> cntBuiltin)).as("ne"))
      .filter(col("ne")).count()
    assert(cntNe == 0, s"$cntNe docs count stopwords differently")
    assert(docs.count() >= 400)

    // code-point windows (not byte windows) and the short-text
    // whole-string fallback, on multibyte text
    val uni = spark.range(1)
      .select(lit("héllo").as("u"), lit("ab").as("s"))
      .select(
        call_function("graft_char_ngrams", col("u"), lit(3)).as("tri"),
        (!(call_function("graft_char_ngrams", col("u"), lit(3)) <=>
          transform(sequence(lit(1), length(col("u")) - 2),
            i => col("u").substr(i, lit(3))))).as("ne"),
        call_function("graft_char_ngrams", col("s"), lit(3)).as("short"))
      .head()
    assert(uni.getSeq[String](0) == Seq("hél", "éll", "llo"))
    assert(!uni.getBoolean(1))
    assert(uni.getSeq[String](2) == Seq("ab"))
  }

  test("graft_vec_sum equals per-dimension sums over the corpus and handles nulls") {
    GraftFunctions.ensureRegistered(spark)
    val dim = 5
    import spark.implicits._
    // deterministic corpus incl. a null vector, a null element, and
    // groups small enough to check exactly
    val rows = (0 until 200).map { i =>
      val g = i % 3
      val v: Seq[java.lang.Double] =
        if (i == 42) null
        else (0 until dim).map(d =>
          if (i == 17 && d == 2) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf((i * 31 + d * 7) % 13 - 6.0))
      (g, v)
    }
    val df = rows.toDF("g", "v")
    val got = df.groupBy(col("g"))
      .agg(call_function("graft_vec_sum", col("v")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val want = rows.filter(_._2 != null).groupBy(_._1).map { case (g, rs) =>
      g -> (0 until dim).map(d =>
        rs.map(r => Option(r._2(d)).map(_.doubleValue).getOrElse(0.0)).sum)
    }
    assert(got.keySet == want.keySet)
    for ((g, w) <- want) assert(got(g) == w, s"group $g")

    // serialize/deserialize round-trip (the shuffle path's codec)
    val agg = graft.functions.VecSumAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(null))
    val buf = Array(1.5, -2.25, 3.0)
    assert(agg.deserialize(agg.serialize(buf)).toSeq == buf.toSeq)
    // merge grows to the longer buffer (lazily-sized partials)
    assert(agg.merge(Array(1.0), Array(2.0, 5.0)).toSeq == Seq(3.0, 5.0))
  }

  test("graft_bloom_agg: partition-parallel build equals a driver-side bit set") {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val mBits = 256
    val k = 4
    // deterministic hash pairs incl. nulls; 16 partitions force the
    // partial-merge (OR) path through serialize/deserialize
    val rows: Seq[(java.lang.Long, java.lang.Long)] = (0 until 500).map { i =>
      if (i % 97 == 13) (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(i))
      else (java.lang.Long.valueOf(i * 2654435761L % 4294967296L),
        java.lang.Long.valueOf((i * 40503L % 4294967296L) | 1L))
    }
    val got = graft.functions.BloomAgg.wordsOf(
      rows.toDF("h1", "h2").repartition(16)
        .agg(call_function("graft_bloom_agg",
          col("h1"), col("h2"), lit(mBits), lit(k)).as("b"))
        .collect()(0).getAs[Array[Byte]](0))
    val want = new Array[Long](mBits / 64)
    for ((h1, h2) <- rows if h1 != null; j <- 0 until k) {
      val p = java.lang.Math.floorMod(h1 + j * h2, mBits.toLong).toInt
      want(p >> 6) |= (1L << (p & 63))
    }
    assert(got.toSeq == want.toSeq)
    assert(got.map(java.lang.Long.bitCount).sum > 0)
    // empty input evals to the all-zero filter, not null
    val empty = graft.functions.BloomAgg.wordsOf(
      rows.toDF("h1", "h2").filter(lit(false))
        .agg(call_function("graft_bloom_agg",
          col("h1"), col("h2"), lit(mBits), lit(k)).as("b"))
        .collect()(0).getAs[Array[Byte]](0))
    assert(empty.toSeq == Seq.fill(mBits / 64)(0L))
  }
}
