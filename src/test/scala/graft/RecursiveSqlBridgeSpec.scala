package graft

import org.apache.spark.sql.functions._

import graft.plans.RecursiveSqlBridge

/** The driver-paced recursion bridge: `WITH RECURSIVE … UNION`
  * (distinct) through plain `spark.sql` on the extensions session.
  * Fixpoint semantics pinned against hand-computed fixtures on a
  * CYCLIC graph (the case UNION ALL recursion cannot terminate on),
  * shape-detection guards pinned at the unit level. The six oracle
  * texts themselves are covered by SqlGatewaySpec's inventory, which
  * runs every oracle text through `spark.sql`. */
class RecursiveSqlBridgeSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  test("cyclic reachability: min-label components via UNION-distinct " +
      "recursion match the hand answer") {
    import spark.implicits._
    // two components, each containing a cycle: {1,2,3} and {7,8}
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (7L, 8L), (8L, 7L))
      .toDF("s", "d").createOrReplaceTempView("redges")
    val got = spark.sql(
      """WITH RECURSIVE
         e AS (SELECT s AS src, d AS dst FROM redges
               UNION SELECT d, s FROM redges),
         walk(id, lbl) AS (
               SELECT src, src FROM e
               UNION
               SELECT e.src, w.lbl FROM e JOIN walk w ON e.dst = w.id)
         SELECT id, min(lbl) AS comp FROM walk GROUP BY id""")
    assert(rows(got) == Set("1|1", "2|1", "3|1", "7|7", "8|7"))
    // re-running the identical statement reuses its view slot and
    // returns the same rows (the bounded-leak contract)
    assert(rows(spark.sql(
      """WITH RECURSIVE
         e AS (SELECT s AS src, d AS dst FROM redges
               UNION SELECT d, s FROM redges),
         walk(id, lbl) AS (
               SELECT src, src FROM e
               UNION
               SELECT e.src, w.lbl FROM e JOIN walk w ON e.dst = w.id)
         SELECT id, min(lbl) AS comp FROM walk GROUP BY id""")) ==
      Set("1|1", "2|1", "3|1", "7|7", "8|7"))
  }

  test("depth-capped BFS recursion (the g6 shape, WHERE inside the step)") {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
      .createOrReplaceTempView("bfsedges")
    val got = spark.sql(
      """WITH RECURSIVE
         walk(id, d) AS (
               SELECT CAST(1 AS BIGINT), 0 FROM (SELECT 1)
               UNION
               SELECT e.d, w.d + 1 FROM walk w JOIN bfsedges e ON e.s = w.id
               WHERE w.d < 2)
         SELECT id, min(d) AS dist FROM walk GROUP BY id""")
    // cap at 2 hops: node 4 (3 hops) is never reached
    assert(rows(got) == Set("1|0", "2|1", "3|2"))
  }

  test("shape guards: UNION ALL, non-recursive WITH, and missing column " +
      "lists pass through to the delegate untouched") {
    // UNION ALL recursion → None (Spark's native path handles it)
    assert(RecursiveSqlBridge.maybeBridge(spark,
      """WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 3)
         SELECT * FROM r""").isEmpty)
    // plain WITH (no RECURSIVE keyword) → None, cheap prefix check
    assert(RecursiveSqlBridge.maybeBridge(spark,
      "WITH t AS (SELECT 1 AS x) SELECT * FROM t").isEmpty)
    // recursive member without a column list → None (the bridge
    // cannot name the working columns; base may duplicate names)
    assert(RecursiveSqlBridge.maybeBridge(spark,
      """WITH RECURSIVE r AS (SELECT 1 AS n UNION SELECT n + 1 FROM r WHERE n < 3)
         SELECT * FROM r""").isEmpty)
    // no self-reference in any CTE body → None
    assert(RecursiveSqlBridge.maybeBridge(spark,
      """WITH RECURSIVE r(n) AS (SELECT 1 UNION SELECT 2)
         SELECT * FROM r""").isEmpty)
    // and the UNION ALL text actually RUNS natively on this session
    assert(rows(spark.sql(
      """WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 3)
         SELECT * FROM r""")) == Set("1", "2", "3"))
  }

  test("a CTE declared AFTER the recursive member that references it " +
      "keeps its lexical slot in the final statement") {
    import spark.implicits._
    Seq((1L, 2L), (2L, 1L), (5L, 6L), (6L, 5L)).toDF("s", "d")
      .createOrReplaceTempView("postedges")
    val got = rows(spark.sql(
      """WITH RECURSIVE
         e AS (SELECT s AS src, d AS dst FROM postedges
               UNION SELECT d, s FROM postedges),
         walk(id, lbl) AS (
               SELECT src, src FROM e
               UNION
               SELECT e.src, w.lbl FROM e JOIN walk w ON e.dst = w.id),
         agg AS (SELECT id, min(lbl) AS comp FROM walk GROUP BY id)
         SELECT * FROM agg"""))
    assert(got == Set("1|1", "2|1", "5|5", "6|5"),
      s"post-recursive CTE mis-scoped: $got")
  }

  test("parameterized statements never bridge: bindings would be lost " +
      "mid-evaluation, so they fail loudly on the native path") {
    val e = intercept[Exception](spark.sql(
      """WITH RECURSIVE r(n) AS (SELECT 1 UNION SELECT n + 1 FROM r WHERE n < :cap)
         SELECT * FROM r""", Map("cap" -> 3)).collect())
    // Spark's native recursion rejects UNION-distinct (or the unbound
    // construct) — EITHER way the failure is loud, never a silently
    // unbound parameter inside the bridge's internal statements
    assert(e != null)
    // and a parameterized NON-recursive statement still binds fine
    assert(spark.sql("SELECT :x AS v", Map("x" -> 7)).collect()(0).getInt(0) == 7)
  }

  test("memo: a re-run bridged statement on unchanged parquet inputs " +
      "executes ZERO fixpoint evaluations and identical rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("recmemo")
      .toFile.getAbsolutePath
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (7L, 8L), (8L, 7L)).toDF("s", "d")
      .write.mode("overwrite").parquet(s"$dir/edges")
    spark.read.parquet(s"$dir/edges").createOrReplaceTempView("pedges")
    RecursiveSqlBridge.clearBridgeMemo()
    val q = """WITH RECURSIVE
       e AS (SELECT s AS src, d AS dst FROM pedges
             UNION SELECT d, s FROM pedges),
       walk(id, lbl) AS (
             SELECT src, src FROM e
             UNION
             SELECT e.src, w.lbl FROM e JOIN walk w ON e.dst = w.id)
       SELECT id, min(lbl) AS comp FROM walk GROUP BY id"""
    val before = RecursiveSqlBridge.fixpointRuns.get()
    val first = rows(spark.sql(q))
    assert(first == Set("1|1", "2|1", "3|1", "7|7", "8|7"))
    assert(RecursiveSqlBridge.fixpointRuns.get() == before + 1,
      "first run must pay exactly one fixpoint")
    assert(rows(spark.sql(q)) == first)
    assert(RecursiveSqlBridge.fixpointRuns.get() == before + 1,
      "re-run on unchanged inputs must be a memo hit — zero fixpoints")
    // new input files under the same view → signature moves → the
    // re-run re-evaluates and reflects the new edge, never stale
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (7L, 8L), (8L, 7L), (8L, 9L))
      .toDF("s", "d").write.mode("overwrite").parquet(s"$dir/edges")
    spark.read.parquet(s"$dir/edges").createOrReplaceTempView("pedges")
    val second = rows(spark.sql(q))
    assert(RecursiveSqlBridge.fixpointRuns.get() == before + 2,
      "changed inputs must be a memo MISS")
    assert(second == Set("1|1", "2|1", "3|1", "7|7", "8|7", "9|7"))
  }

  test("memo: replacing an in-memory fixture view moves the signature " +
      "(LocalRelation schema + rows are hashed into it)") {
    import spark.implicits._
    Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
      .createOrReplaceTempView("memedges")
    RecursiveSqlBridge.clearBridgeMemo()
    val q = """WITH RECURSIVE
       e AS (SELECT s AS src, d AS dst FROM memedges
             UNION SELECT d, s FROM memedges),
       walk(id, lbl) AS (
             SELECT src, src FROM e
             UNION
             SELECT e.src, w.lbl FROM e JOIN walk w ON e.dst = w.id)
       SELECT id, min(lbl) AS comp FROM walk GROUP BY id"""
    assert(rows(spark.sql(q)) == Set("1|1", "2|1"))
    val n = RecursiveSqlBridge.fixpointRuns.get()
    assert(rows(spark.sql(q)) == Set("1|1", "2|1"))
    assert(RecursiveSqlBridge.fixpointRuns.get() == n,
      "identical in-memory fixture must memo-hit")
    Seq((5L, 6L), (6L, 5L)).toDF("s", "d")
      .createOrReplaceTempView("memedges")
    assert(rows(spark.sql(q)) == Set("5|5", "6|5"),
      "replaced fixture view served a STALE materialization")
  }

  test("EXPLAIN WITH RECURSIVE returns a plan instead of failing on " +
      "the native path — and is PLAN-ONLY (zero fixpoint jobs)") {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
      .createOrReplaceTempView("expedges")
    def q(mode: String) = s"""EXPLAIN $mode WITH RECURSIVE
       walk(id) AS (
             SELECT s FROM expedges
             UNION
             SELECT e.d FROM expedges e JOIN walk w ON e.s = w.id)
       SELECT * FROM walk"""
    RecursiveSqlBridge.clearBridgeMemo()
    val before = RecursiveSqlBridge.fixpointRuns.get()
    val plain = spark.sql(q("")).collect()(0).getString(0)
    assert(plain.contains("== Physical Plan =="), s"not a plan: $plain")
    val formatted = spark.sql(q("FORMATTED")).collect()(0).getString(0)
    assert(formatted.contains("== Physical Plan =="))
    // a cost-preview EXPLAIN must not pay the recursion it previews
    assert(RecursiveSqlBridge.fixpointRuns.get() == before,
      "EXPLAIN over a bridged recursion ran the fixpoint")
    // and the explained statement still RUNS correctly afterwards
    // (the plan-only parked view must not shadow the result slot)
    assert(rows(spark.sql(q("").stripPrefix("EXPLAIN "))) ==
      Set("1", "2", "3"))
    assert(RecursiveSqlBridge.fixpointRuns.get() == before + 1,
      "the real run after an EXPLAIN must still evaluate")
  }

  test("two statements colliding on String.hashCode keep separate " +
      "view slots (strong-digest slot naming)") {
    import spark.implicits._
    Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
      .createOrReplaceTempView("coledges")
    def q(tag: String) = s"""WITH RECURSIVE
       walk(id) AS (
             SELECT s FROM coledges
             UNION
             SELECT e.d FROM coledges e JOIN walk w ON e.s = w.id)
       SELECT DISTINCT id, '$tag' AS tag FROM walk"""
    val (a, b) = (q("Aa"), q("BB"))
    assert(a.hashCode == b.hashCode && a != b,
      "fixture must collide on String.hashCode")
    // parse BOTH before collecting the first: a shared slot would
    // have let b's materialization hijack a's frame
    val dfA = spark.sql(a)
    val dfB = spark.sql(b)
    assert(rows(dfA) == Set("1|Aa", "2|Aa"))
    assert(rows(dfB) == Set("1|BB", "2|BB"))
  }

  test("acyclic UNION-distinct recursion agrees with the equivalent " +
      "UNION ALL native run") {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
      .createOrReplaceTempView("dagedges")
    def q(union: String) = s"""WITH RECURSIVE
         reach(id) AS (
               SELECT CAST(1 AS BIGINT) FROM (SELECT 1)
               $union
               SELECT e.d FROM reach r JOIN dagedges e ON e.s = r.id)
         SELECT DISTINCT id FROM reach"""
    assert(rows(spark.sql(q("UNION"))) == rows(spark.sql(q("UNION ALL"))))
    assert(rows(spark.sql(q("UNION"))) == Set("1", "2", "3"))
  }
}
