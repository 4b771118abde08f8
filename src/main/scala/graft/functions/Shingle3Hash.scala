package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native shingle hasher: `graft_shingle3_hash(toks)` → the DISTINCT
  * xxhash64 values of a token array's 3-word shingles (space-joined),
  * in first-occurrence order — the hashed-shingle sets every MinHash
  * stage (batch dedup, streaming LSH index, Jaccard verification)
  * runs on.
  *
  * The composition it replaces made four interpreted array passes
  * per document — `transform(sequence...)` building a full
  * intermediate array of shingle STRINGS, `array_distinct` over
  * those strings, `transform(_, xxhash64)`, `array_distinct` again
  * over the longs — and that chain is the dominant cost of the one
  * full-corpus scan of the whole MinHash family. This expression
  * fuses them into a single pass inside whole-stage codegen: per
  * position one UTF8String concat and one XXH64 (the same
  * `hashUTF8String(_, 42)` primitive the builtin `xxhash64` calls),
  * deduped through one insertion-ordered hash set; no intermediate
  * string array ever materializes.
  *
  * Bit-identical to the builtin chain on its production domain
  * (inputs pre-filtered to ≥ 3 tokens, as hashedShinglesOf's guard
  * enforces): distinct-strings-then-distinct-hashes keeps exactly
  * the first occurrence of each hash value, which is what one
  * hash-level dedupe keeps; null tokens are skipped by the join
  * exactly as `concat_ws` skips them. GraftFunctionsSpec pins the
  * equality code-for-code over the corpus. For < 3 tokens this
  * returns the true shingle set — empty — where the unfiltered
  * builtin's `sequence(0, n-3)` would walk a descending range;
  * production never reaches either form. */
case class Shingle3Hash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle3_hash requires array<string>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_shingle3_hash"

  override protected def nullSafeEval(toks: Any): Any =
    Shingle3Hash.hashes(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      toks => s"${ev.value} = graft.functions.Shingle3Hash.hashes($toks);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Shingle3Hash {
  private val Sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
  private val Seed = 42L // xxhash64's fixed default seed

  /** One fused pass: join each 3-token window with single spaces
    * (nulls skipped, as concat_ws does), XXH64 the bytes, keep the
    * first occurrence of each hash. Called from generated code. */
  def hashes(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < 3) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + 2 < n) {
      val g = org.apache.spark.unsafe.types.UTF8String.concatWs(Sep,
        if (toks.isNullAt(i)) null else toks.getUTF8String(i),
        if (toks.isNullAt(i + 1)) null else toks.getUTF8String(i + 1),
        if (toks.isNullAt(i + 2)) null else toks.getUTF8String(i + 2))
      seen.add(XXH64.hashUTF8String(g, Seed))
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}
