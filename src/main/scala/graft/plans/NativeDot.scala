package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native sequential-fold dot product — the inner loop of every cosine in
  * the similarity/dedup surface (`Similarity.bruteForceTopK` / `lshTopK` /
  * the rerank stage / `nearDupPairs` / `semanticDedup`).
  *
  * Why native: [[graft.functions.Vec.dot]]'s Column form is
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — higher-order functions are
  * `CodegenFallback`, so every pair pays interpreted lambda dispatch, an
  * intermediate zipped array allocation, and per-element boxing; a cosine
  * costs three such folds (dot + both norms). On an all-pairs scan
  * (hundreds of thousands of pairs per block) the HOF form dominates the
  * whole operator. `StaticInvoke` (the [[NativeTopCells]] /
  * [[NativeInterp]] / [[NativeHash48]] pattern) stays inside whole-stage
  * codegen as one direct static call with a primitive loop.
  *
  * Bit-parity contract (locks the driver-hash results of every
  * oracle-checked cosine query — q55/q56c/q56d/q56e/q56f/q57/q57b/q76):
  * the accumulation is the exact left-to-right
  * `((0.0 + a(0)*b(0)) + a(1)*b(1)) + ...` sequence of the HOF fold and of
  * the DuckDB oracle's `list_reduce(list_prepend(0.0, ...))` mirror
  * ([[graft.functions.VecSql.dot]]), so the returned double is
  * bit-identical to both.
  *
  * Contract: both arrays non-null (a null top-level array propagates null
  * via `propagateNull`), equal length, non-null elements — ENFORCED with a
  * descriptive error rather than a silent wrong answer (the HOF form
  * returns null on ragged/null-element input; embeddings are fixed-dim
  * non-null by schema, so call sites never observe the difference).
  */
object NativeDot {

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_dot: length mismatch (${n} vs ${b.numElements()}); " +
        "vectors must share one dimension")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_dot: null element at index $i; embedding elements must " +
          "be non-null")
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def builder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "graft_dot(a, b) takes 2 arguments")
    StaticInvoke(
      classOf[NativeDot.type],
      DoubleType,
      "dot",
      args,
      inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType)),
      propagateNull = true,
      returnNullable = false)
  }

  /** Column-API form of the native dot. */
  def dotCol(spark: SparkSession, a: Column, b: Column): Column = {
    Natives.ensure(spark)
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)
  }

  /** Drop-in native replacement for [[graft.functions.Vec.cosine]]: same
    * expression shape (`dot / (sqrt(dot(a,a)) * sqrt(dot(b,b)))`), so the
    * result is bit-identical — only ~10x faster per pair. Call sites that
    * join the same vectors into many pairs should instead hoist
    * `sqrt(dotCol(v, v))` to a per-row column before the join and divide
    * by the product of the two norm columns (still bit-identical: the
    * final division sees the same three doubles).
    */
  def cosineCol(spark: SparkSession, a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    dotCol(spark, a, b) /
      (sqrt(dotCol(spark, a, a)) * sqrt(dotCol(spark, b, b)))
  }
}
