package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native top-p-centroids-by-dot-score — the coarse-quantizer argmax that
  * IVF cell assignment, IVF multi-probe selection, and PQ sub-quantizer
  * encoding all reduce to (`Similarity.buildIvfIndex` / `probeIvf` /
  * `pqEncode`). `graft_top_cells(v, off, mat, bias, p)` returns the cell
  * indices of the `p` largest `dot(v[off..off+dsub), mat[c]) - bias[c]`
  * scores, descending, ties toward the larger cell index.
  *
  * Why native: every Column-algebra form of this argmax loses at some
  * scale. An unrolled per-centroid expression tree blows the JVM
  * method-size codegen limit around a few hundred centroids and falls
  * back to ~100x slower interpreted eval; the `transform`+`typedlit`
  * literal-matrix form is O(1) in tree size but higher-order functions
  * are `CodegenFallback` — every row pays interpreted lambda dispatch and
  * boxing per (centroid, dim) element. `StaticInvoke` (the pattern of
  * [[NativeInterp]] / [[NativeHash48]]) stays inside whole-stage codegen
  * as one direct static call with primitive loops: O(1) generated-code
  * size in nCells AND JIT-compiled arithmetic, so the same expression
  * serves nCells = 8 (driver-contract q56b/q56c) and the ~10k cells a
  * 100M-vector corpus wants.
  *
  * Bit-parity contract (locks driver-hash stability across the port):
  * the accumulation is the same left-to-right `acc + v[off+j] * mat[c][j]`
  * sequence as [[graft.functions.Vec.dot]] and the previous `dotOff`
  * fold, the bias subtraction is a single trailing op (PQ's
  * `- ||c||^2/2`; an all-zero bias for IVF is bit-neutral), and score
  * comparison follows Spark SQL double ordering (NaN largest,
  * -0.0 == 0.0) with ties resolved exactly like `array_max` /
  * descending `array_sort` over (score, cell) structs: larger cell wins.
  *
  * Contract: `v` must have >= off+dsub non-null elements (embeddings are
  * non-null by schema) — ENFORCED at evaluation time with a descriptive
  * IllegalArgumentException rather than a silent wrong answer; `mat` rows
  * share one width; `bias` has one entry per `mat` row. `p` is clamped to
  * nCells.
  */
object NativeTopCells {

  // Spark SQL double ordering: NaN == NaN, NaN > everything, -0.0 == 0.0
  private def cmp(a: Double, b: Double): Int =
    if (a < b) -1
    else if (a > b) 1
    else {
      val an = java.lang.Double.isNaN(a)
      val bn = java.lang.Double.isNaN(b)
      if (an == bn) 0 else if (an) 1 else -1
    }

  def topCells(v: ArrayData, off: Int, mat: ArrayData, bias: ArrayData,
      p: Int): ArrayData = {
    val n = mat.numElements()
    // enforce the documented vector contract (propagateNull only covers a
    // null top-level array): one up-front pass of off+dsub length/null
    // checks per row, amortized over the n x dsub multiply-adds below —
    // without it a short vector or a null element reads undefined values
    // and returns silently-wrong cells
    val width = if (n > 0) off + mat.getArray(0).numElements() else off
    if (v.numElements() < width)
      throw new IllegalArgumentException(
        s"graft_top_cells: vector has ${v.numElements()} elements but the " +
        s"centroid matrix needs $width (off=$off); embeddings shorter than " +
        "the trained dimension violate the contract")
    var t = off
    while (t < width) {
      if (v.isNullAt(t))
        throw new IllegalArgumentException(
          s"graft_top_cells: vector element $t is null; embeddings must " +
          "have non-null elements over the scored window")
      t += 1
    }
    val dots = new Array[Double](n)
    var c = 0
    while (c < n) {
      val row = mat.getArray(c)
      val dsub = row.numElements()
      var acc = 0.0
      var j = 0
      while (j < dsub) {
        acc += v.getDouble(off + j) * row.getDouble(j)
        j += 1
      }
      dots(c) = acc - bias.getDouble(c)
      c += 1
    }
    val k = if (p < n) p else n
    val out = new Array[Any](k)
    val taken = new Array[Boolean](n)
    var r = 0
    while (r < k) {
      var best = -1
      var bd = 0.0
      var i = 0
      while (i < n) {
        // >= 0 with ascending i: an equal score at a larger cell index
        // replaces — the array_max / descending-sort tie rule
        if (!taken(i) && (best < 0 || cmp(dots(i), bd) >= 0)) {
          best = i; bd = dots(i)
        }
        i += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  def builder(args: Seq[Expression]): Expression = {
    require(args.length == 5,
      "graft_top_cells(v, off, mat, bias, p) takes 5 arguments")
    StaticInvoke(
      classOf[NativeTopCells.type],
      ArrayType(IntegerType, containsNull = false),
      "topCells",
      args,
      inputTypes = Seq(ArrayType(DoubleType), IntegerType,
        ArrayType(ArrayType(DoubleType)), ArrayType(DoubleType), IntegerType),
      propagateNull = true,
      returnNullable = false)
  }

  /** Column-API form: top-`p` cells of `v[off..off+dsub)` against the
    * driver-held centroid matrix, descending by `dot - bias`.
    */
  def topCellsCol(spark: SparkSession, v: Column, off: Int,
      cents: Seq[Seq[Double]], bias: Seq[Double], p: Int): Column = {
    Natives.ensure(spark)
    import org.apache.spark.sql.functions.{call_function, lit, typedlit}
    call_function("graft_top_cells", v, lit(off),
      typedlit(cents.map(_.toArray).toArray), typedlit(bias.toArray), lit(p))
  }
}
