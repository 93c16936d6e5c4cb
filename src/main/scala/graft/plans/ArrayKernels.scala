package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** The per-ping beam math of the ADCP pipeline as native array kernels:
  * each one a `StaticInvoke` over unboxed `ArrayData` (the [[NativeInterp]]
  * pattern), where the Column form would be a `zip_with` / `transform` /
  * `aggregate` lambda that Spark evaluates through the interpreter with a
  * boxed double per element.
  *
  * Every kernel keeps the semantics of the elementwise lambda it replaces:
  *  - a null array argument makes the result null;
  *  - arrays of unequal length are padded with nulls to the longest, as
  *    `zip_with` pads them;
  *  - a null element, or a null scalar argument, makes the element null;
  *  - NaN flows through the arithmetic and compares as Spark SQL compares
  *    it (larger than any other value);
  *  - the arithmetic runs in the written order, so results are bit-equal.
  *
  * The scalar arguments travel packed in one `array<double>` (the builders
  * wrap them in `CreateArray`), which keeps their nulls: a `double`
  * argument of a `StaticInvoke` would turn a null into 0.0. Registered as
  * the SQL functions `graft_<kernel>` through [[Natives]].
  */
object ArrayKernels {

  private def out(n: Int): UnsafeArrayData = UnsafeArrayData.createFreshArray(n, 8)

  private def anyNull(s: ArrayData): Boolean = {
    var j = 0
    while (j < s.numElements()) { if (s.isNullAt(j)) return true; j += 1 }
    false
  }

  private def allNull(n: Int): ArrayData = {
    val r = out(n)
    var i = 0
    while (i < n) { r.setNullAt(i); i += 1 }
    r
  }

  /** Element i of `a`, or absent past its end or at a null. */
  @inline private def has(a: ArrayData, i: Int): Boolean =
    i < a.numElements() && !a.isNullAt(i)

  /** `(k·a + c) / d` per element; `s = [k, c, d]`. `c = -0.0` and `d = 1.0`
    * leave the value as it is (-0.0 is the additive identity, also for
    * -0.0). A zero divisor fails, as Spark's ANSI division does.
    */
  def affine(a: ArrayData, s: ArrayData): ArrayData = {
    val n = a.numElements()
    if (anyNull(s)) return allNull(n)
    val k = s.getDouble(0); val c = s.getDouble(1); val d = s.getDouble(2)
    val r = out(n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) r.setNullAt(i)
      else {
        if (d == 0.0) throw new ArithmeticException("graft_affine: division by zero")
        r.setDouble(i, (k * a.getDouble(i) + c) / d)
      }
      i += 1
    }
    r
  }

  /** `p·a + q·b` per element; `s = [p, q]`. */
  def combine(a: ArrayData, b: ArrayData, s: ArrayData): ArrayData = {
    val n = math.max(a.numElements(), b.numElements())
    if (anyNull(s)) return allNull(n)
    val p = s.getDouble(0); val q = s.getDouble(1)
    val r = out(n)
    var i = 0
    while (i < n) {
      if (has(a, i) && has(b, i)) r.setDouble(i, p * a.getDouble(i) + q * b.getDouble(i))
      else r.setNullAt(i)
      i += 1
    }
    r
  }

  /** QC mask: `v` where `c >= minC`, `a <= maxA` and `|v| <= maxAbsV`, else
    * null; `s = [minC, maxA, maxAbsV]`.
    */
  def mask(v: ArrayData, c: ArrayData, a: ArrayData, s: ArrayData): ArrayData = {
    val n = math.max(v.numElements(), math.max(c.numElements(), a.numElements()))
    if (anyNull(s)) return allNull(n)
    val minC = s.getDouble(0); val maxA = s.getDouble(1); val maxV = s.getDouble(2)
    val r = out(n)
    var i = 0
    while (i < n) {
      if (has(v, i) && has(c, i) && has(a, i) &&
          SQLOrderingUtil.compareDoubles(c.getDouble(i), minC) >= 0 &&
          SQLOrderingUtil.compareDoubles(a.getDouble(i), maxA) <= 0 &&
          SQLOrderingUtil.compareDoubles(math.abs(v.getDouble(i)), maxV) <= 0)
        r.setDouble(i, v.getDouble(i))
      else r.setNullAt(i)
      i += 1
    }
    r
  }

  /** One row of a 3×3 rotation: `c0·x + c1·y·g + c2·z·g` per element;
    * `s = [c0, c1, c2, g]`.
    */
  def rotate(x: ArrayData, y: ArrayData, z: ArrayData, s: ArrayData): ArrayData = {
    val n = math.max(x.numElements(), math.max(y.numElements(), z.numElements()))
    if (anyNull(s)) return allNull(n)
    val c0 = s.getDouble(0); val c1 = s.getDouble(1)
    val c2 = s.getDouble(2); val g = s.getDouble(3)
    val r = out(n)
    var i = 0
    while (i < n) {
      if (has(x, i) && has(y, i) && has(z, i))
        r.setDouble(i, c0 * x.getDouble(i) + c1 * y.getDouble(i) * g +
          c2 * z.getDouble(i) * g)
      else r.setNullAt(i)
      i += 1
    }
    r
  }

  /** Centered first derivative along the index with one-sided edges, on a
    * unit-spaced axis; a one-element array gives `[null]`.
    */
  def gradient(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val r = out(n)
    var i = 0
    while (i < n) {
      val edge = i == 0 || i == n - 1
      val hi = if (i == 0 || !edge) i + 1 else i
      val lo = if (i == 0) 0 else i - 1
      if (has(a, hi) && has(a, lo)) {
        val d = a.getDouble(hi) - a.getDouble(lo)
        r.setDouble(i, if (edge) d else d / 2.0)
      } else r.setNullAt(i)
      i += 1
    }
    r
  }

  /** Mean of the non-null elements, summed left to right from 0.0; null
    * when there are none.
    */
  def mean(a: ArrayData): java.lang.Double = {
    var sum = 0.0; var m = 0
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) { sum += a.getDouble(i); m += 1 }
      i += 1
    }
    if (m == 0) null else sum / m
  }

  private val arr = ArrayType(DoubleType)

  /** A kernel: its method, how many leading array arguments it takes and
    * how many scalars follow them (packed into one array), its result type.
    */
  final case class Kernel(method: String, arrays: Int, scalars: Int,
      result: DataType) {
    val name: String = s"graft_$method"

    def builder(args: Seq[Expression]): Expression = {
      require(args.length == arrays + scalars,
        s"$name takes $arrays array and $scalars scalar arguments")
      val (as, ss) = args.splitAt(arrays)
      val packed = if (scalars == 0) as else as :+ CreateArray(ss)
      StaticInvoke(ArrayKernels.getClass, result, method, packed,
        inputTypes = packed.map(_ => arr),
        propagateNull = true, returnNullable = true)
    }
  }

  val kernels: Seq[Kernel] = Seq(
    Kernel("affine", 1, 3, arr),
    Kernel("combine", 2, 2, arr),
    Kernel("mask", 3, 3, arr),
    Kernel("rotate", 3, 4, arr),
    Kernel("gradient", 1, 0, arr),
    Kernel("mean", 1, 0, DoubleType))

  private def call(method: String, args: Column*): Column = {
    Natives.ensure(SparkSession.active)
    call_function(s"graft_$method", args: _*)
  }

  /** `(k·a + c) / d`; the default `c` and `d` leave `k·a` as it is. */
  def affine(a: Column, k: Column, c: Column = lit(-0.0), d: Double = 1.0): Column =
    call("affine", a, k, c, lit(d))

  /** `p·a + q·b`, null-padded to the longer array. */
  def combine(a: Column, b: Column, p: Column, q: Column): Column =
    call("combine", a, b, p, q)

  /** `v` where `c >= minC && a <= maxA && |v| <= maxAbsV`, else null. */
  def mask(v: Column, c: Column, a: Column, minC: Double, maxA: Double,
      maxAbsV: Double): Column =
    call("mask", v, c, a, lit(minC), lit(maxA), lit(maxAbsV))

  /** `c0·x + c1·y·g + c2·z·g`. */
  def rotate(x: Column, y: Column, z: Column, c0: Column, c1: Column,
      c2: Column, g: Column): Column =
    call("rotate", x, y, z, c0, c1, c2, g)

  /** xarray `differentiate` along a unit-spaced index. */
  def gradient(a: Column): Column = call("gradient", a)

  /** Mean over the non-null elements (xarray `.mean(dim='bin')`). */
  def mean(a: Column): Column = call("mean", a)
}
