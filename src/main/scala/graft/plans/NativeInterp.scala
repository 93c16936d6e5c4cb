package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst version of the per-ping regrid interpolator
  * (regridADCPdata, process_adcp.py:928-946) — the engine's one hot-path
  * array operator, promoted from a Scala UDF to a codegen-friendly
  * expression via the `StaticInvoke` pattern Spark's own built-ins use:
  * whole-stage codegen emits a direct static call on unboxed `ArrayData`,
  * skipping the UDF path's per-row Row<->Scala conversion and encoder
  * round-trip entirely.
  *
  * Registered as SQL function `graft_interp(xs, ys, targets)` through
  * [[Natives]].
  */
object NativeInterp {

  /** np.interp semantics on ArrayData: pairs with null/NaN dropped, sorted
    * by x; null outside the hull; whole-result nulls when < 2 finite pairs.
    */
  def interp(xs: ArrayData, ys: ArrayData, targets: ArrayData): ArrayData = {
    val n = math.min(xs.numElements(), ys.numElements())
    var m = 0
    val tmp = new Array[Double](2 * n)
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i) && !ys.isNullAt(i)) {
        val x = xs.getDouble(i); val y = ys.getDouble(i)
        if (!x.isNaN && !y.isNaN) {
          tmp(2 * m) = x; tmp(2 * m + 1) = y; m += 1
        }
      }
      i += 1
    }
    val nt = targets.numElements()
    val out = new Array[Any](nt)
    if (m >= 2) {
      // sort pairs by x (insertion sort: m is a per-ping bin count)
      var a = 1
      while (a < m) {
        val x = tmp(2 * a); val y = tmp(2 * a + 1)
        var b = a - 1
        while (b >= 0 && tmp(2 * b) > x) {
          tmp(2 * b + 2) = tmp(2 * b); tmp(2 * b + 3) = tmp(2 * b + 1); b -= 1
        }
        tmp(2 * b + 2) = x; tmp(2 * b + 3) = y
        a += 1
      }
      var t = 0
      while (t < nt) {
        if (!targets.isNullAt(t)) {
          val x = targets.getDouble(t)
          if (x >= tmp(0) && x <= tmp(2 * (m - 1))) {
            // binary search for the bracketing knot
            var lo = 0; var hi = m - 1
            while (hi - lo > 1) {
              val mid = (lo + hi) >>> 1
              if (tmp(2 * mid) <= x) lo = mid else hi = mid
            }
            val x0 = tmp(2 * lo); val y0 = tmp(2 * lo + 1)
            val x1 = tmp(2 * hi); val y1 = tmp(2 * hi + 1)
            out(t) =
              if (x == x0) y0
              else if (x == x1) y1
              else y0 + (y1 - y0) * (x - x0) / (x1 - x0)
          }
        }
        t += 1
      }
    }
    new GenericArrayData(out)
  }

  private val arrDouble = ArrayType(DoubleType)

  def builder(args: Seq[Expression]): Expression = {
    require(args.length == 3, "graft_interp(xs, ys, targets) takes 3 arguments")
    StaticInvoke(
      classOf[NativeInterp.type],
      ArrayType(DoubleType, containsNull = true),
      "interp",
      args,
      inputTypes = Seq(arrDouble, arrDouble, arrDouble),
      propagateNull = true,
      returnNullable = true)
  }

  /** Column-API form. */
  def interpCol(spark: SparkSession, xs: Column, ys: Column, targets: Column): Column = {
    Natives.ensure(spark)
    import org.apache.spark.sql.functions.call_function
    call_function("graft_interp", xs, ys, targets)
  }
}
