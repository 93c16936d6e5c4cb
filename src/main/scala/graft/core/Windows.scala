package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Ordered-window operators replacing the reference's implicit
  * physical-row-order numpy ops (SURVEY.md §2.5). Every former positional
  * operation names its ordering column explicitly; partition keys
  * (mission/dive/profile/user) bound window state so plans scale out —
  * a `partitionBy(lit(1))` whole-series window is the documented fallback
  * for single-mission data, never the default.
  */
object Windows {

  /** Partitioned, ordered base spec. Empty `parts` => single logical series
    * (whole-mission windows; acceptable at single-mission scale, avoid at
    * 100 TB by keying on mission/dive).
    */
  def ordered(orderCols: Seq[Column], parts: Seq[Column] = Nil): WindowSpec =
    if (parts.isEmpty) Window.partitionBy(lit(1)).orderBy(orderCols: _*)
    else Window.partitionBy(parts: _*).orderBy(orderCols: _*)

  /** Centered moving mean over `2n+1` rows, NaN-skipping and edge-shrinking
    * exactly like the reference's RunningMean (process_adcp.py:137-141):
    * Spark `avg` ignores nulls and the frame clips at partition edges.
    */
  def runningMean(c: Column, n: Int, w: WindowSpec): Column =
    avg(c).over(w.rowsBetween(-n, n))

  /** Centered moving median (notebook variant, cell 10). Spark disallows
    * `median` over a row frame, so the frame is materialized via
    * collect_list (null-skipping, like nanmedian) + array_sort — exact
    * selection median; fine for the small centered frames this mirrors.
    */
  def runningMedian(c: Column, n: Int, w: WindowSpec): Column = {
    val arr = array_sort(collect_list(c).over(w.rowsBetween(-n, n)))
    val sz = size(arr)
    val half = ((sz + 1) / 2).cast("int")
    val lo = (sz / 2).cast("int")
    when(sz % 2 === 1, element_at(arr, half))
      .otherwise((element_at(arr, lo) + element_at(arr, lo + 1)) / 2.0)
  }
  def runningMax(c: Column, n: Int, w: WindowSpec): Column =
    max(c).over(w.rowsBetween(-n, n))
  def runningMin(c: Column, n: Int, w: WindowSpec): Column =
    min(c).over(w.rowsBetween(-n, n))

  /** Adjacent difference `x[i] - x[i-1]` (np.diff; process_adcp.py:1221,1345). */
  def diff(c: Column, w: WindowSpec): Column = c - lag(c, 1).over(w)

  /** First derivative along a coordinate axis — np.gradient parity for
    * numpy >= 1.13 with an explicit (possibly NON-uniform) coordinate
    * array (process_adcp.py:1171,1298 pass a gappy time axis):
    * interior: numpy's second-order weighted form
    *   a*v[i-1] + b*v[i] + c*v[i+1]  with  dx1 = x[i] - x[i-1],
    *   dx2 = x[i+1] - x[i],  a = -dx2 / (dx1*(dx1+dx2)),
    *   b = (dx2-dx1) / (dx1*dx2),  c = dx1 / (dx2*(dx1+dx2))
    *   (numpy's exact coefficient evaluation, function_base.py);
    * edges: forward/backward one-sided difference (edge_order=1, the
    * numpy default). For unit spacing (dx1 = dx2 = 1) the chain is
    * bit-identical to the centered (v[i+1]-v[i-1])/2: a,c are the exact
    * halves and b is exactly 0.
    *
    * Degenerate (zero) spacing — coincident x within a partition, e.g.
    * ns timestamps flooring to the same microsecond — yields NULL, a
    * documented deviation from numpy (which emits inf/NaN with a runtime
    * warning): Spark 4 runs ANSI mode, where a double division by zero
    * THROWS, so an unguarded chain would kill the task over one
    * coincident pair; downstream (histogram bins, null-skipping
    * aggregates) a null behaves like the out-of-range inf would.
    */
  def gradient(v: Column, x: Column, w: WindowSpec): Column = {
    val vp = lag(v, 1).over(w); val vn = lead(v, 1).over(w)
    val xp = lag(x, 1).over(w); val xn = lead(x, 1).over(w)
    val dx1 = x - xp; val dx2 = xn - x
    val a = -dx2 / (dx1 * (dx1 + dx2))
    val b = (dx2 - dx1) / (dx1 * dx2)
    val c = dx1 / (dx2 * (dx1 + dx2))
    when(xp.isNotNull && xn.isNotNull && dx1 =!= 0.0 && dx2 =!= 0.0,
        a * vp + b * v + c * vn)
      .when(xp.isNull && xn.isNotNull && dx2 =!= 0.0, (vn - v) / dx2)
      .when(xn.isNull && xp.isNotNull && dx1 =!= 0.0, (v - vp) / dx1)
  }

  /** Gradient w.r.t. an implicit unit-spaced coordinate (the reference's
    * `differentiate('gridded_bin')`, process_adcp.py:1186-1194 — bin index
    * spacing is 1, NOT meters; preserved exactly).
    */
  def gradientUnit(v: Column, w: WindowSpec): Column = {
    val vp = lag(v, 1).over(w); val vn = lead(v, 1).over(w)
    when(vp.isNotNull && vn.isNotNull, (vn - vp) / 2.0)
      .when(vp.isNull && vn.isNotNull, vn - v)
      .when(vn.isNull && vp.isNotNull, v - vp)
  }

  /** Forward fill (pandas ffill; process_adcp.py:1329-1333,852-856). */
  def ffill(c: Column, w: WindowSpec): Column =
    last(c, ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, 0))

  /** Running sum, null-skipping (np.nancumsum; process_adcp.py:1957-1959).
    * Rows whose input is null yield the running total so far (or null before
    * any finite value) — matching nancumsum-then-mask-restore composition.
    */
  def cumsum(c: Column, w: WindowSpec): Column =
    sum(c).over(w.rowsBetween(Window.unboundedPreceding, 0))

  /** Reverse (suffix) running sum — bottom-up integration
    * (process_adcp.py:1203,1756).
    */
  def cumsumReverse(c: Column, w: WindowSpec): Column =
    sum(c).over(w.rowsBetween(0, Window.unboundedFollowing))

  /** Subtract the running value captured at the most recent anchor row —
    * `reset_transport_at_GPS` (process_adcp.py:1329-1333,1348-1349):
    * `arr - ffill(arr where anchor)`. Before any anchor, the raw running
    * value is kept (ffill yields null -> coalesce 0).
    */
  def resetAtAnchor(running: Column, anchor: Column, w: WindowSpec): Column =
    running - coalesce(ffill(when(anchor, running), w), lit(0.0))

  /** De-mean over a partition (baroclinic zero-mean, process_adcp.py:1682,1959). */
  def demean(c: Column, parts: Seq[Column]): Column =
    c - avg(c).over(Window.partitionBy(parts: _*))

  /** Reverse running count of finite values — bottom-N-bins masks
    * (process_adcp.py:1756-1759). A descending RUNNING frame: an
    * unbounded-FOLLOWING frame would be re-evaluated from scratch per row
    * by Spark (O(n^2) per partition).
    */
  def countFromEnd(c: Column, orderCols: Seq[Column], parts: Seq[Column] = Nil): Column =
    count(c).over(
      ordered(orderCols.map(_.desc), parts).rowsBetween(Window.unboundedPreceding, 0))
}
