package graft.core

import org.apache.spark.sql.{DataFrame, SortedSweep}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._

/** Temporal-alignment joins — the reference's `interp` linear-interpolation
  * join (seaexplorertools/process_adcp.py:144-146 and its 12 call sites) and
  * the nearest-neighbor time match used by bottom-track processing
  * (process_adcp.py:1503-1507,1521-1525,1586-1595).
  *
  * Both are one sort and one sweep: union the source knots with the
  * destination probes, cluster by the partition keys (one partition
  * without keys), sort each partition by key, x, knots first at equal x,
  * and stream it once ([[SortedSweep]]). The sweep keeps the last knot
  * (per value column for `interpolate`) and queues each probe until the
  * next knot it needs arrives; a key change or the partition's end settles
  * the rest. The queue holds at most the probes between two knots, and
  * never more than one key's rows, so with partition keys the state is
  * bounded per key and the plan scales horizontally.
  *
  * In both functions a source row with a null x is not a knot, and a probe
  * with a null x gets nulls. Null partition keys form their own group.
  */
object InterpJoin {

  private val SRC = "__ij_is_src"
  private val X = "__ij_x"

  /** For each row of `dst`, linearly interpolate each of `valueCols` from
    * `src` as a function of `xCol` (both sides; numeric or castable to
    * double), within `partitionCols` groups. Null outside the source hull,
    * exact at knots (a knot at the probe's x is its previous knot),
    * null-valued source knots dropped per column (np.interp over
    * nan-filtered pairs — reference `interp`), so every column has its own
    * knot set.
    *
    * Output: all columns of `dst` plus one interpolated column per value
    * column, named `outPrefix + valueCol`.
    */
  def interpolate(
      src: DataFrame,
      dst: DataFrame,
      xCol: String,
      valueCols: Seq[String],
      partitionCols: Seq[String] = Nil,
      outPrefix: String = "interp_"): DataFrame = {
    val n = valueCols.size
    sweep(src, dst, xCol, valueCols, partitionCols, outPrefix)(
      (ords, sameKey) => rows => new InterpSweep(rows, ords, sameKey, n))
  }

  /** For each row of `dst`, attach the `valueCols` of the nearest `src` row
    * by |x_dst - x_src| within `partitionCols`; ties break toward the earlier
    * source row (argmin-first, matching np.argmin on |dt| at
    * process_adcp.py:1503-1507). A knot whose values are null still
    * matches and brings its nulls. `tolerance` (same units as x) optionally
    * nulls matches farther than the bound.
    */
  def nearest(
      src: DataFrame,
      dst: DataFrame,
      xCol: String,
      valueCols: Seq[String],
      partitionCols: Seq[String] = Nil,
      tolerance: Option[Double] = None,
      outPrefix: String = "nearest_"): DataFrame = {
    val n = valueCols.size
    sweep(src, dst, xCol, valueCols, partitionCols, outPrefix)(
      (ords, sameKey) => rows => new NearestSweep(rows, ords, sameKey, n, tolerance))
  }

  private def sweep(src: DataFrame, dst: DataFrame, xCol: String,
      valueCols: Seq[String], partitionCols: Seq[String], outPrefix: String)(
      f: SortedSweep.Sweep): DataFrame = {
    val vals = valueCols.map(c => s"__ij_v_$c")
    val outs = valueCols.map(outPrefix + _)
    val srcPrep = src.select(
      (partitionCols.map(col) :+ col(xCol).cast("double").as(X) :+ lit(1).as(SRC)) ++
        valueCols.zip(vals).map { case (c, a) => col(c).cast("double").as(a) }: _*)
    val dstPrep = dst
      .withColumn(X, col(xCol).cast("double"))
      .withColumn(SRC, lit(0))
    SortedSweep(dstPrep.unionByName(srcPrep, allowMissingColumns = true),
      keys = partitionCols, order = Seq(X -> true, SRC -> false),
      reads = X +: SRC +: vals, keep = dst.columns.toSeq.filterNot(outs.contains),
      added = outs)(f)
  }

  // Spark SQL's double comparison: NaN equals NaN and sorts above every
  // other value, -0.0 equals 0.0
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** A probe waiting for knots: its row (copied out of the sorter's
    * buffer), its x, its output values and how many are still open.
    */
  private final class Probe(val row: InternalRow, val x: Double, n: Int) {
    val out = new Array[Any](n)
    var open = 0
  }

  /** The walk both joins share: split the sorted partition into key groups,
    * hand knots and probes to the join, and hand out the probes the join
    * has settled. Reads x at `ords(0)`, the knot flag at `ords(1)` and the
    * values from `ords(2)` on.
    */
  private abstract class Sweep(rows: Iterator[InternalRow], ords: Seq[Int],
      sameKey: (InternalRow, InternalRow) => Boolean, n: Int)
      extends Iterator[InternalRow] {
    private val xOrd = ords(0)
    private val srcOrd = ords(1)
    protected val valueOrds: Array[Int] = ords.drop(2).toArray
    private val settled = new java.util.ArrayDeque[InternalRow]()
    private var group: InternalRow = null

    protected def knot(row: InternalRow, x: Double): Unit
    protected def probe(p: Probe): Unit
    /** Settle every waiting probe as having no next knot; reset. */
    protected def endGroup(): Unit

    protected def settle(p: Probe): Unit =
      settled.add(new JoinedRow(p.row, new GenericInternalRow(p.out)))

    override def hasNext: Boolean = {
      while (settled.isEmpty && rows.hasNext) {
        val row = rows.next()
        if (group == null || !sameKey(group, row)) {
          if (group != null) endGroup()
          group = row.copy()
        }
        val isKnot = row.getInt(srcOrd) == 1
        if (row.isNullAt(xOrd)) {
          if (!isKnot) settle(new Probe(row.copy(), Double.NaN, n))
        } else if (isKnot) knot(row, row.getDouble(xOrd))
        else probe(new Probe(row.copy(), row.getDouble(xOrd), n))
      }
      if (settled.isEmpty && group != null) {
        endGroup()
        group = null
      }
      !settled.isEmpty
    }

    override def next(): InternalRow =
      if (hasNext) settled.poll() else throw new NoSuchElementException
  }

  /** Linear interpolation: per value column the last non-null knot, and
    * the probes waiting for that column's next one.
    */
  private final class InterpSweep(rows: Iterator[InternalRow], ords: Seq[Int],
      sameKey: (InternalRow, InternalRow) => Boolean, n: Int)
      extends Sweep(rows, ords, sameKey, n) {
    private val has = new Array[Boolean](n)
    private val x0 = new Array[Double](n)
    private val y0 = new Array[Double](n)
    private val waiting = Array.fill(n)(new scala.collection.mutable.ArrayBuffer[Probe]())

    private def close(p: Probe): Unit = {
      p.open -= 1
      if (p.open == 0) settle(p)
    }

    protected def knot(row: InternalRow, x1: Double): Unit = {
      var c = 0
      while (c < n) {
        if (!row.isNullAt(valueOrds(c))) {
          val y1 = row.getDouble(valueOrds(c))
          val w = waiting(c)
          // every waiting probe lies strictly between the knots (x0, x1)
          w.foreach { p =>
            p.out(c) = y0(c) + (y1 - y0(c)) * (p.x - x0(c)) / (x1 - x0(c))
            close(p)
          }
          w.clear()
          has(c) = true; x0(c) = x1; y0(c) = y1
        }
        c += 1
      }
    }

    protected def probe(p: Probe): Unit = {
      var c = 0
      while (c < n) {
        if (has(c)) {
          if (cmp(x0(c), p.x) == 0) p.out(c) = y0(c)
          else { waiting(c) += p; p.open += 1 }
        }
        c += 1
      }
      if (p.open == 0) settle(p)
    }

    protected def endGroup(): Unit = {
      var c = 0
      while (c < n) {
        waiting(c).foreach(close)
        waiting(c).clear()
        has(c) = false
        c += 1
      }
    }
  }

  /** Nearest match: the last knot, and the probes after it waiting for
    * the next one.
    */
  private final class NearestSweep(rows: Iterator[InternalRow], ords: Seq[Int],
      sameKey: (InternalRow, InternalRow) => Boolean, n: Int,
      tolerance: Option[Double]) extends Sweep(rows, ords, sameKey, n) {
    private var has = false
    private var x0 = 0.0
    private var y0: Array[Any] = null
    private val waiting = new scala.collection.mutable.ArrayBuffer[Probe]()

    /** Settle `p` between the last knot and the next one (x1, y1), when
      * there is a next one.
      */
    private def matchTo(p: Probe, next: Boolean, x1: Double, y1: Array[Any]): Unit = {
      val dPrev = math.abs(p.x - x0)
      val dNext = math.abs(x1 - p.x)
      val usePrev = !next || (has && cmp(dPrev, dNext) <= 0)
      if (!usePrev || has) {
        val d = if (usePrev) dPrev else dNext
        if (tolerance.forall(t => cmp(d, t) <= 0))
          System.arraycopy(if (usePrev) y0 else y1, 0, p.out, 0, n)
      }
      settle(p)
    }

    protected def knot(row: InternalRow, x1: Double): Unit = {
      val y1 = Array.tabulate[Any](n)(c =>
        if (row.isNullAt(valueOrds(c))) null else row.getDouble(valueOrds(c)))
      waiting.foreach(matchTo(_, next = true, x1, y1))
      waiting.clear()
      has = true; x0 = x1; y0 = y1
    }

    protected def probe(p: Probe): Unit =
      // on the last knot: no next knot can be nearer
      if (has && math.abs(p.x - x0) == 0.0) matchTo(p, next = false, 0.0, null)
      else waiting += p

    protected def endGroup(): Unit = {
      waiting.foreach(matchTo(_, next = false, 0.0, null))
      waiting.clear()
      has = false
    }
  }
}
