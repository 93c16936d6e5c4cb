package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Windows

/** The ordered-window formulation of [[graft.core.InterpJoin]], kept in the
  * test sources only as the oracle the sort-and-sweep join is checked
  * against: a union of knots and probes, then per value column four
  * running-window `last(...)` passes over two opposite sort orders (the
  * "next knot" is a descending running `last`, never a following frame).
  */
object WindowInterpJoin {

  private val SRC = "__ij_is_src"
  private val X = "__ij_x"

  private def wAsc(parts: Seq[String]) =
    Windows.ordered(Seq(col(X).asc, col(SRC).desc), parts.map(col))
      .rowsBetween(Window.unboundedPreceding, 0)

  // in DESC-x order with SRC asc an equal-x knot is NOT in the running
  // frame, so the equal-x knot is always the previous one
  private def wDesc(parts: Seq[String]) =
    Windows.ordered(Seq(col(X).desc, col(SRC).asc), parts.map(col))
      .rowsBetween(Window.unboundedPreceding, 0)

  private def union(src: DataFrame, dst: DataFrame, xCol: String,
      valueCols: Seq[String], partitionCols: Seq[String]): DataFrame = {
    val srcPrep = src.select(
      (partitionCols.map(col) :+ col(xCol).cast("double").as(X) :+ lit(1).as(SRC)) ++
        valueCols.map(c => col(c).cast("double").as(s"__ij_v_$c")): _*)
    dst.withColumn(X, col(xCol).cast("double")).withColumn(SRC, lit(0))
      .unionByName(srcPrep, allowMissingColumns = true)
  }

  def interpolate(src: DataFrame, dst: DataFrame, xCol: String,
      valueCols: Seq[String], partitionCols: Seq[String] = Nil,
      outPrefix: String = "interp_"): DataFrame = {
    val vals = valueCols.map(c => s"__ij_v_$c")
    val prev = wAsc(partitionCols)
    val next = wDesc(partitionCols)
    valueCols.zip(vals).foldLeft(union(src, dst, xCol, valueCols, partitionCols)) {
      case (df, (out, v)) =>
        val knot = col(SRC) === 1 && col(v).isNotNull
        val x0 = last(when(knot, col(X)), ignoreNulls = true).over(prev)
        val y0 = last(when(knot, col(v)), ignoreNulls = true).over(prev)
        val x1 = last(when(knot, col(X)), ignoreNulls = true).over(next)
        val y1 = last(when(knot, col(v)), ignoreNulls = true).over(next)
        df.withColumn(outPrefix + out,
          when(x0 === col(X), y0)
            .when(x1 === col(X), y1)
            .when(x0.isNotNull && x1.isNotNull,
              y0 + (y1 - y0) * (col(X) - x0) / (x1 - x0)))
    }.where(col(SRC) === 0).drop(SRC, X).drop(vals: _*)
  }

  def nearest(src: DataFrame, dst: DataFrame, xCol: String,
      valueCols: Seq[String], partitionCols: Seq[String] = Nil,
      tolerance: Option[Double] = None,
      outPrefix: String = "nearest_"): DataFrame = {
    val vals = valueCols.map(c => s"__ij_v_$c")
    val prev = wAsc(partitionCols)
    val next = wDesc(partitionCols)
    val knot = col(SRC) === 1
    val x0 = last(when(knot, col(X)), ignoreNulls = true).over(prev)
    val x1 = last(when(knot, col(X)), ignoreNulls = true).over(next)
    val usePrev = x1.isNull || (x0.isNotNull && abs(col(X) - x0) <= abs(x1 - col(X)))
    val base = union(src, dst, xCol, valueCols, partitionCols)
      .withColumn("__ij_x0", x0).withColumn("__ij_x1", x1)
      .withColumn("__ij_use_prev", usePrev)
    valueCols.zip(vals).foldLeft(base) { case (df, (out, v)) =>
      // struct-wrapped so `ignoreNulls` skips probes but keeps null-valued knots
      val y0k = last(when(knot, struct(col(v).as("v"))), ignoreNulls = true)
        .over(prev).getField("v")
      val y1k = last(when(knot, struct(col(v).as("v"))), ignoreNulls = true)
        .over(next).getField("v")
      val matchedDist = when(col("__ij_use_prev"), abs(col(X) - col("__ij_x0")))
        .otherwise(abs(col("__ij_x1") - col(X)))
      val inTol = tolerance.map(t => matchedDist <= lit(t)).getOrElse(lit(true))
      df.withColumn(outPrefix + out,
        when(inTol, when(col("__ij_use_prev"), y0k).otherwise(y1k)))
    }.where(col(SRC) === 0)
      .drop(SRC, X, "__ij_x0", "__ij_x1", "__ij_use_prev").drop(vals: _*)
  }
}
