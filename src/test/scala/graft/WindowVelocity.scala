package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.core.{InterpJoin, Windows}
import graft.functions.Teos10
import graft.pipeline.GridOutput

/** The ordered-window formulation of the velocity leg's ordered steps —
  * `GliderStages.getDac`, `GridOutput.referenceShear` and calc_bias's
  * bias columns — kept in the test sources only as the oracle their sorted
  * sweeps are checked against: every running sum, reset, lag and fill is a
  * Spark window over the samples (time order) or the grid (ybin order).
  */
object WindowVelocity {

  /** Backward fill (pandas bfill; process_adcp.py:1405-1406) as a
    * descending-order running `last`.
    */
  def bfill(c: Column, orderCols: Seq[Column], parts: Seq[Column] = Nil): Column =
    last(c, ignoreNulls = true).over(
      Windows.ordered(orderCols.map(_.desc), parts)
        .rowsBetween(Window.unboundedPreceding, 0))

  /** Running integral `cumsum(v * dt)` over an ordered time axis —
    * dead-reckoning displacement (process_adcp.py:1345-1346).
    */
  def integrate(v: Column, t: Column, w: WindowSpec): Column =
    Windows.cumsum(v * (t - lag(t, 1).over(w)), w)

  private val gpsFix = col("dead_reckoning") < 1.0 && col("nav_resource") === 116.0

  def getDac(adcp: DataFrame, glider: DataFrame,
      missionCols: Seq[String] = Nil): DataFrame = {
    val mCols = missionCols.map(col)
    val wT = Windows.ordered(Seq(col("time_ns")), mCols)
    val withHeading = InterpJoin.interpolate(
      adcp.select((missionCols ++ Seq("time_ns", "heading")).map(col): _*),
      glider, "time_ns", Seq("heading"), missionCols, "adcp_")
    val t = col("date_float") * 1e-9
    val vgE = coalesce(col("speed_horz") * sin(radians(col("adcp_heading"))), lit(0.0))
    val vgN = coalesce(col("speed_horz") * cos(radians(col("adcp_heading"))), lit(0.0))
    val base = withHeading
      .withColumn("t", t)
      .withColumn("speed_e", vgE)
      .withColumn("speed_n", vgN)
      .withColumn("de", coalesce(integrate(col("speed_e"), col("t"), wT), lit(0.0)))
      .withColumn("dn", coalesce(integrate(col("speed_n"), col("t"), wT), lit(0.0)))
      .withColumn("de", Windows.resetAtAnchor(col("de"), gpsFix, wT))
      .withColumn("dn", Windows.resetAtAnchor(col("dn"), gpsFix, wT))
      .withColumn("de_prev", lag(col("de"), 1).over(wT))
      .withColumn("dn_prev", lag(col("dn"), 1).over(wT))
      .withColumn("gps", gpsFix)

    val firstLast = base.where(col("gps"))
      .groupBy(mCols :+ col("dive_number").as("dive"): _*)
      .agg(
        min_by(struct(col("latitude"), col("longitude"), col("t"), col("de_prev"), col("dn_prev")), col("time_ns")).as("first_gps"),
        max_by(struct(col("latitude"), col("longitude"), col("t")), col("time_ns")).as("last_gps"))
      .select(mCols ++ Seq(col("dive"),
        col("first_gps.latitude").as("surf_lat"), col("first_gps.longitude").as("surf_lon"),
        col("first_gps.t").as("surf_time"),
        col("first_gps.de_prev").as("de_at_surf"), col("first_gps.dn_prev").as("dn_at_surf"),
        col("last_gps.latitude").as("dive_lat"), col("last_gps.longitude").as("dive_lon"),
        col("last_gps.t").as("dive_time")): _*)

    val wD = Windows.ordered(Seq(col("dive")), mCols)
    val paired = firstLast
      .withColumn("next_surf_lat", lead(col("surf_lat"), 1).over(wD))
      .withColumn("next_surf_lon", lead(col("surf_lon"), 1).over(wD))
      .withColumn("next_surf_time", lead(col("surf_time"), 1).over(wD))
      .withColumn("dr_e", lead(col("de_at_surf"), 1).over(wD))
      .withColumn("dr_n", lead(col("dn_at_surf"), 1).over(wD))
      .where(col("next_surf_time").isNotNull)
      .withColumn("gps_e", (col("next_surf_lon") - col("dive_lon")) *
        Teos10.lonToMeters(col("dive_lon"), col("dive_lat")))
      .withColumn("gps_n", (col("next_surf_lat") - col("dive_lat")) *
        Teos10.latToMeters(col("dive_lon"), col("dive_lat")))
      .withColumn("dt", col("next_surf_time") - col("dive_time"))
      .withColumn("meant", (col("next_surf_time") + col("dive_time")) / 2.0)
      .withColumn("dac_e", (col("gps_e") - col("dr_e")) / col("dt"))
      .withColumn("dac_n", (col("gps_n") - col("dr_n")) / col("dt"))
      .select((missionCols ++ Seq("meant", "dac_e", "dac_n")).map(col): _*)

    val dac = InterpJoin.interpolate(
      paired.withColumnRenamed("meant", "t"), base.drop("de_prev", "dn_prev", "gps"),
      "t", Seq("dac_e", "dac_n"), missionCols, "i_")
    dac
      .withColumn("dac_e", Windows.ffill(bfill(col("i_dac_e"), Seq(col("time_ns")), mCols), wT))
      .withColumn("dac_n", Windows.ffill(bfill(col("i_dac_n"), Seq(col("time_ns")), mCols), wT))
      .drop("i_dac_e", "i_dac_n")
  }

  /** ADCP_E / ADCP_N by six windows per letter over each profile column. */
  def referenceShear(grid0: DataFrame, axes: GridOutput.Axes, yRes: Double,
      letters: Seq[String] = Seq("e", "n")): DataFrame = {
    val wCum = axes.wCol.orderBy("ybin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wCol = axes.wCol
    val spb0 = when(col("speed_vert").isNull, lit(null).cast("double"))
      .when(col("speed_vert") === 0.0, lit(0.0))
      .otherwise(lit(yRes) / col("speed_vert"))
    val based = grid0.withColumn("__spb0", spb0)
    val stdDf = (if (axes.missionCols.isEmpty) based.groupBy()
                 else based.groupBy(axes.missionCols.map(col): _*))
      .agg(stddev_pop(col("__spb0")).as("__spb_std"))
    val joined =
      if (axes.missionCols.isEmpty) based.crossJoin(broadcast(stdDf))
      else based.join(broadcast(stdDf), axes.missionCols)
    val clipped = joined.withColumn("__spb",
      when(abs(col("__spb0")) > col("__spb_std"), col("__spb_std"))
        .otherwise(col("__spb0")))
    letters.foldLeft(clipped) { (g, l) =>
      val sh = col(s"Sh_${l.toUpperCase}")
      val g2 = g
        .withColumn("__vi",
          when(sh.isNotNull, sum(coalesce(sh, lit(0.0))).over(wCum) * yRes))
        .withColumn("__vr", col("__vi") - avg(col("__vi")).over(wCol))
      val ref = avg(col(s"dac_$l")).over(wCol) -
        sum(col("__vr") * col("__spb")).over(wCol) / sum(col("__spb")).over(wCol)
      g2.withColumn(s"ADCP_${l.toUpperCase}", col("__vr") + ref)
        .drop("__vi", "__vr")
    }.drop("__spb0", "__spb", "__spb_std")
  }

  private def finiteCol(c: Column): Column = c.isNotNull && !isnan(c)

  /** calc_bias's `__bias_e` / `__bias_n` by two windows per letter. */
  def biasColumns(out: DataFrame, axes: GridOutput.Axes): DataFrame = {
    val wCum = axes.wCol.orderBy("ybin")
      .rowsBetween(Window.unboundedPreceding, 0)
    Seq("e", "n").foldLeft(out) { (g, l) =>
      val sp = col(s"speed_$l")
      val raw = when(finiteCol(sp),
        sum(when(finiteCol(sp), sp).otherwise(lit(0.0))).over(wCum))
      g.withColumn(s"__bias_$l", raw)
        .withColumn(s"__bias_$l",
          col(s"__bias_$l") -
            coalesce(avg(col(s"__bias_$l")).over(axes.wCol), lit(0.0)))
    }
  }
}
