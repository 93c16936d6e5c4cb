package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.CacheScope
import graft.pipeline._

/** The velocity leg's sorted sweeps — `GliderStages.getDac` and the
  * per-profile-column pass of `GridOutput.referenceShear` / `calcBias` —
  * against their window formulation ([[WindowVelocity]]). getDac adds its
  * running sums in the same order as the windows, so its output must be
  * bit-equal; the grid steps' whole-column means and sums add in a
  * different order (the window `avg` in exchange order), so they agree to
  * 1e-12 relative.
  */
class VelocitySweepSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  val spark = TestSpark.spark
  import spark.implicits._

  private val t0 = 1700000000000000000L

  /** Random glider and ADCP timelines for three missions that overlap in
    * time: GPS gaps, a dive with no fix (mission 1), a mission with a
    * single dive (mission 3), null date_float and heading stretches, ADCP
    * pings starting after the first samples and ending before the last.
    */
  private def timelines(seed: Int): (DataFrame, DataFrame) = {
    val rnd = new Random(seed)
    val glider = ArrayBuffer[(Int, Long, Option[Double], Double, Double,
      Option[Double], Double, Double, Double)]()
    val adcp = ArrayBuffer[(Int, Long, Option[Double])]()
    for (m <- 1 to 3) {
      val dives = if (m == 3) 1 else 3 + rnd.nextInt(3)
      var s = rnd.nextInt(50).toLong
      var lat = 57.0 + rnd.nextDouble(); var lon = 11.0 + rnd.nextDouble()
      var nullDates = 0
      for (d <- 1 to dives) {
        val fixes = if (m == 1 && d == 2) 0 else 2 + rnd.nextInt(4)
        for (i <- 0 until fixes + 40 + rnd.nextInt(40)) {
          val gps = i < fixes
          s += (if (gps && rnd.nextDouble() < 0.3) 25 + rnd.nextInt(60) else 1 + rnd.nextInt(3))
          if (nullDates == 0 && rnd.nextDouble() < 0.03) nullDates = 1 + rnd.nextInt(6)
          val ns = t0 + s * 1000000000L
          val date = if (nullDates > 0) { nullDates -= 1; None } else Some(ns.toDouble)
          lat += (rnd.nextDouble() - 0.5) * 1e-4
          lon += (rnd.nextDouble() - 0.3) * 1e-4
          val speed = if (rnd.nextDouble() < 0.03) None else Some(0.2 + 0.1 * rnd.nextDouble())
          glider += ((m, ns, date, lat, lon, speed,
            if (gps) 0.0 else 2.0, if (gps) 116.0 else 0.0, d.toDouble))
        }
      }
      val first = glider.filter(_._1 == m).head._2
      val last = glider.filter(_._1 == m).last._2
      var p = first + 10 * 1000000000L
      var nullHeadings = 0
      while (p < last - 5 * 1000000000L) {
        if (nullHeadings == 0 && rnd.nextDouble() < 0.05) nullHeadings = 3 + rnd.nextInt(6)
        val h = if (nullHeadings > 0) { nullHeadings -= 1; None }
                else Some(rnd.nextDouble() * 360.0)
        adcp += ((m, p, h))
        p += (2 + rnd.nextInt(3)) * 1000000000L + rnd.nextInt(1000)
      }
    }
    (adcp.toSeq.toDF("m", "time_ns", "heading"),
      glider.toSeq.toDF("m", "time_ns", "date_float", "latitude", "longitude",
        "speed_horz", "dead_reckoning", "nav_resource", "dive_number"))
  }

  /** A sparse random grid: per (mission, xbin) column most ybins present,
    * nulls in every input, NaN speeds, zero and null vertical speeds (the
    * first cell of each column has a non-zero one, so no column's SpB sums
    * to 0).
    */
  private def randomGrid(seed: Int, missions: Int): DataFrame = {
    val rnd = new Random(seed)
    def v(scale: Double, pNull: Double): Option[Double] =
      if (rnd.nextDouble() < pNull) None else Some((rnd.nextDouble() - 0.5) * scale)
    (for (m <- 1 to missions; x <- 0L until 6L; y <- 0L until 12L
          if y == 0 || rnd.nextDouble() < 0.8) yield {
      val p = rnd.nextDouble()
      val vert =
        if (y == 0) Some(0.05 + 0.1 * rnd.nextDouble())
        else if (p < 0.08) Some(0.0)
        else if (p < 0.15) None
        else Some(math.signum(p - 0.55) * (0.02 + 0.2 * rnd.nextDouble()))
      val speedE = if (rnd.nextDouble() < 0.05) Some(Double.NaN) else v(0.5, 0.1)
      (m, x, y, v(0.01, 0.15), v(0.01, 0.15), v(0.2, 0.1), v(0.2, 0.1), vert,
        speedE, v(0.5, 0.1))
    }).toDF("m", "xbin", "ybin", "Sh_E", "Sh_N", "dac_e", "dac_n", "speed_vert",
      "speed_e", "speed_n")
  }

  private def gridAxes(missionCols: Seq[String]): GridOutput.Axes =
    GridOutput.Axes(12.0, 0.5, missionCols, Seq((0.0, 0L)).toDF("profile_number", "xbin"), 6L)

  private def sorted(df: DataFrame, key: Seq[String]): Seq[Row] =
    df.orderBy(key.map(col): _*).collect().toSeq

  private def assertBitEqual(got: DataFrame, want: DataFrame, key: Seq[String]): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    def bits(r: Row): Seq[Any] = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    }
    val (g, w) = (sorted(got, key), sorted(want, key))
    assert(g.length == w.length)
    g.zip(w).foreach { case (a, b) =>
      assert(bits(a) == bits(b), s"\n sweep:  $a\n window: $b")
    }
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  private def assertClose(got: DataFrame, want: DataFrame, key: Seq[String],
      cols: Seq[String]): Unit = {
    val (g, w) = (sorted(got.select(cols.map(col): _*), key),
      sorted(want.select(cols.map(col): _*), key))
    assert(g.length == w.length)
    g.zip(w).foreach { case (a, b) =>
      assert(a.toSeq.zip(b.toSeq).forall { case (x, y) => close(x, y) },
        s"\n sweep:  $a\n window: $b")
    }
  }

  private val velocityCols = Seq("ADCP_E", "ADCP_N")
  private val biasCols = Seq("__bias_e", "__bias_n")

  /** referenceShear (ADCP and bias columns) and calcBias against the
    * window forms on one grid.
    */
  private def checkGrid(grid0: DataFrame, axes: GridOutput.Axes): Unit = {
    val key = axes.key
    val ref = GridOutput.referenceShear(grid0, axes, axes.yRes)
    val want = WindowVelocity.referenceShear(grid0, axes, axes.yRes)
    assert(ref.columns.toSeq == want.columns.toSeq ++ biasCols)
    val wantBias = WindowVelocity.biasColumns(want, axes)
    assertClose(ref, wantBias, key, key ++ want.columns.filterNot(key.contains) ++ biasCols)
    assertClose(GridOutput.calcBias(ref, axes, spark),
      GridOutput.calcBias(wantBias, axes, spark), key, key ++ velocityCols)
    // the bias alone, on a grid the referencing has not seen
    assertClose(GridOutput.calcBias(want, axes, spark),
      GridOutput.calcBias(wantBias, axes, spark), key, key ++ velocityCols)
  }

  test("getDac is bit-equal to the window form on random keyed timelines") {
    Seq(3, 17).foreach { seed =>
      val (adcp, glider) = timelines(seed)
      val got = GliderStages.getDac(adcp, glider, Seq("m"))
      // a single dive closes no loop (a fix with a null date_float closes
      // none either); a mission with a closed loop spreads its DAC over
      // every sample
      val missing = got.groupBy("m").agg(count(when(col("dac_e").isNull, 1)))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val total = got.groupBy("m").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(missing(3) == total(3) && missing.values.exists(_ == 0L),
        s"$missing of $total")
      assertBitEqual(got, WindowVelocity.getDac(adcp, glider, Seq("m")),
        Seq("m", "time_ns"))
    }
  }

  test("getDac is bit-equal to the window form on one unkeyed mission") {
    val (adcp, glider) = timelines(5)
    val one = glider.where(col("m") === 1).drop("m")
    val pings = adcp.where(col("m") === 1).drop("m")
    assertBitEqual(GliderStages.getDac(pings, one),
      WindowVelocity.getDac(pings, one), Seq("time_ns"))
  }

  test("referencing and bias sweeps match the window forms on random grids") {
    checkGrid(randomGrid(9, 3), gridAxes(Seq("m")))
    checkGrid(randomGrid(10, 1).drop("m"), gridAxes(Nil))
  }

  /** The fixture mission (or two time-shifted keyed copies of it) through
    * shear, then getDac and the grid steps against the window forms.
    */
  private def fixtureRun(missionCols: Seq[String]): Unit = CacheScope.using { s =>
    val shift = 10000000000000L
    def tag(df: DataFrame, m: Int) =
      if (missionCols.isEmpty) df
      else df.withColumn("mission", lit(m))
        .withColumn("time_ns", col("time_ns") + lit(shift * (m - 1)))
    val missions = if (missionCols.isEmpty) Seq(1) else Seq(1, 2)
    val gliderRaw = missions.map(tag(Fixture.glider(spark), _)).reduce(_.unionByName(_))
    val adcpRaw = missions.map(tag(Fixture.adcp(spark), _)).reduce(_.unionByName(_))
    val (shear, glider) = AdcpPipeline.shearFromAdcp(adcpRaw, gliderRaw,
      Fixture.opts, Fixture.cellSize, Fixture.blankingDistance,
      solveHeading = false, missionCols = missionCols, scope = s)
    val dac = s.checkpoint(GliderStages.getDac(shear, glider, missionCols))
    assertBitEqual(dac, WindowVelocity.getDac(shear, glider, missionCols),
      missionCols :+ "time_ns")
    val axes = GridOutput.axes(dac, Fixture.opts, missionCols, s)
    val grid0 = s.checkpoint(GridOutput.gridData(shear, dac, axes))
    checkGrid(grid0, axes)
  }

  test("the fixture mission matches the window forms") {
    fixtureRun(Nil)
  }

  test("two keyed fixture missions match the window forms") {
    fixtureRun(Seq("mission"))
  }

  test("getDac and the referencing step plan no window over samples or cells") {
    val (adcp, glider) = timelines(7)
    val dac = GliderStages.getDac(adcp, glider, Seq("m"))
    dac.collect()
    val windows = collect(dac.queryExecution.executedPlan) { case w: WindowExec => w }
    // the per-dive pairing's leads run over one row per dive
    windows.foreach { w =>
      assert(w.orderSpec.flatMap(_.references.map(_.name)) == Seq("dive"),
        s"a window over the samples:\n$w")
    }
    val axes = gridAxes(Seq("m"))
    Seq(GridOutput.referenceShear(randomGrid(4, 2), axes, axes.yRes),
        GridOutput.calcBias(randomGrid(4, 2).withColumn("ADCP_E", col("Sh_E"))
          .withColumn("ADCP_N", col("Sh_N")), axes, spark)).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case w: WindowExec => w }.isEmpty, s"a window:\n$plan")
      assert(plan.toString.contains("SortedSweep"), plan)
    }
  }
}
