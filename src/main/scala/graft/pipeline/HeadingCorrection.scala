package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{CacheScope, Optimize}

/** Compass calibration + tilt-compensated heading
  * (correct_heading / _heading_correction, process_adcp.py:313-460).
  *
  * The hard+soft-iron model `out = A(3x3) @ ([x,y,z] - B)` has 12 free
  * coefficients solved by Nelder-Mead where each objective evaluation is the
  * RMSD of the calibrated field magnitude against the geomagnetic target
  * (the reference fetches the target from the BGS IGRF service driver-side;
  * here it arrives via Options). The magnetometer triple is tiny (3 doubles
  * per ping), so below a row threshold the objective follows the
  * reference's effective execution — collect once, iterate in memory; above
  * it the identical RMSD runs as a cached-DataFrame aggregate per solver
  * step, keeping driver memory O(1) at fleet scale (SURVEY.md §2.8).
  */
object HeadingCorrection {

  final case class Calibration(a: Array[Double], b: Array[Double], rmsd: Double)

  private def applyCal(c: Array[Double], x: Double, y: Double, z: Double): (Double, Double, Double) = {
    val dx = x - c(9); val dy = y - c(10); val dz = z - c(11)
    (c(0) * dx + c(1) * dy + c(2) * dz,
      c(3) * dx + c(4) * dy + c(5) * dz,
      c(6) * dx + c(7) * dy + c(8) * dz)
  }

  /** Solve the 12-coefficient calibration against the target field
    * magnitude (milligauss), scipy-fmin defaults (process_adcp.py:389-397).
    *
    * Below `collectThreshold` rows the objective iterates over a collected
    * array (the reference's effective execution — 3 doubles per ping).
    * Above it, the same RMSD is evaluated as an aggregate over a cached
    * 3-column DataFrame per Nelder-Mead step: driver memory stays O(1)
    * regardless of ping count, at the cost of one Spark job per objective
    * evaluation — the scale path for missions beyond driver RAM.
    */
  def solve(adcp: DataFrame, targetMilligauss: Double,
      collectThreshold: Long = 10000000L,
      maxIter: Int = 2400): Calibration = {
    val mag3 = adcp.select(col("mag_x").cast("double"),
      col("mag_y").cast("double"), col("mag_z").cast("double"))
      .na.drop()
      .toDF("mag_x", "mag_y", "mag_z")
    val x0 = Array(1.0, 0, 0, 0, 1.0, 0, 0, 0, 1.0, 0, 0, 0)

    val nRows = mag3.count()
    if (nRows <= collectThreshold) {
      val mag = mag3.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      def objective(c: Array[Double]): Double = {
        var s = 0.0
        var i = 0
        while (i < mag.length) {
          val (cx, cy, cz) = applyCal(c, mag(i)._1, mag(i)._2, mag(i)._3)
          val d = math.sqrt(cx * cx + cy * cy + cz * cz) - targetMilligauss
          s += d * d
          i += 1
        }
        math.sqrt(s / mag.length)
      }
      val r = Optimize.nelderMead(objective, x0, maxIter = maxIter, maxFun = maxIter)
      Calibration(r.x.take(9), r.x.drop(9), r.fx)
    } else {
      CacheScope.using { scope =>
        val cached = scope.persist(mag3)
        def objective(c: Array[Double]): Double = {
          val dx = col("mag_x") - c(9)
          val dy = col("mag_y") - c(10)
          val dz = col("mag_z") - c(11)
          val cx = lit(c(0)) * dx + lit(c(1)) * dy + lit(c(2)) * dz
          val cy = lit(c(3)) * dx + lit(c(4)) * dy + lit(c(5)) * dz
          val cz = lit(c(6)) * dx + lit(c(7)) * dy + lit(c(8)) * dz
          val d = sqrt(cx * cx + cy * cy + cz * cz) - targetMilligauss
          cached.agg(sqrt(avg(d * d))).first().getDouble(0)
        }
        val r = Optimize.nelderMead(objective, x0, maxIter = maxIter, maxFun = maxIter)
        Calibration(r.x.take(9), r.x.drop(9), r.fx)
      }
    }
  }

  /** Tilt-compensated heading from calibrated-magnetometer coefficient
    * COLUMNS (process_adcp.py:359-373): rot_x/rot_y pitch-roll
    * compensation, heading = wrap(atan2d(rot_x, rot_y) - 90), then
    * + declination. The mount sign flips y and z for top-mounted units
    * (:341-343). Coefficients arrive as Columns so per-mission calibrations
    * (broadcast dim-join) and plan-literal scalars share one formula.
    */
  private def applyHeading(opts: Options, adcp0: DataFrame,
      a: IndexedSeq[Column], b: IndexedSeq[Column]): DataFrame = {
    // idempotence guard (correct_heading, :452-456): re-running resets to
    // the original heading first
    val adcp = if (adcp0.columns.contains("heading_old"))
      adcp0.drop("heading").withColumnRenamed("heading_old", "heading")
    else adcp0
    val sign = if (opts.topMounted) -1.0 else 1.0
    val dx = col("mag_x") - b(0)
    val dy = col("mag_y") - b(1)
    val dz = col("mag_z") - b(2)
    val cx = a(0) * dx + a(1) * dy + a(2) * dz
    val cy = (a(3) * dx + a(4) * dy + a(5) * dz) * sign
    val cz = (a(6) * dx + a(7) * dy + a(8) * dz) * sign
    val p = radians(col("pitch")); val r = radians(col("roll"))
    val rotX = cx * cos(p) + cy * sin(r) * sin(p) + cz * cos(r) * sin(p)
    val rotY = cy * cos(r) - cz * sin(r)
    val hdg = pmod(degrees(atan2(rotX, rotY)) - 90.0 + 360.0, lit(360.0))
    adcp
      .withColumnRenamed("heading", "heading_old")
      .withColumn("heading", pmod(hdg + col("declination") + 360.0, lit(360.0)))
  }

  def correctedHeading(opts: Options, cal: Calibration)(adcp0: DataFrame): DataFrame =
    applyHeading(opts, adcp0,
      cal.a.toIndexedSeq.map(lit), cal.b.toIndexedSeq.map(lit))

  /** Per-mission calibration solve + apply (the reference's cardinality:
    * one magnetometer solve per mission against that mission's own field
    * target, process_adcp.py:315-339 + :389-397). Mission keys come from
    * the data; `targets` supplies each key's field strength in milligauss
    * (e.g. from [[GliderStages.applyGeomagPerMission]]) with
    * `opts.geomagTargetMilligauss` as the fallback. The magnetometer
    * projection (3 doubles + mission keys per ping) is persisted once and
    * each mission's solve filters it; the solved 12-coefficient rows join
    * back as a broadcast dim-frame (null-safe on mission keys) so the
    * heading expression stays one codegen'd projection.
    */
  def perMission(opts: Options, targets: Map[Seq[Any], Double],
      missionCols: Seq[String])(adcp: DataFrame): DataFrame =
    applyPerMission(opts, solvePerMission(adcp, targets, missionCols,
      opts.geomagTargetMilligauss), missionCols)(adcp)

  /** One calibration solve per mission key, each against that mission's own
    * field target (`fallbackTarget` for keys absent from `targets`). The
    * magnetometer projection (3 doubles + mission keys per ping) is
    * persisted once and every mission's solve filters it null-safely.
    */
  def solvePerMission(adcp: DataFrame, targets: Map[Seq[Any], Double],
      missionCols: Seq[String],
      fallbackTarget: Double): Seq[(Seq[Any], Calibration)] = {
    require(missionCols.nonEmpty, "solvePerMission needs mission columns")
    CacheScope.using { scope =>
      val mag = scope.persist(adcp
        .select((missionCols ++ Seq("mag_x", "mag_y", "mag_z")).map(col): _*)
        .na.drop(Seq("mag_x", "mag_y", "mag_z")))
      val keys = mag.select(missionCols.map(col): _*).distinct()
        .collect().map(_.toSeq.toList: Seq[Any])
        .sortBy(_.map(String.valueOf).mkString(""))
      def eq(c: String, v: Any): Column =
        if (v == null) col(c).isNull else col(c) <=> lit(v)
      keys.map { k =>
        val cond = missionCols.zip(k).map((eq _).tupled).reduce(_ && _)
        k -> solve(mag.where(cond), targets.getOrElse(k, fallbackTarget))
      }
    }
  }

  /** Apply per-mission calibrations as a broadcast dim-join of the 12
    * coefficient columns — one codegen'd heading projection, null-safe on
    * mission keys.
    */
  def applyPerMission(opts: Options, cals: Seq[(Seq[Any], Calibration)],
      missionCols: Seq[String])(adcp: DataFrame): DataFrame = {
    val coefNames =
      (0 until 9).map(i => s"__cal_a$i") ++ (0 until 3).map(i => s"__cal_b$i")
    val dimSchema = org.apache.spark.sql.types.StructType(
      missionCols.map(c => adcp.schema(c)) ++ coefNames.map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.DoubleType)))
    val dimRows = cals.map { case (k, c) =>
      org.apache.spark.sql.Row.fromSeq(k ++ (c.a ++ c.b).toSeq)
    }
    import scala.jdk.CollectionConverters._
    val dim0 = adcp.sparkSession.createDataFrame(dimRows.asJava, dimSchema)
    val dim = missionCols.foldLeft(dim0)(
      (d, c) => d.withColumnRenamed(c, s"__mc_$c"))
    val cond = missionCols.map(c => adcp(c) <=> dim(s"__mc_$c")).reduce(_ && _)
    val joined = adcp.join(broadcast(dim), cond, "left")
      .drop(missionCols.map(c => s"__mc_$c"): _*)
    applyHeading(opts, joined,
      (0 until 9).map(i => col(s"__cal_a$i")),
      (0 until 3).map(i => col(s"__cal_b$i")))
      .drop(coefNames: _*)
  }

  /** Full stage: solve + apply. */
  def apply(opts: Options)(adcp: DataFrame): DataFrame =
    correctedHeading(opts, solve(adcp, opts.geomagTargetMilligauss))(adcp)
}
