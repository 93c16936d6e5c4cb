package graft.pipeline

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Teos10
import graft.core.InterpJoin
import graft.plans.ArrayKernels.{affine, combine, gradient, mask, rotate}

/** The reference's elementwise + regrid ADCP stages (SURVEY.md §2.6-2.7) as
  * lazily-composed `DataFrame => DataFrame` functions over the per-ping
  * wide form. Every stage is a narrow map (no shuffle) except `align`
  * (one interp-join sort and sweep) and the correlation aggregate in `regrid`.
  * The per-bin math runs in the native kernels of
  * [[graft.plans.ArrayKernels]]; each stage adds its columns in one
  * projection.
  */
object AdcpStages {

  private def d2r(x: Column): Column = radians(x)

  /** Adds or replaces the columns in one projection, in the given order. */
  private def withCols(df: DataFrame, cols: (String, Column)*): DataFrame =
    df.withColumns(ListMap(cols: _*))

  /** `p·a + q·b` per bin. */
  private def lin(a: Column, b: Column, p: Double, q: Double): Column =
    combine(a, b, lit(p), lit(q))

  /** Glider -> ADCP timeline alignment: linear interpolation of glider
    * lat/lon/profile/salinity/declination/soundspeed onto ping times
    * (process_adcp.py:169-192), then profile number -> banker's round
    * (:181) and depth from pressure (:184).
    */
  def align(adcp: DataFrame, glider: DataFrame,
      missionCols: Seq[String] = Nil): DataFrame = {
    val src = glider.select((missionCols.map(col) ++ Seq(col("time_ns"),
      col("latitude"), col("longitude"),
      col("profile_number"), col("salinity"), col("declination"),
      col("temperature"), col("soundspeed"))): _*)
    InterpJoin.interpolate(src, adcp, "time_ns",
        Seq("latitude", "longitude", "profile_number", "salinity",
          "declination", "temperature", "soundspeed"), missionCols, "g_")
      .withColumn("profile_number", bround(col("g_profile_number")))
      .withColumnsRenamed(Map(
        "g_latitude" -> "latitude", "g_longitude" -> "longitude",
        "g_salinity" -> "salinity", "g_declination" -> "declination",
        "g_temperature" -> "temperature", "g_soundspeed" -> "glider_soundspeed"))
      .drop("g_profile_number")
      .withColumn("depth", Teos10.depthFromPressure(col("pressure"), col("latitude")))
  }

  /** Beam angles from vertical and per-beam cell depths
    * (remapADCPdepth, process_adcp.py:224-310): fore/aft beams at 47.5 deg,
    * side beams at 25 deg; sign of pitch/roll flips with mount orientation;
    * cell depth D_b = Depth - dir * range_bin * cos(theta_b).
    */
  def remapDepth(opts: Options)(adcp: DataFrame): DataFrame = {
    val p = col("pitch"); val r = col("roll")
    val dir = lit(opts.direction.toDouble)
    def theta(aDeg: Double, tilt: Column, other: Column): Column =
      acos(cos(d2r(lit(aDeg) - tilt)) * cos(d2r(other)))
    // top-mounted: (47.5 - P), (25 - R), (47.5 + P), (25 + R); bottom flips
    val s = if (opts.topMounted) 1.0 else -1.0
    val t1 = theta(47.5, p * s, r)
    val t2 = theta(25.0, r * s, p)
    val t3 = theta(47.5, -p * s, r)
    val t4 = theta(25.0, -r * s, p)
    // depth - dir*z*cos(th) == depth + (-dir*cos(th))*z exactly: dir is ±1
    withCols(adcp, Seq(("1", t1), ("2", t2), ("3", t3), ("4", t4)).map {
      case (b, th) => s"d$b" -> affine(col("ranges"), -dir * cos(th), col("depth"))
    }: _*)
  }

  /** First-bin discard (notebook cell 48 / tests/test_adcp_processing.py:16
    * `ADCP_discardFirstBins`): drop the first n range bins from every
    * per-bin array.
    */
  def discardFirstBins(n: Int)(adcp: DataFrame): DataFrame =
    if (n <= 0) adcp
    else {
      val arrayCols = Seq("ranges") ++
        Schema.beams.flatMap(b => Seq(s"vel$b", s"corr$b", s"amp$b"))
      // the length is what is left, not Int.MaxValue: Spark's interpreted
      // slice adds it to the start and overflows to an empty array
      withCols(adcp, arrayCols.map(c =>
        c -> slice(col(c), lit(n + 1), greatest(size(col(c)) - n, lit(0)))): _*)
    }

  /** Soundspeed correction (process_adcp.py:464-475): V *= c_new/c_old,
    * with the reference's idempotence guard expressed as a schema check.
    */
  def soundspeedCorrection(adcp: DataFrame): DataFrame =
    if (adcp.columns.contains("no_sal_speed_of_sound")) adcp
    else {
      val ratio = col("glider_soundspeed") / col("no_sal_speed_of_sound")
      withCols(adcp.withColumnRenamed("speed_of_sound", "no_sal_speed_of_sound"),
        ("speed_of_sound" -> col("glider_soundspeed")) +:
          Schema.beams.map(b => s"vel$b" -> affine(col(s"vel$b"), ratio)): _*)
    }

  /** QC thresholds (remove_outliers, process_adcp.py:478-566): null cells
    * where correlation < thr, amplitude > thr, |velocity| > thr — the
    * reference's 0/1-NaN mask products as null-propagating conditionals.
    */
  def removeOutliers(opts: Options)(adcp: DataFrame): DataFrame =
    withCols(adcp, Schema.beams.map(b => s"vel$b" ->
      mask(col(s"vel$b"), col(s"corr$b"), col(s"amp$b"), opts.correlationThreshold,
        opts.amplitudeThreshold, opts.velocityThreshold)): _*)

  /** Backscatter correction (process_adcp.py:787-873): beam range
    * stretch by beam angle, Francois-Garrison attenuation from interpolated
    * glider S/T at ping depth, corrected amplitude = A + 2*alpha*range_b.
    */
  def backscatterCorrection(opts: Options)(adcp: DataFrame): DataFrame = {
    val aCos = math.cos(math.toRadians(47.4)) // fore/aft (reference uses 47.4 here)
    val bCos = math.cos(math.toRadians(25.0))
    val alpha = Teos10.francoisGarrison(opts.soundFreqKhz,
      col("salinity"), col("temperature"), opts.ph, col("depth"))
    val withRanges = withCols(adcp, ("acoustic_attenuation" -> alpha) +:
      Seq("1" -> aCos, "2" -> bCos, "3" -> aCos, "4" -> bCos).map {
        case (b, cosang) => s"beam_range$b" -> affine(col("ranges"), lit(1.0), d = cosang)
      }: _*)
    // amp + 2*alpha*range
    withCols(withRanges, Schema.beams.map(b => s"amp_new$b" ->
      combine(col(s"amp$b"), col(s"beam_range$b"), lit(1.0),
        lit(2.0) * col("acoustic_attenuation"))): _*)
  }

  /** 4-beam XYZZ transform (quad_beam2xyzz, process_adcp.py:595-667): the
    * fixed instrument matrix applied per (ping, bin) cell.
    */
  private val M1 = 0.6782; private val M2 = 1.1831
  private val M3 = 0.7400; private val M4 = 0.5518

  def beamToXyzz(adcp: DataFrame): DataFrame = {
    val (v1, v2, v3, v4) = (col("vel1"), col("vel2"), col("vel3"), col("vel4"))
    withCols(adcp,
      "x4" -> lin(v1, v3, M1, -M1),
      "y4" -> lin(v2, v4, -M2, M2),
      "z4" -> lin(v1, v3, M3, M3),
      "zz4" -> lin(v2, v4, M4, M4))
  }

  /** Inverse transform (quad_xyzz2beam, :638-655) in closed form:
    * V1 = X/(2*M1) + Z/(2*M3), V3 = -X/(2*M1) + Z/(2*M3),
    * V2 = -Y/(2*M2) + ZZ/(2*M4), V4 = Y/(2*M2) + ZZ/(2*M4).
    */
  def xyzzToBeam(adcp: DataFrame): DataFrame = {
    // a/da + b/db, each term divided (not multiplied by an inverse) as
    // written; -x/d == x/-d exactly
    def sum(a: String, da: Double, b: String, db: Double) =
      lin(affine(col(a), lit(1.0), d = da), affine(col(b), lit(1.0), d = db), 1.0, 1.0)
    withCols(adcp,
      "vel1" -> sum("x4", 2 * M1, "z4", 2 * M3),
      "vel3" -> sum("x4", -2 * M1, "z4", 2 * M3),
      "vel2" -> sum("y4", -2 * M2, "zz4", 2 * M4),
      "vel4" -> sum("y4", 2 * M2, "zz4", 2 * M4))
  }

  /** Shear correction (_shear_correction, process_adcp.py:682-768): mean
    * per-bin profile of rows within the speed band (|spd - L| < dL/2 for the
    * whole 0.2..0.3 band) and depth > 5; diff across bin, cumsum with a
    * leading 0, de-mean; subtract from every row. The correction vector is
    * per-bin (tiny) — computed distributed, collected, and broadcast back as
    * a literal, exactly the reference's driver-sized array.
    */
  def shearCorrection(varName: String)(adcp: DataFrame): DataFrame = {
    val spd = sqrt(pow(element_at(col("x4"), 1), 2) + pow(element_at(col("y4"), 1), 2) +
      pow((element_at(col("z4"), 1) + element_at(col("zz4"), 1)) / 2.0, 2))
    val band = adcp.where(col("depth") > 5.0)
      .where(spd > 0.2 && spd < 0.29)
    val nBins = band.select(size(col(varName))).first().getInt(0)
    // per-ping diff across bin FIRST, then nan-skipping mean over time
    // (xarray diff('bin').mean('time') — the order matters under NaN).
    // A row shorter than nBins yields fewer diffs, which the mean skips
    // as it skips nulls.
    val diffArr = lin(slice(col(varName), 2, nBins - 1),
      slice(col(varName), 1, nBins - 1), 1.0, -1.0)
    val binMeans = band
      .select(posexplode(diffArr).as(Seq("bin", "dv")))
      .groupBy("bin").agg(avg("dv").as("m"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    val diffs = 0.0 +: (0 until nBins - 1).map(i => binMeans.getOrElse(i, Double.NaN))
    val cum = diffs.scanLeft(0.0)(_ + _).tail
    val finite = cum.filter(c => !c.isNaN)
    val refMean = if (finite.isEmpty) 0.0 else finite.sum / finite.size
    val ref = cum.map(_ - refMean)
    adcp.withColumn(varName,
      lin(col(varName), typedLit(ref), 1.0, -1.0))
  }

  /** Per-ping regrid onto the fixed depth-offset ladder (regridADCPdata,
    * process_adcp.py:876-981): ladder from the correlation-threshold range
    * (distributed agg, argmin on a bin-sized vector), then per-beam
    * linear interpolation of velocities from true cell depths.
    */
  def regrid(opts: Options, cellSize: Double, blankingDistance: Double)
      (adcp: DataFrame): DataFrame = {
    // max_bin = argmin |mean-over-beams(per-bin time-mean corr) - threshold|
    // (:888-892): per-beam nan-skipping time means, then beam mean.
    val corrMeans = adcp
      .select(posexplode(col("corr1")).as(Seq("bin", "c1")),
        col("corr2"), col("corr3"), col("corr4"))
      .withColumn("c2", element_at(col("corr2"), col("bin") + 1))
      .withColumn("c3", element_at(col("corr3"), col("bin") + 1))
      .withColumn("c4", element_at(col("corr4"), col("bin") + 1))
      .groupBy("bin")
      .agg(((avg("c1") + avg("c2") + avg("c3") + avg("c4")) / 4.0).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val maxBin = corrMeans.minBy { case (bin, m) =>
      (math.abs(m - opts.regridCorrelationThreshold), bin) }._1
    val maxDistance = blankingDistance + maxBin * cellSize + 0.5 * cellSize
    // np.arange(0, max_distance + bin_size, bin_size/2) * direction (:908-916)
    val offsets = (0 until math.ceil((maxDistance + cellSize) / (cellSize / 2)).toInt)
      .map(_ * cellSize / 2 * opts.direction)
    val targets = typedLit(offsets)
    def belowPing(a: Column) = affine(a, lit(-1.0), col("depth")) // depth - a
    withCols(adcp, Schema.beams.map(b => s"v$b" ->
      graft.plans.NativeInterp.interpCol(adcp.sparkSession,
        belowPing(col(s"d$b")), col(s"vel$b"), targets)) ++ Seq(
      "depth_offsets" -> targets,
      "bin_depth" -> belowPing(targets)): _*)
  }

  /** 3-beam XYZ solution (calcXYZfrom3beam, process_adcp.py:984-1130):
    * replace the shadowed fore/aft beam by the error-nulling combination on
    * up/down casts, then X/Y/Z linear combos of the regridded beams.
    */
  def threeBeamXyz(opts: Options)(adcp: DataFrame): DataFrame = {
    val tf = 47.5; val ts = 25.0
    def sinD(x: Double) = math.sin(math.toRadians(x))
    def cosD(x: Double) = math.cos(math.toRadians(x))
    val aTf = 1.0 / (2 * sinD(tf)); val aTs = 1.0 / (2 * sinD(ts))
    val bTf = 1.0 / (4 * cosD(tf)); val bTs = 1.0 / (4 * cosD(ts))

    val zsum = lin(col("v2"), col("v4"), 2 * bTs, 2 * bTs)
    // (zsum - 2*bTf*good) / (2*bTf)
    def replacedBy(good: Column): Column =
      affine(lin(zsum, good, 1.0, -2 * bTf), lit(1.0), d = 2 * bTf)

    val upcast = col("pitch") > 0.0
    // top-mounted: replace fore(V1) by aft on downcasts, aft(V3) by fore on
    // upcasts; bottom-mounted flips (process_adcp.py:1024-1030).
    val (v1New, v3New) =
      if (opts.topMounted)
        (when(!upcast, replacedBy(col("v3"))).otherwise(col("v1")),
          when(upcast, replacedBy(col("v1"))).otherwise(col("v3")))
      else
        (when(upcast, replacedBy(col("v3"))).otherwise(col("v1")),
          when(!upcast, replacedBy(col("v1"))).otherwise(col("v3")))

    withCols(adcp,
      "x" -> lin(v1New, v3New, aTf, -aTf),
      "y" -> lin(col("v2"), col("v4"), -aTs, aTs),
      "z" -> zsum)
  }

  /** XYZ -> ENU rotation + shear (calcENUfromXYZ, process_adcp.py:1133-1240):
    * per-ping rotation matrix from (heading-90, pitch, roll); Y and Z pick
    * up the mount-direction sign; Sh_* = centered gradient along the
    * unit-spaced gridded_bin coordinate.
    */
  def enuAndShear(opts: Options)(adcp: DataFrame): DataFrame = {
    val hh = d2r(col("heading") - 90.0)
    val pp = d2r(col("pitch"))
    val rr = d2r(col("roll"))
    val dir = lit(opts.direction.toDouble)
    val m00 = cos(hh) * cos(pp)
    val m01 = -cos(hh) * sin(pp) * sin(rr) + sin(hh) * cos(rr)
    val m02 = -cos(hh) * sin(pp) * cos(rr) - sin(hh) * sin(rr)
    val m10 = -sin(hh) * cos(pp)
    val m11 = sin(hh) * sin(pp) * sin(rr) + cos(hh) * cos(rr)
    val m12 = sin(hh) * sin(pp) * cos(rr) - cos(hh) * sin(rr)
    val m20 = sin(pp)
    val m21 = cos(pp) * sin(rr)
    val m22 = cos(pp) * cos(rr)
    def rot(c0: Column, c1: Column, c2: Column): Column =
      rotate(col("x"), col("y"), col("z"), c0, c1, c2, dir)
    withCols(
      withCols(adcp,
        "e" -> rot(m00, m01, m02),
        "n" -> rot(m10, m11, m12),
        "u" -> rot(m20, m21, m22)),
      Seq("e", "n", "u").map(c => s"sh_$c" -> gradient(col(c))): _*)
  }
}
