package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Teos10
import graft.core.InterpJoin

/** The reference's elementwise + regrid ADCP stages (SURVEY.md §2.6-2.7) as
  * lazily-composed `DataFrame => DataFrame` functions over the per-ping
  * wide form. Every stage is a narrow map (no shuffle) except `align`
  * (one interp-join sort and sweep) and the correlation aggregate in `regrid`.
  */
object AdcpStages {

  private def d2r(x: Column): Column = radians(x)

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
    Seq(("1", t1), ("2", t2), ("3", t3), ("4", t4)).foldLeft(adcp) {
      case (df, (b, th)) =>
        df.withColumn(s"d$b", transform(col("ranges"), z => col("depth") - dir * z * cos(th)))
    }
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
      arrayCols.foldLeft(adcp) { (df, c) =>
        df.withColumn(c, slice(col(c), n + 1, Int.MaxValue))
      }
    }

  /** Soundspeed correction (process_adcp.py:464-475): V *= c_new/c_old,
    * with the reference's idempotence guard expressed as a schema check.
    */
  def soundspeedCorrection(adcp: DataFrame): DataFrame =
    if (adcp.columns.contains("no_sal_speed_of_sound")) adcp
    else {
      val ratio = col("glider_soundspeed") / col("no_sal_speed_of_sound")
      Schema.beams.foldLeft(
          adcp.withColumnRenamed("speed_of_sound", "no_sal_speed_of_sound")
            .withColumn("speed_of_sound", col("glider_soundspeed"))) { (df, b) =>
        df.withColumn(s"vel$b", ArrayOps.scale(col(s"vel$b"), ratio))
      }
    }

  /** QC thresholds (remove_outliers, process_adcp.py:478-566): null cells
    * where correlation < thr, amplitude > thr, |velocity| > thr — the
    * reference's 0/1-NaN mask products as null-propagating conditionals.
    */
  def removeOutliers(opts: Options)(adcp: DataFrame): DataFrame =
    Schema.beams.foldLeft(adcp) { (df, b) =>
      val v = col(s"vel$b")
      val masked = zip_with(v, zip_with(col(s"corr$b"), col(s"amp$b"), (c, a) => struct(c.as("c"), a.as("a"))),
        (vel, ca) => when(
          ca.getField("c") >= opts.correlationThreshold &&
            ca.getField("a") <= opts.amplitudeThreshold &&
            abs(vel) <= opts.velocityThreshold, vel))
      df.withColumn(s"vel$b", masked)
    }

  /** Backscatter correction (process_adcp.py:787-873): beam range
    * stretch by beam angle, Francois-Garrison attenuation from interpolated
    * glider S/T at ping depth, corrected amplitude = A + 2*alpha*range_b.
    */
  def backscatterCorrection(opts: Options)(adcp: DataFrame): DataFrame = {
    val aCos = math.cos(math.toRadians(47.4)) // fore/aft (reference uses 47.4 here)
    val bCos = math.cos(math.toRadians(25.0))
    val alpha = Teos10.francoisGarrison(opts.soundFreqKhz,
      col("salinity"), col("temperature"), opts.ph, col("depth"))
    val withRanges = Seq("1" -> aCos, "2" -> bCos, "3" -> aCos, "4" -> bCos)
      .foldLeft(adcp.withColumn("acoustic_attenuation", alpha)) {
        case (df, (b, cosang)) =>
          df.withColumn(s"beam_range$b", transform(col("ranges"), z => z / cosang))
      }
    Schema.beams.foldLeft(withRanges) { (df, b) =>
      df.withColumn(s"amp_new$b",
        zip_with(col(s"amp$b"), col(s"beam_range$b"),
          (amp, rng) => amp + lit(2.0) * col("acoustic_attenuation") * rng))
    }
  }

  /** 4-beam XYZZ transform (quad_beam2xyzz, process_adcp.py:595-667): the
    * fixed instrument matrix applied per (ping, bin) cell.
    */
  private val M1 = 0.6782; private val M2 = 1.1831
  private val M3 = 0.7400; private val M4 = 0.5518

  def beamToXyzz(adcp: DataFrame): DataFrame =
    adcp
      .withColumn("x4", zip_with(col("vel1"), col("vel3"), (a, b) => lit(M1) * a - lit(M1) * b))
      .withColumn("y4", zip_with(col("vel2"), col("vel4"), (a, b) => lit(-M2) * a + lit(M2) * b))
      .withColumn("z4", zip_with(col("vel1"), col("vel3"), (a, b) => lit(M3) * a + lit(M3) * b))
      .withColumn("zz4", zip_with(col("vel2"), col("vel4"), (a, b) => lit(M4) * a + lit(M4) * b))

  /** Inverse transform (quad_xyzz2beam, :638-655) in closed form:
    * V1 = X/(2*M1) + Z/(2*M3), V3 = -X/(2*M1) + Z/(2*M3),
    * V2 = -Y/(2*M2) + ZZ/(2*M4), V4 = Y/(2*M2) + ZZ/(2*M4).
    */
  def xyzzToBeam(adcp: DataFrame): DataFrame =
    adcp
      .withColumn("vel1", zip_with(col("x4"), col("z4"), (x, z) => x / (2 * M1) + z / (2 * M3)))
      .withColumn("vel3", zip_with(col("x4"), col("z4"), (x, z) => -x / (2 * M1) + z / (2 * M3)))
      .withColumn("vel2", zip_with(col("y4"), col("zz4"), (y, zz) => -y / (2 * M2) + zz / (2 * M4)))
      .withColumn("vel4", zip_with(col("y4"), col("zz4"), (y, zz) => y / (2 * M2) + zz / (2 * M4)))

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
    val diffArr = transform(sequence(lit(1), lit(nBins - 1)), i =>
      element_at(col(varName), i + 1) - element_at(col(varName), i))
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
      zip_with(col(varName), array(ref.map(lit): _*), (v, c) => v - c))
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
    // native Catalyst expression (StaticInvoke, codegen-friendly) — the
    // UDF form lives in ArrayOps.interpToTargets for API completeness
    val withV = Schema.beams.foldLeft(adcp) { (df, b) =>
      df.withColumn(s"v$b", graft.plans.NativeInterp.interpCol(adcp.sparkSession,
        transform(col(s"d$b"), dd => col("depth") - dd),
        col(s"vel$b"), targets))
    }
    withV
      .withColumn("depth_offsets", targets)
      .withColumn("bin_depth", transform(targets, o => col("depth") - o))
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

    def replacedBy(good: Column): Column =
      zip_with(zip_with(col("v2"), col("v4"), (v2, v4) =>
          lit(2 * bTs) * v2 + lit(2 * bTs) * v4), good,
        (zsum, g) => (zsum - lit(2 * bTf) * g) / lit(2 * bTf))

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

    adcp
      .withColumn("v1n", v1New).withColumn("v3n", v3New)
      .withColumn("x", zip_with(col("v1n"), col("v3n"), (a, b) => lit(aTf) * a - lit(aTf) * b))
      .withColumn("y", zip_with(col("v2"), col("v4"), (a, b) => lit(-aTs) * a + lit(aTs) * b))
      .withColumn("z", zip_with(col("v2"), col("v4"), (a, b) => lit(2 * bTs) * a + lit(2 * bTs) * b))
      .drop("v1n", "v3n")
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
      zip_with(col("x"), zip_with(col("y"), col("z"), (y, z) => struct(y.as("y"), z.as("z"))),
        (x, yz) => c0 * x + c1 * yz.getField("y") * dir + c2 * yz.getField("z") * dir)
    adcp
      .withColumn("e", rot(m00, m01, m02))
      .withColumn("n", rot(m10, m11, m12))
      .withColumn("u", rot(m20, m21, m22))
      .withColumn("sh_e", ArrayOps.gradientUnit(col("e")))
      .withColumn("sh_n", ArrayOps.gradientUnit(col("n")))
      .withColumn("sh_u", ArrayOps.gradientUnit(col("u")))
  }
}
