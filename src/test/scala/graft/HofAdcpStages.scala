package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.CacheScope
import graft.functions.Teos10
import graft.pipeline._

/** The higher-order-function formulation of the ADCP pipeline's per-ping
  * beam math — every stage written with `zip_with` / `transform` /
  * `aggregate` lambdas — kept in the test sources only as the oracle the
  * native array kernels ([[graft.plans.ArrayKernels]]) are checked
  * against.
  */
object HofArrayOps {

  /** Centered first derivative along the array index with one-sided edges
    * (xarray `differentiate` over a unit-spaced coordinate). Null elements
    * propagate like NaN.
    */
  def gradientUnit(a: Column): Column = {
    val n = size(a)
    transform(a, (_, i) => {
      val prev = element_at(a, i) // i is 0-based; element_at is 1-based => a[i-1]
      val cur = element_at(a, i + 1)
      val next = when(i + 2 <= n, element_at(a, i + 2))
      when(i === 0, next - cur)
        .when(i === n - 1, cur - prev)
        .otherwise((next - prev) / 2.0)
    })
  }

  /** Scale every element by a per-row scalar. */
  def scale(a: Column, k: Column): Column = transform(a, x => x * k)

  /** Mean over an array ignoring nulls (xarray .mean(dim='bin')). */
  def arrayMean(a: Column): Column = {
    val finite = filter(a, x => x.isNotNull)
    when(size(finite) > 0, aggregate(finite, lit(0.0), _ + _) / size(finite))
  }

  /** np.interp-style linear interpolation of (x, y) samples onto fixed
    * targets as a Scala UDF: null outside the hull, all null with fewer
    * than 2 finite samples, pairs with a null or NaN member dropped.
    */
  val interpToTargets =
    udf((xs: Seq[java.lang.Double], ys: Seq[java.lang.Double], targets: Seq[Double]) => {
      val pairs = xs.zip(ys).collect {
        case (x, y) if x != null && y != null && !x.isNaN && !y.isNaN =>
          (x.doubleValue, y.doubleValue)
      }.sortBy(_._1)
      if (pairs.length < 2) targets.map(_ => null.asInstanceOf[java.lang.Double])
      else {
        val px = pairs.map(_._1).toArray
        val py = pairs.map(_._2).toArray
        targets.map { t =>
          if (t < px.head || t > px.last) null.asInstanceOf[java.lang.Double]
          else {
            var idx = java.util.Arrays.binarySearch(px, t)
            if (idx >= 0) java.lang.Double.valueOf(py(idx))
            else {
              idx = -idx - 1 // insertion point; 0 < idx < n here
              val x0 = px(idx - 1); val x1 = px(idx)
              val y0 = py(idx - 1); val y1 = py(idx)
              java.lang.Double.valueOf(y0 + (y1 - y0) * (t - x0) / (x1 - x0))
            }
          }
        }
      }
    })
}

/** [[graft.pipeline.AdcpStages]]' elementwise stages and the
  * `shearFromAdcp` composition in their lambda form (see [[HofArrayOps]]).
  */
object HofAdcpStages {

  private def d2r(x: Column): Column = radians(x)

  def remapDepth(opts: Options)(adcp: DataFrame): DataFrame = {
    val p = col("pitch"); val r = col("roll")
    val dir = lit(opts.direction.toDouble)
    def theta(aDeg: Double, tilt: Column, other: Column): Column =
      acos(cos(d2r(lit(aDeg) - tilt)) * cos(d2r(other)))
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

  def soundspeedCorrection(adcp: DataFrame): DataFrame =
    if (adcp.columns.contains("no_sal_speed_of_sound")) adcp
    else {
      val ratio = col("glider_soundspeed") / col("no_sal_speed_of_sound")
      Schema.beams.foldLeft(
          adcp.withColumnRenamed("speed_of_sound", "no_sal_speed_of_sound")
            .withColumn("speed_of_sound", col("glider_soundspeed"))) { (df, b) =>
        df.withColumn(s"vel$b", HofArrayOps.scale(col(s"vel$b"), ratio))
      }
    }

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

  def backscatterCorrection(opts: Options)(adcp: DataFrame): DataFrame = {
    val aCos = math.cos(math.toRadians(47.4))
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

  private val M1 = 0.6782; private val M2 = 1.1831
  private val M3 = 0.7400; private val M4 = 0.5518

  def beamToXyzz(adcp: DataFrame): DataFrame =
    adcp
      .withColumn("x4", zip_with(col("vel1"), col("vel3"), (a, b) => lit(M1) * a - lit(M1) * b))
      .withColumn("y4", zip_with(col("vel2"), col("vel4"), (a, b) => lit(-M2) * a + lit(M2) * b))
      .withColumn("z4", zip_with(col("vel1"), col("vel3"), (a, b) => lit(M3) * a + lit(M3) * b))
      .withColumn("zz4", zip_with(col("vel2"), col("vel4"), (a, b) => lit(M4) * a + lit(M4) * b))

  def xyzzToBeam(adcp: DataFrame): DataFrame =
    adcp
      .withColumn("vel1", zip_with(col("x4"), col("z4"), (x, z) => x / (2 * M1) + z / (2 * M3)))
      .withColumn("vel3", zip_with(col("x4"), col("z4"), (x, z) => -x / (2 * M1) + z / (2 * M3)))
      .withColumn("vel2", zip_with(col("y4"), col("zz4"), (y, zz) => -y / (2 * M2) + zz / (2 * M4)))
      .withColumn("vel4", zip_with(col("y4"), col("zz4"), (y, zz) => y / (2 * M2) + zz / (2 * M4)))

  def shearCorrection(varName: String)(adcp: DataFrame): DataFrame = {
    val spd = sqrt(pow(element_at(col("x4"), 1), 2) + pow(element_at(col("y4"), 1), 2) +
      pow((element_at(col("z4"), 1) + element_at(col("zz4"), 1)) / 2.0, 2))
    val band = adcp.where(col("depth") > 5.0)
      .where(spd > 0.2 && spd < 0.29)
    val nBins = band.select(size(col(varName))).first().getInt(0)
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

  def regrid(opts: Options, cellSize: Double, blankingDistance: Double)
      (adcp: DataFrame): DataFrame = {
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
    val offsets = (0 until math.ceil((maxDistance + cellSize) / (cellSize / 2)).toInt)
      .map(_ * cellSize / 2 * opts.direction)
    val targets = typedLit(offsets)
    val withV = Schema.beams.foldLeft(adcp) { (df, b) =>
      df.withColumn(s"v$b", graft.plans.NativeInterp.interpCol(adcp.sparkSession,
        transform(col(s"d$b"), dd => col("depth") - dd),
        col(s"vel$b"), targets))
    }
    withV
      .withColumn("depth_offsets", targets)
      .withColumn("bin_depth", transform(targets, o => col("depth") - o))
  }

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
      .withColumn("sh_e", HofArrayOps.gradientUnit(col("e")))
      .withColumn("sh_n", HofArrayOps.gradientUnit(col("n")))
      .withColumn("sh_u", HofArrayOps.gradientUnit(col("u")))
  }

  /** correct_shear composite: XYZZ transform, the enabled per-axis bias
    * removals, inverse transform.
    */
  def correctShear(opts: Options)(adcp0: DataFrame): DataFrame = {
    var adcp = beamToXyzz(adcp0)
    val toFix = Seq(
      opts.correctZZshear -> "zz4", opts.correctZshear -> "z4",
      opts.correctYshear -> "y4", opts.correctXshear -> "x4")
    toFix.foreach { case (enabled, v) =>
      if (enabled) adcp = shearCorrection(v)(adcp)
    }
    if (toFix.exists(_._1)) xyzzToBeam(adcp) else adcp
  }

  /** `AdcpPipeline.shearFromAdcp` with `solveHeading = false`: the same
    * alignment, heading and barriers around the lambda-form stages.
    */
  def shearFromAdcp(adcpRaw: DataFrame, gliderRaw: DataFrame, opts: Options,
      cellSize: Double, blankingDistance: Double, missionCols: Seq[String],
      scope: CacheScope): DataFrame = {
    val glider = GliderStages.deriveGlider(gliderRaw)
    var adcp = AdcpStages.align(adcpRaw, glider, missionCols)
    adcp = adcp.repartition(adcp.sparkSession.sparkContext.defaultParallelism)
    adcp = remapDepth(opts)(adcp)
    if (opts.correctAdcpHeading)
      adcp = HeadingCorrection.correctedHeading(opts,
        HeadingCorrection.Calibration(
          Array(1, 0, 0, 0, 1, 0, 0, 0, 1), Array(0, 0, 0), 0.0))(adcp)
    adcp = soundspeedCorrection(adcp)
    adcp = scope.checkpoint(removeOutliers(opts)(adcp))
    adcp = scope.checkpoint(correctShear(opts)(adcp))
    adcp = backscatterCorrection(opts)(adcp)
    adcp = scope.checkpoint(regrid(opts, cellSize, blankingDistance)(adcp))
    adcp = scope.checkpoint(threeBeamXyz(opts)(adcp))
    enuAndShear(opts)(adcp)
  }
}
