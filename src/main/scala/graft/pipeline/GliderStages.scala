package graft.pipeline

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SortedSweep}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{InterpJoin, Windows}
import graft.functions.Teos10

/** Glider-side stages: load/derive, dive-averaged-current (DAC), surface
  * drift, bottom track (SURVEY.md §2.3-2.5 composites).
  *
  * Every stage takes `missionCols`: with keys supplied all windows,
  * interp joins and groupings partition per mission, so concurrent
  * missions never share window state (the multi-mission 100 TB execution
  * shape). Empty keys reproduce the reference's whole-mission
  * single-series semantics.
  */
object GliderStages {

  /** Load-stage derivations (load, process_adcp.py:80-114): date_float ns,
    * TEOS-10 soundspeed from S/T/p.
    */
  def deriveGlider(glider: DataFrame): DataFrame =
    glider
      .withColumn("date_float", col("time_ns").cast("double"))
      .withColumn("soundspeed", Teos10.soundSpeed(
        col("temperature"), col("salinity"),
        Teos10.depthFromPressure(col("pressure"), col("latitude"))))

  private val gpsFix = col("dead_reckoning") < 1.0 && col("nav_resource") === 116.0

  /** get_declination (process_adcp.py:59-77) + getGeoMagStrength
    * (:315-339) through the [[GeomagProvider]] seam: declination at each
    * mission's MEAN lat/lon/time (skipped when the column already exists,
    * like the reference), and the heading-solve field target at the MEDIAN
    * lat/lon + mean time. One provider call per mission driver-side (the
    * reference's exact lookup cardinality); no provider configured = input
    * passes through untouched, zero egress.
    *
    * Returns the (possibly declination-augmented) glider and Options with
    * `geomagTargetMilligauss` resolved. With several missions the scalar
    * Options target resolves from the first mission key (ascending);
    * [[applyGeomagPerMission]] additionally returns every mission's own
    * target for per-mission heading solves.
    */
  def applyGeomag(glider: DataFrame, opts: Options,
      missionCols: Seq[String] = Nil): (DataFrame, Options) = {
    val r = applyGeomagPerMission(glider, opts, missionCols)
    (r.glider, r.opts)
  }

  /** [[applyGeomag]] plus the per-mission field-strength map: one provider
    * lookup per mission (median lat/lon + mean time, the reference's exact
    * call per run, process_adcp.py:315-339), keyed by the mission column
    * values. Empty without a provider — callers fall back to
    * `opts.geomagTargetMilligauss`.
    */
  final case class GeomagResult(glider: DataFrame, opts: Options,
      targets: Map[Seq[Any], Double])

  def applyGeomagPerMission(glider: DataFrame, opts: Options,
      missionCols: Seq[String] = Nil): GeomagResult = opts.geomag match {
    case None => GeomagResult(glider, opts, Map.empty)
    case Some(p) =>
      val mCols = missionCols.map(col)
      val stats = glider.groupBy(mCols: _*).agg(
        avg("latitude").as("mean_lat"), avg("longitude").as("mean_lon"),
        (avg(col("time_ns").cast("double")) / 1e9).as("mean_t"),
        median(col("latitude")).as("med_lat"), median(col("longitude")).as("med_lon"))
      val rows = stats.orderBy(mCols: _*).collect() // one row per mission
      val first = rows.head
      val targets = rows.map { r =>
        (missionCols.map(c => r.getAs[Any](c)): Seq[Any]) ->
          p.fieldStrengthMilligauss(r.getAs[Double]("med_lat"),
            r.getAs[Double]("med_lon"), r.getAs[Double]("mean_t"))
      }.toMap
      val target = p.fieldStrengthMilligauss(
        first.getAs[Double]("med_lat"), first.getAs[Double]("med_lon"),
        first.getAs[Double]("mean_t"))
      val out =
        if (glider.columns.contains("declination")) glider // :63-65
        else if (missionCols.isEmpty) {
          val d = p.declination(first.getAs[Double]("mean_lat"),
            first.getAs[Double]("mean_lon"), first.getAs[Double]("mean_t"))
          glider.withColumn("declination", lit(d))
        } else {
          import glider.sparkSession.implicits._
          val decls = rows.map { r =>
            (missionCols.map(c => r.getAs[Any](c)),
              p.declination(r.getAs[Double]("mean_lat"),
                r.getAs[Double]("mean_lon"), r.getAs[Double]("mean_t")))
          }
          // per-mission constant via a broadcast dim-join (no plan literal)
          val dimRows = decls.map { case (k, d) => org.apache.spark.sql.Row.fromSeq(k :+ d) }
          val dimSchema = org.apache.spark.sql.types.StructType(
            missionCols.map(c => glider.schema(c)) :+
              org.apache.spark.sql.types.StructField("declination",
                org.apache.spark.sql.types.DoubleType))
          val dim = glider.sparkSession.createDataFrame(
            glider.sparkSession.sparkContext.parallelize(dimRows.toSeq), dimSchema)
          glider.join(broadcast(dim), missionCols)
        }
      GeomagResult(out, opts.copy(geomagTargetMilligauss = target), targets)
  }

  /** Dive-averaged current (get_DAC, process_adcp.py:1327-1430):
    * dead-reckon east/north displacement from heading+speed, reset at each
    * GPS fix, close each dive's loop against the GPS displacement, spread
    * DAC back over the glider timeline by interpolation + bfill/ffill.
    *
    * Two sorted sweeps per mission, no window over the samples: the
    * heading interpolation streams the samples in time order straight into
    * the dead reckoning ([[DeadReckoning]], the same plan node and sort),
    * and after the per-dive loop closure the DAC spread interpolates the
    * dive knots and fills the edges in one more pass ([[DacSpread]]). Only
    * the per-dive pairing is a window, over one row per dive. `time_ns`
    * orders each mission's samples; the running sums add in that order.
    */
  def getDac(adcp: DataFrame, glider: DataFrame,
      missionCols: Seq[String] = Nil): DataFrame = {
    val mCols = missionCols.map(col)
    val dst = glider
      .withColumn("t", col("date_float") * 1e-9)
      .withColumn(Speed, col("speed_horz").cast("double"))
      .withColumn(Gps, coalesce(gpsFix, lit(false)))
    // heading interpolated ADCP -> glider timeline (:1338), then the dead
    // reckoning (:1340-1349) over the same sorted samples
    val base = InterpJoin.interpolateThen(
      adcp.select((missionCols ++ Seq("time_ns", "heading")).map(col): _*),
      dst, "time_ns", Seq("heading"), missionCols, "adcp_",
      tiebreak = Seq("time_ns"),
      reads = Seq("t", Speed, Gps, "adcp_heading"),
      added = Seq("speed_e", "speed_n", "de", "dn", "de_prev", "dn_prev"))(
      (ords, sameKey) => rows => new DeadReckoning(rows, ords, sameKey))

    // per dive: first/last GPS row (:1352-1369)
    val firstLast = base.where(col(Gps))
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

    // pair dive i with dive i+1's surfacing (:1391-1398)
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

    // interp DAC(meant) onto the glider timeline, then bfill+ffill (:1404-1406)
    val probes = base.drop("de_prev", "dn_prev", Speed, Gps)
    val knots = paired.select(mCols ++ Seq(col("meant").as("t"),
      col("dac_e").as(KnotE), col("dac_n").as(KnotN), lit(1).as(IsKnot)): _*)
    SortedSweep(
      probes.withColumn(IsKnot, lit(0)).unionByName(knots, allowMissingColumns = true),
      keys = missionCols,
      order = Seq(IsKnot -> false, "time_ns" -> true, "t" -> true),
      reads = Seq("t", IsKnot, KnotE, KnotN), keep = probes.columns.toSeq,
      added = Seq("dac_e", "dac_n"))(
      (ords, sameKey) => rows => new DacSpread(rows, ords, sameKey))
      .select((glider.columns.toSeq ++ Seq("adcp_heading", "t", "speed_e",
        "speed_n", "de", "dn", "dac_e", "dac_n")).map(col): _*)
  }

  private val Speed = "__dr_speed"
  private val Gps = "__dr_gps"
  private val IsKnot = "__dac_is_knot"
  private val KnotE = "__dac_knot_e"
  private val KnotN = "__dac_knot_n"

  /** The dead reckoning of each mission's samples in time order
    * (process_adcp.py:1340-1349), fed by the heading interpolation: the
    * east/north speed from the horizontal speed and the interpolated
    * heading (0 where either is missing); its running integral over the
    * time steps (0 before the first step; a step with a missing time adds
    * nothing), less the integral at the latest GPS fix; and the previous
    * sample's reset integral. Reads t, the speed, the fix flag and the
    * heading; adds speed_e, speed_n, de, dn, de_prev, dn_prev.
    */
  private final class DeadReckoning(rows: Iterator[InternalRow], ords: Seq[Int],
      sameKey: (InternalRow, InternalRow) => Boolean)
      extends Iterator[InternalRow] {
    private val Seq(tOrd, speedOrd, gpsOrd, headingOrd) = ords
    private var last: InternalRow = null
    private var hasT = false
    private var lastT = 0.0
    // per axis (east, north): running integral, its value at the latest
    // fix, the previous sample's reset integral
    private val sum = new Array[Double](2)
    private val hasSum = new Array[Boolean](2)
    private val atFix = new Array[Double](2)
    private val hasFix = new Array[Boolean](2)
    private val prev = new Array[Double](2)
    private var hasPrev = false

    override def hasNext: Boolean = rows.hasNext

    override def next(): InternalRow = {
      val row = rows.next()
      if (last == null || !sameKey(last, row)) {
        hasT = false; hasPrev = false
        java.util.Arrays.fill(hasSum, false)
        java.util.Arrays.fill(hasFix, false)
      }
      last = row
      val moving = !row.isNullAt(speedOrd) && !row.isNullAt(headingOrd)
      val rad = if (moving) math.toRadians(row.getDouble(headingOrd)) else 0.0
      val speed = Array(
        if (moving) row.getDouble(speedOrd) * math.sin(rad) else 0.0,
        if (moving) row.getDouble(speedOrd) * math.cos(rad) else 0.0)
      val step = !row.isNullAt(tOrd) && hasT
      val t = if (row.isNullAt(tOrd)) 0.0 else row.getDouble(tOrd)
      val fix = !row.isNullAt(gpsOrd) && row.getBoolean(gpsOrd)
      val out = new Array[Any](6)
      var a = 0
      while (a < 2) {
        if (step) {
          // the first term starts from 0.0, as Spark's running sum does
          sum(a) = (if (hasSum(a)) sum(a) else 0.0) + speed(a) * (t - lastT)
          hasSum(a) = true
        }
        val running = if (hasSum(a)) sum(a) else 0.0
        if (fix) { atFix(a) = running; hasFix(a) = true }
        val reset = running - (if (hasFix(a)) atFix(a) else 0.0)
        out(a) = speed(a)
        out(2 + a) = reset
        out(4 + a) = if (hasPrev) prev(a) else null
        prev(a) = reset
        a += 1
      }
      hasPrev = true
      hasT = !row.isNullAt(tOrd)
      lastT = t
      new JoinedRow(row, new GenericInternalRow(out))
    }
  }

  /** The DAC spread of each mission (process_adcp.py:1404-1406): the
    * mission's dive knots arrive first, in x order, and are kept (one per
    * dive); then each sample, in time order, gets each DAC column linearly
    * interpolated at its t exactly as [[InterpJoin.interpolate]] does
    * (null outside the knot hull, the previous knot's value at a knot's x),
    * and a null takes the next sample's value (bfill), or, with none left,
    * the last one's (ffill). Samples wait only for the next non-null value
    * of their column. Reads t, the knot flag and the two knot values; adds
    * dac_e, dac_n.
    */
  private final class DacSpread(rows: Iterator[InternalRow], ords: Seq[Int],
      sameKey: (InternalRow, InternalRow) => Boolean)
      extends Iterator[InternalRow] {
    private final class Sample(val row: InternalRow) {
      val out = new Array[Any](2)
      var open = 0
    }
    private val Seq(xOrd, knotOrd, eOrd, nOrd) = ords
    private val valueOrds = Array(eOrd, nOrd)
    private val kx = Array.fill(2)(new ArrayBuffer[Double]())
    private val ky = Array.fill(2)(new ArrayBuffer[Double]())
    private val pending = new java.util.ArrayDeque[Sample]()
    private val waiting = Array.fill(2)(new ArrayBuffer[Sample]())
    private val lastValue = new Array[Any](2)
    private var group: InternalRow = null

    // Spark SQL's double order: NaN equals NaN and sorts above every other
    // value, -0.0 equals 0.0
    private def cmp(a: Double, b: Double): Int =
      if (a == b) 0 else java.lang.Double.compare(a, b)

    private def interpolate(c: Int, x: Double): Any = {
      val xs = kx(c)
      // the last knot at or before x
      var lo = 0; var hi = xs.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmp(xs(mid), x) <= 0) lo = mid + 1 else hi = mid
      }
      val i = lo - 1
      if (i < 0) null
      else if (cmp(xs(i), x) == 0) ky(c)(i)
      else if (i + 1 == xs.length) null
      else {
        val (x0, y0, x1, y1) = (xs(i), ky(c)(i), xs(i + 1), ky(c)(i + 1))
        y0 + (y1 - y0) * (x - x0) / (x1 - x0)
      }
    }

    private def fill(c: Int, v: Any): Unit = {
      waiting(c).foreach { s => s.out(c) = v; s.open -= 1 }
      waiting(c).clear()
    }

    private def endGroup(): Unit = {
      var c = 0
      while (c < 2) {
        fill(c, lastValue(c))
        lastValue(c) = null; kx(c).clear(); ky(c).clear()
        c += 1
      }
    }

    override def hasNext: Boolean = {
      while ((pending.isEmpty || pending.peek().open > 0) && rows.hasNext) {
        val row = rows.next()
        if (group == null || !sameKey(group, row)) {
          if (group != null) endGroup()
          group = row.copy()
        }
        if (row.getInt(knotOrd) == 1) {
          if (!row.isNullAt(xOrd)) {
            var c = 0
            while (c < 2) {
              if (!row.isNullAt(valueOrds(c))) {
                kx(c) += row.getDouble(xOrd); ky(c) += row.getDouble(valueOrds(c))
              }
              c += 1
            }
          }
        } else {
          val s = new Sample(row.copy())
          var c = 0
          while (c < 2) {
            val v = if (row.isNullAt(xOrd)) null else interpolate(c, row.getDouble(xOrd))
            if (v == null) { waiting(c) += s; s.open += 1 }
            else { fill(c, v); lastValue(c) = v; s.out(c) = v }
            c += 1
          }
          pending.add(s)
        }
      }
      if (!rows.hasNext && group != null) { endGroup(); group = null }
      !pending.isEmpty && pending.peek().open == 0
    }

    override def next(): InternalRow =
      if (hasNext) {
        val s = pending.poll()
        new JoinedRow(s.row, new GenericInternalRow(s.out))
      } else throw new NoSuchElementException
  }

  /** Surface drift (getSurfaceDrift, process_adcp.py:1435-1478): centered
    * gradients of GPS lon/lat/time over surface fixes, per-dive medians of
    * drift velocity where sampling is dense (dt < 21 s), per-dive mean time.
    */
  def surfaceDrift(glider: DataFrame,
      missionCols: Seq[String] = Nil): DataFrame = {
    val mCols = missionCols.map(col)
    val wG = Windows.ordered(Seq(col("time_ns")), mCols)
    val rows = glider.where(gpsFix)
      .withColumn("t", col("date_float") * 1e-9)
      .withColumn("__rn", row_number().over(wG).cast("double"))
    val w = Windows.ordered(Seq(col("__rn")), mCols)
    val withGrads = rows
      .withColumn("dlon", Windows.gradient(col("longitude"), col("__rn"), w) *
        Teos10.lonToMeters(col("longitude"), col("latitude")))
      .withColumn("dlat", Windows.gradient(col("latitude"), col("__rn"), w) *
        Teos10.latToMeters(col("longitude"), col("latitude")))
      .withColumn("dtime", Windows.gradient(col("t"), col("__rn"), w))
    withGrads
      .where(col("dtime") < 21.0)
      .groupBy(mCols :+ col("dive_number").as("dive"): _*)
      .agg(median(col("dlon") / col("dtime")).as("drift_e"),
        median(col("dlat") / col("dtime")).as("drift_n"),
        avg(col("t")).as("drift_t"))
      .orderBy((missionCols :+ "dive").map(col): _*)
  }

  /** Bottom track (process_adcp.py:1480-1597): QC beams/FOM, match each BT
    * ping to the nearest ADCP ping, gate on per-profile max depth, rotate
    * beams -> XYZ (fixed 3x3 inverse) -> ENU (per-row H@P@R), scatter back
    * onto the ADCP timeline as BT_E/N/U.
    */
  def bottomTrack(opts: Options)(adcp: DataFrame, bt: DataFrame,
      missionCols: Seq[String] = Nil): DataFrame = {
    if (opts.topMounted) return adcp // reference refuses top-mounted (:1481-1483)
    val mCols = missionCols.map(col)
    // last ADCP time as a per-mission broadcast frame, not a driver scalar
    val lastT = adcp.groupBy(mCols: _*).agg(max("time_ns").as("__last_t"))
    val btBounded =
      if (missionCols.isEmpty) bt.crossJoin(broadcast(lastT))
      else bt.join(broadcast(lastT), missionCols)
    val qc = btBounded
      .where(col("time_ns") < col("__last_t"))
      .drop("__last_t")
      .where(col("vel_b1") > -2.0 && col("vel_b2") > -2.0 && col("vel_b4") > -2.0)
      .where(col("fom_b1") < 12.0 && col("fom_b2") < 12.0 && col("fom_b4") < 12.0)

    // per-profile max pressure painted on pings, then matched to BT (:1509-1520)
    val wProf = Window.partitionBy(mCols :+ col("profile_number"): _*)
    val adcpAug = adcp.withColumn("profile_max_pressure", max(col("pressure")).over(wProf))
    val matched = InterpJoin.nearest(
      adcpAug.select(mCols ++ Seq(col("time_ns"), col("profile_max_pressure"),
        col("speed_of_sound"), col("time_ns").cast("double").as("adcp_t")): _*),
      qc, "time_ns",
      Seq("profile_max_pressure", "speed_of_sound", "adcp_t"), missionCols,
      tolerance = None, outPrefix = "m_")
      .where(abs(col("m_profile_max_pressure") - col("pressure")) < 15.0)

    // fixed beams(1,2,4) -> XYZ: inverse of [[sin a,0,cos a],[0,-sin b,cos b],
    // [0,sin b,cos b]] (:1530-1543), computed in closed form:
    val sa = math.sin(math.toRadians(47.5)); val ca = math.cos(math.toRadians(47.5))
    val sb = math.sin(math.toRadians(25.0)); val cb = math.cos(math.toRadians(25.0))
    // From B1 = sa*X + ca*Z; B2 = -sb*Y + cb*Z; B4 = sb*Y + cb*Z:
    // Z = (B2+B4)/(2cb); Y = (B4-B2)/(2sb); X = (B1 - ca*Z)/sa.
    val ratio = col("m_speed_of_sound") / col("speed_of_sound_bt")
    val scaled = matched
      .withColumn("b1", col("vel_b1") * ratio)
      .withColumn("b2", col("vel_b2") * ratio)
      .withColumn("b4", col("vel_b4") * ratio)
      .withColumn("bt_z", (col("b2") + col("b4")) / (2 * cb))
      .withColumn("bt_y", (col("b4") - col("b2")) / (2 * sb))
      .withColumn("bt_x", (col("b1") - col("bt_z") * ca) / sa)

    // per-row M = H@P@R (:1545-1584) applied to (X, dir*Y, dir*Z)
    val dir = lit(opts.direction.toDouble)
    val hh = radians(col("heading") - 90.0)
    val pp = radians(col("pitch")); val rr = radians(col("roll"))
    val x = col("bt_x"); val y = col("bt_y") * dir; val z = col("bt_z") * dir
    // H@P@R expanded (identical to the reference's matmul composition, which
    // equals the M_xyz2enu matrix of calcENUfromXYZ):
    val e = cos(hh) * cos(pp) * x +
      (-cos(hh) * sin(pp) * sin(rr) + sin(hh) * cos(rr)) * y +
      (-cos(hh) * sin(pp) * cos(rr) - sin(hh) * sin(rr)) * z
    val n = -sin(hh) * cos(pp) * x +
      (sin(hh) * sin(pp) * sin(rr) + cos(hh) * cos(rr)) * y +
      (sin(hh) * sin(pp) * cos(rr) - cos(hh) * sin(rr)) * z
    val u = sin(pp) * x + cos(pp) * sin(rr) * y + cos(pp) * cos(rr) * z

    // scatter-back (:1586-1591) assigns bt_e[matching] = BT_E in time order,
    // so when two BT pings match the same ADCP ping the LAST one wins —
    // dedupe before the join or matched duplicates would multiply ADCP rows
    val btEnu = scaled
      .withColumn("bt_e", e).withColumn("bt_n", n).withColumn("bt_u", u)
      .select(mCols ++ Seq(col("m_adcp_t").cast("long").as("time_ns"),
        col("time_ns").as("bt_time"), col("bt_e"), col("bt_n"), col("bt_u")): _*)
      .groupBy((missionCols :+ "time_ns").map(col): _*)
      .agg(max_by(struct(col("bt_e"), col("bt_n"), col("bt_u")), col("bt_time")).as("bt"))
      .select(mCols ++ Seq(col("time_ns"), col("bt.bt_e").as("bt_e"),
        col("bt.bt_n").as("bt_n"), col("bt.bt_u").as("bt_u")): _*)

    adcp.join(btEnu, missionCols :+ "time_ns", "left")
  }
}
