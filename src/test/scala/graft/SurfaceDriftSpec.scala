package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Teos10
import graft.pipeline.GliderStages

/** getSurfaceDrift (process_adcp.py:1435-1478) on hand-built fixes. At a
  * constant latitude the degree-to-meter factors are constants, so each
  * drift is a gradient ratio times one factor: centered over the fix
  * sequence inside, one-sided at its ends, fixes whose time gradient is
  * 21 s or more dropped, then per-dive medians and mean times.
  */
class SurfaceDriftSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val t0 = 1700000000000000000L
  private val lat = 45.0

  test("surfaceDrift pins per-dive medians over dense fixes and drops the gap") {
    // (seconds, longitude, dive, is a fix); the non-fix rows carry wild
    // longitudes that must not enter any gradient
    val rows = Seq(
      (0, 10.000, 1, true), (5, 99.0, 1, false), (10, 10.001, 1, true),
      (20, 10.003, 1, true), (30, -99.0, 1, false), (40, 10.004, 1, true),
      (500, 55.0, 2, false),
      (1000, 10.100, 2, true), (1005, 10.102, 2, true), (1010, 10.103, 2, true))
    val glider = rows.map { case (s, lon, dive, fix) =>
      (t0 + s * 1000000000L, (t0 + s * 1000000000L).toDouble, lat, lon,
        dive.toDouble, if (fix) 0.0 else 2.0, if (fix) 116.0 else 0.0)
    }.toDF("time_ns", "date_float", "latitude", "longitude", "dive_number",
      "dead_reckoning", "nav_resource")
    val got = GliderStages.surfaceDrift(glider).collect()
      .map(r => (r.getAs[Double]("dive"), r.getAs[Double]("drift_e"),
        r.getAs[Double]("drift_n"), r.getAs[Double]("drift_t")))
    val mLon = Seq(1).toDF("one")
      .select(Teos10.lonToMeters(lit(10.0), lit(lat))).first().getDouble(0)
    // time gradients over the 7 fixes: 10, 10, 15, 490, 482.5, 5, 5 s —
    // the dive-2 fix at 1000 s and the dive-1 fix at 40 s straddle the gap
    // dive 1: dlon 0.001, 0.0015, 0.0015 deg over 10, 10, 15 s
    // dive 2: dlon 0.0015, 0.001 deg over 5, 5 s (median of two: the mean)
    val want = Seq(
      (1.0, 1e-4 * mLon, 0.0, t0 / 1e9 + 10.0),
      (2.0, 2.5e-4 * mLon, 0.0, t0 / 1e9 + 1007.5))
    assert(got.length == want.length, got.toSeq)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1)
      assert(math.abs(g._2 - w._2) <= 1e-6 * math.abs(w._2), s"drift_e $g vs $w")
      assert(g._3 == 0.0, s"drift_n $g")
      assert(math.abs(g._4 - w._4) <= 1e-5, s"drift_t $g vs $w")
    }
  }
}
