package graft

import org.apache.spark.sql.functions._
import org.scalatest.{Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.CacheScope
import graft.pipeline._

/** End-to-end pipeline test against the self-inverting fixture: the
  * synthetic mission is generated by inverting the math chain (known
  * sheared ENU current -> XYZ -> beams at true cell depths), so the
  * pipeline must recover the prescribed field near-exactly — a quantitative
  * golden with no external oracle (FIXTURES.md §4).
  *
  * Every pipeline call runs in its own [[CacheScope]], so a test leaves no
  * cache entry and no persistent RDD behind; the tests share the shear
  * output as files, not as a cache.
  */
class AdcpPipelineSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private lazy val gliderRaw = Fixture.glider(spark)
  private lazy val adcpRaw = Fixture.adcp(spark)

  private lazy val shearOut = {
    val dir = java.nio.file.Files.createTempDirectory("graft-shear-").toString
    CacheScope.using { s =>
      AdcpPipeline.shearFromAdcp(adcpRaw, gliderRaw, Fixture.opts,
        Fixture.cellSize, Fixture.blankingDistance, solveHeading = false,
        scope = s)._1.write.mode("overwrite").parquet(dir)
    }
    (spark.read.parquet(dir), GliderStages.deriveGlider(gliderRaw))
  }

  override def withFixture(test: NoArgTest): Outcome = {
    val sc = spark.sparkContext
    val cacheManager = spark.sharedState.cacheManager
    val (rdds, cached) = (sc.getPersistentRDDs.keySet, !cacheManager.isEmpty)
    super.withFixture(test) match {
      case Succeeded =>
        val left = sc.getPersistentRDDs.keySet -- rdds
        if (left.nonEmpty) Failed(s"persistent RDDs left: $left")
        else if (!cached && !cacheManager.isEmpty) Failed("cached data left")
        else Succeeded
      case other => other
    }
  }

  test("pipeline recovers the prescribed ENU current field") {
    val (adcp, _) = shearOut
    val cells = adcp
      .select(posexplode(arrays_zip(col("bin_depth"), col("e"), col("n"), col("u")))
        .as(Seq("i", "c")))
      .select(col("c.bin_depth").as("z"), col("c.e"), col("c.n"), col("c.u"))
      .where(col("e").isNotNull)
      .withColumn("err_e", abs(col("e") - (lit(0.10) + lit(0.002) * col("z"))))
      .withColumn("err_n", abs(col("n") - (lit(-0.05) + lit(0.001) * col("z"))))
      .withColumn("err_u", abs(col("u")))
    val n = cells.count()
    assert(n > 10000, s"expected plenty of finite cells, got $n")
    val maxErr = cells.agg(max("err_e"), max("err_n"), max("err_u")).first()
    assert(maxErr.getDouble(0) < 1e-6, s"E error ${maxErr.getDouble(0)}")
    assert(maxErr.getDouble(1) < 1e-6, s"N error ${maxErr.getDouble(1)}")
    assert(maxErr.getDouble(2) < 1e-6, s"U error ${maxErr.getDouble(2)}")
  }

  test("shear matches the prescribed vertical gradient") {
    val (adcp, _) = shearOut
    val sh = adcp
      .select(posexplode(col("sh_e")).as(Seq("i", "v")))
      .where(col("v").isNotNull)
      .agg(avg("v"), max(abs(col("v") - 0.002))).first()
    // d(offset)/d(gridded_bin) = cellSize/2 = 1 m per index step
    assert(math.abs(sh.getDouble(0) - 0.002) < 1e-6, s"mean Sh_E ${sh.getDouble(0)}")
    assert(sh.getDouble(1) < 1e-6, s"max Sh_E deviation ${sh.getDouble(1)}")
  }

  test("heading solve stays at identity for a calibrated compass") {
    val (adcp, glider) = (adcpRaw, GliderStages.deriveGlider(gliderRaw))
    val aligned = AdcpStages.align(adcp, glider)
    val cal = HeadingCorrection.solve(aligned, Fixture.magTarget)
    // fixture mag vectors have |B| == target, so identity is the optimum
    assert(math.abs(cal.a(0) - 1.0) < 1e-2 && math.abs(cal.a(4) - 1.0) < 1e-2)
    val hdg = HeadingCorrection.correctedHeading(Fixture.opts, cal)(aligned)
      .select(abs(col("heading") - col("heading_old"))).agg(max("abs((heading - heading_old))"))
    assert(hdg.first().getDouble(0) < 0.5, "corrected heading drifted > 0.5 deg")
  }

  test("geomag provider seam resolves declination and field target") {
    object FakeGeomag extends GeomagProvider {
      def declination(lat: Double, lon: Double, epochSec: Double): Double = 3.25
      def fieldStrengthMilligauss(lat: Double, lon: Double, epochSec: Double): Double = 512.5
    }
    val opts = Fixture.opts.copy(geomag = Some(FakeGeomag))
    // without a declination column: provider fills a per-mission constant
    val bare = GliderStages.deriveGlider(gliderRaw).drop("declination")
    val (filled, opts2) = GliderStages.applyGeomag(bare, opts)
    assert(opts2.geomagTargetMilligauss == 512.5)
    val ds = filled.select(min("declination"), max("declination")).first()
    assert(ds.getDouble(0) == 3.25 && ds.getDouble(1) == 3.25)
    // with the column already present: passthrough, like the reference
    val withCol = GliderStages.deriveGlider(gliderRaw)
    val (kept, _) = GliderStages.applyGeomag(withCol, opts)
    val orig = withCol.agg(avg("declination")).first().getDouble(0)
    assert(kept.agg(avg("declination")).first().getDouble(0) == orig)
    // no provider: exact no-op
    val (same, opts3) = GliderStages.applyGeomag(withCol, Fixture.opts)
    assert(same eq withCol)
    assert(opts3 == Fixture.opts)
    // two-mission path: one provider call per mission via broadcast dim-join
    val two = bare.withColumn("mission", lit(1))
      .unionByName(bare.withColumn("mission", lit(2)))
    val (filled2, _) = GliderStages.applyGeomag(two, opts, Seq("mission"))
    assert(filled2.where(col("declination") === 3.25).count() == two.count())
  }

  test("agg-based heading objective matches the collected solve") {
    // above-threshold path: same RMSD as a DataFrame aggregate per solver
    // step. With identical objective values the deterministic Nelder-Mead
    // walks the same simplex, so both paths land on the same calibration
    // (1e-3 slack covers partition-order float summation differences).
    val aligned = AdcpStages.align(adcpRaw, GliderStages.deriveGlider(gliderRaw))
    val budget = 150 // identical step budget for both paths, keeps the test fast
    val collected = HeadingCorrection.solve(aligned, Fixture.magTarget, maxIter = budget)
    val agg = HeadingCorrection.solve(aligned, Fixture.magTarget,
      collectThreshold = 0L, maxIter = budget)
    assert(math.abs(collected.rmsd - agg.rmsd) < 1e-3,
      s"rmsd diverged: ${collected.rmsd} vs ${agg.rmsd}")
    collected.a.zip(agg.a).zipWithIndex.foreach { case ((c, g), i) =>
      assert(math.abs(c - g) < 1e-3, s"A[$i] diverged: $c vs $g")
    }
    collected.b.zip(agg.b).zipWithIndex.foreach { case ((c, g), i) =>
      assert(math.abs(c - g) < 1e-3, s"B[$i] diverged: $c vs $g")
    }
  }

  test("velocity_from_shear produces a finite referenced grid") {
    val (adcp, glider) = shearOut
    CacheScope.using { s =>
      val (ds, axes) = AdcpPipeline.velocityFromShear(adcp, glider, Fixture.opts,
        None, spark, scope = s)
      val stats = ds.agg(
        count(when(col("ADCP_E").isNotNull && !isnan(col("ADCP_E")), 1)),
        max(abs(col("ADCP_E"))), max(abs(col("ADCP_N")))).first()
      assert(stats.getLong(0) > 50, s"too few finite ADCP_E cells: ${stats.getLong(0)}")
      assert(stats.getDouble(1) < 2.0 && stats.getDouble(2) < 2.0,
        "referenced velocities exploded")
      assert(axes.nY >= 49 && axes.nProfiles == 6)
    }
  }

  test("velocity_from_shear output carries the reference's variable breadth") {
    // grid_data + _grid_glider_data (process_adcp.py:1797-1856): the final
    // dataset must carry the Sh grids, ADCP attitude grids, EVERY numeric
    // glider column (DAC and dead-reckoning derivations included), the
    // referenced velocities and the per-profile datetime.
    val (adcp, glider) = shearOut
    val cols = CacheScope.using { s =>
      AdcpPipeline.velocityFromShear(adcp, glider, Fixture.opts, None, spark,
        scope = s)._1.columns.toSet
    }
    val expected = Set(
      "xbin", "ybin",
      "Sh_E", "Sh_N", "Sh_U",                       // exploded ADCP bin grids
      "Heading", "Pitch", "Roll", "pressure_adcp",  // ADCP 1-D attitude grids
      "latitude", "longitude", "pressure",          // glider navigation
      "temperature", "salinity", "soundspeed",      // glider science
      "speed_vert", "speed_horz", "date_float",     // glider flight
      "dac_e", "dac_n", "speed_e", "speed_n",       // DAC derivations
      "ADCP_E", "ADCP_N",                           // referenced velocities
      "profile_datetime_ns")                        // make_dataset extra
    val missing = expected -- cols
    assert(missing.isEmpty, s"missing gridded variables: $missing")
    // excluded navigation/QC plumbing must NOT be gridded
    val excluded = GridOutput.gliderExcludeFromGrid & cols
    assert(excluded.isEmpty, s"excluded columns leaked into the grid: $excluded")
  }

  test("verify_depth_bias histograms and calc_bias variances are well-formed") {
    val (adcp, glider) = shearOut
    CacheScope.using { s =>
      val (ds, axes) = AdcpPipeline.velocityFromShear(adcp, glider, Fixture.opts,
        None, spark, scope = s)
      val out = s.persist(ds)

      val hist = s.persist(GridOutput.verifyDepthBias(out, axes, spark))
      assert(hist.count() > 0, "no histogram cells produced")
      val vars = hist.select("var").distinct().collect().map(_.getString(0)).toSet
      assert(vars.subsetOf(Set("ADCP_E", "ADCP_N", "MAG")) && vars.nonEmpty)
      val dirs = hist.select("direction").distinct().collect().map(_.getString(0)).toSet
      assert(dirs.subsetOf(Set("N", "S")) && dirs.nonEmpty)
      // np.histogram(density=True) parity: per group, sum(density * width) == 1
      val unit = hist.groupBy("var", "slab", "direction")
        .agg(sum(col("density") * (1.0 / 99)).as("mass"))
        .agg(max(abs(col("mass") - 1.0))).first().getDouble(0)
      assert(unit < 1e-9, s"histogram mass deviates from 1 by $unit")

      val moments = s.persist(GridOutput.verifyDepthBiasMoments(out, axes, spark)
        .where(col("n") > 1))
      assert(moments.count() > 0)
      val seOk = moments
        .where(abs(col("se") - col("std") / sqrt(col("n"))) > 1e-12).count()
      assert(seOk == 0, "standard error inconsistent with std/sqrt(n)")

      val cb = GridOutput.verifyCalcBias(out, axes)
      assert(cb.count() > 0)
      assert(cb.where(col("var_e") < 0 || col("var_n") < 0 || col("var_mag") < 0)
        .count() == 0, "negative variance")
    }
  }

  test("verifyEnu recovers closed-form regime histograms and nan-means") {
    // Mission A dives on an exact line (depth = 30 + 0.01 t, so
    // np.gradient = 0.01 at every ping including the one-sided edges —
    // the i=6 pitch-0 ping extends the line so i=5 keeps a centered
    // neighbor while itself matching no regime); mission B climbs at
    // -0.02. The u arrays carry a null middle slot (nan-mean parity):
    // U_A = 0.003, U_B = -0.003, so d = dP - U is 0.007 / -0.017 at
    // every regime ping. A pressure-5 ping is planted INSIDE mission A's
    // time span: the gate must drop it before the gradient window or it
    // would corrupt its neighbors' derivatives.
    val rows =
      (0 to 6).map { i => (0L, i * 1000000L, 30.0 + 0.01 * i, 30.0,
        if (i < 6) -20.0 else 0.0, Seq[java.lang.Double](0.002, null, 0.004)) } ++
      Seq((0L, 2500000L, 999.0, 5.0, -20.0,
        Seq[java.lang.Double](0.002, null, 0.004))) ++
      (0 to 5).map { i => (1L, i * 1000000L, 50.0 - 0.02 * i, 30.0, 20.0,
        Seq[java.lang.Double](-0.004, null, -0.002)) }
    val pings = rows.toDF("m", "time_us", "depth", "pressure", "pitch", "u")
    val out = GridOutput.verifyEnu(pings, missionCols = Seq("m")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.length == 2, s"expected one bin row per regime, got ${out.toSeq}")
    val step = 0.04 / 99
    val Seq(dive) = out.filter(t => t._1 == 0L && t._2 == "dive").toSeq
    assert(dive._3 == math.floor((0.007 + 0.02) / step).toLong) // bin 66
    assert(dive._4 == 6 && dive._5 == 6)
    assert(math.abs(dive._6 - 0.007) < 1e-9, s"dive mean ${dive._6}")
    val Seq(climb) = out.filter(t => t._1 == 1L && t._2 == "climb").toSeq
    assert(climb._3 == math.floor((-0.017 + 0.02) / step).toLong) // bin 7
    assert(climb._4 == 6 && climb._5 == 6)
    assert(math.abs(climb._6 - (-0.017)) < 1e-9, s"climb mean ${climb._6}")
  }

  test("verifyEnu gradient is second-order on a gate-created non-uniform axis") {
    // depth = 30 + 0.01 t + 0.0001 t^2 on kept pings at t = 0,1,3,4,5 s —
    // the t=2 ping is planted with pressure 5 (and poison depth) so the
    // Pressure>10 gate REMOVES it, leaving a gappy axis exactly like the
    // reference's filtered time. numpy's second-order interior weights are
    // exact on quadratics: dP = 0.01 + 0.0002 t at t=1,3,4; one-sided
    // edges give 0.0101 (t=0) and 0.0109 (t=5). U = nanmean(0.002, null,
    // 0.004) = 0.003, so d = dP - 0.003 = [.0071,.0072,.0076,.0078,.0079]
    // -> bins 67,67,68,68,69. A first-order centered gradient would give
    // e.g. (d(3)-d(0))/3 = 0.01 + 0.0001*3 = 0.0103 at t=1 (bin differs).
    def depth(t: Double) = 30.0 + 0.01 * t + 0.0001 * t * t
    val rows = Seq(0, 1, 3, 4, 5).map { t =>
      (0L, t * 1000000L, depth(t), 30.0, -15.0,
        Seq[java.lang.Double](0.002, null, 0.004))
    } :+ ((0L, 2000000L, 999.0, 5.0, -15.0,
      Seq[java.lang.Double](0.002, null, 0.004)))
    val pings = rows.toDF("m", "time_us", "depth", "pressure", "pitch", "u")
    val out = GridOutput.verifyEnu(pings, missionCols = Seq("m")).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((67L, 2L), (68L, 2L), (69L, 1L)),
      s"bins ${out.toSeq}")
    assert(out.forall(_._3 == 5L))
    val expMean = (0.0101 + 0.0102 + 0.0106 + 0.0108 + 0.0109 - 5 * 0.003) / 5
    out.foreach(t => assert(math.abs(t._4 - expMean) < 1e-9, s"mean ${t._4}"))
  }

  test("bottom track attaches BT_E/N/U on matched pings") {
    val (adcp, _) = shearOut
    // synthesize a BT table from a few ADCP pings with plausible beams
    val bt = adcpRaw.limit(200)
      .select(col("time_ns"), col("pressure"),
        col("heading"), col("pitch"), col("roll"),
        element_at(col("vel1"), 1).as("vel_b1"),
        element_at(col("vel2"), 1).as("vel_b2"),
        element_at(col("vel4"), 1).as("vel_b4"),
        lit(5.0).as("fom_b1"), lit(5.0).as("fom_b2"), lit(5.0).as("fom_b4"),
        lit(1500.0).as("speed_of_sound_bt"))
    val out = GliderStages.bottomTrack(Fixture.opts)(adcp, bt)
    assert(out.columns.contains("bt_e"))
    assert(out.where(col("bt_e").isNotNull).count() > 0)
    // duplicate BT pings matching the same ADCP ping must not multiply rows
    // (the reference's scatter assignment overwrites; last match wins)
    val out2 = GliderStages.bottomTrack(Fixture.opts)(adcp, bt.unionByName(bt))
    assert(out2.count() == out.count(), "duplicate BT matches multiplied ADCP rows")
  }

  test("discardFirstBins drops leading range bins from every array") {
    val out = AdcpStages.discardFirstBins(3)(adcpRaw)
    val sizes = out.select(size(col("ranges")), size(col("vel1")), size(col("corr4")))
      .first()
    assert(sizes.getInt(0) == Fixture.nBins - 3)
    assert(sizes.getInt(1) == Fixture.nBins - 3 && sizes.getInt(2) == Fixture.nBins - 3)
  }

  test("csv export of the gridded dataset round-trips") {
    val (adcp, glider) = shearOut
    CacheScope.using { s =>
      val (grid, _) = AdcpPipeline.gridShear(adcp, glider, Fixture.opts, scope = s)
      val dir = java.nio.file.Files.createTempDirectory("graft-csv-").toString
      GridOutput.exportCsv(grid, dir)
      val back = spark.read.option("header", "true").csv(dir)
      assert(back.count() == grid.count())
    }
  }

  test("per-variable csv export re-reads to the tall grid exactly") {
    val (adcp, glider) = shearOut
    CacheScope.using { s =>
      val (grid, axes) = AdcpPipeline.gridShear(adcp, glider, Fixture.opts, scope = s)
      val vars = Seq("Sh_E", "Pitch")
      val dir = java.nio.file.Files.createTempDirectory("graft-csvv-").toString
      GridOutput.exportCsvPerVariable(grid, axes, dir, vars, singleFile = true)
      vars.foreach { v =>
        val back = spark.read.option("header", "true").csv(s"$dir/$v")
        val xCols = back.columns.filterNot(_ == "ybin").toSeq
        // melt the matrix back to tall (xbin, ybin, value)
        val tall = back.select(col("ybin").cast("long"),
            posexplode(array(xCols.map(c => col(c).cast("double")): _*))
              .as(Seq("xi", "v_csv")))
          .withColumn("xbin",
            element_at(typedLit(xCols.map(_.toLong)), col("xi") + 1))
          .drop("xi")
        val joined = grid.select(col("xbin"), col("ybin"), col(v).as("v_grid"))
          .join(tall, Seq("xbin", "ybin"), "full")
        // every grid cell present with the identical value; csv cells not in
        // the sparse tall grid must be empty
        val bad = joined.where(
          (col("v_grid").isNotNull =!= col("v_csv").isNotNull) ||
          (col("v_grid").isNotNull &&
            abs(col("v_grid") - col("v_csv")) > 1e-12)).count()
        assert(bad == 0, s"$v: $bad csv cells diverge from the tall grid")
    }
    }
  }

  test("per-variable csv export splits missions into partition subdirectories") {
    val grid = Seq(
      (1, 0L, 0L, 1.5), (1, 0L, 1L, 2.5), (1, 1L, 0L, 3.5),
      (2, 0L, 0L, 4.5), (2, 1L, 1L, 5.5)
    ).toDF("mission", "xbin", "ybin", "V")
    val axes = GridOutput.Axes(2.0, 1.0, Seq("mission"),
      grid.select("mission", "xbin").distinct(), 4L)
    val dir = java.nio.file.Files.createTempDirectory("graft-csvm-").toString
    GridOutput.exportCsvPerVariable(grid, axes, dir, Seq("V"), singleFile = true)
    val back = spark.read.option("header", "true").option("basePath", s"$dir/V")
      .csv(s"$dir/V")
    // partition column recovered from the subdirectory names
    assert(back.columns.contains("mission"))
    val m1 = back.where(col("mission") === 1).orderBy(col("ybin"))
      .select(col("0").cast("double"), col("1").cast("double"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(m1.toSeq == Seq((Some(1.5), Some(3.5)), (Some(2.5), None)),
      s"mission 1 matrix wrong: ${m1.toSeq}")
    val m2 = back.where(col("mission") === 2).orderBy(col("ybin"))
      .select(col("0").cast("double"), col("1").cast("double"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(m2.toSeq == Seq((Some(4.5), None), (None, Some(5.5))),
      s"mission 2 matrix wrong: ${m2.toSeq}")
  }

  test("two concurrent missions partition cleanly and both recover exactly") {
    // same fixture duplicated as two missions with disjoint time ranges and
    // a mission key: the alignment interp-join partitions by mission, so
    // nothing leaks across missions and recovery stays exact for both —
    // the multi-mission 100 TB execution shape.
    val shift = 10000000000000L // 10^13 ns ~ 2.8 h apart
    def tag(df: org.apache.spark.sql.DataFrame, m: Int, shiftNs: Long) =
      df.withColumn("mission", lit(m))
        .withColumn("time_ns", col("time_ns") + lit(shiftNs))
    val glider2 = tag(gliderRaw, 1, 0L).unionByName(tag(gliderRaw, 2, shift))
    val adcp2 = tag(adcpRaw, 1, 0L).unionByName(tag(adcpRaw, 2, shift))
    CacheScope.using { s =>
      val (adcp, _) = AdcpPipeline.shearFromAdcp(adcp2, glider2, Fixture.opts,
        Fixture.cellSize, Fixture.blankingDistance, solveHeading = false,
        missionCols = Seq("mission"), scope = s)
      val cells = adcp
        .select(col("mission"),
          posexplode(arrays_zip(col("bin_depth"), col("e"))).as(Seq("i", "c")))
        .select(col("mission"), col("c.bin_depth").as("z"), col("c.e"))
        .where(col("e").isNotNull)
        .withColumn("err", abs(col("e") - (lit(0.10) + lit(0.002) * col("z"))))
      val byMission = cells.groupBy("mission")
        .agg(count(lit(1)).as("n"), max("err").as("maxerr"))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(byMission.keySet == Set(1, 2))
      byMission.foreach { case (m, (n, err)) =>
        assert(n > 10000, s"mission $m too few cells: $n")
        assert(err < 1e-6, s"mission $m error $err")
    }
    }
  }

  test("two-mission velocity_from_shear references each mission independently") {
    // mirror of the two-mission shear test through the FULL grid path: DAC
    // dead-reckoning, gridding, referencing and the bias solve must all key
    // on the mission column, so each mission's referenced grid equals the
    // single-mission run's (same fixture twice -> identical per-mission
    // output; interleaved state would break the equality).
    val shift = 10000000000000L
    def tag(df: org.apache.spark.sql.DataFrame, m: Int, shiftNs: Long) =
      df.withColumn("mission", lit(m))
        .withColumn("time_ns", col("time_ns") + lit(shiftNs))
    val glider2 = tag(gliderRaw, 1, 0L).unionByName(tag(gliderRaw, 2, shift))
    val adcp2 = tag(adcpRaw, 1, 0L).unionByName(tag(adcpRaw, 2, shift))
    CacheScope.using { s =>
      val (sheared, _) = AdcpPipeline.shearFromAdcp(adcp2, glider2, Fixture.opts,
        Fixture.cellSize, Fixture.blankingDistance, solveHeading = false,
        missionCols = Seq("mission"), scope = s)
      val (ds, axes) = AdcpPipeline.velocityFromShear(
        sheared, GliderStages.deriveGlider(glider2), Fixture.opts, None, spark,
        missionCols = Seq("mission"), scope = s)
      assert(axes.nProfiles == 12) // 6 per mission
      val byMission = ds
        .groupBy("mission")
        .agg(count(when(col("ADCP_E").isNotNull && !isnan(col("ADCP_E")), 1)).as("n"),
          max(abs(col("ADCP_E"))).as("mx_e"), max(abs(col("ADCP_N"))).as("mx_n"))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(byMission.keySet == Set(1, 2))
      byMission.foreach { case (m, (n, mxE, mxN)) =>
        assert(n > 50, s"mission $m too few finite ADCP_E cells: $n")
        assert(mxE < 2.0 && mxN < 2.0, s"mission $m referenced velocities exploded")
    }
    // per-mission equality with the single-mission run: same fixture, so
    // every (xbin, ybin) cell must agree across the two missions
    val m1 = ds.where(col("mission") === 1)
      .select(col("xbin"), col("ybin"), col("ADCP_E").as("e1"))
    val m2 = ds.where(col("mission") === 2)
      .select(col("xbin"), col("ybin"), col("ADCP_E").as("e2"))
    val cmp = m1.join(m2, Seq("xbin", "ybin"))
      .where(col("e1").isNotNull && col("e2").isNotNull &&
        !isnan(col("e1")) && !isnan(col("e2")))
    val nCmp = cmp.count()
    assert(nCmp > 50, s"too few comparable cells: $nCmp")
    val maxDiff = cmp.agg(max(abs(col("e1") - col("e2")))).first().getDouble(0)
    assert(maxDiff < 1e-9, s"missions diverged: $maxDiff")
    }
  }

  test("grid_shear entry point grids the three shear components") {
    val (adcp, glider) = shearOut
    CacheScope.using { s =>
      val (grid, axes) = AdcpPipeline.gridShear(adcp, glider, Fixture.opts, scope = s)
      val r = grid.agg(count(lit(1)), avg("sh_e")).first()
      assert(r.getLong(0) > 100)
      assert(math.abs(r.getDouble(1) - 0.002) < 2e-4)
      assert(axes.nX == 5)
    }
  }

  test("netCDF converter output round-trips through shearFromAdcp") {
    import scala.sys.process._
    // tools/nc_to_parquet.py --selftest writes a synthetic NetCDF-classic
    // Average+BT pair (same epoch origin as Fixture), converts it through
    // the same code path real .ad2cp.nc files take, and self-checks the
    // round-trip; here the converted parquet must drive the engine e2e.
    val have = Process(Seq("python3", "-c", "import pyarrow, numpy")).!(
      ProcessLogger(_ => ())) == 0
    assume(have, "python3 with pyarrow/numpy not available")
    val out = java.nio.file.Files.createTempDirectory("nc_smoke").toString
    val rc = Process(Seq("python3", "tools/nc_to_parquet.py",
      "--selftest", out)).!(ProcessLogger(_ => ()))
    assert(rc == 0, s"converter selftest failed (rc=$rc)")
    val adcpNc = spark.read.parquet(s"$out/adcp.parquet")
    val btNc = spark.read.parquet(s"$out/bt.parquet")
    assert(adcpNc.count() == 1200 && btNc.count() == 200)
    val r = CacheScope.using { s =>
      val (a, _) = AdcpPipeline.shearFromAdcp(adcpNc, gliderRaw, Fixture.opts,
        Fixture.cellSize, Fixture.blankingDistance, solveHeading = false,
        scope = s)
      GliderStages.bottomTrack(Fixture.opts)(a, btNc).agg(count(lit(1)),
        count(col("sh_e")), count(col("bt_e"))).first()
    }
    assert(r.getLong(0) > 0, "no pings survived the pipeline")
    assert(r.getLong(1) > 0, "no shear cells from converted input")
    assert(r.getLong(2) > 0, "no bottom-track matches from converted input")
  }
}
