package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline._

/** The glider mission workloads: the synthetic SeaExplorer mission
  * (`graft.pipeline.Fixture`) through `shearFromAdcp` (with the heading
  * solve), forced by a noop write, and then `velocityFromShear`, forced by
  * collecting the gridded dataset.
  * A fleet is several time-shifted copies keyed by a `mission` column.
  */
object Mission {

  final case class Inputs(glider: DataFrame, adcp: DataFrame, pings: Long,
      missions: Int, missionCols: Seq[String]) {
    def release(): Unit = { glider.unpersist(); adcp.unpersist(); () }
  }

  /** One leg's outcome: seconds to the forced output, seconds spent inside
    * the call before the action, and a failure message when the call threw
    * or its check failed.
    */
  final case class Leg(seconds: Double, callSeconds: Double,
      error: Option[String], checkFailed: Boolean)

  // the closed-form current the fixture prescribes (m/s at depth z, m)
  private def fieldE(z: Double) = 0.10 + 0.002 * z
  private def fieldN(z: Double) = -0.05 + 0.001 * z
  // gridded shear per gridded bin step (d field / d bin, bins 1 m apart)
  private val shearE = 0.002
  private val shearN = 0.001
  // recovered cells are exact up to rounding (7e-17 seen); a real fault
  // is many orders larger
  private val fieldTol = 1e-9
  // the fleet's copies reduce in different partition orders
  private val fleetTol = 1e-9

  /** Builds and caches the mission table(s). The seed picks the time
    * offset of every mission (whole hours, so the 1 Hz sampling grid is
    * unchanged) and the order of the fleet's copies.
    */
  def inputs(spark: SparkSession, profiles: Int, missions: Int,
      seed: Long): Inputs = {
    val rnd = new scala.util.Random(seed)
    val hourNs = 3600L * 1000000000L
    val offsets = rnd.shuffle((0 until missions).toList)
      .map(k => (rnd.nextInt(48) + 48L * k) * hourNs)
    val g0 = Fixture.glider(spark, profiles)
    val a0 = Fixture.adcp(spark, profiles)
    def shift(df: DataFrame, m: Int): DataFrame = {
      val d = df.withColumn("time_ns", col("time_ns") + lit(offsets(m)))
      if (missions == 1) d else d.withColumn("mission", lit(m + 1))
    }
    val parts = spark.sparkContext.defaultParallelism
    def all(df: DataFrame) = (0 until missions).map(shift(df, _))
      .reduce(_.unionByName(_)).repartition(parts)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val glider = all(g0); val adcp = all(a0)
    val pings = adcp.count(); glider.count()
    Inputs(glider, adcp, pings, missions,
      if (missions == 1) Nil else Seq("mission"))
  }

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def attempt(body: => Option[String]): Option[String] =
    try body
    catch { case e: Exception =>
      Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }

  /** One timed cycle of the composed entry points. Checks and cache
    * release run after the timed window.
    */
  def cycle(spark: SparkSession, in: Inputs, tr: Option[Tracer]):
      (Leg, Leg, Option[Layers]) = {
    def span[T](n: String)(b: => T): T = tr.fold(b)(_.span(n)(b))
    var shear: Option[(DataFrame, DataFrame)] = None
    val before = tr.map(_.snapshot())
    val t0 = System.nanoTime()
    var tc = t0
    val shearErr = attempt {
      val out = span("pipeline.shear_from_adcp.call") {
        AdcpPipeline.shearFromAdcp(in.adcp, in.glider, Fixture.opts,
          Fixture.cellSize, Fixture.blankingDistance, solveHeading = true,
          missionCols = in.missionCols)
      }
      tc = System.nanoTime()
      shear = Some(out)
      span("pipeline.shear_from_adcp.force")(force(out._1))
      None
    }
    val t1 = System.nanoTime()
    var grid: Option[(Array[Row], GridOutput.Axes)] = None
    var t2 = t1
    val velErr = shear match {
      case None => Some("not run: shear failed")
      case Some((adcp, glider)) => attempt {
        val (ds, ax) = span("pipeline.velocity_from_shear.call") {
          AdcpPipeline.velocityFromShear(adcp, glider, Fixture.opts, None,
            spark, missionCols = in.missionCols)
        }
        t2 = System.nanoTime()
        // collecting forces every column, and the check reads the rows
        grid = Some((span("pipeline.velocity_from_shear.force")(ds.collect()), ax))
        None
      }
    }
    val t3 = System.nanoTime()
    val layers = tr.map(t => Layers(t.snapshot() - before.get,
      t.gapSeconds(t0, t3)))
    val shearCheck =
      if (shearErr.isEmpty) attempt(checkShear(shear.get._1, in)) else None
    val velCheck =
      if (velErr.isEmpty) attempt(checkGrid(grid.get._1, in)) else None
    grid.foreach(_._2.release())
    AdcpPipeline.releaseCaches()
    (Leg((t1 - t0) / 1e9, (tc - t0) / 1e9, shearErr.orElse(shearCheck),
       shearCheck.isDefined),
     Leg((t3 - t1) / 1e9, (t2 - t1) / 1e9, velErr.orElse(velCheck),
       velCheck.isDefined),
     layers)
  }

  /** The traced stage split: the public stage functions in the order
    * `AdcpPipeline` composes them, each output checkpointed before the next
    * stage starts (as `StageProfile` puts a barrier after each stage).
    * Returns per-stage (name, seconds, jobs) and the errors of the two
    * checks, which are the same checks the composed cycle faces. A stage's
    * seconds include its checkpoint, which is where its lazy plan runs; its
    * jobs leave out the checkpoint's own job.
    */
  def stageSplit(spark: SparkSession, in: Inputs, tr: Tracer):
      (Seq[(String, Double, Long)], Option[String], Option[String]) = {
    val opts0 = Fixture.opts
    val mc = in.missionCols
    val kept = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val rows = scala.collection.mutable.ArrayBuffer[(String, Double, Long)]()
    def timed[T](name: String, harnessJobs: Int = 0)(body: => T): T = {
      val before = tr.snapshot()
      val t0 = System.nanoTime()
      System.err.println(s"[perfbench] stage $name")
      val out = tr.span(s"pipeline.$name")(body)
      val secs = (System.nanoTime() - t0) / 1e9
      rows += ((name, secs, (tr.snapshot() - before).jobs - harnessJobs))
      out
    }
    // a checkpoint, not a persist: persisting each of sixteen chained
    // stages makes every cache name embed the previous ones' plan strings,
    // which ran a 4 GB heap out of memory. An eager local checkpoint runs
    // one job of its own.
    def stage(name: String, df: => DataFrame): DataFrame = timed(name, 1) {
      val p = df.localCheckpoint(eager = true)
      kept += p; p
    }
    var geo: GliderStages.GeomagResult = null
    var adcp = stage("align", {
      geo = GliderStages.applyGeomagPerMission(
        GliderStages.deriveGlider(in.glider), opts0, mc)
      val a = AdcpStages.align(in.adcp, geo.glider, mc)
      a.repartition(a.sparkSession.sparkContext.defaultParallelism)
    })
    val glider = geo.glider; val opts = geo.opts
    adcp = stage("remap_depth", AdcpStages.remapDepth(opts)(adcp))
    adcp = stage("heading",
      if (!opts.correctAdcpHeading) adcp
      else if (mc.nonEmpty) HeadingCorrection.perMission(opts, geo.targets, mc)(adcp)
      else HeadingCorrection(opts)(adcp))
    adcp = stage("soundspeed", AdcpStages.soundspeedCorrection(adcp))
    adcp = stage("remove_outliers", AdcpStages.removeOutliers(opts)(adcp))
    adcp = stage("correct_shear", AdcpPipeline.correctShear(opts)(adcp))
    adcp = stage("backscatter", AdcpStages.backscatterCorrection(opts)(adcp))
    adcp = stage("regrid",
      AdcpStages.regrid(opts, Fixture.cellSize, Fixture.blankingDistance)(adcp))
    adcp = stage("three_beam_xyz", AdcpStages.threeBeamXyz(opts)(adcp))
    adcp = stage("enu_shear", AdcpStages.enuAndShear(opts)(adcp))
    val shearErr = attempt(checkShear(adcp, in))
    // velocity_from_shear's composition (bottom track is not part of it
    // here: the fixture has no bottom-track table)
    val dacGlider = stage("get_dac", GliderStages.getDac(adcp, glider, mc))
    val ax = timed("axes")(GridOutput.axes(dacGlider, opts0, mc))
    val grid0 = stage("grid_data", GridOutput.gridData(adcp, dacGlider, ax))
    val ref = stage("reference_shear",
      GridOutput.referenceShear(grid0, ax, opts0.yRes))
    val biased = stage("calc_bias", GridOutput.calcBias(ref, ax, spark))
    val ds = stage("make_dataset", GridOutput.makeDataset(biased, ax))
    val gridErr = attempt(checkGrid(ds.collect(), in))
    kept.foreach(_.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist()
    })
    ax.release()
    (rows.toSeq, shearErr, gridErr)
  }

  /** Every finite recovered E/N/U cell equals the prescribed field, and
    * enough cells survive QC. Evaluated in plain Scala on the collected
    * arrays, not with the engine's expressions.
    */
  def checkShear(adcp: DataFrame, in: Inputs): Option[String] = {
    val rows = adcp.select("bin_depth", "e", "n", "u").collect()
    var cells = 0L; var worst = 0.0
    rows.foreach { r =>
      val z = arr(r, 0); val e = arr(r, 1); val n = arr(r, 2); val u = arr(r, 3)
      (0 until Seq(z, e, n, u).map(_.length).min).foreach { i =>
        if (finite(e(i)) && finite(n(i)) && finite(u(i)) && finite(z(i))) {
          cells += 1
          worst = Seq(worst, math.abs(e(i) - fieldE(z(i))),
            math.abs(n(i) - fieldN(z(i))), math.abs(u(i))).max
        }
      }
    }
    val minCells = in.pings * Fixture.nBins / 2
    if (rows.length != in.pings) Some(s"shear rows ${rows.length} != pings ${in.pings}")
    else if (cells < minCells) Some(s"only $cells finite ENU cells (< $minCells)")
    else if (!(worst <= fieldTol)) Some(s"ENU error $worst > $fieldTol")
    else None
  }

  /** Gridded Sh_E / Sh_N equal the prescribed gradient in every finite
    * cell, referenced velocities exist, and (for a fleet) every mission's
    * grid equals every other mission's cell by cell.
    */
  def checkGrid(rows: Array[Row], in: Inputs): Option[String] = {
    val vars = Seq("Sh_E", "Sh_N", "Sh_U", "ADCP_E", "ADCP_N")
    def v(r: Row, name: String): Double = {
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    }
    var shCells = 0L; var worst = 0.0; var adcpCells = 0L
    rows.foreach { r =>
      if (finite(v(r, "Sh_E"))) {
        shCells += 1; worst = math.max(worst, math.abs(v(r, "Sh_E") - shearE))
      }
      if (finite(v(r, "Sh_N")))
        worst = math.max(worst, math.abs(v(r, "Sh_N") - shearN))
      if (finite(v(r, "ADCP_E"))) adcpCells += 1
    }
    val fleetErr = if (in.missions == 1) None else {
      val cells = rows.groupBy(_.getAs[Any]("mission")).view.mapValues(_.map(r =>
        (r.getAs[Any]("xbin"), r.getAs[Any]("ybin")) -> vars.map(v(r, _))).toMap).toMap
      if (cells.size != in.missions) Some(s"${cells.size} missions gridded, want ${in.missions}")
      else {
        val ref = cells.values.head
        cells.collectFirst {
          case (m, c) if c.keySet != ref.keySet => s"mission $m grids other cells"
          case (m, c) if c.exists { case (k, vs) => vs.zip(ref(k)).exists {
              case (a, b) => !(a.isNaN && b.isNaN) && !(math.abs(a - b) <= fleetTol) } } =>
            s"mission $m differs from another mission by more than $fleetTol"
        }
      }
    }
    if (shCells == 0) Some("no finite gridded Sh_E cell")
    else if (!(worst <= fieldTol)) Some(s"gridded shear error $worst > $fieldTol")
    else if (adcpCells == 0) Some("no finite ADCP_E cell")
    else fleetErr
  }

  private def finite(x: Double) = !x.isNaN && !x.isInfinite

  private def arr(r: Row, i: Int): IndexedSeq[Double] =
    if (r.isNullAt(i)) IndexedSeq.empty
    else r.getSeq[Any](i).map {
      case null => Double.NaN
      case d: Double => d
      case f: Float => f.toDouble
      case x => x.toString.toDouble
    }.toIndexedSeq
}
