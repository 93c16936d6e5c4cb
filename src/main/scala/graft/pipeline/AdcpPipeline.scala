package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.CacheScope

/** Pipeline entry points mirroring the reference's three public
  * compositions (process_adcp.py:2046-2083). Each stage is a lazy
  * `DataFrame => DataFrame`; actions run at the driver-side solves (heading
  * calibration, shear-correction vectors, regrid ladder, bias coefficient),
  * at the stage barriers and at the final sink.
  *
  * A BARRIER is an eager local checkpoint ([[CacheScope.checkpoint]]):
  * it materializes a stage's output once and replaces its lineage with a
  * plan leaf. It bounds two costs. Recomputation: a stage that references
  * an earlier array column more than once would otherwise re-run it, which
  * grows exponentially with chain depth (measured: 4,800 pings took 392 s
  * fully collapsed vs 19 s with barriers). Plan size: a persisted frame
  * keeps its whole upstream plan, so every later `withColumn`, join,
  * explain string and adaptive re-plan would work on a plan the size of
  * the whole mission; after a checkpoint it works on one stage's plan.
  *
  * The trade-off, the same one `Dedup.connectedComponents` makes: a local
  * checkpoint lives in executor block storage only, so losing an executor
  * fails the run instead of recomputing the lost partitions. At cluster
  * scale a reliable checkpoint or an intermediate write is the durable
  * form of the same cut.
  */
object AdcpPipeline {

  /** Releases [[CacheScope.session]], which holds the barriers of every
    * run that did not pass its own scope. The outputs of those runs can no
    * longer be evaluated afterwards (an action on them fails: their
    * checkpoint blocks are gone), so call it after the caller's last action
    * on them, or after caching or writing what it still needs. A run given
    * its own scope frees its barriers with `scope.release()` instead.
    */
  def releaseCaches(): Unit = CacheScope.session.release()

  /** shear_from_adcp (:2046-2057): glider-aligned, QC'd, regridded,
    * 3-beam-solved, ENU-rotated shear per ping.
    *
    * Each multi-reference stage ends at a barrier (see [[AdcpPipeline]]):
    * `withColumn` chains collapse into a single projection at the API
    * level, so without the cut every stage that reads an earlier array
    * column more than once would re-run it. The call therefore runs the
    * barrier jobs itself; the returned shear is lazy from the last barrier.
    * The barriers are tracked in `scope`: releasing it frees this run's
    * blocks and no other run's.
    */
  def shearFromAdcp(
      adcpRaw: DataFrame, gliderRaw: DataFrame, opts0: Options,
      cellSize: Double, blankingDistance: Double,
      solveHeading: Boolean = true,
      missionCols: Seq[String] = Nil,
      scope: CacheScope = CacheScope.session): (DataFrame, DataFrame) = {
    // resolve declination/geomag targets through the provider seam (no-op
    // without a configured provider — opts0.geomag defaults to None);
    // with mission keys every mission gets its own field target
    val geo = GliderStages.applyGeomagPerMission(
      GliderStages.deriveGlider(gliderRaw), opts0, missionCols)
    val glider = geo.glider; val opts = geo.opts
    var adcp = AdcpStages.align(adcpRaw, glider, missionCols)
    // the alignment sweep collapses a single-mission dataset to one
    // partition; fan back out so the (embarrassingly parallel) elementwise
    // beam math uses every core — at cluster scale this is the exchange
    // that spreads a mission's pings across executors
    adcp = adcp.repartition(adcp.sparkSession.sparkContext.defaultParallelism)
    adcp = AdcpStages.remapDepth(opts)(adcp)
    // correct_heading is gated (:451-460): when disabled the compass
    // heading stays raw and declination is NOT added. With mission keys
    // each mission's compass solves against its own field target
    // (reference cardinality: one solve per mission, :315-339). The solves
    // read the magnetometer from the raw pings: the alignment keeps every
    // ping and leaves mag_* alone, and the sweep under it is opaque to
    // column pruning, so a solve over the aligned frame would run the
    // alignment again for each of its actions
    adcp = if (!opts.correctAdcpHeading) adcp
           else if (solveHeading && missionCols.nonEmpty)
             HeadingCorrection.applyPerMission(opts,
               HeadingCorrection.solvePerMission(adcpRaw, geo.targets,
                 missionCols, opts.geomagTargetMilligauss), missionCols)(adcp)
           else if (solveHeading) HeadingCorrection.correctedHeading(opts,
             HeadingCorrection.solve(adcpRaw, opts.geomagTargetMilligauss))(adcp)
           else HeadingCorrection.correctedHeading(opts,
             HeadingCorrection.Calibration(
               Array(1, 0, 0, 0, 1, 0, 0, 0, 1), Array(0, 0, 0), 0.0))(adcp)
    adcp = AdcpStages.soundspeedCorrection(adcp)
    adcp = scope.checkpoint(AdcpStages.removeOutliers(opts)(adcp))
    adcp = scope.checkpoint(correctShear(opts)(adcp))
    adcp = AdcpStages.backscatterCorrection(opts)(adcp)
    adcp = scope.checkpoint(
      AdcpStages.regrid(opts, cellSize, blankingDistance)(adcp))
    adcp = scope.checkpoint(AdcpStages.threeBeamXyz(opts)(adcp))
    adcp = AdcpStages.enuAndShear(opts)(adcp)
    (adcp, glider)
  }

  /** correct_shear composite (:771-784): XYZZ transform, optional per-axis
    * shear-bias removal, inverse transform. X4..ZZ4 stay attached (used by
    * the 3-beam speed-through-water and bias stages).
    */
  def correctShear(opts: Options)(adcp0: DataFrame): DataFrame = {
    var adcp = AdcpStages.beamToXyzz(adcp0)
    val toFix = Seq(
      opts.correctZZshear -> "zz4", opts.correctZshear -> "z4",
      opts.correctYshear -> "y4", opts.correctXshear -> "x4")
    val anyFix = toFix.exists(_._1)
    toFix.foreach { case (enabled, v) =>
      if (enabled) adcp = AdcpStages.shearCorrection(v)(adcp)
    }
    if (anyFix) AdcpStages.xyzzToBeam(adcp) else adcp
  }

  /** grid_shear (:2060-2064): axes + the full combined grid (Sh_E/N/U from
    * the exploded ADCP bins, ADCP attitude grids, every numeric glider
    * column) — three shuffles total via [[GridOutput.gridData]]. The axes'
    * `dim` is tracked in `scope`.
    */
  def gridShear(adcp: DataFrame, glider: DataFrame, opts: Options,
      missionCols: Seq[String] = Nil,
      scope: CacheScope = CacheScope.session): (DataFrame, GridOutput.Axes) = {
    val ax = GridOutput.axes(glider, opts, missionCols, scope)
    (GridOutput.gridData(adcp, glider, ax), ax)
  }

  /** velocity_from_shear (:2067-2083): DAC + full grid + shear referencing +
    * bias solve + final dataset. `btRaw` optional bottom-track table. The
    * barriers and the axes' `dim` are tracked in `scope`.
    */
  def velocityFromShear(
      adcp0: DataFrame, glider0: DataFrame, opts: Options,
      btRaw: Option[DataFrame], spark: SparkSession,
      missionCols: Seq[String] = Nil,
      scope: CacheScope = CacheScope.session): (DataFrame, GridOutput.Axes) = {
    // the DAC-augmented glider feeds ~10 downstream scans (axes + every
    // gridded variable + profile datetimes); a barrier keeps each scan
    // from re-running the dead-reckoning and DAC sweeps
    val glider =
      scope.checkpoint(GliderStages.getDac(adcp0, glider0, missionCols))
    val adcp = btRaw match {
      case Some(bt) => GliderStages.bottomTrack(opts)(adcp0, bt, missionCols)
      case None => adcp0
    }
    val ax = GridOutput.axes(glider, opts, missionCols, scope)
    val grid0 = GridOutput.gridData(adcp, glider, ax)
    // calcBias reads the referenced grid twice (coefficient statistics,
    // final columns): the barrier runs its three shuffles and the
    // referencing sweep (which also adds the bias columns) once
    val referenced =
      scope.checkpoint(GridOutput.referenceShear(grid0, ax, opts.yRes))
    val biased = GridOutput.calcBias(referenced, ax, spark)
    (GridOutput.makeDataset(biased, ax), ax)
  }
}
