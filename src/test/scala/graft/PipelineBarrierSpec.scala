package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.CacheScope
import graft.pipeline._

/** The pipeline's stage barriers cut the Catalyst plan, and releasing the
  * cache scope a run was given frees every block they hold and no other
  * run's. A suite of its own: `AdcpPipeline.releaseCaches` releases the
  * session scope, which inside [[AdcpPipelineSpec]] would free the barriers
  * under that suite's shared shear output.
  */
class PipelineBarrierSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  // bound on the analyzed plan of velocity_from_shear's output
  private val maxPlanNodes = 60

  private def missionThroughVelocity() = {
    val (adcp, glider) = AdcpPipeline.shearFromAdcp(Fixture.adcp(spark),
      Fixture.glider(spark), Fixture.opts, Fixture.cellSize,
      Fixture.blankingDistance, solveHeading = false)
    AdcpPipeline.velocityFromShear(adcp, glider, Fixture.opts, None, spark)
  }

  /** The fixture mission moved `shiftNs` later, through shear_from_adcp in
    * `scope`, ready for velocity_from_shear in the same scope.
    */
  private def shearIn(scope: CacheScope, shiftNs: Long) = {
    def shifted(df: DataFrame) =
      df.withColumn("time_ns", col("time_ns") + lit(shiftNs))
    AdcpPipeline.shearFromAdcp(shifted(Fixture.adcp(spark)),
      shifted(Fixture.glider(spark)), Fixture.opts, Fixture.cellSize,
      Fixture.blankingDistance, solveHeading = false, scope = scope)
  }

  private def velocityIn(scope: CacheScope, shear: (DataFrame, DataFrame)) =
    AdcpPipeline.velocityFromShear(shear._1, shear._2, Fixture.opts, None,
      spark, scope = scope)._1

  private def currents(ds: DataFrame): Seq[Row] =
    ds.select("xbin", "ybin", "ADCP_E", "ADCP_N")
      .orderBy("xbin", "ybin").collect().toSeq

  test("velocity_from_shear's output plan is cut at the last barrier") {
    val (ds, axes) = missionThroughVelocity()
    try {
      // without the cut the analyzed plan carries the whole mission's
      // lineage, from the raw tables through every stage
      val nodes = ds.queryExecution.analyzed.collect { case n => n }.size
      info(s"analyzed plan: $nodes nodes")
      assert(nodes <= maxPlanNodes,
        s"velocity_from_shear's analyzed plan has $nodes nodes")
    } finally {
      axes.release()
      AdcpPipeline.releaseCaches()
    }
  }

  test("releaseCaches frees every barrier; a released output fails loudly") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (ds, axes) = missionThroughVelocity()
    val finite = ds.where(col("ADCP_E").isNotNull && !isnan(col("ADCP_E")))
      .collect().length
    assert(finite > 50, s"too few finite ADCP_E cells: $finite")
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
      "the run's barriers should hold persistent RDDs until released")
    axes.release()
    AdcpPipeline.releaseCaches()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"RDDs left persistent after release: $leaked")
    // a released output cannot be evaluated: its checkpoint blocks are gone
    val e = intercept[org.apache.spark.SparkException](ds.count())
    assert(String.valueOf(e.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"),
      e.getMessage)
  }

  test("two interleaved runs with their own scopes release independently") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val shift = 100000000000000L // the fleet rehearsal's mission offset
    val solo = CacheScope.using(s => currents(velocityIn(s, shearIn(s, shift))))
    val (a, b) = (new CacheScope, new CacheScope)
    val shearA = shearIn(a, 0L)
    val shearB = shearIn(b, shift)
    val dsA = velocityIn(a, shearA)
    val dsB = velocityIn(b, shearB)
    assert(dsA.count() > 0 && dsB.count() > 0)
    a.release()
    assert(currents(dsB) == solo,
      "run B's output must survive run A's release, unchanged")
    val e = intercept[org.apache.spark.SparkException](dsA.count())
    assert(String.valueOf(e.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"),
      e.getMessage)
    b.release()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"RDDs left persistent after both releases: $leaked")
  }
}
