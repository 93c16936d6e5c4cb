package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._

/** The pipeline's stage barriers cut the Catalyst plan, and
  * `AdcpPipeline.releaseCaches` frees every block they hold. A suite of its
  * own: the release is process-wide, so inside [[AdcpPipelineSpec]] it
  * would free the barriers under that suite's shared shear output.
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
}
