package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Usage example + smoke driver for the ADCP pipeline public API: runs the
  * synthetic mission through shear_from_adcp -> velocity_from_shear and
  * prints a one-line summary. `sbt "runMain graft.pipeline.PipelineDemo"`.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = graft.GraftSession.run()(demo)

  private def demo(spark: SparkSession): Unit = {
    val (adcp, glider) = AdcpPipeline.shearFromAdcp(
      Fixture.adcp(spark), Fixture.glider(spark), Fixture.opts,
      Fixture.cellSize, Fixture.blankingDistance)
    val shear = adcp.cache()
    val nPings = shear.count()
    val meanShE = shear.select(posexplode(col("sh_e")).as(Seq("i", "v")))
      .agg(avg("v")).first().getDouble(0)
    val (ds, axes) = AdcpPipeline.velocityFromShear(
      shear, GliderStages.deriveGlider(Fixture.glider(spark)),
      Fixture.opts, None, spark)
    val finiteE = ds.where(col("ADCP_E").isNotNull && !isnan(col("ADCP_E"))).count()
    // model the cache discipline the Axes scaladoc asks of callers: once
    // the output is materialized, release the grid dim-frame, the
    // pipeline's internal barriers, and this demo's own cache
    axes.release()
    AdcpPipeline.releaseCaches()
    shear.unpersist()
    val clean = spark.sharedState.cacheManager.isEmpty &&
      spark.sparkContext.getPersistentRDDs.isEmpty
    println(f"""{"pings":$nPings,"mean_sh_e":$meanShE%.6f,"grid_cells_with_E":$finiteE,"profiles":${axes.nProfiles},"depth_bins":${axes.nY},"caches_released":$clean}""")
  }
}
