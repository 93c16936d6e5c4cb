package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.CacheScope

/** Usage example + smoke driver for the ADCP pipeline public API: runs the
  * synthetic mission through shear_from_adcp -> velocity_from_shear and
  * prints a one-line summary. `sbt "runMain graft.pipeline.PipelineDemo"`.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = graft.GraftSession.run()(demo)

  private def demo(spark: SparkSession): Unit = {
    // one scope holds the pipeline's barriers, the grid dim-frame and this
    // demo's own cache; leaving `using` frees them all
    val (nPings, meanShE, finiteE, axes) = CacheScope.using { scope =>
      val (adcp, _) = AdcpPipeline.shearFromAdcp(
        Fixture.adcp(spark), Fixture.glider(spark), Fixture.opts,
        Fixture.cellSize, Fixture.blankingDistance, scope = scope)
      val shear = scope.persist(adcp)
      val nPings = shear.count()
      val meanShE = shear.select(posexplode(col("sh_e")).as(Seq("i", "v")))
        .agg(avg("v")).first().getDouble(0)
      val (ds, axes) = AdcpPipeline.velocityFromShear(
        shear, GliderStages.deriveGlider(Fixture.glider(spark)),
        Fixture.opts, None, spark, scope = scope)
      (nPings, meanShE,
        ds.where(col("ADCP_E").isNotNull && !isnan(col("ADCP_E"))).count(),
        axes)
    }
    val clean = spark.sharedState.cacheManager.isEmpty &&
      spark.sparkContext.getPersistentRDDs.isEmpty
    println(f"""{"pings":$nPings,"mean_sh_e":$meanShE%.6f,"grid_cells_with_E":$finiteE,"profiles":${axes.nProfiles},"depth_bins":${axes.nY},"caches_released":$clean}""")
  }
}
