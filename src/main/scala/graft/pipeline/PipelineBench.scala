package graft.pipeline

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.CacheScope

/** Pipeline throughput benchmark: runs shear_from_adcp end-to-end (incl.
  * the magnetometer calibration solve) on a scaled synthetic mission and
  * reports pings/second. Context for the number: the reference executes the
  * regrid stage as a vectorized-Python per-ping loop
  * (xr.apply_ufunc(..., vectorize=True), process_adcp.py:937-946) plus
  * O(n*m) nearest-neighbor Python loops (:1506,1524) — single-digit
  * thousands of pings/second at best on the same stage.
  *
  * Modes:
  *   `sbt "runMain graft.pipeline.PipelineBench [nProfiles]"` — one
  *     mission, nProfiles profiles (default 100 -> 20k pings).
  *   `... PipelineBench <nProfiles> full` — plus velocity_from_shear.
  *   `... PipelineBench <nProfiles> multi [nMissions]` — the fleet
  *     rehearsal: nMissions (default 8) time-shifted copies with a mission
  *     key, shear + velocity keyed by mission (per-mission heading solves,
  *     mission-partitioned windows — no whole-dataset single-partition
  *     window anywhere), plus JVM peak-heap and a cache-release check.
  *
  * Every mode also reports, for shear_from_adcp and (when it runs)
  * velocity_from_shear, the Spark jobs and the generated classes compiled
  * (code-cache misses, Spark's `CodegenMetrics`) by the call together with
  * the count that forces it: `shear_jobs`, `shear_classes`,
  * `velocity_jobs`, `velocity_classes`.
  */
object PipelineBench {

  def main(args: Array[String]): Unit = {
    val profiles = if (args.nonEmpty) args(0).toInt else 100
    val mode = if (args.length > 1) args(1) else "shear"
    val nMissions = if (args.length > 2) args(2).toInt else 8
    // WARN logging (the session default) is load-bearing here: a
    // single-partition WindowExec in the multi-mission run would surface
    // as a planner warning
    graft.GraftSession.run()(bench(_, profiles, mode, nMissions))
  }

  private def bench(spark: SparkSession, profiles: Int, mode: String,
      nMissions: Int): Unit = {
    val line = CacheScope.using(run(spark, profiles, mode, nMissions, _))
    // every cache of the run is released now; prove nothing stays cached —
    // the discipline long-lived sessions need. The barriers' checkpoint
    // blocks are invisible to the cache manager, so the count is of
    // persistent RDDs (at least 1 while a cache entry stays registered): a
    // leaked barrier shows here
    val cachedAfter = math.max(spark.sparkContext.getPersistentRDDs.size,
      if (spark.sharedState.cacheManager.isEmpty) 0 else 1)
    println(s"""$line,"cached_rdds_after_release":$cachedAfter}""")
  }

  /** One run, with the inputs and every pipeline cache in `scope`; returns
    * the JSON line without its closing cache check.
    */
  private def run(spark: SparkSession, profiles: Int, mode: String,
      nMissions: Int, scope: CacheScope): String = {
    val multi = mode == "multi"
    // fail helpfully instead of grinding to an OOM: the 10x fleet shape
    // (600 profiles x 8 missions = 960k pings) measured 72.6 GB peak heap
    if (multi && profiles > 200 &&
        Runtime.getRuntime.maxMemory < 40L * 1024 * 1024 * 1024)
      System.err.println(s"WARN: multi mode at $profiles profiles wants " +
        "SPARK_DRIVER_MEM=64g (measured ~72 GB sum-of-pool peaks at 600x8); " +
        f"this JVM has ${Runtime.getRuntime.maxMemory / 1e9}%.0f GB")
    val missionCols = if (multi) Seq("mission") else Nil
    def tag(df: org.apache.spark.sql.DataFrame, m: Int) =
      df.withColumn("mission", lit(m))
        .withColumn("time_ns", col("time_ns") + lit(m * 100000000000000L))
    // multi mode tags time-shifted copies of ONE base frame: the fixture is
    // deterministic, so per-mission regeneration would just retain 8
    // identical driver-local row Seqs at once (at 600 profiles x 8 missions
    // that alone OOMs a 24g driver); sharing the LocalRelation keeps one
    val (glider, adcpRaw) =
      if (multi) {
        val g0 = Fixture.glider(spark, profiles)
        val a0 = Fixture.adcp(spark, profiles)
        (scope.persist((1 to nMissions).map(m => tag(g0, m))
           .reduce(_.unionByName(_)).repartition(32)),
         scope.persist((1 to nMissions).map(m => tag(a0, m))
           .reduce(_.unionByName(_)).repartition(32)))
      } else (scope.persist(Fixture.glider(spark, profiles)),
            scope.persist(Fixture.adcp(spark, profiles)))
    val nPings = adcpRaw.count(); glider.count() // materialize inputs first

    // Spark jobs run and generated classes compiled (code-cache misses) by
    // a call and the action that forces it
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def cost[T](name: String)(body: => T): (T, String) = {
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      val (j0, c0) = (jobs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      val r = body
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      (r, s""","${name}_jobs":${jobs.get - j0},"${name}_classes":""" +
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0))
    }

    val t0 = System.nanoTime()
    val ((adcp, gliderOut, cells), shearCost) = cost("shear") {
      val (adcp, gliderOut) = AdcpPipeline.shearFromAdcp(adcpRaw, glider,
        Fixture.opts, Fixture.cellSize, Fixture.blankingDistance,
        solveHeading = true, missionCols = missionCols, scope = scope)
      (adcp, gliderOut,
        adcp.select(explode(col("sh_e"))).where(col("col").isNotNull).count())
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val fullJson = if (mode == "full" || multi) {
      val t1 = System.nanoTime()
      val (nE, velocityCost) = cost("velocity") {
        val (ds, _) = AdcpPipeline.velocityFromShear(adcp, gliderOut,
          Fixture.opts, None, spark, missionCols = missionCols, scope = scope)
        ds.where(col("ADCP_E").isNotNull && !isnan(col("ADCP_E"))).count()
      }
      f""","velocity_seconds":${(System.nanoTime() - t1) / 1e9}%.2f,"grid_cells_with_E":$nE$velocityCost"""
    } else ""
    val missionJson = if (multi) s""","missions":$nMissions""" else ""
    f"""{"mode":"$mode"$missionJson,"pings":$nPings,"finite_shear_cells":$cells,"seconds":$secs%.2f,"pings_per_sec":${nPings / secs}%.0f$shearCost$fullJson,"peak_heap_mb":${graft.Bench.peakHeapMb}"""
  }
}
