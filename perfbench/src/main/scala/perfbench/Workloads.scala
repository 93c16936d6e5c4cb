package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.pipeline.Fixture
import Main.{Outcome, median}

/** Runs a workload: set-up, then whole timed cycles until `seconds` have
  * passed, then the live heap. End-to-end metrics are medians over the
  * timed cycles; a traced run reports the per-layer metrics instead.
  */
object Workloads {

  val pipelineStages: Seq[String] = Seq("align", "remap_depth", "heading",
    "soundspeed", "remove_outliers", "correct_shear", "backscatter", "regrid",
    "three_beam_xyz", "enu_shear", "get_dac", "axes", "grid_data",
    "reference_shear", "calc_bias", "make_dataset")

  private val mb = 1024.0 * 1024.0

  /** The per-layer metrics shared by every workload, from the layer
    * counters of each timed cycle (median over cycles).
    */
  private def layerMetrics(o: Outcome, cycles: Seq[Layers], jitS: Double,
      indexMb: Double, indexFiles: Double): Unit = {
    def m(f: Layers => Double) = median(cycles.map(f))
    o.metric("spark.jobs", m(_.counters.jobs.toDouble), "count")
    o.metric("spark.stages", m(_.counters.stages.toDouble), "count")
    o.metric("spark.tasks", m(_.counters.tasks.toDouble), "count")
    o.metric("spark.gap_s", m(_.gapSeconds), "s")
    o.metric("catalyst.analysis_s", m(_.counters.analysisMs / 1e3), "s")
    o.metric("catalyst.optimization_s", m(_.counters.optimizationMs / 1e3), "s")
    o.metric("catalyst.planning_s", m(_.counters.planningMs / 1e3), "s")
    o.metric("spark.task_s", m(_.counters.taskNs / 1e9), "s")
    o.metric("spark.shuffle_write_mb", m(_.counters.shuffleWriteBytes / mb), "MB")
    o.metric("spark.spill_mb", m(_.counters.spillBytes / mb), "MB")
    o.metric("spark.output_mb", m(_.counters.outputBytes / mb), "MB")
    o.metric("jvm.gc_s", m(_.counters.gcMs / 1e3), "s")
    o.metric("jvm.jit_s", jitS, "s")
    o.metric("index.disk_mb", indexMb, "MB")
    o.metric("index.files", indexFiles, "count")
  }

  private def pipelineZeros(o: Outcome): Unit = {
    pipelineStages.foreach { s =>
      o.metric(s"pipeline.$s.s", 0.0, "s")
      o.metric(s"pipeline.$s.jobs", 0.0, "count")
    }
    o.metric("pipeline.shear_from_adcp.call_s", 0.0, "s")
    o.metric("pipeline.velocity_from_shear.call_s", 0.0, "s")
  }

  private def queryZeros(o: Outcome): Unit =
    (Queries.serve ++ Queries.maintain).foreach { q =>
      o.metric(s"queries.$q.s", 0.0, "s")
      o.metric(s"queries.$q.jobs", 0.0, "count")
    }

  /** One mission of the fixture's default size. */
  def mission(spark: SparkSession, seed: Long, seconds: Double,
      tr: Option[Tracer], sessionS: Double): Outcome = {
    val o = new Outcome
    // the inputs are built three times and the median build counts
    val builds = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val in = Mission.inputs(spark, Fixture.nProfiles, 1, seed)
      ((System.nanoTime() - t0) / 1e9, in)
    }
    builds.init.foreach(_._2.release())
    val in = builds.last._2
    val setupS = sessionS + median(builds.map(_._1))
    val jitS = Jvm.jitSeconds
    val shear = ArrayBuffer[Mission.Leg](); val vel = ArrayBuffer[Mission.Leg]()
    val layers = ArrayBuffer[Layers]()
    val start = System.nanoTime()
    do {
      val (a, b, l) = Mission.cycle(spark, in, tr)
      Seq(a, b).foreach(leg => o.op(leg.error, leg.checkFailed))
      shear += a; vel += b; layers ++= l
    } while ((System.nanoTime() - start) / 1e9 < seconds)
    tr match {
      case None =>
        o.metric("setup_s", setupS, "s")
        o.metric("leg1_s", median(shear.map(_.seconds).toSeq), "s")
        o.metric("leg2_s", median(vel.map(_.seconds).toSeq), "s")
      case Some(t) =>
        layerMetrics(o, layers.toSeq, jitS, 0.0, 0.0)
        o.metric("pipeline.shear_from_adcp.call_s",
          median(shear.map(_.callSeconds).toSeq), "s")
        o.metric("pipeline.velocity_from_shear.call_s",
          median(vel.map(_.callSeconds).toSeq), "s")
        val (stages, shearErr, gridErr) = Mission.stageSplit(spark, in, t)
        o.op(shearErr, shearErr.isDefined); o.op(gridErr, gridErr.isDefined)
        stages.foreach { case (s, secs, jobs) =>
          o.metric(s"pipeline.$s.s", secs, "s")
          o.metric(s"pipeline.$s.jobs", jobs.toDouble, "count")
        }
        queryZeros(o)
    }
    in.release()
    if (tr.isEmpty) o.metric("heap_live_mb", Jvm.liveHeapMb(), "MB")
    o
  }

  def queries(spark: SparkSession, sfDir: String, seed: Long, seconds: Double,
      tr: Option[Tracer], sessionS: Double, out: File,
      indexRoot: File): Outcome = {
    val o = new Outcome
    val rnd = new scala.util.Random(seed)
    val serve = rnd.shuffle(Queries.serve)
    val maintain = rnd.shuffle(Queries.maintain)
    def record(runs: Seq[Queries.Run]): Seq[Queries.Run] = {
      runs.foreach(r => o.op(r.error))
      runs
    }
    def log(label: String, runs: Seq[Queries.Run]): Unit =
      System.err.println(s"[perfbench] $label " + runs.map(r =>
        f"${r.name} ${r.seconds}%.3f").mkString(", ") +
        f" (so far: gc ${Jvm.gcSeconds}%.2f s, jit ${Jvm.jitSeconds}%.2f s, " +
        s"${Jvm.classesLoaded} classes)")
    // set-up: the session and two warm-up passes over both sets (pass
    // times still fall by a fifth from the first to the third); the first
    // writes every result for the oracle check. They run in one fixed
    // order, so the JIT warms up the same way whatever the seed.
    val tw = System.nanoTime()
    val fixed = Queries.serve ++ Queries.maintain
    log("warm-up", record(Queries.pass(spark, sfDir, fixed,
      indexRoot, None, Some(new File(out, "results")))))
    log("warm-up", record(Queries.pass(spark, sfDir, fixed,
      indexRoot, None, None)))
    val setupS = sessionS + (System.nanoTime() - tw) / 1e9
    val jitS = Jvm.jitSeconds
    val passes = ArrayBuffer[(Seq[Queries.Run], Seq[Queries.Run])]()
    val start = System.nanoTime()
    do {
      val s = record(Queries.pass(spark, sfDir, serve, indexRoot, tr, None))
      val m = record(Queries.pass(spark, sfDir, maintain, indexRoot, tr, None))
      passes += ((s, m))
      log("pass", s ++ m)
    } while ((System.nanoTime() - start) / 1e9 < seconds)
    Files.writeString(new File(out, "oracle_sql.json").toPath,
      Queries.oracleJson(serve ++ maintain))
    def total(rs: Seq[Queries.Run]) = rs.map(_.seconds).sum
    tr match {
      case None =>
        o.metric("setup_s", setupS, "s")
        o.metric("leg1_s", median(passes.map(p => total(p._1)).toSeq), "s")
        o.metric("leg2_s", median(passes.map(p => total(p._2)).toSeq), "s")
        o.metric("heap_live_mb", Jvm.liveHeapMb(), "MB")
      case Some(_) =>
        val cycles = passes.map { case (s, m) =>
          (s ++ m).flatMap(_.layers).reduce(_ + _) }.toSeq
        layerMetrics(o, cycles, jitS,
          median(passes.map(_._2.map(_.indexMb).sum).toSeq),
          median(passes.map(_._2.map(_.indexFiles.toDouble).sum).toSeq))
        pipelineZeros(o)
        val runs = passes.flatMap(p => p._1 ++ p._2).groupBy(_.name)
        (Queries.serve ++ Queries.maintain).foreach { q =>
          o.metric(s"queries.$q.s", median(runs(q).map(_.seconds).toSeq), "s")
          o.metric(s"queries.$q.jobs",
            median(runs(q).flatMap(_.layers).map(_.counters.jobs.toDouble).toSeq),
            "count")
        }
    }
    o
  }
}

/** Every workload once on its smallest input, with its checks: a broken
  * benchmark shows in a couple of minutes instead of a full run.
  */
object SelfCheck {
  def run(out: File, sfDir: String): Int = {
    out.mkdirs()
    val indexRoot = new File(out, "index-root"); indexRoot.mkdirs()
    System.setProperty("graft.tmpdir", indexRoot.getPath)
    val spark = Main.session(out)
    val o = new Outcome
    try {
      // a keyed 2-mission fleet is checked here only; it is not a workload
      for ((name, missions) <- Seq("mission_single" -> 1, "fleet" -> 2)) {
        val in = Mission.inputs(spark, Fixture.nProfiles, missions, 1L)
        val (a, b, _) = Mission.cycle(spark, in, None)
        Seq(a, b).foreach(l => o.op(l.error.map(e => s"$name: $e"), l.checkFailed))
        in.release()
        println(s"[self-check] $name: ${Seq(a, b).flatMap(_.error).mkString("; ") match {
          case "" => "ok" case e => e }}")
      }
      val names = Queries.serve ++ Queries.maintain
      Queries.pass(spark, sfDir, names, indexRoot, None,
        Some(new File(out, "results"))).foreach(r => o.op(r.error))
      Files.writeString(new File(out, "oracle_sql.json").toPath,
        Queries.oracleJson(names))
      println(s"[self-check] operator_queries: ${names.length} queries ran")
    } finally {
      spark.stop()
      Queries.delete(indexRoot)
    }
    Main.writeResult(new File(out, "result.json"), o)
    0
  }
}
