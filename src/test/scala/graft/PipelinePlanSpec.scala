package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.scalatest.funsuite.AnyFunSuite
import graft.core.CacheScope
import graft.pipeline._

/** Plan locks for the ADCP pipeline: its per-bin math runs in native
  * kernels, never in lambdas (higher-order functions run through the
  * interpreter, boxing each element), and its sorted sweeps print as
  * resolved nodes.
  */
class PipelinePlanSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  /** The higher-order functions in `df`'s analyzed plan, by name. */
  private def lambdas(df: DataFrame): Seq[String] = {
    val found = ArrayBuffer[String]()
    df.queryExecution.analyzed.foreachWithSubqueries(_.expressions.foreach(_.foreach {
      case h: HigherOrderFunction => found += h.prettyName
      case _ =>
    }))
    found.toSeq
  }

  private def glider = GliderStages.deriveGlider(Fixture.glider(spark))

  test("no AdcpStages stage and no shearFromAdcp output plans a higher-order function") {
    CacheScope.using { scope =>
      val opts = Fixture.opts
      var df = AdcpStages.align(Fixture.adcp(spark), glider)
      val found = ArrayBuffer[(String, Seq[String])]()
      def check(name: String, out: DataFrame): DataFrame = {
        found += name -> lambdas(out); out
      }
      def step(name: String, f: DataFrame => DataFrame): Unit =
        df = scope.checkpoint(check(name, f(df)))
      check("align", df)
      step("remapDepth", AdcpStages.remapDepth(opts))
      check("discardFirstBins", AdcpStages.discardFirstBins(2)(df))
      step("soundspeedCorrection", AdcpStages.soundspeedCorrection)
      step("removeOutliers", AdcpStages.removeOutliers(opts))
      step("beamToXyzz", AdcpStages.beamToXyzz)
      step("shearCorrection", AdcpStages.shearCorrection("x4"))
      step("xyzzToBeam", AdcpStages.xyzzToBeam)
      step("backscatterCorrection", AdcpStages.backscatterCorrection(opts))
      step("regrid", AdcpStages.regrid(opts, Fixture.cellSize, Fixture.blankingDistance))
      step("threeBeamXyz", AdcpStages.threeBeamXyz(opts))
      step("enuAndShear", AdcpStages.enuAndShear(opts))
      val (shear, _) = AdcpPipeline.shearFromAdcp(Fixture.adcp(spark),
        Fixture.glider(spark), opts, Fixture.cellSize, Fixture.blankingDistance,
        scope = scope)
      check("shearFromAdcp", shear)
      val bad = found.filter(_._2.nonEmpty)
      assert(bad.isEmpty, s"higher-order functions planned: $bad")
    }
  }

  test("src/main/scala/graft/pipeline calls no higher-order function") {
    // the Column functions that take a lambda; a method call (`.filter(`,
    // `.exists(` on a Scala collection or a Dataset) is not one
    val hof = ("""(?<![.\w])(zip_with|transform|aggregate|filter|exists|forall|""" +
      """reduce|map_filter|map_zip_with|transform_keys|transform_values)\(""").r
    val files = Files.list(Paths.get("src", "main", "scala", "graft", "pipeline"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size >= 8, s"scanned only ${files.size} source files")
    val offenders = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (l, i) =>
        val code = l.split("//")(0)
        val comment = code.trim.startsWith("*") || code.trim.startsWith("/*")
        if (comment || hof.findFirstIn(code).isEmpty) None
        else Some(s"${f.getFileName}:${i + 1}: ${l.trim}")
      }
    }
    assert(offenders.isEmpty,
      "use a kernel of graft.plans.ArrayKernels:\n" + offenders.mkString("\n"))
  }

  test("the executed plans of align and getDac flag no sweep input as missing") {
    val aligned = AdcpStages.align(Fixture.adcp(spark), glider)
    val dac = GliderStages.getDac(aligned, glider)
    Seq("align" -> aligned, "getDac" -> dac).foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortedSweep"), s"$name: $plan")
      assert(!plan.contains("!SortedSweep"), s"$name: $plan")
    }
  }
}
