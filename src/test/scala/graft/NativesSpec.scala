package graft

import org.apache.spark.sql.{ExtensionsRegistry, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{GraftExtensions, Natives}

class NativesSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  private val names = Seq("graft_interp", "graft_hash48", "graft_dot",
    "graft_top_cells", "graft_nfc", "graft_strip_accents")

  test("the native list holds the six functions") {
    assert(Natives.all.map(_._1.funcName).sorted == names.sorted)
  }

  test("GraftExtensions injects every native function") {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
    val registry = ExtensionsRegistry.registerFunctions(e,
      FunctionRegistry.builtin.clone())
    val missing = names.filterNot(n =>
      registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not injected: $missing")
  }

  test("a second ensure leaves every registry entry unchanged") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    def infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
    Natives.ensure(s)
    val first = infos
    assert(first.forall(_.isDefined))
    Natives.ensure(s)
    first.zip(infos).foreach { case (a, b) => assert(a.get eq b.get) }
    assert(s.sql("SELECT graft_dot(array(1D, 2D), array(3D, 4D))")
      .head().getDouble(0) == 11.0)
  }
}
