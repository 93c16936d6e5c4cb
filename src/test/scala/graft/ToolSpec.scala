package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The `graft.Tool` modes, called as functions of the shared test session
  * (the main stops its session, so it is not called here).
  */
class ToolSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val q = "q04_grid2d_mean"

  test("dump writes one CSV with the query's rows") {
    val out = Files.createTempDirectory("tool_dump").toString
    try {
      val n = Tool.dump(spark, sf, q, out)
      assert(n > 0)
      assert(n == SparkEntry.queries(q)(spark, sf).count())
      val lines = Files.readAllLines(Paths.get(s"$out/$q.csv"))
      assert(lines.size == n + 1, "one header line plus one line per row")
    } finally Bench.deleteRecursively(new java.io.File(out))
  }

  test("explain and plan produce plan text") {
    val out = Files.createTempDirectory("tool_explain").toString
    try {
      val txt = Tool.explain(spark, sf, q, out, "t")
      assert(txt.contains("Physical Plan"))
      assert(Files.readString(Paths.get(s"$out/${q}_t.txt")) == txt)
    } finally Bench.deleteRecursively(new java.io.File(out))
    assert(Tool.plan(spark, sf, q).nonEmpty)
  }

  test("qbench returns one time per run") {
    val ts = Tool.qbench(spark, sf, q, runs = 2)
    assert(ts.size == 2 && ts.forall(_ > 0))
  }

  test("profile reports the jobs of each run") {
    val runs = Tool.profile(spark, sf, q, runs = 1)
    assert(runs.size == 1)
    val jobs = runs.head.jobs
    assert(jobs.nonEmpty)
    assert(jobs.forall(j => j.endMs >= j.startMs && j.tasks > 0))
  }
}
