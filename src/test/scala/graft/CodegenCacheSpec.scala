package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The code-generation cache setting of [[GraftSession]]: without the
  * stage id in generated class names a repeated multi-stage adaptive query
  * finds every class it needs in the cache.
  */
class CodegenCacheSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  private def compiledBy(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  // a chain of three adaptive stages (aggregate, range sort, result); a
  // join of two independent stages is left out on purpose: which stage
  // finishes first decides the join's re-plan, so its classes differ from
  // run to run whatever their names
  private def query(): Unit = {
    spark.range(0, 20000, 1, 4).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").agg(sum("v").as("s")).where(col("s") > 3)
      .orderBy("k").collect()
    ()
  }

  test("a repeated adaptive query compiles no class without stage ids in names") {
    val key = "spark.sql.codegen.useIdInClassName"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      assert(compiledBy(query()) > 0, "the first run must compile its classes")
      assert(compiledBy(query()) == 0)
      assert(compiledBy(query()) == 0)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
