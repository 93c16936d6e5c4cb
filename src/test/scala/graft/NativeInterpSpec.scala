package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.NativeInterp

class NativeInterpSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val cases = Seq(
    // (xs, ys) sorted, plain
    (Seq[Option[Double]](Some(0.0), Some(10.0), Some(20.0)),
      Seq[Option[Double]](Some(0.0), Some(100.0), Some(50.0))),
    // unsorted with a null knot and a NaN knot
    (Seq[Option[Double]](Some(20.0), Some(0.0), Some(10.0), None),
      Seq[Option[Double]](Some(50.0), Some(0.0), None, Some(7.0))),
    // fewer than 2 finite pairs -> all null
    (Seq[Option[Double]](Some(5.0)), Seq[Option[Double]](Some(1.0))))

  private val targets = Seq(-5.0, 0.0, 5.0, 10.0, 15.0, 20.0, 25.0)

  test("native expression matches the reference UDF on all edge cases") {
    val df = cases.toDF("xs", "ys").withColumn("t", typedlit(targets))
    val both = df.select(
      NativeInterp.interpCol(spark, col("xs"), col("ys"), col("t")).as("native"),
      HofArrayOps.interpToTargets(col("xs"), col("ys"), col("t")).as("udf"))
    both.collect().foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"native=${r.getSeq[Any](0)} udf=${r.getSeq[Any](1)}")
    }
  }

  test("registered SQL function works through the parser") {
    graft.plans.Natives.ensure(spark)
    val out = spark.sql(
      """SELECT graft_interp(array(0D, 10D), array(0D, 100D), array(5D)) AS v""")
      .collect().head.getSeq[Double](0)
    assert(out == Seq(50.0))
  }

  test("null input arrays propagate null") {
    graft.plans.Natives.ensure(spark)
    val out = spark.sql(
      "SELECT graft_interp(CAST(NULL AS ARRAY<DOUBLE>), array(0D), array(1D)) AS v")
      .collect().head
    assert(out.isNullAt(0))
  }
}

class NativeHash48Spec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("native hash48 is bit-identical to the composed-builtins form") {
    graft.plans.Natives.ensure(spark)
    val strs = Seq("", "a", "spark graft", "the quick brown fox",
      "0:some shingle text", "é中文 mixed unicode")
    val got = strs.toDF("s").select(
      graft.functions.Text.hash48(col("s")).as("native"),
      graft.functions.Text.hash48Builtin(col("s")).as("builtin"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native=${r.getLong(0)} builtin=${r.getLong(1)}"))
  }
}
