package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.Natives.ensure(s)
    s
  }
}

class BinsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("cutRight matches pd.cut right-closed semantics") {
    // pd.cut(x, [0,1,2,3], labels=False): 0.0->NaN (left edge, not included),
    // 0.5->0, 1.0->0 (right-closed), 1.5->1, 3.0->2, 3.5->NaN, -1->NaN
    val df = Seq(0.0, 0.5, 1.0, 1.5, 3.0, 3.5, -1.0).toDF("x")
    val got = df.select(Bins.cutRight(col("x"), 0.0, 1.0, 3).as("b"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(got.toSeq == Seq(null, 0L, 0L, 1L, 2L, null, null))
  }

  test("cutLeft is floor-binning") {
    val df = Seq(0.0, 0.99, 1.0, 2.99, 3.0).toDF("x")
    val got = df.select(Bins.cutLeft(col("x"), 0.0, 1.0, 3).as("b"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(got.toSeq == Seq(0L, 0L, 1L, 2L, null))
  }

  test("cutLeftHist closes the LAST bin like np.histogram") {
    // bins [0,1,2,3]: 3.0 joins bin 2 (last-bin closure), 2.99 -> 2,
    // 3.5 -> null, 0.0 -> 0; interior edges stay left-closed (1.0 -> 1)
    val df = Seq(0.0, 0.99, 1.0, 2.99, 3.0, 3.5, -0.5).toDF("x")
    val got = df.select(Bins.cutLeftHist(col("x"), 0.0, 1.0, 3).as("b"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(got.toSeq == Seq(0L, 0L, 1L, 2L, 2L, null, null))
  }

  test("arangeEdges mirrors np.arange(min, max+step, step)") {
    // np.arange(0, 10+1, 1) -> 11 edges -> 10 intervals
    assert(Bins.arangeEdges(0.0, 10.0, 1.0) == ((0.0, 10)))
  }
}

class WindowsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def series = Seq(
    (1L, 1.0, 10.0), (1L, 2.0, 20.0), (1L, 3.0, 15.0), (1L, 4.0, 5.0),
    (1L, 5.0, 30.0)
  ).toDF("k", "t", "v")

  private val w = Windows.ordered(Seq(col("t")), Seq(col("k")))

  test("runningMean centered, edge-shrinking (RunningMean parity)") {
    val got = series.select(Windows.runningMean(col("v"), 1, w).as("m"))
      .orderBy("m").collect().map(_.getDouble(0)).sorted
    // frames: [10,20]=15, [10,20,15]=15, [20,15,5]=40/3, [15,5,30]=50/3, [5,30]=17.5
    val exp = Seq(15.0, 15.0, 40.0 / 3, 50.0 / 3, 17.5).sorted
    got.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }

  test("gradient matches np.gradient (centered interior, one-sided edges)") {
    val got = series
      .select(col("t"), Windows.gradient(col("v"), col("t"), w).as("g"))
      .orderBy("t").collect().map(_.getDouble(1))
    // np.gradient([10,20,15,5,30], [1,2,3,4,5]) = [10, 2.5, -7.5, 7.5, 25]
    val exp = Seq(10.0, 2.5, -7.5, 7.5, 25.0)
    got.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }

  test("gradient matches np.gradient on a NON-uniform axis (second-order)") {
    // v = x^2 on x = [0,1,3,6,10]: numpy's >=1.13 second-order interior
    // weights are EXACT on quadratics, so interior = 2x; edges one-sided.
    // np.gradient([0,1,9,36,100], [0,1,3,6,10]) = [1, 2, 6, 12, 16].
    // The pre-r12 centered form would give e.g. (9-0)/(3-0) = 3 at x=1 —
    // this test locks the second-order weights.
    val df = Seq((1L, 0.0, 0.0), (1L, 1.0, 1.0), (1L, 3.0, 9.0),
      (1L, 6.0, 36.0), (1L, 10.0, 100.0)).toDF("k", "t", "v")
    val got = df
      .select(col("t"), Windows.gradient(col("v"), col("t"), w).as("g"))
      .orderBy("t").collect().map(_.getDouble(1))
    val exp = Seq(1.0, 2.0, 6.0, 12.0, 16.0)
    got.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }

  test("runningMedian exact on odd/even frames") {
    val got = series.select(col("t"), Windows.runningMedian(col("v"), 1, w).as("m"))
      .orderBy("t").collect().map(_.getDouble(1))
    // frames: [10,20]->15, [10,20,15]->15, [20,15,5]->15, [15,5,30]->15, [5,30]->17.5
    assert(got.toSeq == Seq(15.0, 15.0, 15.0, 15.0, 17.5))
  }

  test("ffill / bfill") {
    val df = Seq((1L, 1.0, Some(1.0)), (1L, 2.0, None), (1L, 3.0, None),
      (1L, 4.0, Some(4.0))).toDF("k", "t", "v")
    val got = df.select(col("t"), Windows.ffill(col("v"), w).as("f"),
        Windows.bfill(col("v"), Seq(col("t")), Seq(col("k"))).as("b"))
      .orderBy("t").collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1.0, 1.0), (1.0, 4.0), (1.0, 4.0), (4.0, 4.0)))
  }

  test("resetAtAnchor = running - value at last anchor (reset_transport_at_GPS)") {
    val df = Seq((1L, 1.0, 1.0, false), (1L, 2.0, 2.0, true), (1L, 3.0, 3.0, false),
      (1L, 4.0, 4.0, true), (1L, 5.0, 5.0, false)).toDF("k", "t", "v", "gps")
    val run = Windows.cumsum(col("v"), w)
    val got = df.withColumn("run", run)
      .select(col("t"), Windows.resetAtAnchor(col("run"), col("gps"), w).as("r"))
      .orderBy("t").collect().map(_.getDouble(1))
    // cumsum: 1,3,6,10,15; anchors at t=2 (3) and t=4 (10)
    assert(got.toSeq == Seq(1.0, 0.0, 3.0, 0.0, 5.0))
  }

  test("cumsumReverse suffix sums") {
    val wDesc = Windows.ordered(Seq(col("t").desc), Seq(col("k")))
    val got = series.select(col("t"), Windows.cumsum(col("v"), wDesc).as("s"))
      .orderBy("t").collect().map(_.getDouble(1))
    assert(got.toSeq == Seq(80.0, 70.0, 50.0, 35.0, 30.0))
  }
}

class InterpJoinSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("interpolate: exact at knots, linear between, null outside hull") {
    val src = Seq((1L, 0.0, 0.0), (1L, 10.0, 100.0), (1L, 20.0, 50.0))
      .toDF("k", "x", "y")
    val dst = Seq((1L, -5.0), (1L, 0.0), (1L, 5.0), (1L, 10.0), (1L, 15.0),
      (1L, 25.0)).toDF("k", "x")
    val got = InterpJoin.interpolate(src, dst, "x", Seq("y"), Seq("k"))
      .orderBy("x").collect()
      .map(r => if (r.isNullAt(r.fieldIndex("interp_y"))) null
                else r.getAs[Double]("interp_y"))
    assert(got.toSeq == Seq(null, 0.0, 50.0, 100.0, 75.0, null))
  }

  test("interpolate drops null source knots per column (np.interp nan-drop)") {
    val src = Seq((1L, 0.0, Some(0.0)), (1L, 10.0, None), (1L, 20.0, Some(20.0)))
      .toDF("k", "x", "y")
    val dst = Seq((1L, 10.0)).toDF("k", "x")
    val got = InterpJoin.interpolate(src, dst, "x", Seq("y"), Seq("k"))
      .collect().map(_.getAs[Double]("interp_y"))
    assert(got.toSeq == Seq(10.0)) // bridges over the null knot
  }

  test("nearest: picks closer knot, ties toward earlier") {
    val src = Seq((1L, 0.0, 1.0), (1L, 10.0, 2.0)).toDF("k", "x", "v")
    val dst = Seq((1L, 2.0), (1L, 5.0), (1L, 9.0), (1L, 30.0)).toDF("k", "x")
    val got = InterpJoin.nearest(src, dst, "x", Seq("v"), Seq("k"))
      .orderBy("x").collect().map(_.getAs[Double]("nearest_v"))
    assert(got.toSeq == Seq(1.0, 1.0, 2.0, 2.0)) // tie at 5 -> earlier knot
  }

  test("nearest respects tolerance") {
    val src = Seq((1L, 0.0, 1.0)).toDF("k", "x", "v")
    val dst = Seq((1L, 3.0), (1L, 50.0)).toDF("k", "x")
    val got = InterpJoin.nearest(src, dst, "x", Seq("v"), Seq("k"), Some(5.0))
      .orderBy("x").collect()
      .map(r => if (r.isNullAt(r.fieldIndex("nearest_v"))) null
                else r.getAs[Double]("nearest_v"))
    assert(got.toSeq == Seq(1.0, null))
  }
}

class OptimizeSpec extends AnyFunSuite {
  test("nelderMead minimizes a quadratic to scipy-default tolerance") {
    val r = Optimize.nelderMead(
      x => math.pow(x(0) - 3.0, 2) + math.pow(x(1) + 1.0, 2),
      Array(0.0, 0.0))
    assert(r.converged)
    assert(math.abs(r.x(0) - 3.0) < 1e-3 && math.abs(r.x(1) + 1.0) < 1e-3)
  }

  test("nelderMead on 1-d bias solve shape (calc_bias parity: maxiter=100, ftol=1e-5)") {
    val r = Optimize.nelderMead(
      x => math.pow(x(0) - 0.42, 2) + 7.0,
      Array(1.0), fatol = 1e-5, maxIter = 100)
    assert(math.abs(r.x(0) - 0.42) < 1e-2)
  }

  test("nelderMead rosenbrock 2d") {
    val r = Optimize.nelderMead(
      x => math.pow(1 - x(0), 2) + 100 * math.pow(x(1) - x(0) * x(0), 2),
      Array(-1.2, 1.0), maxIter = 2000, maxFun = 2000)
    assert(math.abs(r.x(0) - 1.0) < 1e-2 && math.abs(r.x(1) - 1.0) < 1e-2)
  }
}

class EntrySmokeSpec extends AnyFunSuite {
  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  test("all queries run on sf0.001") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { fn(TestSpark.spark, "/root/testdata/sf0.001").count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(100)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
