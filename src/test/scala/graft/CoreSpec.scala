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
        WindowVelocity.bfill(col("v"), Seq(col("t")), Seq(col("k"))).as("b"))
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

  private def col0(df: org.apache.spark.sql.DataFrame, c: String): Seq[Any] =
    df.orderBy("id").collect().toSeq
      .map(r => if (r.isNullAt(r.fieldIndex(c))) null else r.getAs[Double](c))

  test("interpolate: each value column keeps its own knot set") {
    val src = Seq((1L, 0.0, Some(0.0), None), (1L, 10.0, None, Some(100.0)),
      (1L, 20.0, Some(20.0), Some(200.0))).toDF("k", "x", "a", "b")
    val dst = Seq((1L, 1L, 5.0), (2L, 1L, 10.0), (3L, 1L, 15.0)).toDF("id", "k", "x")
    val got = InterpJoin.interpolate(src, dst, "x", Seq("a", "b"), Seq("k"))
    assert(col0(got, "interp_a") == Seq(5.0, 10.0, 15.0))
    assert(col0(got, "interp_b") == Seq(null, 100.0, 150.0))
  }

  test("interpolate: an equal-x knot is the previous knot, at both hull ends") {
    val src = Seq((1L, 0.0, 0.0), (1L, 10.0, 100.0), (1L, 10.0, 100.0), (1L, 20.0, 0.0))
      .toDF("k", "x", "y")
    val dst = Seq((1L, 1L, 0.0), (2L, 1L, 10.0), (3L, 1L, 10.0), (4L, 1L, 15.0),
      (5L, 1L, 20.0)).toDF("id", "k", "x")
    val got = InterpJoin.interpolate(src, dst, "x", Seq("y"), Seq("k"))
    assert(col0(got, "interp_y") == Seq(0.0, 100.0, 100.0, 50.0, 0.0))
  }

  test("a null-x probe gives null") {
    val src = Seq((1L, 0.0, 1.0), (1L, 10.0, 2.0)).toDF("k", "x", "y")
    val dst = Seq((1L, 1L, Some(5.0)), (2L, 1L, None)).toDF("id", "k", "x")
    assert(col0(InterpJoin.interpolate(src, dst, "x", Seq("y"), Seq("k")),
      "interp_y") == Seq(1.5, null))
    assert(col0(InterpJoin.nearest(src, dst, "x", Seq("y"), Seq("k"), Some(100.0)),
      "nearest_y") == Seq(1.0, null))
  }

  test("null partition keys form their own group") {
    val src = Seq((None, 0.0, 0.0), (None, 10.0, 10.0), (Some(1L), 0.0, 100.0),
      (Some(1L), 10.0, 200.0)).toDF("k", "x", "y")
    val dst = Seq((1L, None, 5.0), (2L, Some(1L), 5.0), (3L, Some(2L), 5.0))
      .toDF("id", "k", "x")
    assert(col0(InterpJoin.interpolate(src, dst, "x", Seq("y"), Seq("k")),
      "interp_y") == Seq(5.0, 150.0, null))
    assert(col0(InterpJoin.nearest(src, dst, "x", Seq("y"), Seq("k")),
      "nearest_y") == Seq(0.0, 100.0, null))
  }

  test("nearest: a knot with a null value still matches, and brings the null") {
    val src = Seq((1L, 0.0, None), (1L, 10.0, Some(1.0))).toDF("k", "x", "v")
    val dst = Seq((1L, 1L, 2.0), (2L, 1L, 8.0)).toDF("id", "k", "x")
    assert(col0(InterpJoin.nearest(src, dst, "x", Seq("v"), Seq("k")),
      "nearest_v") == Seq(null, 1.0))
  }

  // 5 keys (one null), 3 value columns; knots on a 25-point integer grid so
  // x values repeat, duplicate knots agree (values are a function of key, x
  // and column, null for about a fifth of them), probes on and between the
  // grid, inside and outside the hull, about a tenth with a null x
  private def randomFrames(seed: Long) = {
    val r = new scala.util.Random(seed)
    val keys = Seq(Some(1L), Some(2L), Some(3L), Some(4L), None)
    def v(k: Option[Long], x: Int, c: Int): Option[Double] = {
      val h = (k.getOrElse(0L) * 31 + x) * 7 + c
      if (math.floorMod(h * 2654435761L, 5L) == 0) None else Some(math.sin(h.toDouble) * 100)
    }
    val src = (1 to 100).map { _ =>
      val k = keys(r.nextInt(5)); val x = r.nextInt(25)
      (k, x, v(k, x, 0), v(k, x, 1), v(k, x, 2))
    }.toDF("k", "x", "a", "b", "c")
    val dst = (1 to 100).map { i =>
      val x = r.nextInt(10) match {
        case 0 => None
        case 1 | 2 => Some(r.nextInt(31) - 3 + 0.5)
        case _ => Some((r.nextInt(31) - 3).toDouble)
      }
      (i.toLong, keys(r.nextInt(5)), x)
    }.toDF("id", "k", "x")
    (src, dst)
  }

  private def sameRows(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame, outs: Seq[String]): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(("id" +: outs).map(col): _*).collect().map { r =>
        r.getLong(0) -> (1 until r.length).map(i =>
          if (r.isNullAt(i)) None else Some(r.getDouble(i)))
      }.toMap
    val (g, w) = (rows(got), rows(want))
    assert(g.size == 100 && w.size == 100)
    assert(w.values.flatten.count(_.isDefined) > 30, "too few matched probes to test")
    w.keys.foreach(id => assert(g(id) == w(id), s"probe $id"))
  }

  test("interpolate matches the window formulation on random keyed data") {
    val (src, dst) = randomFrames(11)
    val vs = Seq("a", "b", "c")
    sameRows(InterpJoin.interpolate(src, dst, "x", vs, Seq("k")),
      WindowInterpJoin.interpolate(src, dst, "x", vs, Seq("k")), vs.map("interp_" + _))
  }

  test("the join plans one sort and sweep, no window, and joins with itself") {
    val (src, dst) = randomFrames(13)
    val got = InterpJoin.interpolate(src, dst, "x", Seq("a"), Seq("k"))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("SortedSweep") && !plan.contains("Window"), plan)
    val self = got.join(got.select(col("id"), col("interp_a").as("again")), "id")
    assert(self.where(not(col("interp_a") <=> col("again"))).count() == 0)
    assert(self.count() == 100)
  }

  test("nearest matches the window formulation on random keyed data") {
    val (src, dst) = randomFrames(12)
    val vs = Seq("a", "b", "c")
    val outs = vs.map("nearest_" + _)
    sameRows(InterpJoin.nearest(src, dst, "x", vs, Seq("k"), Some(2.0)),
      WindowInterpJoin.nearest(src, dst, "x", vs, Seq("k"), Some(2.0)), outs)
    // without a tolerance only non-null probes: the window form gave a
    // null-x probe the value of its key's first knot
    val located = dst.where(col("x").isNotNull)
    val got = InterpJoin.nearest(src, located, "x", vs, Seq("k"))
    val want = WindowInterpJoin.nearest(src, located, "x", vs, Seq("k"))
    assert(got.count() == located.count())
    assert(got.orderBy("id").collect().toSeq == want.orderBy("id").collect().toSeq)
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
