package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.NativeTopCells

/** Semantics lock for the native coarse-quantizer argmax: bit-parity with
  * the Column-algebra forms it replaced (left-to-right dot fold, bias as a
  * trailing subtraction, larger-cell tie rule, descending top-p order,
  * Spark double ordering for NaN).
  */
class NativeTopCellsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("top-p matches the sort-based HOF form on random vectors") {
    val cents = graft.functions.Vec.planes(17, 8)
    val bias = cents.map(c => c.map(x => x * x).sum / 2.0)
    val vecs = (0 until 50).map(i =>
      (0 until 8).map(d => math.sin(i * 31 + d * 7).toDouble))
    val df = vecs.map(v => Tuple1(v)).toDF("v")
    val scored = cents.zipWithIndex.map { case (c, i) =>
      struct((graft.functions.Vec.dot(col("v"), typedlit(c.toArray)) -
        bias(i)).as("d"), lit(i).as("cell"))
    }
    val rows = df.select(
      NativeTopCells.topCellsCol(spark, col("v"), 0, cents, bias, 5)
        .as("native"),
      transform(slice(reverse(array_sort(array(scored: _*))), 1, 5),
        s => s.getField("cell")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1),
        s"native=${r.getSeq[Int](0)} hof=${r.getSeq[Int](1)}")
    }
  }

  test("offset window scores a subvector exactly like the sliced dot") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.5, 0.5))
    val df = Seq(Tuple1(Seq(9.0, 9.0, 3.0, 4.0))).toDF("v")
    // off = 2: scores against (3.0, 4.0) -> dots 3.0, 4.0, 3.5 -> argmax 1
    val got = df.select(element_at(
      NativeTopCells.topCellsCol(spark, col("v"), 2, cents,
        Seq(0.0, 0.0, 0.0), 1), 1)).collect().head.getInt(0)
    assert(got == 1)
  }

  test("equal scores break toward the larger cell index") {
    val cents = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
    val df = Seq(Tuple1(Seq(2.0, 1.0))).toDF("v")
    // dots: 2.0, 2.0, 1.0 -> top-3 descending = (1, 0, 2)
    val got = df.select(NativeTopCells.topCellsCol(spark, col("v"), 0, cents,
      Seq(0.0, 0.0, 0.0), 3)).collect().head.getSeq[Int](0)
    assert(got == Seq(1, 0, 2))
  }

  test("p beyond nCells clamps; NaN score sorts largest like Spark doubles") {
    val cents = Seq(Seq(1.0), Seq(Double.NaN), Seq(2.0))
    val df = Seq(Tuple1(Seq(1.0))).toDF("v")
    val got = df.select(NativeTopCells.topCellsCol(spark, col("v"), 0, cents,
      Seq(0.0, 0.0, 0.0), 99)).collect().head.getSeq[Int](0)
    assert(got == Seq(1, 2, 0))
  }

  test("contract guards fail loudly: short vector and null element") {
    // silent-wrong-answer prevention: a vector narrower than off+dsub or a
    // null element inside the scored window must throw the documented
    // IllegalArgumentException, not read undefined values
    def rootMsgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ rootMsgs(x.getCause))
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    val short = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
    val e1 = intercept[Exception] {
      short.select(NativeTopCells.topCellsCol(spark, col("v"), 0, cents,
        Seq(0.0, 0.0), 1)).collect()
    }
    assert(rootMsgs(e1).exists(_.contains("graft_top_cells")), s"got: $e1")
    val hole = Seq(Tuple1(Seq[java.lang.Double](1.0, null, 3.0))).toDF("v")
    val e2 = intercept[Exception] {
      hole.select(NativeTopCells.topCellsCol(spark, col("v"), 0, cents,
        Seq(0.0, 0.0), 1)).collect()
    }
    assert(rootMsgs(e2).exists(_.contains("null")), s"got: $e2")
  }

  test("null vector propagates null; SQL registration parses") {
    graft.plans.Natives.ensure(spark)
    val out = spark.sql(
      """SELECT graft_top_cells(CAST(NULL AS ARRAY<DOUBLE>), 0,
        |array(array(1D)), array(0D), 1) AS v""".stripMargin)
      .collect().head
    assert(out.isNullAt(0))
    val ok = spark.sql(
      """SELECT graft_top_cells(array(3D, 1D), 0,
        |array(array(1D, 0D), array(0D, 1D)), array(0D, 0D), 1) AS v""".stripMargin)
      .collect().head.getSeq[Int](0)
    assert(ok == Seq(0))
  }
}

class NativeDotSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.functions.Vec
  import graft.plans.NativeDot

  private def randVecs(n: Int, dim: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong,
      Array.fill(dim)(rnd.nextDouble() * 2 - 1),
      Array.fill(dim)(rnd.nextGaussian() * 1e3)))
  }

  test("native dot is bit-identical to the HOF sequential fold") {
    val df = randVecs(200, 64, 7L).toDF("id", "a", "b")
    val rows = df.select(
        NativeDot.dotCol(spark, col("a"), col("b")).as("nat"),
        Vec.dot(col("a"), col("b")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"native ${r.getDouble(0)} != fold ${r.getDouble(1)}")
    }
  }

  test("native cosine is bit-identical to Vec.cosine") {
    val df = randVecs(100, 48, 11L).toDF("id", "a", "b")
    val rows = df.select(
        NativeDot.cosineCol(spark, col("a"), col("b")).as("nat"),
        Vec.cosine(col("a"), col("b")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("native dot enforces the length and null-element contracts") {
    val ragged = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0)))
      .toDF("a", "b")
    val e1 = intercept[Exception] {
      ragged.select(NativeDot.dotCol(spark, col("a"), col("b"))).collect()
    }
    assert(e1.getMessage.contains("length mismatch") ||
      e1.getCause != null && e1.getCause.getMessage.contains("length mismatch"))
    // a null top-level array propagates null instead of throwing
    val withNull = Seq((Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    val r = withNull.select(NativeDot.dotCol(spark, col("a"), col("b")))
      .collect()
    assert(r.head.isNullAt(0))
  }
}
