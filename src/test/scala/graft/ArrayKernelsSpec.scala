package graft

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.CacheScope
import graft.pipeline._
import graft.plans.ArrayKernels

/** The native array kernels ([[graft.plans.ArrayKernels]]) against the
  * lambda forms they replace ([[HofArrayOps]], [[HofAdcpStages]]): each
  * kernel on random arrays, then the whole shear leg. Every output must be
  * bit-equal (`doubleToLongBits`, so -0.0 differs from 0.0).
  */
class ArrayKernelsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private type Arr = Option[Seq[Option[Double]]]

  /** Elements: ordinary values, signed zeros, threshold values, NaN,
    * infinity and nulls; lengths 0, 1, 2 and longer, so arrays in one row
    * often differ in length; a few null arrays.
    */
  private def randomArray(rnd: Random, center: Double, spread: Double): Arr =
    if (rnd.nextDouble() < 0.05) None
    else Some(Seq.fill(Seq(0, 1, 2, 3, 5, 8)(rnd.nextInt(6))) {
      rnd.nextInt(20) match {
        case 0 | 1 => None
        case 2 => Some(Double.NaN)
        case 3 => Some(if (rnd.nextBoolean()) 0.0 else -0.0)
        case 4 => Some(center) // on a mask threshold
        case 5 => Some(Double.PositiveInfinity)
        case _ => Some(center + spread * (2 * rnd.nextDouble() - 1))
      }
    })

  private def randomScalar(rnd: Random): Option[Double] = rnd.nextInt(20) match {
    case 0 => None
    case 1 => Some(Double.NaN)
    case _ => Some(2 * rnd.nextDouble() - 1)
  }

  private def randomFrame(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    Seq.tabulate(400) { i =>
      (i, randomArray(rnd, 0.8, 1.5), randomArray(rnd, 0.0, 2.0),
        randomArray(rnd, 0.0, 2.0), randomArray(rnd, 70.0, 10.0),
        randomArray(rnd, 75.0, 10.0), randomScalar(rnd), randomScalar(rnd))
    }.toDF("id", "a", "b", "c", "corr", "amp", "k", "s")
  }

  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case r: Row => r.toSeq.map(bits)
    case x => x
  }

  /** Rows of `got` and `want` (same columns) sorted by `key`, compared
    * bit for bit; a mismatch names the column.
    */
  private def assertBitEqual(got: DataFrame, want: DataFrame, key: Seq[String]): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    def rows(df: DataFrame) = df.orderBy(key.map(col): _*).collect()
    val (g, w) = (rows(got), rows(want))
    assert(g.length == w.length)
    g.zip(w).foreach { case (a, b) =>
      got.columns.indices.foreach { i =>
        assert(bits(a.get(i)) == bits(b.get(i)),
          s"column ${got.columns(i)}:\n kernel: ${a.get(i)}\n lambda: ${b.get(i)}")
      }
    }
  }

  private val (a, b, c, k, s) = (col("a"), col("b"), col("c"), col("k"), col("s"))
  private val bTf = 1.0 / (4 * math.cos(math.toRadians(47.5)))

  /** (name, kernel form, lambda form) for every shape the pipeline uses. */
  private val pairs: Seq[(String, Column, Column)] = Seq(
    ("scale", ArrayKernels.affine(a, k), HofArrayOps.scale(a, k)),
    ("s - a", ArrayKernels.affine(a, lit(-1.0), s), transform(a, x => s - x)),
    ("remap, up", ArrayKernels.affine(a, -lit(1.0) * cos(k), s),
      transform(a, z => s - lit(1.0) * z * cos(k))),
    ("remap, down", ArrayKernels.affine(a, -lit(-1.0) * cos(k), s),
      transform(a, z => s - lit(-1.0) * z * cos(k))),
    ("a / d", ArrayKernels.affine(a, lit(1.0), d = 0.7372773368),
      transform(a, z => z / 0.7372773368)),
    ("p a + q b", ArrayKernels.combine(a, b, lit(0.6782), lit(-0.6782)),
      zip_with(a, b, (x, y) => lit(0.6782) * x - lit(0.6782) * y)),
    ("a - b", ArrayKernels.combine(a, b, lit(1.0), lit(-1.0)), zip_with(a, b, _ - _)),
    ("a + 2 k b", ArrayKernels.combine(a, b, lit(1.0), lit(2.0) * k),
      zip_with(a, b, (x, y) => x + lit(2.0) * k * y)),
    ("(a - 2 bTf b) / 2 bTf",
      ArrayKernels.affine(ArrayKernels.combine(a, b, lit(1.0), lit(-2 * bTf)),
        lit(1.0), d = 2 * bTf),
      zip_with(a, b, (z, g) => (z - lit(2 * bTf) * g) / lit(2 * bTf))),
    ("-a / d1 + b / d2",
      ArrayKernels.combine(ArrayKernels.affine(a, lit(1.0), d = -1.3564),
        ArrayKernels.affine(b, lit(1.0), d = 1.48), lit(1.0), lit(1.0)),
      zip_with(a, b, (x, z) => -x / 1.3564 + z / 1.48)),
    ("mask", ArrayKernels.mask(a, col("corr"), col("amp"), 70.0, 75.0, 0.8),
      zip_with(a, zip_with(col("corr"), col("amp"), (c, m) => struct(c.as("c"), m.as("a"))),
        (v, ca) => when(ca.getField("c") >= 70.0 && ca.getField("a") <= 75.0 &&
          abs(v) <= 0.8, v))),
    ("rotate", ArrayKernels.rotate(a, b, c, k, s, lit(0.3), lit(-1.0)),
      zip_with(a, zip_with(b, c, (y, z) => struct(y.as("y"), z.as("z"))),
        (x, yz) => k * x + s * yz.getField("y") * lit(-1.0) +
          lit(0.3) * yz.getField("z") * lit(-1.0))),
    ("gradient", ArrayKernels.gradient(a), HofArrayOps.gradientUnit(a)),
    ("mean", ArrayKernels.mean(a), HofArrayOps.arrayMean(a)))

  private def kernelsMatch(seed: Int): Unit = {
    val df = randomFrame(seed)
    pairs.foreach { case (name, kernel, lambda) =>
      withClue(s"$name: ") {
        assertBitEqual(df.select(col("id"), kernel.as("v")),
          df.select(col("id"), lambda.as("v")), Seq("id"))
      }
    }
  }

  test("each kernel is bit-equal to its lambda on random arrays") {
    (1 to 3).foreach(kernelsMatch)
  }

  test("each kernel is bit-equal to its lambda without code generation") {
    val conf = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = conf.map { case (key, _) => key -> spark.conf.getOption(key) }
    conf.foreach { case (key, v) => spark.conf.set(key, v) }
    try kernelsMatch(4)
    finally before.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  test("the kernels run as SQL functions") {
    val r = spark.sql("""SELECT graft_affine(array(1D, NULL), 2D, 1D, 1D) AS f,
      graft_combine(array(1D, 2D), array(3D), 1D, -1D) AS c,
      graft_gradient(array(1D, 2D, 4D)) AS g, graft_mean(array(NULL, 3D)) AS m,
      graft_affine(array(1D), CAST(NULL AS DOUBLE), 1D, 1D) AS n""").head()
    assert(r.getSeq[Any](0) == Seq(3.0, null))
    assert(r.getSeq[Any](1) == Seq(-2.0, null))
    assert(r.getSeq[Any](2) == Seq(1.0, 1.5, 2.0))
    assert(r.getDouble(3) == 3.0)
    assert(r.getSeq[Any](4) == Seq(null))
  }

  /** The fixture mission (or two time-shifted keyed copies) through both
    * forms of the shear leg.
    */
  private def fixtureRun(missionCols: Seq[String]): Unit = CacheScope.using { scope =>
    val shift = 10000000000000L
    def tag(df: DataFrame, m: Int) =
      if (missionCols.isEmpty) df
      else df.withColumn("mission", lit(m))
        .withColumn("time_ns", col("time_ns") + lit(shift * (m - 1)))
    val missions = if (missionCols.isEmpty) Seq(1) else Seq(1, 2)
    val gliderRaw = missions.map(tag(Fixture.glider(spark), _)).reduce(_.unionByName(_))
    val adcpRaw = missions.map(tag(Fixture.adcp(spark), _)).reduce(_.unionByName(_))
    val (kernel, _) = AdcpPipeline.shearFromAdcp(adcpRaw, gliderRaw,
      Fixture.opts, Fixture.cellSize, Fixture.blankingDistance,
      solveHeading = false, missionCols = missionCols, scope = scope)
    val lambda = HofAdcpStages.shearFromAdcp(adcpRaw, gliderRaw, Fixture.opts,
      Fixture.cellSize, Fixture.blankingDistance, missionCols, scope)
    val compared = Seq("e", "n", "u", "sh_e", "sh_n", "sh_u", "x", "y", "z") ++
      Schema.beams.flatMap(b => Seq(s"vel$b", s"amp_new$b", s"v$b"))
    assert(compared.forall(kernel.columns.contains))
    assertBitEqual(kernel, lambda, missionCols :+ "time_ns")
  }

  test("the fixture mission's shear is bit-equal to the lambda form") {
    fixtureRun(Nil)
  }

  test("two keyed fixture missions' shear is bit-equal to the lambda form") {
    fixtureRun(Seq("mission"))
  }

  test("correct_shear on every axis is bit-equal to the lambda form") {
    val rnd = new Random(7)
    def vel(n: Int) = Seq.fill(n)(rnd.nextInt(40) match {
      case 0 => None
      case 1 => Some(Double.NaN)
      case _ => Some(0.3 * (2 * rnd.nextDouble() - 1))
    })
    // equal lengths: on a row shorter than the first in the speed band the
    // lambda form's element_at fails (ANSI), the kernel form takes the
    // diffs the row has
    val pings = Seq.tabulate(600) { i =>
      (i, 10.0 * rnd.nextDouble(), vel(6), vel(6), vel(6), vel(6))
    }.toDF("id", "depth", "vel1", "vel2", "vel3", "vel4")
    val opts = Fixture.opts.copy(correctXshear = true, correctYshear = true,
      correctZshear = true, correctZZshear = true)
    assertBitEqual(AdcpPipeline.correctShear(opts)(pings),
      HofAdcpStages.correctShear(opts)(pings), Seq("id"))
  }
}
