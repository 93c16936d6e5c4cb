package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Bins, Optimize, Windows}
import graft.plans.NativeInterp

/** Property-style tests for the core primitives (SURVEY.md §5 test plan):
  * interp exactness on knots + linearity, cumsum/diff inversion, pd.cut
  * containment, Nelder-Mead convergence — over seeded random cases
  * (deterministic; scalatest+scalacheck bridge isn't in the offline cache,
  * so cases are generated with a fixed-seed Random).
  */
class PropertySpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def rng = new scala.util.Random(42)

  test("interp is exact at knots and linear between them (50 random cases)") {
    graft.plans.Natives.ensure(spark)
    val r = rng
    val cases = (1 to 50).map { _ =>
      val n = 2 + r.nextInt(10)
      val xs = Seq.fill(n)(r.nextDouble() * 200 - 100).distinct.sorted
      val ys = xs.map(_ => r.nextDouble() * 20 - 10)
      (xs, ys)
    }
    val df = cases.map { case (xs, ys) =>
      val mids = xs.zip(xs.tail).map { case (a, b) => (a + b) / 2 }
      (xs, ys, xs ++ mids)
    }.toDF("xs", "ys", "t")
    val out = df.select(expr("graft_interp(xs, ys, t)"))
      .as[Seq[Option[Double]]].collect()
    cases.zip(out).foreach { case ((xs, ys), got) =>
      xs.indices.foreach(i =>
        assert(math.abs(got(i).get - ys(i)) < 1e-12, s"knot $i not exact"))
      (0 until xs.size - 1).foreach { i =>
        val expected = (ys(i) + ys(i + 1)) / 2
        assert(math.abs(got(xs.size + i).get - expected) < 1e-9, s"midpoint $i not linear")
      }
    }
  }

  test("aggregate-form quality signals equal the scalar Column form (random docs)") {
    // the exploded-token aggregate path (Corpus.withQualitySignals) and
    // the scalar Column-algebra path (Text.langId/qualityScore + inline
    // shingles) must be the SAME function — on arbitrary docs, not just
    // the oracle corpus: random words drawn from stopwords of every
    // language + junk + punctuation, including one-token docs (empty text
    // is outside the contract: ANSI division-by-zero in punctRatio throws
    // identically in both forms)
    val r = rng
    val pool = graft.functions.Text.stopwords.flatMap(_._2) ++
      Seq("xyzzy", "qq.q", "a", "!!", "some,word", "longerwordhere", "z")
    val docs = (1L to 200L).map { i =>
      val n = 1 + r.nextInt(11) // 1..11 tokens
      (i, (0 until n).map(_ => pool(r.nextInt(pool.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val toks = graft.functions.Text.tokens(col("text"))
    val sh = graft.functions.Text.shingles(toks, 2)
    val scalar = docs
      .withColumn("lang_pred", graft.functions.Text.langId(toks))
      .withColumn("quality", graft.functions.Text.qualityScore(col("text"), toks))
      .withColumn("__nt", size(sh).cast("long"))
      .withColumn("__nd", size(array_distinct(sh)).cast("long"))
      .withColumn("rep_milli",
        when(col("__nt") > 0, expr("((__nt - __nd) * 1000) div __nt")).otherwise(0L))
      .select(col("doc_id"), col("lang_pred"), col("quality"), col("rep_milli"))
    val agg = graft.operators.Corpus.withQualitySignals(docs, "text")
      .select(col("doc_id"), col("lang_pred"), col("quality"), col("rep_milli"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(row => (row.getLong(0), row.getString(1),
        Option(row.get(2)).map(_.asInstanceOf[Double]), row.getLong(3)))
    val (s, a) = (rows(scalar), rows(agg))
    assert(s.length == a.length)
    s.zip(a).foreach { case (sr, ar) =>
      assert(sr == ar, s"scalar $sr != aggregate $ar") // bit-identical doubles
    }
  }

  test("cumsum of diff recovers the series up to its first element") {
    val r = rng
    val w = Windows.ordered(Seq(col("i")), Seq(col("k")))
    val wRun = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
      .orderBy(col("i"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val series = (1 to 20).flatMap { k =>
      (0 until 25).map(i => (k.toLong, i.toLong, r.nextDouble() * 100 - 50))
    }
    val got = series.toDF("k", "i", "v")
      .withColumn("d", Windows.diff(col("v"), w))
      .withColumn("rec",
        Windows.cumsum(coalesce(col("d"), lit(0.0)), w) + first(col("v")).over(wRun))
      .orderBy("k", "i").select("v", "rec").as[(Double, Double)].collect()
    got.foreach { case (v, rec) => assert(math.abs(rec - v) < 1e-9) }
  }

  test("cutRight assigns every in-range value to its containing interval") {
    val r = rng
    val xs = (1 to 300).map(_ => r.nextDouble() * 99.9 + 0.05)
    Seq(1, 3, 7, 20).foreach { n =>
      val step = 100.0 / n
      val got = xs.toDF("x")
        .select(col("x"), Bins.cutRight(col("x"), 0.0, step, n).as("k"))
        .collect()
      got.foreach { row =>
        val x = row.getDouble(0)
        assert(!row.isNullAt(1), s"x=$x n=$n unexpectedly out of range")
        val k = row.getLong(1)
        assert(k * step < x + 1e-9 && x <= (k + 1) * step + 1e-9,
          s"x=$x not in (${k * step}, ${(k + 1) * step}]")
      }
    }
  }

  test("Nelder-Mead finds the minimum of random shifted quadratics") {
    val r = rng
    (1 to 25).foreach { _ =>
      val a = r.nextDouble() * 10 - 5
      val b = r.nextDouble() * 10 - 5
      val res = Optimize.nelderMead(
        x => math.pow(x(0) - a, 2) + 3 * math.pow(x(1) - b, 2),
        Array(0.0, 0.0), maxIter = 800, maxFun = 800)
      assert(math.abs(res.x(0) - a) < 1e-2 && math.abs(res.x(1) - b) < 1e-2,
        s"missed minimum ($a, $b): ${res.x.toSeq}")
    }
  }

  test("repetition ratio is bounded and exact on constructed documents") {
    import graft.functions.Text
    val r = rng
    // random word soup plus exact known cases
    val random = (1 to 60).map { i =>
      (i.toLong, (1 to (r.nextInt(30) + 1))
        .map(_ => s"w${r.nextInt(8)}").mkString(" "))
    }
    val known = Seq(
      (1001L, "a b a b a b"),   // 2-grams: ab ba ab ba ab -> 5 total 2 distinct
      (1002L, "x y z"),         // all distinct -> 0
      (1003L, "solo"))          // too short -> n_total 0 -> 0
    val df = (random ++ known).toDF("doc_id", "text")
    val sh = Text.shingles(Text.tokens(col("text")), 2)
    val got = df.select(col("doc_id"),
        size(sh).cast("long").as("n_total"),
        size(array_distinct(sh)).cast("long").as("n_distinct"))
      .withColumn("rep_milli",
        when(col("n_total") > 0,
          expr("((n_total - n_distinct) * 1000) div n_total")).otherwise(0L))
      .collect().map(row => row.getLong(0) ->
        ((row.getLong(1), row.getLong(2), row.getLong(3)))).toMap
    got.values.foreach { case (nt, nd, rep) =>
      assert(rep >= 0 && rep < 1000, s"rep_milli out of [0,1000): $rep")
      assert(nd <= nt, "distinct 2-grams cannot exceed total")
    }
    assert(got(1001L) == ((5L, 2L, 600L)))
    assert(got(1002L) == ((2L, 2L, 0L)))
    assert(got(1003L) == ((0L, 0L, 0L)))
  }

  test("vocab document frequency never exceeds doc count; tf >= df") {
    import graft.functions.Text
    val r = rng
    val n = 40
    val docs = (1 to n).map { i =>
      (i.toLong, (1 to (r.nextInt(20) + 1))
        .map(_ => s"t${r.nextInt(12)}").mkString(" "))
    }.toDF("doc_id", "text")
    val stats = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      .collect()
    assert(stats.nonEmpty)
    stats.foreach { row =>
      val (df_, tf) = (row.getLong(1), row.getLong(2))
      assert(df_ >= 1 && df_ <= n, s"df out of [1,$n]: $df_")
      assert(tf >= df_, s"collection frequency $tf < document frequency $df_")
    }
  }
}
