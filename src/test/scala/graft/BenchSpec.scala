package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Bench must be failure-honest: a crashed query carries the -1.0 sentinel
  * (never its time-to-failure), is excluded from totals, and lands in the
  * "errors" list on BOTH artifact lines; raw warm passes are emitted so the
  * best-of-2 min is auditable.
  */
class BenchSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  private val queries = Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame](
    "good" -> ((s, _) => s.range(10).toDF("id")),
    "boom" -> ((s, _) => {
      // fails at execution time (not analysis): the realistic sf0.1-only
      // breakage shape — a query whose plan builds fine but crashes mid-run
      // (a filter, so count()'s column pruning cannot optimize it away)
      import org.apache.spark.sql.functions._
      val blow = udf { x: Long =>
        if (x > 2) throw new RuntimeException("mid-run failure"); true
      }
      s.range(5).toDF("id").where(blow(col("id")))
    }))

  /** render() = full line, one short line per query, compact totals line
    * LAST — the driver's collector keeps an output tail, so the sacrifice
    * order under truncation is exactly the Seq order.
    */
  private def lines(qs: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame]): (String, Seq[String], String) = {
    val ls = Bench.render(qs, spark, "/unused")
    assert(ls.size == qs.size + 2,
      "render must emit full + one-per-query + compact lines")
    (ls.head, ls.tail.init, ls.last)
  }

  test("a throwing query is a sentinel + error entry, not a fake duration") {
    val (full, _, compact) = lines(queries)
    implicit val fmts: Formats = DefaultFormats
    val f = JsonMethods.parse(full)
    val c = JsonMethods.parse(compact)

    for (field <- Seq("queries", "queries_warm", "queries_warm1", "queries_warm2")) {
      val m = (f \ field).extract[Map[String, Double]]
      assert(m("boom") == -1.0, s"$field must carry the sentinel for boom")
      assert(m("good") >= 0.0, s"$field must time the good query")
    }
    // totals exclude the sentinel (a -1 contribution would corrupt them)
    assert((f \ "value").extract[Double] >= 0.0)
    assert((f \ "warm_total").extract[Double] >= 0.0)
    // both lines carry the error, named
    for (j <- Seq(f, c)) {
      val errs = (j \ "errors").extract[Seq[String]]
      assert(errs.exists(_.startsWith("boom:")), s"errors must name boom in $j")
      assert(!errs.exists(_.startsWith("good:")))
    }
    assert((c \ "n_errors").extract[Int] == 1)
    // the warm min is reconstructible from the raw passes
    val w = (f \ "queries_warm").extract[Map[String, Double]]
    val w1 = (f \ "queries_warm1").extract[Map[String, Double]]
    val w2 = (f \ "queries_warm2").extract[Map[String, Double]]
    assert(w("good") == math.min(w1("good"), w2("good")))
  }

  test("the 63-query bridge is the warm total over exactly the round-1 set") {
    // one bridge query (timed), one non-bridge query (must not count),
    // one bridge query that fails (must not count, and must drop the n)
    import org.apache.spark.sql.functions._
    val blow = udf { x: Long =>
      if (x > 2) throw new RuntimeException("mid-run failure"); true
    }
    val qs = Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame](
      "q01_scan_filter_project" -> ((s, _) => s.range(10).toDF("id")),
      "q99_not_in_bridge" -> ((s, _) => s.range(10).toDF("id")),
      "q02_qc_mask" -> ((s, _) => s.range(5).toDF("id").where(blow(col("id")))))
    val (full, _, compact) = lines(qs)
    implicit val fmts: Formats = DefaultFormats
    for (line <- Seq(full, compact)) {
      val j = JsonMethods.parse(line)
      val w = (JsonMethods.parse(full) \ "queries_warm").extract[Map[String, Double]]
      assert((j \ "bridge_63q_warm").extract[Double] ==
        w("q01_scan_filter_project"),
        "bridge must sum warm times over bridge63 members only, skipping sentinels")
      assert((j \ "bridge_63q_n").extract[Int] == 1)
    }
    assert(Bench.bridge63.size == 63)
  }

  test("an all-green run emits an empty errors list") {
    val (full, _, compact) = lines(queries - "boom")
    implicit val fmts: Formats = DefaultFormats
    assert((JsonMethods.parse(full) \ "errors").extract[Seq[String]].isEmpty)
    assert((JsonMethods.parse(compact) \ "n_errors").extract[Int] == 0)
  }

  test("the artifact_file line stays valid JSON for a path with a quote") {
    val path = java.nio.file.Paths.get("bench \"out\" \\ dir", "artifact.jsonl")
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(Bench.artifactFileLine(path))
    assert((j \ "metric").extract[String] == "artifact_file")
    assert((j \ "path").extract[String] == path.toAbsolutePath.toString)
  }

  test("a string with control characters still makes a JSON line that parses") {
    // the escaper Bench's error list and Verify's oracle dump share
    implicit val fmts: Formats = DefaultFormats
    val sql = "SELECT 1\tAS a,\r\n  'x' AS b\u0001 -- \"q\" \\"
    val j = JsonMethods.parse(s"{${Bench.jsonString("q01")}: ${Bench.jsonString(sql)}}")
    assert((j \ "q01").extract[String] ==
      "SELECT 1 AS a,    'x' AS b  -- \"q\" \\")
  }

  test("per-query lines: one short JSONL line each, consistent with the full maps") {
    // the r19 driver-parseability contract (two rounds of PERF per_query
    // were lost to tail truncation of the 12 KB full line): every query
    // gets its own {"q","cold","warm"} line between the full line and the
    // compact totals line; values match the full maps to the 0.1 ms
    // rounding, and the failure sentinel passes through as exactly -1.0
    val (full, perQ, compact) = lines(queries)
    implicit val fmts: Formats = DefaultFormats
    val f = JsonMethods.parse(full)
    val coldMap = (f \ "queries").extract[Map[String, Double]]
    val warmMap = (f \ "queries_warm").extract[Map[String, Double]]
    assert(perQ.size == queries.size)
    assert(perQ.forall(_.length < 120), "per-query lines must stay short")
    val parsed = perQ.map { l =>
      val j = JsonMethods.parse(l)
      ((j \ "q").extract[String],
        (j \ "cold").extract[Double], (j \ "warm").extract[Double])
    }
    assert(parsed.map(_._1).toSet == queries.keySet)
    parsed.foreach { case (q, c, w) =>
      assert(math.abs(c - coldMap(q)) <= 5e-5 || (c == -1.0 && coldMap(q) == -1.0))
      assert(math.abs(w - warmMap(q)) <= 5e-5 || (w == -1.0 && warmMap(q) == -1.0))
    }
    val (bc, bw) = parsed.collectFirst { case ("boom", c, w) => (c, w) }.get
    assert(bc == -1.0 && bw == -1.0, "the sentinel must pass through exactly")
    // the compact totals line stays LAST — the always-intact tail line
    assert((JsonMethods.parse(compact) \ "metric").extract[String] == "total_compact")
  }

  test("pass sweeps a query's q-prefixed temp index dirs after forcing it") {
    // the page-cache hygiene contract: index-lifecycle queries build temp
    // indexes they cannot clean under their own lazy result; pass deletes
    // exactly the dirs that appeared during the query, outside the timed
    // window, after the forced write has fully materialized
    val preexisting = java.nio.file.Files
      .createTempDirectory("q777_preexisting")
    val created = new java.util.concurrent.atomic.AtomicReference[String]()
    val qs = Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame](
      "mk" -> ((s, _) => {
        val d = java.nio.file.Files.createTempDirectory("q888_spec")
        java.nio.file.Files.writeString(d.resolve("part-0000.parquet"), "x")
        created.set(d.toString)
        s.range(3).toDF("id")
      }))
    try {
      val (times, errs) = Bench.pass(qs, spark, "/unused")
      assert(errs.isEmpty && times("mk") >= 0.0)
      assert(!new java.io.File(created.get()).exists(),
        "the dir created during the query must be swept after forcing")
      assert(preexisting.toFile.exists(),
        "dirs that predate the query must survive the sweep")
    } finally {
      new java.io.File(preexisting.toString).listFiles()
      java.nio.file.Files.deleteIfExists(preexisting)
    }
  }

  test("both artifact lines carry the three host-noise probe timings") {
    // the self-describing-artifact contract: a loaded-host recording must
    // be adjudicable from the artifact alone — one probe before each pass,
    // all three on BOTH lines, every timing a real positive duration
    val (full, _, compact) = lines(queries - "boom")
    implicit val fmts: Formats = DefaultFormats
    for (j <- Seq(JsonMethods.parse(full), JsonMethods.parse(compact));
         field <- Seq("noise_cold", "noise_warm1", "noise_warm2")) {
      val v = (j \ field).extract[Double]
      assert(v > 0.0, s"$field must record a positive probe duration, got $v")
    }
  }
}
