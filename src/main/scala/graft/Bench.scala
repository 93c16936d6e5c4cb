package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** One timed pass: per-query seconds, with a FAILED query recorded as the
    * -1.0 sentinel (never its time-to-failure — a fast crash must not read
    * as a perf win) plus a "name: message" error entry.
    *
    * Forcing is a noop-format WRITE, not count(): count() lets Catalyst
    * prune everything row-multiplicity doesn't need — a map-only
    * projection (q73's regex scrub) collapses to a bare scan count, and a
    * left join against a grouped frame (q78b) is eliminated outright, so
    * rounds <= 10 recorded near-zero phantom times for exactly the
    * queries whose work is per-row. The noop sink consumes every output
    * column, so the timed plan is the plan the driver's Verify checks.
    * (Cross-round note: this raises map-heavy per-query times vs earlier
    * artifacts — annotate comparisons, see BASELINE.md round 10.)
    */
  def pass(queries: Map[String, (SparkSession, String) => DataFrame],
      spark: SparkSession, sfDir: String):
      (Map[String, Double], Seq[String]) = {
    val errors = Seq.newBuilder[String]
    val times = queries.map { case (name, fn) =>
      val before = tempIndexDirs()
      val t0 = System.nanoTime()
      val ok =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        }
        catch { case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}"
          false
        }
      val t = (System.nanoTime() - t0) / 1e9
      // hygiene OUTSIDE the timed window, in two parts. (1) release the
      // session cache scope: queries persist intermediates into
      // CacheScope.session (the single-tenant contract — the CALLER
      // releases), and 112 queries' accumulated dead blocks measurably
      // throttle the storage-heavy ones (q76/q90/q94 at sf1 ran 2.5x
      // their isolated times with the junk resident — reproduced: five
      // IVF queries then q76 in one JVM = 17 s/run vs 6.9 s isolated).
      // (2) sweep the temp index dirs the index-lifecycle queries build
      // and cannot delete under their own lazy results (three passes over
      // ~12 such queries left tens of GB churning the page cache). The
      // forced noop write has fully materialized the result, so both the
      // cached blocks and the dirs this query just created are dead.
      graft.core.CacheScope.session.release()
      (tempIndexDirs() -- before).foreach(deleteRecursively)
      name -> (if (ok) t else -1.0)
    }
    (times, errors.result())
  }

  /** The query-id-prefixed temp dirs currently under the bench-private
    * root (`graft.tmpdir`, set by [[GraftSession.run]]; [[graft.queries.Common.tempDir]]
    * routes every query's index-lifecycle dirs there) — falling back to
    * java.io.tmpdir for embedded callers that didn't set the property.
    * The private root is what makes the sweep safe: a CONCURRENT process
    * (a parallel Verify, a second bench) creating a matching `q<N>_*`
    * name in the shared tmpdir is invisible here, where before r15 its
    * live temp index was sweepable mid-run.
    */
  private def tempIndexDirs(): Set[java.io.File] = {
    val tmp = new java.io.File(System.getProperty("graft.tmpdir",
      System.getProperty("java.io.tmpdir")))
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("q\\d+[a-z]?_.*"))
      .toSet
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** The round-1 63-query set (the keys of BENCH_r01.json), frozen as the
    * cross-round like-for-like comparison basis: every BENCH line carries
    * `bridge_63q_warm` = the warm best-of-2 total over exactly these
    * queries, so round-over-round comparisons need no manual artifact
    * intersection (rounds grew from 63 to 100+ queries; raw totals are
    * not comparable). `bridge_63q_n` counts how many of the 63 ran green
    * — a reader should trust the bridge only at 63.
    */
  val bridge63: Set[String] = Set(
    "q01_scan_filter_project", "q02_qc_mask", "q03_agg_pricing",
    "q04_grid2d_mean", "q05_grid2d_median", "q05b_grid2d_count_std",
    "q06_running_mean", "q06b_running_median", "q07_cumsum", "q08_ffill",
    "q09_gradient", "q09b_diff", "q10_interp_join", "q11_asof_nearest",
    "q12_join_equi", "q13_join_broadcast", "q14_join_semi", "q15_join_anti",
    "q16_first_last", "q17_median_stddev", "q18_topk", "q19_rollup",
    "q20_distinct_days", "q21_set_ops", "q22_json", "q23_grid2d_dense",
    "q24_reset_cumsum", "q25_reverse_cumsum", "q25b_count_from_end",
    "q26_demean", "q27_parity", "q28_bround", "q29_elementwise", "q30_rmsd",
    "q31_enu_rotation", "q32_beam_geometry", "q33_fg_absorption",
    "q34_haversine", "q35_teos10", "q36_cube", "q37_grouping_sets",
    "q38_tumbling_window", "q39_distinct_agg", "q39b_approx_distinct",
    "q40_token_counts", "q41_langid", "q42_quality", "q43_fingerprint",
    "q44_lang_stats", "q50_dedup_exact", "q51_dedup_minhash_lsh",
    "q52_dedup_simhash", "q53_ngram_jaccard", "q55_ann_bruteforce",
    "q56_ann_lsh_buckets", "q56b_ann_ivf", "q57_embedding_neardup",
    "q58_vector_norms", "q59_multimodal_decode", "q60_string_funcs",
    "q61_pivot", "q62_percentiles", "q63_map_funcs")

  /** Fixed-work host-noise probe, timed immediately before every pass:
    * ~100M codegen'd long ops, zero I/O, independent of the data scale —
    * its duration moves ONLY with host load. Recording it makes a
    * loaded-host artifact self-describing: a reader compares the three
    * probe timings against the idle-host floor noted in BASELINE.md and
    * can attribute a uniform slowdown to interference without re-running
    * anything (round-9's +30% warm phantom needed a same-session re-bench
    * to adjudicate; this field kills that failure mode). collect() (not
    * count()) forces the sum — count() would let column pruning drop the
    * arithmetic being timed.
    */
  def noiseProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(100000000L).selectExpr("sum(id * 3 + 1) as s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Shuffle-bound host-noise probe (r18, the r17 verdict's ask): the
    * zero-I/O probe above cannot see SHUFFLE contention — r17's artifact
    * carried ~30-55% uniform inflation while noise_warm read inside the
    * idle band, and adjudication needed a manual same-host A/B. This
    * probe is fixed work through the full shuffle machinery (10M synth
    * rows, hash repartition + aggregate, data-scale independent); its
    * duration moves with host load on exactly the resource every real
    * query pays. Both probes ride every artifact line: a loaded host now
    * self-identifies even when only the shuffle path is contended.
    */
  def noiseShuffleProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(10000000L)
      .selectExpr("id", "id % 1000 as k")
      .repartition(org.apache.spark.sql.functions.col("k"))
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("id").as("s"))
      .selectExpr("sum(s)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Sum of the JVM heap pools' peak usage in MB, which the rehearsal
    * mains report with their results.
    */
  private[graft] def peakHeapMb: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024 * 1024)
  }

  /** `s` as a quoted JSON string: backslashes and quotes escaped, control
    * characters (newlines in error messages) turned into spaces.
    */
  private[graft] def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""

  /** The line that announces where the full artifact was written. */
  private[graft] def artifactFileLine(path: java.nio.file.Path): String =
    s"""{"metric":"artifact_file","path":${jsonString(path.toAbsolutePath.toString)}}"""

  /** Three timed passes over `queries` -> the two JSON artifact lines.
    * Pass 1 (cold) includes per-plan Janino whole-stage-codegen compilation
    * and .cache() materialization — comparable with BASELINE.md / round-1
    * cold numbers. Passes 2+3 run warm; each query reports the MIN of the
    * two (the host is noisy — round-7 verdict adjudicated three ~3x phantom
    * regressions that were pure interference — so per-query best-of-2 makes
    * the recorded artifact steady-state by construction), and both raw warm
    * passes ride along as queries_warm1/queries_warm2 so the min is
    * auditable (cross-round note: rounds <= 7 recorded single-pass warm
    * totals, so warm_total comparisons against them slightly favor newer
    * rounds). Failures are first-class: a crashed query carries the -1.0
    * sentinel in every per-query map (min propagates it: one failed warm
    * pass marks the query), is EXCLUDED from the totals, and lands in the
    * "errors" list on BOTH lines — an empty list is the all-green claim.
    * Each pass is preceded by a [[noiseProbe]] AND a
    * [[noiseShuffleProbe]] whose timings ride along as
    * noise_cold/noise_warm1/noise_warm2 and noise_shuffle_* on BOTH
    * lines (compute-bound and shuffle-bound contention are visible
    * independently).
    */
  def render(queries: Map[String, (SparkSession, String) => DataFrame],
      spark: SparkSession, sfDir: String): Seq[String] = {
    val n0 = noiseProbe(spark)
    val s0 = noiseShuffleProbe(spark)
    val (cold, coldErrs) = pass(queries, spark, sfDir)
    val n1 = noiseProbe(spark)
    val s1 = noiseShuffleProbe(spark)
    val (warm1, w1Errs) = pass(queries, spark, sfDir)
    val n2 = noiseProbe(spark)
    val s2 = noiseShuffleProbe(spark)
    val (warm2, w2Errs) = pass(queries, spark, sfDir)
    val warm = warm1.map { case (k, v) => k -> math.min(v, warm2(k)) }
    val errors = (coldErrs ++ w1Errs ++ w2Errs).distinct
    def js(m: Map[String, Double]) =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jsErr(es: Seq[String]) = es.map(jsonString).mkString("[", ",", "]")
    val coldTotal = cold.values.filter(_ >= 0).sum
    val warmTotal = warm.values.filter(_ >= 0).sum
    val bridgeGreen = warm.filter { case (k, v) => bridge63(k) && v >= 0 }
    val bridgeWarm = bridgeGreen.values.sum
    val bridgeN = bridgeGreen.size
    // per-query times additionally as ONE SHORT LINE EACH (r19): the
    // driver's artifact collector keeps only an output TAIL, and for two
    // rounds the ~12 KB full line above lost its head — and with it every
    // per-query map — to that truncation (PERF per_query came back empty).
    // Short lines survive or die whole, so however small the tail window
    // is, the lines closest to the end are intact. Values rounded to 0.1 ms
    // (shorter lines => more of them fit in the tail); the full-precision
    // maps stay on the full line. The failure sentinel -1.0 passes through.
    def fmt(v: Double) =
      if (v < 0) "-1.0"
      else String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val perQuery = cold.keys.toSeq.sorted.map { k =>
      s"""{"q":"$k","cold":${fmt(cold(k))},"warm":${fmt(warm(k))}}"""
    }
    // headline totals go LAST on the line (and again on a final compact
    // line): the artifact collector keeps the tail of long lines, so totals
    // printed first would be the part that gets truncated away. Line order
    // in the Seq = sacrifice order under tail truncation: the long full
    // line first (head-truncatable), then the per-query lines, the compact
    // totals line last (always intact).
    Seq(
      s"""{"metric":"total","unit":"sec","sf":"$sfDir","queries":${js(cold)},"queries_warm":${js(warm)},"queries_warm1":${js(warm1)},"queries_warm2":${js(warm2)},"errors":${jsErr(errors)},"noise_cold":$n0,"noise_warm1":$n1,"noise_warm2":$n2,"noise_shuffle_cold":$s0,"noise_shuffle_warm1":$s1,"noise_shuffle_warm2":$s2,"bridge_63q_warm":$bridgeWarm,"bridge_63q_n":$bridgeN,"warm_total":$warmTotal,"value":$coldTotal}""") ++
    perQuery ++ Seq(
      // distinct metric name: a JSONL consumer filtering metric=="total"
      // must not double-count this compact repeat of the totals
      s"""{"metric":"total_compact","value":$coldTotal,"unit":"sec","warm_total":$warmTotal,"bridge_63q_warm":$bridgeWarm,"bridge_63q_n":$bridgeN,"n_queries":${cold.size},"n_errors":${errors.size},"errors":${jsErr(errors)},"noise_cold":$n0,"noise_warm1":$n1,"noise_warm2":$n2,"noise_shuffle_cold":$s0,"noise_shuffle_warm1":$s1,"noise_shuffle_warm2":$s2,"sf":"$sfDir"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    GraftSession.run() { spark =>
      // Optional exclusion for outsized-SF rehearsal runs (e.g. the
      // probe-all oracle-identity queries q90/q94 are quadratic in
      // corpus size BY DESIGN and have a separate scale path in
      // SemDedupBench). Never silent: the dropped set is announced on
      // its own artifact line, and the driver's per-round runs don't
      // set the variable, so the contract artifact is always full.
      val excluded = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty[String])
      // A typo'd name would be ANNOUNCED as excluded while the query
      // actually runs — the artifact would misstate what was measured.
      // Fail loudly instead.
      val unknown = excluded -- SparkEntry.queries.map(_._1).toSet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_EXCLUDE names unknown queries: " +
          s"${unknown.toSeq.sorted.mkString(",")}")
      if (excluded.nonEmpty)
        println(s"""{"metric":"bench_excluded","queries":[""" +
          excluded.toSeq.sorted.map("\"" + _ + "\"").mkString(",") +
          """],"reason":"SPARK_GRAFT_BENCH_EXCLUDE set by caller"}""")
      val qs = SparkEntry.queries.filter {
        case (k, _) => !excluded(k)
      }
      val lines = render(qs, spark, sfDir)
      // belt-and-braces against stdout tail truncation: the FULL artifact
      // also lands in a file (best-effort — a read-only cwd must not fail
      // the bench). Announced BEFORE the lines so the compact totals line
      // stays the final stdout line (tail-parsing consumers rely on it).
      try {
        val out = java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_ARTIFACT", "plans/bench_artifact.jsonl"))
        Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(out,
          lines.mkString("", "\n", "\n").getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
        println(artifactFileLine(out))
      } catch { case e: Exception =>
        println(s"""{"metric":"artifact_file","error":"${e.getClass.getSimpleName}"}""")
      }
      lines.foreach(println)
    }
  }
}
