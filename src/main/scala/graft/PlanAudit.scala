package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor. Two modes:
  *
  *  - `sbt "runMain graft.PlanAudit <queryName ...>"` — print the detailed
  *    scan/codegen/broadcast summary for the named queries (AQE-finalized
  *    plans, so codegen markers and runtime join choices show).
  *  - `sbt "runMain graft.PlanAudit"` (the default, what CI should run) —
  *    audit EVERY SparkEntry query for the two anti-patterns that kill a
  *    100 TB run, and exit nonzero if any appears:
  *      1. a CartesianProduct node — an unbroadcast cross join degenerates
  *         to |A| x |B| work (broadcast-scalar crossJoins plan as
  *         BroadcastNestedLoopJoin and are fine);
  *      2. an unpruned scan — a parquet scan whose ReadSchema carries every
  *         column of a wide table while the query needs fewer (column
  *         pruning failed, so the scan pays the full table's IO).
  *    The detailed summary still prints for the headline queries.
  */
object PlanAudit {

  /** Tables wide enough that reading ALL columns signals failed pruning.
    * Narrow dims (region/nation: 3-4 cols, embeddings: 3) are exempt — a
    * full read of those is not a scale risk and several queries
    * legitimately use every column.
    */
  private val wideMin = 5

  /** (query, table) pairs that legitimately read every column of a wide
    * table: whole-row outputs (set ops / dedup keep the entire document
    * row) — the projection IS the full row, so nothing is prunable.
    */
  private val fullReadAllowed: Set[(String, String)] = Set(
    ("q21_set_ops", "customer"), // union/intersect/except of whole rows
    ("q48_dedup_corpus", "documents") // returns the surviving full docs
  )

  /** Top-k serve queries whose final rank window partitions by q_id. At
    * scale, one degenerate query (a stopword term matching half the
    * corpus; an ANN probe into a mega-cell) funnels ALL its candidate
    * rows through the single task that owns its q_id partition — UNLESS
    * the planner inserts a map-side WindowGroupLimit (Partial mode) that
    * pre-ranks each input partition down to k rows before the shuffle.
    * Spark's InsertWindowGroupLimit does this for `row_number() <= k`
    * filters; this audit pins the plan shape so a refactor that breaks
    * the rewrite's preconditions (e.g. a non-rank-based filter, an extra
    * projection between filter and window) fails CI instead of silently
    * regressing the serve path to a single-task sort at scale.
    *
    * The probe-all/unbounded-shortlist identity queries (q56c/e/f) are
    * deliberately NOT here: their `row_number() <= Int.MaxValue` filter
    * exceeds spark.sql.window.group.limit.threshold, so no pre-rank is
    * possible (or useful) by construction — they are correctness
    * identities, not serve paths. The bounded-shortlist IVF-PQ serve
    * shape is pinned by PlanHealthSpec instead.
    */
  private val topKWindowAudited: Set[String] = Set(
    "q74_bm25", "q77_bm25_index", "q96_bm25_batch_serve",
    "q55_ann_bruteforce", "q56b_ann_ivf")

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val violations = GraftSession.run() { spark =>
      if (args.nonEmpty) { args.foreach(detail(spark, dir, _)); Nil }
      else audit(spark, dir)
    }
    if (violations.nonEmpty) {
      System.err.println(s"\nPLAN AUDIT VIOLATIONS (${violations.size}):")
      violations.foreach(v => System.err.println(s"  $v"))
      sys.exit(1)
    }
    if (args.isEmpty)
      println(s"\nplan audit clean across ${SparkEntry.queries.size} queries")
  }

  /** Audits every query, prints the headline details, returns violations. */
  private def audit(spark: SparkSession, dir: String): Seq[String] = {
    val headline = Seq("q01_scan_filter_project", "q13_join_broadcast",
      "q04_grid2d_mean", "q10_interp_join", "q51_dedup_minhash_lsh",
      "q55_ann_bruteforce", "q47_quality_filter", "q48_dedup_corpus")

    // table name -> column count, from the parquet footers themselves
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .flatMap { t =>
        val p = s"$dir/$t.parquet"
        if (new java.io.File(p).exists())
          // Common.table sets the nanosAsLong conf events.parquet needs
          Some(t -> graft.queries.Common.table(spark, dir, t).schema.size)
        else None
      }.toMap

    val violations = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val nBefore = violations.size
      try {
        val df = fn(spark, dir)
        val formatted = org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted")
        val full = df.queryExecution.explainString(formatted)
        if (full.contains("CartesianProduct"))
          violations += s"$name: CartesianProduct in physical plan"
        violations ++= unprunedScans(full, tables)
          .filterNot { case (t, _) => fullReadAllowed((name, t)) }
          .map { case (t, n) => s"$name: unpruned scan of $t ($n/${tables(t)} cols)" }
        if (topKWindowAudited(name)) {
          val plan = df.queryExecution.executedPlan.toString
          if (!hasPartialWindowGroupLimit(plan))
            violations += s"$name: top-k rank window without a map-side " +
              "WindowGroupLimit (Partial) pre-rank — a high-df/degenerate " +
              "query would funnel its full candidate set through one task"
        }
      } catch { case e: Throwable =>
        violations += s"$name: audit failed to plan (${e.getMessage})"
      }
      if (violations.size == nBefore) println(s"audit $name: ok")
      else violations.drop(nBefore).foreach(v => println(s"audit $name: VIOLATION — $v"))
    }
    headline.foreach(detail(spark, dir, _))
    violations.toSeq
  }

  /** True iff the plan string contains a WindowGroupLimit node in Partial
    * mode — checked on the NODE's own line (WindowGroupLimitExec prints
    * its mode as the last argument), not as two independent substrings of
    * the whole plan: a Final-mode-only WindowGroupLimit plus an unrelated
    * "Partial" token elsewhere (e.g. a partial HashAggregate) must NOT
    * pass as a map-side pre-rank.
    */
  private[graft] def hasPartialWindowGroupLimit(plan: String): Boolean =
    plan.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))

  /** Wide-table scans whose ReadSchema carries every column: (table,
    * columns-read) pairs, from pairing each scan's Location line with its
    * ReadSchema line in the formatted explain.
    */
  private[graft] def unprunedScans(explainFormatted: String,
      tables: Map[String, Int]): Seq[(String, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    var loc: Option[String] = None
    explainFormatted.linesIterator.map(_.trim).foreach { l =>
      if (l.startsWith("Location:"))
        loc = tables.keys.find(t => l.contains(s"$t.parquet"))
      else if (l.startsWith("ReadSchema:")) {
        val nCols = topLevelFieldCount(l)
        for (t <- loc if tables(t) >= wideMin && nCols >= tables(t))
          out += ((t, nCols))
        loc = None
      }
    }
    out.toSeq
  }

  /** Top-level field count of a `ReadSchema: struct<...>` line: commas at
    * angle-bracket depth 0 inside the outer struct, +1. Counting `:` would
    * overcount as soon as a table gains a nested struct column (each nested
    * field adds a colon).
    */
  private[graft] def topLevelFieldCount(readSchemaLine: String): Int = {
    val start = readSchemaLine.indexOf("struct<")
    if (start < 0) return 0
    val body = readSchemaLine.substring(start + "struct<".length)
      .reverse.dropWhile(_ != '>').drop(1).reverse // strip trailing '>' of the outer struct
    if (body.trim.isEmpty) return 0
    var depth = 0
    var n = 1
    body.foreach {
      case '<' => depth += 1
      case '>' => depth -= 1
      case ',' if depth == 0 => n += 1
      case _ =>
    }
    n
  }

  /** Detailed scan/codegen/broadcast summary for one query (executes the
    * plan so AQE finalizes it and `*(n)` codegen markers show).
    */
  private def detail(spark: SparkSession, dir: String, name: String): Unit =
    SparkEntry.queries.get(name) match {
      case None => println(s"== $name: not found")
      case Some(fn) =>
        val df = fn(spark, dir)
        // execute THIS QueryExecution's physical plan (df.count()/write
        // would plan anew), so AQE finalizes it and codegen markers show
        val ep = df.queryExecution.executedPlan
        ep.execute().count()
        val plan = ep.toString()
        val formatted = org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted")
        val full = df.queryExecution.explainString(formatted)
        val pushed = full.linesIterator.filter(l =>
          l.contains("PushedFilters") || l.contains("ReadSchema") ||
          l.contains("DataFilters")).map(_.trim).toSeq
        // whole-stage codegen spans appear as `*(n)` operator prefixes
        val nCodegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
          .map(_.group(1)).toSet.size
        val nExchange = "Exchange".r.findAllIn(plan).length
        val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
        println(s"\n== $name: codegenSpans=$nCodegen exchanges=$nExchange broadcastJoins=$nBroadcast")
        pushed.distinct.take(6).foreach(l => println(s"   $l"))
    }
}
