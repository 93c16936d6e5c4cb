package graft

import org.apache.spark.sql.functions._

/** Synthesize an sf1-scale rehearsal dataset by replicating sf0.1 10x with
  * key offsets — the scale-up evidence run for the headline queries when no
  * driver-generated sf1 exists. `runMain graft.ScaleUp [factor] [outDir]`.
  *
  * Replication semantics (chosen so every headline query does genuinely
  * more work in the same key/bin domains rather than filtering the extra
  * rows away):
  *  - events: event_id offset per copy; ts jittered +i NANOSECONDS — below
  *    the source's microsecond granularity, so the jitter can never push a
  *    replica into a DIFFERENT microsecond than its original. Every
  *    consumer floors to us (`ts div 1000`), so replicas land in the SAME
  *    bins and present us-COINCIDENT interpolation knots carrying
  *    IDENTICAL values — which is exactly why results are replication-
  *    invariant (InterpJoin resolves coincident knots deterministically,
  *    and coincident-with-equal-value is order-independent; locked by
  *    ReplicationInvarianceSpec's q10-shape equality test). user_id kept,
  *    so windows deepen 10x.
  *  - documents: doc_id offset per copy; copies carry a " repI" suffix, so
  *    each original doc becomes a 10-way NEAR-dup cluster (a few trailing
  *    shingles differ) — LSH, Jaccard verification, and cluster resolution
  *    all scale with the data instead of short-circuiting on exact hashes.
  */
object ScaleUp {

  private def copies(df: org.apache.spark.sql.DataFrame, factor: Int) = {
    // the ts jitter (+rep ns) is collision-free only while it stays below
    // the source's 1000 ns granularity
    require(factor <= 1000, s"factor $factor would push the ns jitter past 1us")
    df.sparkSession.range(factor).select(col("id").cast("int").as("__rep"))
  }

  /** `factor` copies of the raw events table: offset event ids, ts
    * normalized to BIGINT epoch ns (schema-adaptive — the source may be ns
    * BIGINT or a micros TIMESTAMP) then jittered +rep ns. Source ts values
    * are microsecond-granular — multiples of 1000 ns — so a sub-1000
    * jitter is invisible to the us-flooring every consumer applies
    * (`Common.tsUs`): replicas land in the SAME bins and, at the us
    * granularity every query observes, present coincident knots with
    * identical values — the invariant that makes interpolation
    * replication-invariant. The replica table's ts is written as plain
    * BIGINT ns, which `Common.events` consumes via its LongType branch.
    */
  def replicateEvents(ev: org.apache.spark.sql.DataFrame, factor: Int):
      org.apache.spark.sql.DataFrame =
    ev.crossJoin(broadcast(copies(ev, factor)))
      .select(
        (col("event_id") + col("__rep") * lit(1000000000L)).as("event_id"),
        (graft.queries.Common.tsNs(ev) + col("__rep").cast("long")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))

  /** `factor` copies of documents: offset doc ids; each copy carries a
    * " repI" suffix so every original becomes a factor-way NEAR-dup cluster
    * (LSH/Jaccard/clustering scale with the data instead of
    * short-circuiting on exact hashes).
    */
  def replicateDocs(docs: org.apache.spark.sql.DataFrame, factor: Int):
      org.apache.spark.sql.DataFrame =
    docs.crossJoin(broadcast(copies(docs, factor)))
      .select(
        (col("doc_id") + col("__rep") * lit(10000000L)).as("doc_id"),
        when(col("__rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rep"), col("__rep"))).as("text"),
        col("lang"), col("source"),
        // suffix length computed from __rep itself, not a hardcoded 5 —
        // " rep10" is 6 chars once factor > 10
        (col("n_chars") + when(col("__rep") === 0, lit(0))
          .otherwise(length(concat(lit(" rep"), col("__rep"))))).as("n_chars"))

  /** Key offset separating replica key spaces — far above any generated
    * key at the source SFs, and the SAME for every replicated fact/dim so
    * cross-table keys stay consistent (copy i of orders references copy i
    * of customer: the join fans 10x, not 100x).
    */
  private val KeyOffset = 1000000000000L

  /** TPC-H-ish relational tables. Replication semantics:
    *  - lineitem: l_orderkey offset per copy (per-order line groups stay
    *    intact per copy); l_partkey/l_suppkey KEPT, so joins against the
    *    un-offset rep-0 dims deepen 10x per key.
    *  - orders: o_orderkey AND o_custkey offset together.
    *  - customer: c_custkey offset (matches orders); c_nationkey kept —
    *    nation stays a broadcast dim.
    *  - part: p_partkey offset — replica parts have NO lineitems, so the
    *    q15 anti-join's "unsold parts" side grows with the data while the
    *    sold set stays rep-0.
    */
  def replicateKeyed(df: org.apache.spark.sql.DataFrame, factor: Int,
      keyCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val reps = df.sparkSession.range(factor)
      .select(col("id").cast("long").as("__rep"))
    val out = df.crossJoin(broadcast(reps))
    keyCols.foldLeft(out) { (d, k) =>
      d.withColumn(k, col(k) + col("__rep") * lit(KeyOffset))
    }.drop("__rep")
  }

  /** UNIQUE-mode documents: every 5th token gets a per-copy suffix, so a
    * replica shares well under half its shingles with its original —
    * BELOW any near-dup threshold. The control for the scale-ratio
    * table: the default " repI" recipe makes the TRUE near-dup pair
    * count quadratic in the factor (a 100× build carries 110× sf1's
    * pairs — the detectors' output itself explodes by construction);
    * this mode holds dup DENSITY constant, so a detector whose runtime
    * is linear in data at constant density shows it here.
    */
  def replicateDocsUnique(docs: org.apache.spark.sql.DataFrame,
      factor: Int): org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), " ")
    val mutated = array_join(
      transform(toks, (w, j) =>
        when(j % 5 === 0,
          concat(w, lit("q"), col("__rep").cast("string"))).otherwise(w)),
      " ")
    val added = ceil(size(toks).cast("double") / 5.0).cast("int") *
      (length(col("__rep").cast("string")) + 1)
    docs.crossJoin(broadcast(copies(docs, factor)))
      .select(
        (col("doc_id") + col("__rep") * lit(10000000L)).as("doc_id"),
        when(col("__rep") === 0, col("text")).otherwise(mutated).as("text"),
        col("lang"), col("source"),
        (col("n_chars") + when(col("__rep") === 0, lit(0))
          .otherwise(added)).as("n_chars"))
  }

  /** UNIQUE-mode embeddings: a deterministic ±40% per-component
    * multiplicative perturbation (pattern keyed on component × copy)
    * pushes replica cosine vs the original to ~0.85 — below every
    * near-dup threshold in use. See [[replicateDocsUnique]].
    */
  def replicateEmbeddingsUnique(df: org.apache.spark.sql.DataFrame,
      factor: Int): org.apache.spark.sql.DataFrame = {
    val reps = df.sparkSession.range(factor)
      .select(col("id").cast("long").as("__rep"))
    df.crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("__rep") * lit(KeyOffset)).as("vec_id"),
        when(col("__rep") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            x * (lit(1.0f) +
              (pmod(i.cast("long") * 7L + col("__rep"), lit(6L))
                .cast("float") - lit(2.5f)) * lit(0.16f))))
          .as("embedding"),
        col("label"))
  }

  /** Embeddings: vec_id offset per copy; replica vectors get a
    * deterministic +rep*1e-3 jitter on component 0, so every original becomes
    * a factor-way NEAR-dup cluster (cosine ~0.999+) — the documents
    * " repI" recipe for the vector surface: near-dup detection, semantic
    * dedup and ANN ranking all do genuinely more work instead of
    * short-circuiting on bit-equal vectors.
    */
  def replicateEmbeddings(df: org.apache.spark.sql.DataFrame, factor: Int):
      org.apache.spark.sql.DataFrame = {
    val reps = df.sparkSession.range(factor)
      .select(col("id").cast("long").as("__rep"))
    df.crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("__rep") * lit(KeyOffset)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + col("__rep").cast("float") * lit(1e-3f))
            .otherwise(x)).as("embedding"),
        col("label"))
  }

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val outDir = if (args.length > 1) args(1) else "/tmp/sf1"
    // "neardup" (default): replicas form factor-way near-dup clusters —
    // detectors do genuinely more (quadratic) work. "unique": replicas
    // are NOT near-dups — the constant-dup-density control for scale
    // ratios (see replicateDocsUnique).
    val mode = if (args.length > 2) args(2) else "neardup"
    require(Set("neardup", "unique")(mode), s"unknown mode $mode")
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    GraftSession.run(Map("spark.sql.shuffle.partitions" -> "64"))(
      build(_, factor, outDir, mode, srcDir))
  }

  private def build(spark: org.apache.spark.sql.SparkSession, factor: Int,
      outDir: String, mode: String, srcDir: String): Unit = {
    def tbl(n: String) = graft.queries.Common.table(spark, srcDir, n)
    // The replication input: a driver-SF source table is a single ~10 MB
    // parquet file = ONE scan partition, and the crossJoin(broadcast)
    // preserves that — so without this spread the entire factor-x row
    // generation and its repartition shuffle map side run as ONE task
    // (at factor 1000 that single task churns 600M lineitem rows for the
    // better part of an hour). Spreading the tiny source first makes the
    // generation 32-way; the extra shuffle moves only source-sized data.
    def tblWide(n: String) = tbl(n).repartition(32)
    // Idempotent per-table writes (keyed on the _SUCCESS marker plus a
    // build manifest): a factor-1000 build is long enough that
    // restartability matters — a rerun resumes at the first unfinished
    // table instead of regenerating the finished ones. The manifest
    // records (factor, mode, srcDir) per table so a rerun into the same
    // outDir with DIFFERENT parameters fails loudly instead of silently
    // keeping stale tables and producing a mixed-scale dataset.
    val buildDesc = s"factor=$factor mode=$mode src=$srcDir"
    def write(df: => org.apache.spark.sql.DataFrame, n: String,
        parts: Int = 64): Unit = {
      val manifest = new java.io.File(s"$outDir/$n.parquet/_GRAFT_BUILD")
      if (new java.io.File(s"$outDir/$n.parquet/_SUCCESS").exists()) {
        val prev = if (manifest.exists())
          new String(java.nio.file.Files.readAllBytes(manifest.toPath),
            java.nio.charset.StandardCharsets.UTF_8).trim
        else "<no manifest (pre-r18 build)>"
        require(prev == buildDesc,
          s"$outDir/$n.parquet exists but was built with [$prev], not " +
            s"[$buildDesc] — delete the table (or the whole outDir) to " +
            "rebuild; refusing to mix scales")
        println(s"skip $n: already complete at $outDir ($prev)")
      } else {
        df.repartition(parts).write.mode("overwrite")
          .parquet(s"$outDir/$n.parquet")
        java.nio.file.Files.write(manifest.toPath,
          buildDesc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }

    // events: ts normalized to bigint ns and written back as plain
    // bigint, which Common.events consumes via its LongType branch
    write(replicateEvents(tblWide("events"), factor), "events")
    write(if (mode == "unique") replicateDocsUnique(tblWide("documents"), factor)
          else replicateDocs(tblWide("documents"), factor), "documents")
    write(replicateKeyed(tblWide("lineitem"), factor, Seq("l_orderkey")), "lineitem")
    write(replicateKeyed(tblWide("orders"), factor, Seq("o_orderkey", "o_custkey")), "orders")
    write(replicateKeyed(tblWide("customer"), factor, Seq("c_custkey")), "customer", 8)
    write(replicateKeyed(tblWide("part"), factor, Seq("p_partkey")), "part", 8)
    write(if (mode == "unique")
            replicateEmbeddingsUnique(tblWide("embeddings"), factor)
          else replicateEmbeddings(tblWide("embeddings"), factor), "embeddings")
    // broadcast dims pass through unreplicated
    Seq("region", "nation", "supplier").foreach(n => write(tbl(n), n, 1))

    println(s"wrote ${factor}x all-tables ($mode) from $srcDir to $outDir")
  }
}
