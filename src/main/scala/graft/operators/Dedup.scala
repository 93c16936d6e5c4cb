package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Document deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH (shingle -> signature -> band -> bucket
  * self-join), SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every stage is a narrow map except the band self-join,
  * which shuffles on (band, signature) — cardinality O(docs * bands) with
  * tiny payloads, and bucket sizes are bounded by signature collisions, so
  * the join never degenerates into a cross product. At 100 TB the exact
  * per-pair Jaccard verification runs only on LSH candidates (linear-ish in
  * docs), never all-pairs.
  */
object Dedup {

  /** Default LSH bucket cap for the end-to-end corpus operators
    * ([[dedupCorpus]] / [[graft.operators.Corpus.preprocess]]): the
    * headline dedup path must be quadratic-proof in its default
    * configuration — a boilerplate-heavy corpus can hash thousands of
    * docs into one band bucket, and an uncapped self-join on that bucket
    * is O(bucket^2). 1000 keeps the worst bucket's pair count at ~500k
    * (seconds of work) while genuinely near-duplicate docs still collide
    * on their other, discriminating bands. Pass `maxBucket = None`
    * explicitly to opt out.
    */
  val defaultMaxBucket: Option[Int] = Some(1000)

  /** Tracks the frames one dedup run persists so the caller can free them
    * after its sink materializes — a per-run handle, so two concurrent
    * corpus runs each release only their own caches. Operators default to
    * the shared [[Dedup.sessionScope]] (single-tenant callers keep the old
    * `Dedup.releaseCaches()` behavior); fleet-style callers pass their own
    * scope per run. Caveat: Spark's cache manager is plan-keyed, so two
    * runs over a literally-identical input frame share one cache entry and
    * releasing either scope frees it — isolation holds across distinct
    * inputs, which is the actual concurrent-fleet scenario.
    */
  final class CacheScope {
    private val frames = new scala.collection.mutable.ArrayBuffer[DataFrame]()
    private[graft] def track(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      frames.synchronized { frames += p }
      p
    }
    /** The frames currently tracked (test/diagnostic visibility). */
    def tracked: Seq[DataFrame] = frames.synchronized { frames.toSeq }
    /** Unpersist every frame this scope tracked and forget them. */
    def release(): Unit = frames.synchronized {
      frames.foreach(_.unpersist())
      frames.clear()
    }
  }

  /** Default scope for callers that don't manage one: session-wide, freed
    * by [[releaseCaches]] — same cache discipline as AdcpPipeline.
    */
  val sessionScope: CacheScope = new CacheScope

  /** Unpersist every cache the default-scope dedup operators created
    * (minhash signature tables, corpus inputs). Call after the deduplicated
    * output has been materialized/written. Runs given their own
    * [[CacheScope]] are unaffected — release those via `scope.release()`.
    */
  def releaseCaches(): Unit = sessionScope.release()

  /** Exact dedup via content hash: one row per distinct text with the
    * keeper (min id) and duplicate count.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(Text.hash48(col(textCol)).as("key_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))

  /** Per-doc prep: tokens, shingles, hashed shingles, minhash signature.
    *
    * Shape matters: a `minhashSig` HOF over an inline `hashedArray` would
    * be inlined by CollapseProject into each of the k array_min branches —
    * k full md5 passes per document. Exploding instead hashes every shingle
    * exactly once and computes the k affine minima as flat codegen'd
    * aggregates; `collect_set` carries the distinct shingle set along for
    * the Jaccard verification without a second scan.
    */
  /** One row per (doc, n-gram occurrence) with the shingle's 48-bit hash
    * as `__h` — shingles via posexplode + window leads instead of a nested
    * HOF lambda: every step (split, lead, concat, md5) stays in
    * whole-stage codegen (interpreted per-element lambdas cost ~30us per
    * shingle and dominated [[signatures]] before). Shared by the minhash
    * and contamination scans.
    */
  import org.apache.spark.sql.types._

  /** The persisted LSH tables' schemas, supplied to every read (r18):
    * the writers pin these shapes, and a schema-less `spark.read.parquet`
    * runs a one-task footer-inference job per call — each lifecycle query
    * pays several. `band` is the partition directory column (int, as
    * posexplode emits). A post-purge `ensureReadable` flat file stores
    * the same columns inline, so the supplied schema matches both
    * layouts.
    */
  private val lshBandsSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bsig", StringType),
    StructField("doc_id", LongType)))
  private val lshShinglesSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("shingles", ArrayType(LongType))))
  private val lshMetaSchema = StructType(Seq(
    StructField("k", IntegerType), StructField("n_bands", IntegerType),
    StructField("shingle_n", IntegerType)))

  // explicit select: a supplied schema still leaves the partition column
  // (band) at the END of the output — pin the (band, bsig, doc_id) order
  private def readLshBandsAt(spark: org.apache.spark.sql.SparkSession,
      bandsPath: String): DataFrame =
    spark.read.schema(lshBandsSchema).parquet(bandsPath)
      .select(col("band"), col("bsig"), col("doc_id"))
  private def readLshShingles(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.schema(lshShinglesSchema)
      .parquet(IndexFiles.tablePath(spark, dir, "shingles"))

  private def hashedShingleRows(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame = {
    val toksArr = Text.tokens(col(textCol))
    val exploded = docs
      .where(size(toksArr) >= shingleN)
      .select(col(idCol), posexplode(toksArr).as(Seq("__pos", "__w")))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val parts = (0 until shingleN).map {
      case 0 => col("__w")
      case d => lead(col("__w"), d).over(wDoc)
    }
    exploded
      .withColumn("__last", parts.last) // window exprs allowed in projections, not WHERE
      .withColumn("__s", concat_ws(" ", parts: _*))
      .where(col("__last").isNotNull)
      .withColumn("__h", Text.hashMod(col("__s")))
  }

  def signatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int, shingleN: Int = 3): DataFrame = {
    val shingled = hashedShingleRows(docs, idCol, textCol, shingleN)
    val minCols = Text.hashCoefs(k).zipWithIndex.map { case ((a, b), i) =>
      min((col("__h") * a + b) % Text.P).as(s"__m$i")
    }
    shingled
      .groupBy(col(idCol))
      .agg(collect_set(col("__h")).as("shingles"), // hashed set: cheap exact-set Jaccard
        minCols: _*)
      .select(col(idCol), col("shingles"),
        array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** Benchmark-contamination check — the decontamination pass a training
    * corpus runs before use: report every (corpus doc, benchmark doc)
    * pair sharing at least `minShared` distinct n-grams (the n-gram-
    * collision recipe of the GPT-3 appendix; n and the threshold are the
    * knobs). Output: (idCol, bench_id, n_shared).
    *
    * Scale shape: the benchmark side is always small (eval sets are
    * thousands of documents), so its distinct hashed-shingle rows
    * BROADCAST; the corpus side is one shingle scan — explode + window
    * lead, all codegen, distinct-per-doc via the same id-partitioned
    * aggregate the window already shuffled for — joined hash-to-hash, so
    * only genuine n-gram collisions leave the map side. Shingles reduce
    * to 48-bit hashes before the join exactly as q53's Jaccard: both
    * engines hash identically, so the (astronomically unlikely) collision
    * affects both equally.
    */
  def contamination(docs: DataFrame, bench: DataFrame, shingleN: Int = 5,
      minShared: Long = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def distinctHashes(df: DataFrame, outId: String) =
      hashedShingleRows(df, idCol, textCol, shingleN)
        .groupBy(col(idCol).as(outId))
        .agg(collect_set(col("__h")).as("__hs"))
        .select(col(outId), explode(col("__hs")).as("__h"))
    distinctHashes(docs, idCol)
      .join(broadcast(distinctHashes(bench, "bench_id")), "__h")
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_shared")) // both sides distinct -> |intersection|
      .where(col("n_shared") >= minShared)
  }

  /** LSH banding: explode the signature into `bands` rows of
    * (band_id, band_signature-string) per doc.
    */
  def bands(sigs: DataFrame, idCol: String, k: Int, nBands: Int): DataFrame = {
    val rows = k / nBands
    val bandSig = transform(sequence(lit(0), lit(nBands - 1)), b =>
      concat_ws(",", (1 to rows).map(r =>
        element_at(col("sig"), b * rows + r).cast("string")): _*))
    sigs.select(col(idCol), posexplode(bandSig).as(Seq("band", "bsig")))
  }

  /** Candidate pairs from band-bucket collisions (a < b, distinct).
    *
    * `maxBucket` is the scale safety valve: a degenerate bucket (boilerplate
    * shingle content hashing thousands of docs into one band signature)
    * turns the self-join quadratic. Buckets larger than the cap are dropped
    * entirely — their members collide on OTHER bands with high probability
    * when genuinely near-duplicate, and a bucket that large carries almost
    * no discriminating signal. The cap count is one extra aggregation on
    * the same (band, bsig) shuffle key the join needs anyway.
    */
  def candidates(bandDf: DataFrame, idCol: String,
      maxBucket: Option[Int] = defaultMaxBucket): DataFrame = {
    val pruned = pruneBuckets(bandDf, maxBucket)
    val a = pruned.select(col("band"), col("bsig"), col(idCol).as("doc_a"))
    val b = pruned.select(col("band"), col("bsig"), col(idCol).as("doc_b"))
    a.join(b, Seq("band", "bsig"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** The bucket-cap pruning [[candidates]] applies, exposed so diagnostics
    * (CorpusBench boiler mode) measure the REAL post-prune bucket state on
    * the same code path the join runs, not a reimplementation of it.
    */
  def pruneBuckets(bandDf: DataFrame, maxBucket: Option[Int]): DataFrame =
    maxBucket match {
      case None => bandDf
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bsig"))
        bandDf.withColumn("__bn", count(lit(1)).over(w))
          .where(col("__bn") <= cap).drop("__bn")
    }

  /** Exact shingle-set Jaccard on candidate pairs (native set intersection,
    * no per-element lambdas).
    */
  def withJaccard(pairs: DataFrame, sigs: DataFrame, idCol: String): DataFrame = {
    val sa = sigs.select(col(idCol).as("doc_a"), array_distinct(col("shingles")).as("__sa"))
    val sb = sigs.select(col(idCol).as("doc_b"), array_distinct(col("shingles")).as("__sb"))
    val inter = size(array_intersect(col("__sa"), col("__sb")))
    // With the bucket cap on, LSH bounds the candidate-pair count and AQE
    // broadcasts the pairs side at runtime (it just came out of the
    // distinct() shuffle, so its exact size is known), letting the shingle
    // tables stream with no shuffle. On an adversarial corpus where the
    // pair count exceeds the broadcast threshold (cap opted out), AQE
    // falls back to a shuffled join instead of OOMing the driver — which
    // is why this is deliberately NOT a forced broadcast() hint.
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard",
        inter.cast("double") / (size(col("__sa")) + size(col("__sb")) - inter))
      .drop("__sa", "__sb")
  }

  /** End-to-end MinHash-LSH near-dup candidates with exact Jaccard.
    * Capped by default ([[defaultMaxBucket]], like every public dedup entry
    * point — the building-block API must be quadratic-proof out of the
    * box); pass `maxBucket = None` for uncapped oracle-parity runs.
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, nBands: Int = 8,
      maxBucket: Option[Int] = defaultMaxBucket,
      scope: CacheScope = sessionScope): DataFrame = {
    // signatures feed both the banding and the Jaccard verification;
    // materialize once (one md5 pass over every shingle, the dominant cost)
    val sigs = scope.track(signatures(docs, idCol, textCol, k))
    withJaccard(candidates(bands(sigs, idCol, k, nBands), idCol, maxBucket),
      sigs, idCol)
  }

  /** Full corpus dedup: LSH candidate pairs, exact-Jaccard threshold,
    * duplicate clusters via [[connectedComponents]], keep the minimum doc
    * id per cluster (plus every unpaired doc). This is the operator a
    * training-data pipeline actually runs: corpus in, deduplicated corpus
    * out. Every stage is the scale-safe form above — banded self-join,
    * bounded candidate verification, iterative-join clustering.
    */
  def dedupCorpus(docs0: DataFrame, idCol: String, textCol: String,
      jaccardThreshold: Double = 0.8, k: Int = 16, nBands: Int = 8,
      maxBucket: Option[Int] = defaultMaxBucket,
      scope: CacheScope = sessionScope): DataFrame = {
    // docs feeds both the signature pass and the final anti-join; persist
    // so an expensive upstream (e.g. the preprocess quality gate) computes
    // once, not once per consumer
    val docs = scope.track(docs0)
    val dups = minhashLsh(docs, idCol, textCol, k, nBands, maxBucket, scope)
      .where(col("jaccard") >= jaccardThreshold)
      .select("doc_a", "doc_b")
    val losers = connectedComponents(dups)
      .where(col("node") =!= col("component")) // keeper = component minimum
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair list — the step a dedup pipeline runs after LSH pair generation
    * (pairs -> clusters -> keep one doc per cluster). Returns (node,
    * component) where component is the minimum doc id reachable from node;
    * nodes not present in any pair are absent (they are their own cluster).
    *
    * Algorithm: min-label propagation with path compression. Each round is
    * (1) p(x) := min(p(x), min over neighbors y of p(y)) — a hash join of
    * the edge list with the label table, the round's only edge-scale job —
    * then (2) two pointer-doubling hops p(x) := p(p(x)) composed from the
    * round's materialized label table (label-scale only), giving
    * O(log diameter) rounds instead of O(diameter) on chain-shaped
    * clusters. State is one (node, label) row per paired doc,
    * hash-partitioned on node; no single-partition stage, no driver-side
    * graph, and each round checkpoints so the plan does not grow with
    * iteration count. Convergence: each round carries a per-row changed
    * flag (post-compression label != the round's starting label) counted
    * into an accumulator by the SAME eager-checkpoint job that materializes
    * the round — no separate convergence action, and an already-converged
    * input (or empty edge list) exits after its first round. A task retry
    * can only overcount the accumulator, i.e. force a harmless extra round,
    * never a premature exit; at the fixpoint labels are constant across
    * every edge, i.e. the component minimum.
    *
    * Two-tier execution: the iterative loop's cost is round-FIXED (two
    * checkpoint jobs per round regardless of data size — the round-7 floor
    * at ~2s for a few-hundred-pair graph), so when the edge list is at most
    * `collectThreshold` pairs it is collected — driver-bounded by
    * construction, like the centroid matrices — and resolved by a
    * path-halving union-find in O(pairs * alpha): one job instead of
    * ~rounds x 2. Above the threshold (the 100 TB regime) the distributed
    * loop runs unchanged. Both tiers produce the identical min-label
    * component map; the property suite locks them against the same oracle.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 50,
      collectThreshold: Long = 500000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // the edge list is the BIG side of every round's join and the join key
    // is always y — persist it already hash-partitioned on y so the cached
    // exchange is reused each round instead of re-shuffling the edges per
    // iteration. At local/test scale AQE broadcasts the labels side and the
    // edges are never shuffled anyway (the repartition is then a one-time
    // noise-level cost); the reuse matters once labels exceed the broadcast
    // threshold and the per-round join becomes a shuffled hash join.
    // both edge directions from ONE copy of the pairs plan (r18): the
    // former self-union duplicated the entire upstream (LSH self-join +
    // distinct + Jaccard in the q48 composition) — AQE materializes each
    // union branch's leaf stages as separate concurrent jobs, so the
    // signature pipeline's cache was raced 8 ways instead of computed
    // once. explode(array(struct...)) emits (a,b) and (b,a) from a single
    // scan — identical rows, identical downstream semantics.
    val sym = pairs
      .select(explode(array(
        struct(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y")),
        struct(col(bCol).cast("long").as("x"), col(aCol).cast("long").as("y"))
      )).as("__e"))
      .select(col("__e.x").as("x"), col("__e.y").as("y"))
      .repartition(col("y"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val spark = pairs.sparkSession
    // one cheap action either way: materializes the cache the loop would
    // reuse, and tells us which tier to run (sym carries 2 rows per pair)
    val nSymRows = sym.count()
    if (nSymRows <= collectThreshold * 2) {
      val edges = sym.select("x", "y").collect()
      sym.unpersist()
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x0: Long): Long = {
        var x = x0
        if (!parent.contains(x)) parent(x) = x
        while (parent(x) != x) {
          val p = parent(x)
          if (!parent.contains(p)) parent(p) = p
          val g = parent(p)
          parent(x) = g // path halving
          x = g
        }
        x
      }
      edges.foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        // always link the larger root under the smaller: every node's root
        // chain is strictly decreasing, so the final root IS the component
        // minimum — no relabel pass needed
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      import spark.implicits._
      return parent.keys.toSeq.map(k => (k, find(k)))
        .toDF("node", "component")
    }
    val changedAcc = spark.sparkContext.longAccumulator("cc_changed")
    // evaluated once per label-table row inside the checkpoint job; off the
    // edge join's hot path, so the non-codegen UDF costs nothing measurable.
    // Nondeterministic: the accumulator side effect must be evaluated
    // exactly where it appears — a deterministic marking would entitle the
    // optimizer to prune/collapse/duplicate it, corrupting the convergence
    // count under a future plan-shape change.
    val markChanged = udf { changed: Boolean =>
      if (changed) changedAcc.add(1L); changed
    }.asNondeterministic()
    var labels = sym.groupBy("x").agg(min("y").as("__mn"))
      .select(col("x"), least(col("x"), col("__mn")).as("p"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbr = sym
        .join(labels.select(col("x").as("y"), col("p").as("__py")), "y")
        .groupBy("x").agg(min("__py").as("__pn"))
      // checkpoint the propagation result BEFORE the compression self-joins:
      // they then read the materialized label table instead of recomputing
      // the edge join per branch (their subtrees differ by the __p0
      // projection, so exchange reuse could not dedupe them). Measured at
      // sf0.1 against the lazy alternatives, this split is the fastest
      // shape: the heavy edge-join job runs exactly once per round.
      val prop = labels.join(nbr, Seq("x"), "left")
        .select(col("x"), col("p").as("__p0"),
          least(col("p"), coalesce(col("__pn"), col("p"))).as("p"))
        .localCheckpoint() // job 1: the round's only edge-join job
      val before = changedAcc.value
      // two compression hops per round: each is a self-join of the CACHED
      // prop/c1 (label-table-only, broadcast at any realistic label size),
      // so the extra hop is nearly free while squaring the pointer-doubling
      // factor — long chains converge in about half the heavy rounds
      val c1 = prop
        .join(prop.select(col("x").as("p"), col("p").as("__pp")),
          Seq("p"), "left")
        .select(col("x"), coalesce(col("__pp"), col("p")).as("p"),
          col("__p0"))
      val next = c1
        .join(c1.select(col("x").as("p"), col("p").as("__pp2")),
          Seq("p"), "left")
        .select(col("x"), coalesce(col("__pp2"), col("p")).as("p"),
          col("__p0"))
        // __chg must survive into the checkpointed output or the pruner
        // would drop it unevaluated — select it, checkpoint, then project
        .withColumn("__chg", markChanged(col("p") =!= col("__p0")))
        .select("x", "p", "__chg")
        .localCheckpoint() // job 2: label-table-only compress + change count
      converged = changedAcc.value == before
      labels.unpersist()
      prop.unpersist()
      labels = next.select("x", "p")
      iter += 1
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("x").as("node"), col("p").as("component"))
  }

  /** Span-level (substring) exact dedup — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) signal at n-gram granularity: find the maximal
    * token spans of each document whose every length-`n` window also
    * occurs in at least `minDocs` distinct documents. Document-level dedup
    * ([[exact]]/[[minhashLsh]]) misses boilerplate shared between
    * otherwise-distinct documents; this finds exactly those shared
    * substrings so a pipeline can strip them.
    *
    * Output: one row per maximal repeated span — (id, span_start,
    * span_len, n_grams) with `span_start` the 0-based token index,
    * `span_len` in tokens (>= n), and `n_grams` the number of repeated
    * n-gram windows merged into the span.
    *
    * Plan, built for the 100 TB corpus: one tokenize+posexplode pass with
    * window leads forms (doc, pos, hash48(n-gram)) rows — all codegen, one
    * shuffle on the doc key; the cross-doc-repeated hash set comes from a
    * map-side-combined aggregate on the hash key and filters occurrences
    * back via a LEFT SEMI hash-to-hash join (only true collisions cross
    * the wire, the [[contamination]] discipline); interval merging is the
    * classic gaps-and-islands window — with fixed-length `n` intervals
    * sorted by start, a window overlaps-or-touches its predecessor iff
    * `pos - lag(pos) <= n`, so islands are a running sum of break flags,
    * per-doc partitioned (state bounded by document length, never corpus
    * size). No stage is quadratic; nothing collects to the driver.
    *
    * The occurrence side deliberately RECOMPUTES the shingle hash pass
    * rather than shuffling it: at corpus scale the (doc, pos, hash) rows
    * are the size of the corpus itself, so a map-side md5 recompute is
    * cheaper than a full-corpus exchange — the repeated-hash side ships
    * only post-partial-aggregation (hash, doc) pairs, and Catalyst picks
    * broadcast vs shuffle for the semi join from actual sizes.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 2, "repeatedSpans: need n >= 1, minDocs >= 2")
    val rows = hashedShingleRows(docs, idCol, textCol, n)
      .select(col(idCol), col("__pos"), col("__h"))
    val rep = rows.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("__h"))
    val hits = rows.join(rep, Seq("__h"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    hits
      // break when the previous repeated window ends before this one
      // starts (lag null on the first row -> comparison null -> no break,
      // running sum starts every doc at island 0)
      .withColumn("__brk",
        when(col("__pos") - lag(col("__pos"), 1).over(w) > n, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).cast("long").as("span_start"),
        (max(col("__pos")) + lit(n.toLong) - min(col("__pos"))).as("span_len"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_len"), col("n_grams"))
      // Materialization barrier on the TINY span output: without it the
      // final aggregate shares a stage with the md5 shingle probe (the
      // island windows reuse the doc-key partitioning), so any consumer's
      // global sort re-executes the corpus-scale pass in its range-sample
      // job — measured 1.4 s vs 0.3 s on the sorted driver query at
      // sf0.1. One extra shuffle of span rows (≪ corpus) caps every
      // downstream re-read at span size.
      .repartition(col(idCol))
  }

  /** Apply-side of [[repeatedSpans]]: the cleaned corpus with every
    * repeated span's tokens removed and the survivors re-joined with
    * single spaces (whitespace-normalizing, like any tokenize-and-rebuild
    * cleaner). A fully-covered document (e.g. an exact duplicate) comes
    * back as the empty string. Output: input columns + `text_clean` +
    * `n_dropped` (tokens removed).
    *
    * Scale shape: covered positions explode from spans (bounded by
    * document length), survivors arrive via a LEFT ANTI hash join on
    * (doc, pos), and reconstruction is one per-doc sort of collected
    * (pos, token) structs — per-group state bounded by the document, the
    * same contract as every per-doc aggregate here.
    */
  def stripRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Int = 2): DataFrame = {
    val covered = repeatedSpans(docs, idCol, textCol, n, minDocs)
      .select(col(idCol), explode(sequence(col("span_start"),
        col("span_start") + col("span_len") - 1)).as("__pos"))
    val tokRows = docs
      .select(col(idCol), posexplode(Text.tokens(col(textCol))).as(Seq("__pos", "__w")))
      .withColumn("__pos", col("__pos").cast("long"))
    val rebuilt = tokRows.join(covered, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__w")))),
            s => s("__w")), " ").as("__clean"))
    docs.join(rebuilt, Seq(idCol), "left")
      .withColumn("text_clean", coalesce(col("__clean"), lit("")))
      .withColumn("n_dropped",
        size(Text.tokens(col(textCol))).cast("long")
          - coalesce(col("__n_kept"), lit(0L)))
      .drop("__clean", "__n_kept")
  }

  /** SimHash fingerprint per document — explode + flat bit-sum aggregates
    * (one md5 per token; the HOF form would recompute the hashed array per
    * bit). Identical arithmetic to [[Text.simhash]].
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 16): DataFrame = {
    val exploded = docs
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("__w"))
      .withColumn("__h", Text.hash48(col("__w")))
    val bitSums = (0 until bits).map { kk =>
      sum(shiftright(col("__h"), kk).bitwiseAND(1) * 2 - 1).as(s"__b$kk")
    }
    exploded.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until bits).map(kk =>
          when(col(s"__b$kk") > 0, lit(1L << kk)).otherwise(0L)).reduce(_ + _)
          .as("simhash"))
  }

  // ------------------------------------------------------------------
  // Persisted LSH signature index — incremental corpus dedup. The daily-
  // ingest pattern at 100 TB: fingerprint the accepted corpus ONCE, then
  // dedup each incoming batch against the frozen index without re-shingling
  // the corpus, and append the batch's survivors so tomorrow's batch sees
  // them. Mirrors what saveIvfIndex/appendToIvfIndex do for the ANN
  // surface (graft.operators.Similarity).
  // ------------------------------------------------------------------

  /** Persist a MinHash-LSH dedup index for `docs`:
    *
    *  - `dir/bands`   — (bsig, doc_id) partitioned by `band`: the probe's
    *    join side, pre-exploded so a batch probe is one equi-join with no
    *    corpus re-shingling.
    *  - `dir/shingles` — (doc_id, shingles): the distinct hashed shingle
    *    sets exact-Jaccard verification needs, stored so candidate
    *    verification never re-reads corpus text.
    *  - `dir/meta`    — (k, n_bands, shingle_n): the hash geometry, frozen
    *    at save time; append and probe ADOPT all three from the meta (the
    *    caller cannot pass a conflicting geometry), because rows banded
    *    under a different geometry would silently never collide.
    *
    * One signature pass feeds both tables (persisted for the two writes).
    * Bands are repartitioned on (band, bsig) before the partitioned write
    * so each band directory holds a bounded file count instead of one file
    * per (task x band).
    */
  def saveLshIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, k: Int = 16, nBands: Int = 8, shingleN: Int = 3): Unit = {
    writeLshRows(docs, idCol, textCol, dir, k, nBands, shingleN, "overwrite")
    writeLshMeta(docs.sparkSession, k, nBands, shingleN, s"$dir/meta")
  }

  /** RE-GEOMETRY the banding of a persisted LSH index — the retrain verb
    * for the family ([[graft.operators.Similarity.retrainIvfIndex]]'s
    * near-dup twin): recompute the minhash signatures and band rows under
    * a NEW (k, nBands) from the PERSISTED hashed shingle sets alone.
    * Signatures are deterministic functions of the distinct hashed
    * shingle SET (each is an affine-min over the set, and min-over-set ==
    * min-over-occurrences), so no corpus text is re-read — the rebalance
    * a long-lived index needs when its collision rate drifts (more bands
    * = higher recall/more candidates, fewer = cheaper probes) costs one
    * pass over the shingles table, not a corpus re-shingle. `shingle_n`
    * is genuinely text-bound (changing it needs re-tokenization) and is
    * FROZEN — it is adopted from the saved meta and not a parameter.
    *
    * Atomicity (the retrainIvfIndex discipline): the new geometry meta is
    * embedded INSIDE the new bands version (`_meta` — underscore-prefixed,
    * invisible to the bands scan) and the pair cuts over under the ONE
    * bands manifest publish, so a probe or append racing the retrain
    * resolves either (old geometry, old bands) or (new geometry, new
    * bands), never a mix — rows banded under a mixed pair would silently
    * never collide, the exact hazard the persisted meta exists to
    * prevent.
    */
  def retrainLshIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      k: Int, nBands: Int): Unit = {
    require(k > 0 && nBands > 0 && k % nBands == 0,
      s"retrainLshIndex: k=$k must be a positive multiple of nBands=$nBands")
    IndexFiles.writeNextVersion(spark, dir, "bands") { next =>
      // meta + shingles resolve INSIDE the lease (the IndexFiles
      // read-under-lease rule). Shingles land BEFORE bands on every
      // append path, so the snapshot read here covers every doc the
      // bands table has ever served; an append interleaving its two
      // writes around this rebuild at worst duplicates its doc's band
      // rows (distinct'd at the probe, dedupe-compactable) — never
      // loses them.
      val shingleN = readLshMeta(spark, dir)._3
      val sh = readLshShingles(spark, dir)
        .select(col("doc_id"), explode(col("shingles")).as("__h"))
      val minCols = Text.hashCoefs(k).zipWithIndex.map { case ((a, b), i) =>
        min((col("__h") * a + b) % Text.P).as(s"__m$i")
      }
      val sigs = sh.groupBy(col("doc_id"))
        .agg(minCols.head, minCols.tail: _*)
        .select(col("doc_id"),
          array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
      val newBands = bands(sigs, "doc_id", k, nBands)
        .select(col("band"), col("bsig"), col("doc_id"))
      newBands.repartition(col("band"), col("bsig")).write.mode("overwrite")
        .partitionBy("band").parquet(next)
      IndexFiles.ensureReadable(newBands, next)
      writeLshMeta(spark, k, nBands, shingleN, s"$next/_meta")
    }
  }

  /** Append new documents to a persisted index under its FROZEN geometry
    * (k, bands, shingle width are `require`d to match the saved meta; the
    * hash coefficients themselves are deterministic in k, so old and new
    * rows band identically). Existing band partitions gain one file per
    * touched band; nothing is rewritten.
    */
  def appendToLshIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val (k, nBands, shingleN) = readLshMeta(spark, dir)
    writeLshRows(docs, idCol, textCol, dir, k, nBands, shingleN, "append")
  }

  private def writeLshRows(docs: DataFrame, idCol: String, textCol: String,
      dir: String, k: Int, nBands: Int, shingleN: Int, mode: String): Unit = {
    val spark = docs.sparkSession
    val sigs = signatures(docs, idCol, textCol, k, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // per-table writer leases: a save/append racing a compaction's
      // rewrite of the same table aborts loudly (IndexFiles doc).
      // SHINGLES LAND FIRST: every doc visible in bands is then already
      // verifiable (bands-without-shingles pairs drop silently at the
      // probe's inner join), and a retrain — which rebuilds bands FROM
      // the shingles table — can at worst duplicate an in-flight doc's
      // band rows (candidates are DISTINCT; dedupe-compact removes the
      // residue) instead of losing them.
      def writeShingles(): Unit = {
        IndexFiles.withTableLeaseFenced(spark, dir, "shingles") { lease =>
          // fenced before the write job (the appendToIndex rationale): a
          // taken-over holder must not land rows into a version the taker
          // is about to prune
          if (mode == "append")
            FaultPoints.beforeFencedWrite("lsh.append", "shingles")
          lease.checkStillHeld("the shingles write")
          sigs.select(col(idCol).as("doc_id"), col("shingles"))
            .write.mode(mode)
            .parquet(IndexFiles.tablePath(spark, dir, "shingles"))
        }
        if (mode == "append") FaultPoints.afterTable("lsh.append", "shingles")
      }
      def writeBands(): Unit =
        IndexFiles.withTableLeaseFenced(spark, dir, "bands") { lease =>
          // the batch was banded under the geometry read BEFORE the lease;
          // a retrain that cut over in between would make those rows
          // silently never-colliding — re-check under the lease and abort
          // loudly instead (the caller replays the batch via the ledger)
          if (mode == "append") {
            val live = readLshMeta(spark, dir)
            require(live == ((k, nBands, shingleN)),
              s"appendToLshIndex: index geometry changed to $live while the " +
                s"batch was banded under (${k}, ${nBands}, ${shingleN}) — a " +
                "concurrent retrain cut over; re-run the append. The batch's " +
                "shingle rows already landed, so the replay leaves duplicate " +
                "shingles until a compactLshIndex(dedupeRows = true) — " +
                "harmless to probes (candidates are DISTINCT) but run the " +
                "dedupe compact to reclaim the space")
            FaultPoints.beforeFencedWrite("lsh.append", "bands")
          }
          lease.checkStillHeld("the bands write")
          bands(sigs, idCol, k, nBands)
            .select(col("band"), col("bsig"), col(idCol).as("doc_id"))
            .repartition(col("band"), col("bsig"))
            .write.mode(mode).partitionBy("band")
            .parquet(IndexFiles.tablePath(spark, dir, "bands"))
        }
      // Overlap the two writes ONLY on a provably reader-free bootstrap
      // (r18, guide §2.6): a fresh-dir overwrite save has no live tables,
      // so the shingles-before-bands publish order protects nobody; the
      // two leased writes of disjoint tables then run concurrently (the
      // bands tail back-fills with shingles tasks). Every append — and
      // any save targeting a dir that already has either table — keeps
      // the strict order: shingles-first is the reader/retrain
      // correctness contract there.
      val fsW = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
        spark.sparkContext.hadoopConfiguration)
      val freshBootstrap = mode == "overwrite" &&
        !fsW.exists(new org.apache.hadoop.fs.Path(
          IndexFiles.tablePath(spark, dir, "shingles"))) &&
        !fsW.exists(new org.apache.hadoop.fs.Path(
          IndexFiles.tablePath(spark, dir, "bands")))
      if (freshBootstrap) {
        // Par.overlap (not bare Future/Await): a writeBands failure must
        // still await the shingles write before the finally unpersists
        // sigs under its running job
        Par.overlap(writeShingles())(writeBands())
      } else {
        writeShingles()
        writeBands()
      }
    } finally sigs.unpersist()
  }

  private def writeLshMeta(spark: org.apache.spark.sql.SparkSession,
      k: Int, nBands: Int, shingleN: Int, path: String): Unit = {
    import spark.implicits._
    Seq((k, nBands, shingleN)).toDF("k", "n_bands", "shingle_n")
      .coalesce(1).write.mode("overwrite").parquet(path)
    // driver-readable sidecar (r18): the geometry is three ints, but a
    // parquet read of it costs a one-task Spark job — and the lifecycle
    // verbs re-read it up to four times per operation (entry checks plus
    // the required under-lease re-checks). The sidecar is read with one
    // FS call, written via create+rename so a racing reader sees the old
    // file or the new one, never a torn write; the parquet table remains
    // the durable format and the fallback for indexes written before the
    // sidecar existed. Underscore prefix: invisible to any table scan.
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/._meta.txt.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$path/_meta.txt")
    val out = fs.create(tmp, true)
    try out.write(s"$k,$nBands,$shingleN".getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
  }

  /** The index's live hash geometry: the `_meta` embedded in the LIVE
    * bands version when present ([[retrainLshIndex]] and the bands
    * rewrite paths publish geometry and bands atomically under the one
    * manifest), else the save-time `<dir>/meta` (an index never
    * regeometried). Callers that also SCAN the bands table must resolve
    * the path once and use [[readLshMetaAt]] — resolving twice straddles
    * a retrain cutover and pairs a new geometry with old bands rows (or
    * vice versa), which silently never collide.
    */
  private def readLshMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int, Int) =
    readLshMetaAt(spark, dir, IndexFiles.tablePath(spark, dir, "bands"))

  private def readLshMetaAt(spark: org.apache.spark.sql.SparkSession,
      dir: String, bandsPath: String): (Int, Int, Int) = {
    val embedded = new org.apache.hadoop.fs.Path(s"$bandsPath/_meta")
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    val p = if (fs.exists(embedded)) s"$bandsPath/_meta" else s"$dir/meta"
    // sidecar first (one FS read, no Spark job — see writeLshMeta);
    // parquet fallback for pre-sidecar indexes
    val side = new org.apache.hadoop.fs.Path(s"$p/_meta.txt")
    if (fs.exists(side)) {
      val in = fs.open(side)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val Array(k, nBands, shingleN) = txt.trim.split(",").map(_.toInt)
      (k, nBands, shingleN)
    } else {
      val r = spark.read.schema(lshMetaSchema).parquet(p)
        .select(col("k"), col("n_bands"), col("shingle_n")).head()
      (r.getInt(0), r.getInt(1), r.getInt(2))
    }
  }

  /** Compact the saved band and shingle tables (see
    * [[graft.operators.Similarity.compactIvfIndex]] — same maintenance
    * rationale: every [[appendToLshIndex]] adds a file per touched band).
    * Row-identical by default; `dedupeRows = true` repairs at-least-once
    * replays (byte-identical re-appended rows).
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, dedupeRows: Boolean = false): Unit = {
    // LSH-aware bands compact (not the generic IndexFiles.compact): the
    // live geometry is re-embedded in the compacted version, so a
    // compaction AFTER a retrain cannot strand the retrained geometry in
    // the old version and fall back to the stale save-time meta (the
    // compactIvfIndex centroid discipline). Geometry and rows resolve
    // from ONE bands version INSIDE the lease — split or pre-lease
    // resolution could pair a retrain's rows with the pre-retrain meta
    // (rows that then silently never collide) or revert the retrain
    // outright.
    // The two table compacts are independent row-identical rewrites of
    // DISJOINT tables — concurrent driver-thread jobs (r19, guide §2.6;
    // the Retrieval.compactIndex rationale: each cuts over atomically and
    // row-identically, so a reader or crash sees old-or-new per table
    // with identical rows either way). Fault-point semantics re-derived
    // (IndexInterleaveSpec): the hook fires AFTER both compacts with no
    // lease held — a competing verb racing the in-flight pair hits a held
    // table lease and aborts loudly (the exact-or-loud-abort matrix).
    Par.overlap {
      IndexFiles.compact(spark, dir, "shingles", None, dedupeRows,
        schema = Some(lshShinglesSchema))
    } {
      IndexFiles.writeNextVersion(spark, dir, "bands") { next =>
        val bandsPath = IndexFiles.tablePath(spark, dir, "bands")
        val (k, nBands, shingleN) = readLshMetaAt(spark, dir, bandsPath)
        val df0 = readLshBandsAt(spark, bandsPath)
          .select(col("band"), col("bsig"), col("doc_id"))
        val df = if (dedupeRows) df0.distinct() else df0
        df.repartition(col("band")).write.mode("overwrite")
          .partitionBy("band").parquet(next)
        IndexFiles.ensureReadable(df, next)
        writeLshMeta(spark, k, nBands, shingleN, s"$next/_meta")
      }
    }
    FaultPoints.afterTable("lsh.compact", "bands")
    IndexFiles.compactLedgers(spark, dir)
  }

  /** DELETE documents from a persisted LSH index — the takedown
    * maintenance path ([[graft.operators.Retrieval.deleteFromIndex]]'s
    * near-dup twin): band and shingle rows for the given ids are removed
    * by a distributed anti-join rewrite of each table, cut over through
    * the zero-downtime versioned swap. A deleted doc immediately stops
    * vetoing future ingests (its buckets no longer collide, its shingle
    * set no longer verifies), exactly as if it had never been indexed —
    * the spec's delete ≡ rebuild-on-survivors identity. The geometry meta
    * is untouched.
    */
  def deleteFromLshIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, docIds: DataFrame, idCol: String = "doc_id"): Unit = {
    val del = docIds.select(col(idCol).cast("long").as("doc_id")).distinct()
    // The two anti-join rewrites are independent O(index) jobs over
    // DISJOINT tables — COMPUTED concurrently (r19, guide §2.6, the
    // Retrieval.deleteFromIndex shape) with the PUBLISH order preserved:
    // the shingles rewrite runs on a driver thread but gates its cutover
    // on the bands cutover having landed (bands-first keeps the
    // documented window shape: a half-landed delete leaves dead SHINGLE
    // rows — invisible, the probe's candidates come from bands — never
    // dead band rows beyond what a concurrent retrain can synthesize).
    // If the bands rewrite fails, the gate propagates and the shingles
    // rewrite aborts UNPUBLISHED; Par.overlap always awaits it.
    // Fault-point semantics re-derived (IndexInterleaveSpec): the hook
    // fires AFTER both rewrites, no lease held — the bands-published-
    // shingles-pending window is no longer an injectable seam (a
    // competing verb racing it aborts on the held shingles lease).
    val bandsPublished = scala.concurrent.Promise[Unit]()
    Par.overlap {
      // no explicit coalesce: AQE sizes the post-join output (the
      // deleteFromIndex doclens rationale — shingle sets are the WIDE
      // table here, a fixed tiny count would bottleneck the rewrite)
      IndexFiles.writeNextVersion(spark, dir, "shingles") { next =>
        val shingles = readLshShingles(spark, dir)
          .join(del, Seq("doc_id"), "left_anti")
        shingles.write.mode("overwrite").parquet(next)
        IndexFiles.ensureReadable(shingles, next)
        // publish-order gate (see above): bands must cut over first
        Par.awaitGate(bandsPublished.future, "deleteFromLshIndex", "shingles")
      }
    } {
      try {
        IndexFiles.writeNextVersion(spark, dir, "bands") { next =>
          // geometry + rows from ONE bands version inside the lease (the
          // compactLshIndex rationale)
          val bandsPath = IndexFiles.tablePath(spark, dir, "bands")
          val (k, nBands, shingleN) = readLshMetaAt(spark, dir, bandsPath)
          val bands = readLshBandsAt(spark, bandsPath)
            .select(col("band"), col("bsig"), col("doc_id"))
            .join(del, Seq("doc_id"), "left_anti")
            .select("band", "bsig", "doc_id")
          bands.repartition(col("band")).write.mode("overwrite")
            .partitionBy("band").parquet(next)
          IndexFiles.ensureReadable(bands, next)
          // re-embed the live geometry: a delete after a retrain must not
          // strand the retrained meta in the pruned old version
          writeLshMeta(spark, k, nBands, shingleN, s"$next/_meta")
        }
        bandsPublished.success(())
      } catch {
        case e: Throwable => bandsPublished.failure(e); throw e
      }
    }
    FaultPoints.afterTable("lsh.delete", "bands")
  }

  /** MERGE another persisted LSH index into this one — the shard-union
    * maintenance path ([[graft.operators.Retrieval.mergeIndexes]]'s
    * near-dup twin). MinHash signatures are deterministic functions of
    * the text under a geometry (k, n_bands, shingle_n — the hash
    * coefficients are deterministic in k), so two indexes saved under
    * the SAME geometry merge as a pure row union: `from`'s band rows
    * append into `into`'s band partitions and its shingle sets into the
    * verification table, no re-shingling of either corpus. The geometry
    * is `require`d equal — rows banded under a different geometry would
    * silently never collide with the host's (the exact hazard the
    * persisted meta exists to prevent); bring a shard to the host's
    * (k, nBands) first with [[retrainLshIndex]] (computable from its
    * persisted shingle sets — only a `shingle_n` change genuinely needs
    * the source text and a rebuild). After the merge a batch probe vetoes
    * against the union exactly as against a one-shot index (the spec
    * identity). `from` is read-only; duplicate doc_ids are the caller's
    * contract (same as append). NOT crash-atomic: shingles land first,
    * so a crash between the two appends leaves the shard's docs
    * verifiable-but-never-candidates (invisible, never wrong) — re-run
    * the merge, then `compactLshIndex(dedupeRows = true)` drops the
    * byte-identical re-appended shingle rows (full crash-window
    * discussion at [[graft.operators.Retrieval.mergeIndexes]]).
    */
  def mergeLshIndexes(spark: org.apache.spark.sql.SparkSession,
      into: String, from: String): Unit = {
    val gInto = readLshMeta(spark, into)
    val gFrom = readLshMeta(spark, from)
    require(gInto == gFrom,
      s"mergeLshIndexes: geometry (k, n_bands, shingle_n) differs — " +
        s"into=$gInto from=$gFrom; rows banded under different " +
        "geometries never collide. Bring the shard to the host's " +
        "geometry with retrainLshIndex (shingle_n changes need a " +
        "rebuild from source text).")
    // shingles first (the writeLshRows ordering rationale), then bands —
    // with the host geometry RE-CHECKED under the bands lease: a host
    // retrain committing between the pre-check above and the append
    // would otherwise take the foreign (now wrong-geometry) band rows
    // silently — the appendToLshIndex race, same loud abort
    IndexFiles.withTableLeaseFenced(spark, into, "shingles") { lease =>
      // fenced before the write job (the appendToIndex rationale)
      lease.checkStillHeld("the shingles merge-append")
      readLshShingles(spark, from)
        .write.mode("append")
        .parquet(IndexFiles.tablePath(spark, into, "shingles"))
    }
    FaultPoints.afterTable("lsh.merge", "shingles")
    IndexFiles.withTableLeaseFenced(spark, into, "bands") { lease =>
      val live = readLshMeta(spark, into)
      require(live == gFrom,
        s"mergeLshIndexes: host geometry changed to $live while merging " +
          s"a $gFrom shard — a concurrent retrain cut over; re-run the " +
          "merge (the already-appended shingle rows are geometry-free " +
          "and byte-identical on the re-run; dedupe-compact removes the " +
          "duplicates)")
      lease.checkStillHeld("the bands merge-append")
      readLshBandsAt(spark, IndexFiles.tablePath(spark, from, "bands"))
        .select(col("band"), col("bsig"), col("doc_id"))
        .repartition(col("band"), col("bsig"))
        .write.mode("append").partitionBy("band")
        .parquet(IndexFiles.tablePath(spark, into, "bands"))
    }
  }

  /** Probe a persisted index with a new batch: every (batch doc, indexed
    * doc) candidate pair from band-bucket collisions, verified with exact
    * shingle-set Jaccard. Output: (batch_id, dup_of, jaccard) — ALL
    * verified pairs; threshold downstream ([[dedupBatchAgainstLshIndex]]).
    *
    * Scale shape: the batch is shingled/banded once (scope-cached — it
    * feeds both the band join and the Jaccard side); the index's band scan
    * is ONE map-side pass joined on (band, bsig) — AQE broadcasts the
    * batch side at runtime when it is small (the daily-ingest case), and
    * falls back to a shuffled join for corpus-sized batches instead of
    * OOMing the driver, so no forced broadcast hint. `maxBucket` caps
    * INDEX bucket size exactly as [[candidates]] does for the self-join:
    * a degenerate boilerplate bucket of B docs would otherwise multiply
    * every colliding batch doc by B.
    */
  def matchesAgainstLshIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxBucket: Option[Int] = defaultMaxBucket,
      scope: CacheScope = sessionScope): DataFrame = {
    // resolve the bands version ONCE and read the geometry from it: a
    // retrain cutover between two resolutions would band the batch under
    // one geometry and scan the other's rows (silently zero collisions)
    val bandsPath = IndexFiles.tablePath(spark, dir, "bands")
    val (k, nBands, shingleN) = readLshMetaAt(spark, dir, bandsPath)
    val bSigs = scope.track(signatures(batch, idCol, textCol, k, shingleN))
    // cap BOTH sides: a degenerate boilerplate bucket can arrive in the
    // batch too, and an uncapped batch bucket of B docs would multiply
    // every capped-index collision by B
    val bBands = pruneBuckets(
      bands(bSigs, idCol, k, nBands)
        .select(col("band"), col("bsig"), col(idCol).as("batch_id")),
      maxBucket)
    val iBands = pruneBuckets(
      readLshBandsAt(spark, bandsPath)
        .select(col("band"), col("bsig"), col("doc_id").as("dup_of")),
      maxBucket)
    val pairs = iBands.join(bBands, Seq("band", "bsig"))
      .where(col("dup_of") =!= col("batch_id"))
      .select("batch_id", "dup_of").distinct()
    val sa = bSigs.select(col(idCol).as("batch_id"),
      array_distinct(col("shingles")).as("__sa"))
    val sb = readLshShingles(spark, dir)
      .select(col("doc_id").as("dup_of"),
        array_distinct(col("shingles")).as("__sb"))
    val inter = size(array_intersect(col("__sa"), col("__sb")))
    pairs.join(sa, "batch_id").join(sb, "dup_of")
      .withColumn("jaccard",
        inter.cast("double") / (size(col("__sa")) + size(col("__sb")) - inter))
      .select("batch_id", "dup_of", "jaccard")
  }

  /** The batch rows surviving incremental dedup: anti-join of the batch
    * against its &gt;= threshold matches. Typical ingest loop:
    * survivors -> [[appendToLshIndex]] -> write to the corpus.
    */
  def dedupBatchAgainstLshIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, jaccardThreshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Option[Int] = defaultMaxBucket,
      scope: CacheScope = sessionScope): DataFrame = {
    val dups = matchesAgainstLshIndex(spark, dir, batch, idCol, textCol,
        maxBucket, scope)
      .where(col("jaccard") >= jaccardThreshold)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(dups, Seq(idCol), "left_anti")
  }
}
