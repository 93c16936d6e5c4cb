package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Ranked full-text retrieval over a document corpus — the BM25 scoring a
  * training-data pipeline uses for targeted corpus slicing (pulling the
  * documents most relevant to an evaluation domain, boosting a topic in a
  * mix, or auditing what a filter kept). Okapi BM25 (Robertson et al.,
  * TREC-3): for query term t and document d,
  *
  *   score(d, t) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b*dl/avgdl))
  *   idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
  *
  * Plan shape, built for the 100 TB corpus: ONE tokenize pass computes
  * per-doc length (no explode — `size` of the token array), one
  * explode+filter pass restricted to the query vocabulary (a tiny
  * compile-time `isin`, so non-matching tokens die inside whole-stage
  * codegen before any shuffle) feeds a (doc, term) count with map-side
  * combine; corpus stats (N, sum dl) are a single-row aggregate joined by
  * broadcast, document frequencies a |vocab|-row broadcast join. The only
  * wide exchange is the (doc, term) hash aggregate over MATCHED tokens —
  * cost scales with hits, not corpus size. Ranking is per-query
  * (`row_number` partitioned by q_id over matched docs only).
  *
  * Determinism across engines (the driver's DuckDB oracle): per-(doc,term)
  * scores are integerized to micro-units BEFORE the per-doc sum (integer
  * sums are exact and commutative, so shuffle order can't perturb the
  * total), and ties rank by doc id. The transcendental (ln in idf) is NOT
  * part of the cross-engine contract: `idf_micro` is computed ONCE in
  * driver-side Scala ([[idfMicro]], `StrictMath.log` — bit-specified by
  * the JVM spec) per distinct query term and injected into both plans as
  * a literal (term -> idf_micro) broadcast table. The remaining shared
  * chain is exact integers plus IEEE-754 basic ops (+ - * /, each
  * correctly rounded, hence bit-identical on any compliant engine) and a
  * `floor(x + 0.5)` integerization (floor is exact; `round()` half-case
  * semantics vary across engines/versions and are avoided). Empty tokens
  * from the whitespace split are filtered on both sides, so
  * leading/trailing-whitespace handling differences between Java's
  * `split` and DuckDB's `string_split_regex` cannot perturb `dl`/`tf`.
  */
object Retrieval {

  import org.apache.spark.sql.types._

  /** The index tables' schemas, supplied to every read (r18): the writers
    * below pin these shapes exactly, and `spark.read.parquet` without a
    * schema runs a one-task footer-inference JOB per call — the lifecycle
    * queries (build->append->compact->serve and kin) pay ~8 such driver
    * round trips each, pure overhead at any scale and a footer read per
    * file at 100 TB. `bucket` is the partition directory column (long, as
    * [[postingsOf]]'s pmod emits). A legacy stats table written before the
    * epoch column reads as stats_epoch = null; every consumer folds that
    * to 0 via coalesce (the old `columns.contains` probe, now total).
    */
  private val statsSchema = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType),
    StructField("n_docs", LongType), StructField("sum_dl", LongType),
    StructField("n_buckets", IntegerType),
    StructField("stats_epoch", LongType)))
  private val postingsSchema = StructType(Seq(
    StructField("term", StringType), StructField("doc_id", LongType),
    StructField("tf", LongType), StructField("bucket", LongType)))
  private val doclensSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType)))

  private def readStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(statsSchema)
      .parquet(IndexFiles.tablePath(spark, dir, "stats"))
  // explicit select: a supplied schema still leaves the partition column
  // (bucket) at the END of the output — pin the declared order
  private def readPostings(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(postingsSchema)
      .parquet(IndexFiles.tablePath(spark, dir, "postings"))
      .select(col("term"), col("doc_id"), col("tf"), col("bucket"))
  private def readDoclens(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(doclensSchema)
      .parquet(IndexFiles.tablePath(spark, dir, "doclens"))

  /** The one transcendental, evaluated driver-side only:
    * round(ln(1 + (N - df + 0.5)/(df + 0.5)) * 1e6). `StrictMath.log` is
    * fdlibm-exact by spec, so the literal is reproducible on any JVM.
    */
  def idfMicro(nDocs: Long, df: Long): Long =
    Math.round(StrictMath.log(
      1.0 + (nDocs.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)) * 1e6)

  /** Driver-side (term -> idf_micro) for a query vocabulary: one
    * column-pruned pass computes N and per-term document frequency
    * (collected — at most |vocab| + 1 rows), then [[idfMicro]] maps them.
    * Terms absent from the corpus get df = 0 (they can never score, but
    * the table stays total over the vocabulary).
    */
  def idfMicroTable(docs: DataFrame, vocab: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): Map[String, Long] = {
    val toks = nonEmptyTokens(col(textCol))
    // two tiny column-pruned jobs: per-term df over distinct matched
    // terms (<= |vocab| rows), and the corpus doc count
    val rows = docs
      .select(col(idCol).as("doc_id"), array_distinct(toks).as("__ts"))
      .select(col("doc_id"), explode(col("__ts")).as("w"))
      .where(col("w").isin(vocab: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .collect()
    val nDocs = docs.select(count(lit(1))).head().getLong(0)
    val dfMap = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    vocab.map(t => t -> idfMicro(nDocs, dfMap.getOrElse(t, 0L))).toMap
  }

  /** Whitespace tokens with empties removed — the BM25 token contract
    * (mirrored as `list_filter(string_split_regex(...), t -> t <> '')` in
    * the oracle SQL).
    */
  private def nonEmptyTokens(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(Text.tokens(text), t => t =!= lit(""))

  /** Batch BM25: score every (query, matching doc) pair, keep the top `k`
    * docs per query. `queries` = (q_id, terms); duplicate terms within one
    * query are counted once (set semantics, the standard bag-of-words
    * simplification). Output: (q_id, doc_id, rank, score_micro).
    */
  def bm25(docs: DataFrame, queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      idfTable: Option[Map[String, Long]] = None): DataFrame = {
    val spark = docs.sparkSession
    val vocab = queries.flatMap(_._2).distinct
    require(vocab.nonEmpty, "bm25: empty query vocabulary")

    // the one transcendental, resolved driver-side (see object doc)
    val idfMap = idfTable.getOrElse(idfMicroTable(docs, vocab, idCol, textCol))

    // one tokenize per doc; dl = token count (the BM25 document length)
    val docsTok = docs.select(col(idCol).as("doc_id"),
      nonEmptyTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        size(col("__toks")).cast("long").as("dl"))

    // corpus stats: one row, broadcast — N counts every doc (null-text
    // docs score nothing but still dilute idf, per the textbook N)
    val stats = docsTok.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))

    // (doc, term) frequencies over vocabulary hits only: the isin filter
    // runs inside the scan's codegen, so the shuffle carries hits, not the
    // corpus token stream
    val tf = docsTok
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("w"))
      .where(col("w").isin(vocab: _*))
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))

    // (q_id, w, idf_micro) literal rows, broadcast — query membership and
    // the driver-computed idf in one tiny join
    import spark.implicits._
    val qterms = queries.flatMap { case (q, ts) =>
      ts.distinct.map(t => (q, t, idfMap(t))) }
      .toDF("q_id", "w", "idf_micro")

    val scored = tf
      .join(broadcast(qterms), "w")
      .crossJoin(broadcast(stats))
    val perTerm = scored.withColumn("__s", scoreMicroExpr(k1, b))

    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    perTerm.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("__s")).as("score_micro"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("rank").cast("long").as("rank"),
        col("score_micro"))
  }

  /** The per-(doc, term) score in micro-units over bound
    * `idf_micro`/`tf`/`dl`/`sum_dl`/`n_docs` columns:
    * floor(idf_micro * tf(k1+1)/(tf + k1(1 - b + b·dl/avgdl)) + 0.5).
    * Every op is an IEEE basic op or floor — bit-identical across engines
    * (and mirrored op-for-op in [[bm25Sql]]). Integerized per (doc, term)
    * BEFORE summing, so the per-doc total is an exact integer sum,
    * bit-stable under any aggregation order. One shared definition for
    * [[bm25]] and [[searchIndex]], so serving from a persisted index is
    * bit-identical to the in-memory pass.
    */
  private def scoreMicroExpr(k1: Double, b: Double): org.apache.spark.sql.Column = {
    val tfd = col("tf").cast("double")
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val sat = tfd * lit(k1 + 1.0) /
      (tfd + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl").cast("double") / avgdl)))
    floor(col("idf_micro").cast("double") * sat + lit(0.5)).cast("long")
  }

  /** Build and persist an inverted index — the build-once/serve-many shape
    * for retrieval, the text analog of `Similarity.saveIvfIndex`:
    * `postings/` holds (term, doc_id, tf) parquet partitioned BY TERM
    * BUCKET (hash48(term) mod `nBuckets` — direct term partitioning would
    * create one directory per vocabulary word), `doclens/` the per-doc
    * token counts, `stats/` the corpus N / sum-dl / per-term df. A query
    * batch then reads ONLY its terms' posting buckets — partition-pruned
    * retrieval over an index that never rebuilds per query.
    *
    * At 100 TB the posting lists are the only large artifact; `bucket` is
    * their partition key exactly as `cell` is the IVF lists'. Building is
    * one tokenize + one explode-groupBy pass over the corpus.
    *
    * Unlike the IVF quantizer ([[Similarity.retrainIvfIndex]]), the
    * frozen `nBuckets` needs no drift maintenance: terms hash uniformly
    * into buckets regardless of how the vocabulary grows, so bucket
    * BALANCE cannot drift — only pruning granularity is fixed at build
    * time (a query always reads 1/nBuckets of the postings per term).
    * Growing nBuckets is a rebuild-from-corpus, by design: the modulus
    * lives in `stats/` while the bucketing lives in `postings/`, and no
    * single-table manifest publish could cut both over atomically.
    */
  /** (doc_id, __toks, dl) for the index writers — one tokenize pass. */
  private def tokenizedDocs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        nonEmptyTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        size(col("__toks")).cast("long").as("dl"))

  /** (term, doc_id, tf, bucket) posting rows under the given modulus. */
  private def postingsOf(docsTok: DataFrame, nBuckets: Int): DataFrame =
    docsTok
      .select(col("doc_id"), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(Text.hash48(col("term")), lit(nBuckets.toLong)))

  /** The stats table shape: one row per term (df) stamped with the corpus
    * totals, the frozen bucket modulus, and the stats EPOCH. With ZERO
    * term rows (an empty corpus, or a legal full-takedown delete) a bare
    * cross join would leave stats/ empty and every later `head()` of
    * n_buckets/n_docs throwing NoSuchElementException — a full purge must
    * leave a READABLE index (serving empty results, appendable back to
    * life), so the degenerate case keeps one null-term row carrying the
    * metadata (df = 0; term-membership filters never match null, so the
    * sentinel is invisible to scoring and to df lookups).
    *
    * `stats_epoch` increments on every GROUND-TRUTH recompute (a delete's
    * or dedupe-compact's [[rebuildStats]], or an additive merger's own
    * drift repair) and is left unchanged by additive merges. An additive
    * stats merge whose index tables landed before a concurrent rebuild
    * would re-add rows the rebuild already counted; comparing the epoch
    * read at operation entry with the live one inside the stats lease
    * detects exactly that window, and the merger recomputes ground truth
    * instead of double-counting (see [[appendToIndex]]).
    */
  private def statsOf(dfreq: DataFrame, totals: DataFrame,
      nBuckets: Int, epoch: Long, dfreqEmpty: Boolean): DataFrame = {
    // the emptiness flag comes from the CALLER probing its raw postings
    // frame (limit-1 early-stop scan, r18) — an isEmpty on the dfreq
    // AGGREGATION here had to run the full per-term shuffle just to test
    // for zero rows (and forced callers to persist dfreq so the write
    // would not run it again); postings empty <=> dfreq empty, and the
    // raw probe reads at most one row
    val base =
      if (!dfreqEmpty)
        dfreq.crossJoin(totals).withColumn("n_buckets", lit(nBuckets))
      else totals.select(lit(null).cast("string").as("term"),
        lit(0L).as("df"), col("n_docs"), col("sum_dl"))
        .withColumn("n_buckets", lit(nBuckets))
    base.withColumn("stats_epoch", lit(epoch))
  }

  /** Recompute df / n_docs / sum_dl from the LIVE postings and doclens
    * tables and write them (stamped `epoch`) to `next` — the shared
    * ground-truth recompute of [[rebuildStats]] and the epoch-detected
    * drift repair inside the additive-merge paths. Caller holds the
    * stats lease and resolves nothing before it (read-under-lease rule).
    */
  private def writeGroundTruthStats(spark: SparkSession, dir: String,
      nBuckets: Int, epoch: Long, next: String): Unit = {
    val postings = readPostings(spark, dir)
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val totals = readDoclens(spark, dir)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
    // emptiness probed on the RAW postings scan (see statsOf); dfreq then
    // has exactly one consumer — the write — so no persist is needed
    statsOf(dfreq, totals, nBuckets, epoch, postings.isEmpty)
      .write.mode("overwrite").parquet(next)
  }

  /** Scale-adaptive bucket count for a corpus of `nDocs` documents — the
    * default when [[buildIndex]]'s caller does not pin one. A fixed
    * modulus is tuned for exactly one scale: 64 directories of
    * kilobyte files at bench SFs is the small-files anti-pattern (each
    * partition dir costs driver-serial listing/commit work on every
    * maintenance rewrite — measured ~18 ms/dir locally, i.e. ~1.2 s of
    * pure layout overhead per postings write), while 64 buckets of a
    * 100 TB corpus' postings are far too coarse for the 1/nBuckets
    * per-term pruning the layout exists to provide. Deriving from corpus
    * size keeps partition files in a healthy size band at every scale;
    * `spark.graft.bm25.docsPerBucket` (default 20k) parameterizes the
    * target, floor 8 keeps pruning meaningful on small corpora, cap 4096
    * bounds directory count. Results never depend on the modulus (bucket
    * ids appear in no output; serve reads it from stats/), so the only
    * thing that changes with scale is the file layout.
    */
  private def chooseBuckets(nDocs: Long,
      spark: SparkSession): Int = {
    val perBucket = spark.conf.getOption("spark.graft.bm25.docsPerBucket")
      .map(_.toLong).getOrElse(20000L)
    math.min(4096L, math.max(8L,
      (nDocs + perBucket - 1) / math.max(1L, perBucket))).toInt
  }

  /** `nBuckets = 0` (the default) derives the bucket modulus from the
    * corpus size ([[chooseBuckets]]); an explicit positive value pins it
    * (shard builds that must match a host geometry, specs).
    */
  def buildIndex(docs: DataFrame, dir: String, nBuckets: Int = 0,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(nBuckets >= 0, s"nBuckets $nBuckets must be >= 0")
    graft.plans.Natives.ensure(docs.sparkSession)
    // persist the tokenize pass and the postings aggregate — the
    // appendToIndex discipline (r18): unpinned, the corpus was
    // re-tokenized by every consumer (postings write, doclens write, df
    // aggregation, totals — FOUR tokenize passes) and the explode+groupBy
    // ran twice (postings write + df). One pass each now feeds all four
    // writes; at 100 TB this is the difference between one corpus read
    // and four.
    val spark = docs.sparkSession
    val docsTok = tokenizedDocs(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // totals head first (also materializes the persisted tokenize):
      // the corpus size both stamps the stats rows and sizes the bucket
      // modulus when the caller left it to scale
      val totalsRow = docsTok.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl")).head()
      val (nDocs, sumDl) = (totalsRow.getLong(0), totalsRow.getLong(1))
      val buckets =
        if (nBuckets > 0) nBuckets else chooseBuckets(nDocs, spark)
      val postings = postingsOf(docsTok, buckets)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // overlap the two independent table writes (r18, guide §2.6):
        // the postings and doclens writes read only the ALREADY
        // MATERIALIZED docsTok cache (the totals head above filled it)
        // and write disjoint tables, and buildIndex is the bootstrap op
        // — no lease, no publish-order contract (the maintenance verbs
        // keep their sequential, ordered writes: deleteFromIndex's
        // doclens-first and writeLshRows' shingles-first are
        // reader-correctness contracts). The doclens write back-fills
        // the executors the postings write's task tail leaves idle.
        // Par.overlap (not bare Future/Await): a postings-write failure
        // must still await the doclens write before the finally
        // unpersists docsTok under its running job
        Par.overlap {
          docsTok.select(col("doc_id"), col("dl")).write.mode("overwrite")
            .parquet(IndexFiles.tablePath(spark, dir, "doclens"))
        } {
          // repartition on the partition column: each bucket lands in one
          // task, one file per bucket directory (the writeLists discipline)
          postings.repartition(col("bucket")).write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(IndexFiles.tablePath(spark, dir, "postings"))
        }
        val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val totals = spark.range(1).select(lit(nDocs).as("n_docs"),
          lit(sumDl).as("sum_dl"))
        // emptiness probed on the PERSISTED postings (limit-1 over the
        // cache, see statsOf); dfreq has one consumer, so no persist
        statsOf(dfreq, totals, buckets, epoch = 0L,
            dfreqEmpty = postings.isEmpty)
          .write.mode("overwrite")
          .parquet(IndexFiles.tablePath(spark, dir, "stats"))
      } finally postings.unpersist()
    } finally docsTok.unpersist()
  }

  /** Append new documents to a persisted inverted index — the
    * daily-ingest maintenance path, text analog of
    * `Similarity.appendToIvfIndex`. New postings land as new files inside
    * the existing term-bucket partitions (FROZEN `nBuckets` from the
    * saved stats — rows bucketed under a different modulus would be
    * unreachable by the pruned probe); doclens append; the tiny `stats/`
    * table is the one artifact that must MERGE, because BM25's idf/avgdl
    * are corpus-global: per-term df adds (documents are disjoint, so a
    * term's df is the sum of per-batch dfs), n_docs/sum_dl add. The
    * merged stats are written as the NEXT version of the stats table and
    * published with the zero-downtime manifest cutover
    * ([[IndexFiles.writeNextVersion]] — never read-and-overwrite the same
    * path in one job). Everything is additive, so a grown index serves
    * BIT-IDENTICAL results to an index built once on the union — the
    * RetrievalSpec identity and the q91 driver gate.
    *
    * Concurrent ground-truth rebuild (a delete or dedupe-compact
    * interleaving between this append's table writes): detected via the
    * stats EPOCH captured at entry — if it moved by stats-merge time, the
    * rebuild may already have counted this batch's landed rows, so the
    * merge recomputes ground truth instead of double-adding
    * (self-healing; the formerly-documented "df drift" window, now exact
    * — IndexInterleaveSpec's append∥delete case).
    */
  def appendToIndex(spark: SparkSession, dir: String, newDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    graft.plans.Natives.ensure(spark)
    val statsOld = readStats(spark, dir)
    // one metadata row read ONCE: separate head() jobs would rescan. The
    // epoch is captured HERE — before this batch's postings/doclens land —
    // so the stats-merge below can detect a ground-truth rebuild that ran
    // anywhere inside this operation's table-write window (legacy
    // pre-epoch tables read as null -> 0)
    val meta = statsOld.select(col("n_buckets"),
      coalesce(col("stats_epoch"), lit(0L)).as("stats_epoch")).head()
    val nBuckets = meta.getInt(0)
    val entryEpoch = meta.getLong(1)
    // persist the tokenized batch: it feeds FOUR jobs (postings write,
    // doclens write, df aggregation, totals), and an unpinned
    // nondeterministic source (sample(), an uncached shuffle) would
    // otherwise desync the written postings from the merged stats — the
    // writeLshRows discipline
    val docsTok = tokenizedDocs(newDocs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val postings = postingsOf(docsTok, nBuckets)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // per-table writer leases: an append racing a compaction's
        // rewrite of the same table aborts loudly (IndexFiles doc); the
        // stats rewrite below is leased inside writeNextVersion. Each
        // append is FENCED right before its write job starts: a holder
        // taken over while stalled (the fenced-publish rationale) would
        // otherwise land its rows into a version the taker is about to
        // prune — silently lost rows, worse than the dedupe-compactable
        // duplicate the abort+replay leaves.
        IndexFiles.withTableLeaseFenced(spark, dir, "postings") { lease =>
          FaultPoints.beforeFencedWrite("bm25.append", "postings")
          lease.checkStillHeld("the postings append")
          postings.repartition(col("bucket")).write.mode("append")
            .partitionBy("bucket")
            .parquet(IndexFiles.tablePath(spark, dir, "postings"))
        }
        FaultPoints.afterTable("bm25.append", "postings")
        IndexFiles.withTableLeaseFenced(spark, dir, "doclens") { lease =>
          FaultPoints.beforeFencedWrite("bm25.append", "doclens")
          lease.checkStillHeld("the doclens append")
          docsTok.select(col("doc_id"), col("dl")).write.mode("append")
            .parquet(IndexFiles.tablePath(spark, dir, "doclens"))
        }
        FaultPoints.afterTable("bm25.append", "doclens")
        // additive stats merge: old per-term rows + the batch's, df
        // summed, n_docs/sum_dl totals recomputed once and stamped on
        // every row. The OLD stats re-resolve INSIDE the stats lease —
        // merging against the snapshot read at function entry would
        // silently revert a delete/merge that republished stats while
        // this batch's postings were landing (lost update)
        val dfNew = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val batchTotals = docsTok.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("sum_dl")).head()
        // published only after the next version is fully written — a
        // reader racing the cutover resolves either the old or the new
        // stats, never a partial table
        IndexFiles.writeNextVersion(spark, dir, "stats") { next =>
          val statsLive = readStats(spark, dir)
          // one fused head (r18): epoch + live totals in a single
          // metadata job — the epoch-only and totals-only heads were two
          // sequential driver round trips over the same one-row read
          val liveMeta = statsLive.select(
            coalesce(col("stats_epoch"), lit(0L)).as("stats_epoch"),
            col("n_docs"), col("sum_dl")).head()
          val liveEpoch = liveMeta.getLong(0)
          if (liveEpoch != entryEpoch) {
            // SELF-HEAL (the former append∥delete drift case): a
            // ground-truth rebuild — a delete's or dedupe-compact's
            // rebuildStats — republished stats while this batch's tables
            // were landing, and may already have counted the landed
            // rows; the additive merge would double-count them. The
            // batch is FULLY landed at this point (postings and doclens
            // both committed above), so recompute ground truth from the
            // live tables instead — exact corpus stats whichever
            // between-table-writes window the rebuild fell into. Bumping
            // the epoch again covers a second in-flight additive merger
            // whose rows this recompute just counted.
            writeGroundTruthStats(spark, dir, nBuckets, liveEpoch + 1, next)
          } else {
            val merged = statsLive.select(col("term"), col("df"))
              .where(col("term").isNotNull) // drop a full-purge sentinel row
              .unionByName(dfNew)
              .groupBy(col("term")).agg(sum(col("df")).as("df"))
              .withColumn("n_docs",
                lit(liveMeta.getLong(1) + batchTotals.getLong(0)))
              .withColumn("sum_dl",
                lit(liveMeta.getLong(2) + batchTotals.getLong(1)))
              .withColumn("n_buckets", lit(nBuckets))
              .withColumn("stats_epoch", lit(liveEpoch))
            merged.write.mode("overwrite").parquet(next)
          }
        }
      } finally postings.unpersist()
    } finally docsTok.unpersist()
  }

  /** Compact the postings and doclens tables (see
    * [[graft.operators.Similarity.compactIvfIndex]] — every
    * [[appendToIndex]] adds a file per touched bucket). Row-identical by
    * default. `dedupeRows = true` repairs an at-least-once replay: the
    * byte-identical re-appended rows drop AND the stats table — which the
    * replay double-counted — is rebuilt from the compacted postings and
    * doclens, restoring exactly a clean build's df/n_docs/sum_dl.
    */
  def compactIndex(spark: SparkSession, dir: String,
      dedupeRows: Boolean = false): Unit = {
    // the two table compacts are independent row-identical rewrites of
    // DISJOINT tables, each under its own lease + versioned swap — run
    // them as concurrent driver-thread jobs (r19, guide §2.6: the doclens
    // compact back-fills the executors the postings rewrite's task tail
    // leaves idle). No cross-table content invariant is at stake: each
    // table cuts over atomically and row-identically, so a reader (or a
    // crash) sees old-or-new per table with identical rows either way.
    // Fault-point semantics re-derived (IndexInterleaveSpec): both hooks
    // now fire AFTER both compacts, with no lease held — the formerly
    // observable between-the-two-compacts window no longer exists (a
    // competing verb racing the in-flight pair hits a held table lease
    // and aborts loudly, per the documented exact-or-loud-abort matrix).
    Par.overlap {
      IndexFiles.compact(spark, dir, "doclens", None, dedupeRows,
        schema = Some(doclensSchema))
    } {
      IndexFiles.compact(spark, dir, "postings", Some("bucket"), dedupeRows,
        schema = Some(postingsSchema))
    }
    FaultPoints.afterTable("bm25.compact", "postings")
    FaultPoints.afterTable("bm25.compact", "doclens")
    IndexFiles.compactLedgers(spark, dir)
    if (dedupeRows) rebuildStats(spark, dir)
  }

  /** Rebuild `stats/` from the LIVE postings and doclens tables (next
    * version + manifest cutover) — the ground-truth recompute shared by
    * the dedupe-repair and delete paths: whatever mutation the index
    * tables just took, the republished df/n_docs/sum_dl are exactly a
    * clean build's over the surviving rows.
    */
  private def rebuildStats(spark: SparkSession, dir: String): Unit =
    IndexFiles.writeNextVersion(spark, dir, "stats") { next =>
      // source tables resolve INSIDE the stats lease (the IndexFiles
      // read-under-lease rule); the epoch bump is what lets a concurrent
      // additive merger detect this rebuild and self-heal (statsOf doc)
      val statsLive = readStats(spark, dir)
      // one fused head (r18): n_buckets + epoch in a single metadata job
      val meta = statsLive.select(col("n_buckets"),
        coalesce(col("stats_epoch"), lit(0L))).head()
      writeGroundTruthStats(spark, dir, meta.getInt(0),
        meta.getLong(1) + 1, next)
    }

  /** DELETE documents from a persisted inverted index — the takedown /
    * right-to-be-forgotten maintenance path a production corpus index
    * needs as surely as append: postings and doclens are rewritten minus
    * the deleted ids (distributed anti-join, published through the
    * zero-downtime versioned swap), then `stats/` is rebuilt from the
    * survivors, so df / n_docs / sum_dl — and therefore idf and avgdl —
    * equal a one-shot [[buildIndex]] over the corpus WITHOUT the deleted
    * docs. Serving after a delete is bit-identical to never having
    * indexed them (the q97 oracle identity).
    *
    * Order matters for readers racing the delete: `doclens` publishes
    * FIRST, and [[searchIndex]]'s postings–doclens join is inner, so a
    * deleted doc stops being servable at the first cutover; the windows
    * until the postings and stats cutovers leave only dead postings rows
    * (dropped by the join) and the old corpus-level stats — the same
    * transient staleness an [[appendToIndex]] reader sees, never a
    * partially-deleted ranking.
    *
    * Cost is one pruned rewrite of each table — O(index), distributed,
    * no driver materialization (`docIds` stays a frame; AQE broadcasts
    * it when small, the takedown-list case).
    */
  def deleteFromIndex(spark: SparkSession, dir: String, docIds: DataFrame,
      idCol: String = "doc_id"): Unit = {
    val del = docIds.select(col(idCol).cast("long").as("doc_id")).distinct()
    // The two anti-join rewrites are independent O(index) jobs over
    // DISJOINT tables — COMPUTED concurrently (r19, guide §2.6) with the
    // PUBLISH order preserved: the postings rewrite runs on a driver
    // thread but gates its cutover on the doclens cutover having landed
    // (doclens-first is the reader contract — searchIndex's
    // postings–doclens join is inner, so a deleted doc stops being
    // servable at the FIRST cutover; publishing postings first would
    // open a window where the doc still serves). The gate sits inside
    // writeNextVersion's callback, after the data write and before the
    // fenced publish; the lease heartbeat keeps the postings lease fresh
    // while it waits. If the doclens rewrite fails, the gate propagates
    // the failure and the postings rewrite aborts UNPUBLISHED (its
    // next-version residue is cleared by the next rewrite), and
    // Par.overlap still awaits it — no abandoned job outlives the call.
    // Crash windows are unchanged from the sequential shape: doclens may
    // cut over without postings (dead postings rows, dropped by the
    // join), never the reverse.
    //
    // no explicit coalesce: the anti-join's shuffle gives AQE the seam to
    // size the output partitions (a fixed tiny count would serialize the
    // rewrite of a corpus-scale doclens table into a handful of tasks);
    // source tables resolve INSIDE each lease (IndexFiles rule).
    // Fault-point semantics re-derived (IndexInterleaveSpec, as in
    // compactIndex): both hooks fire AFTER both rewrites, no lease held —
    // the doclens-published-postings-pending window is no longer an
    // injectable seam (a competing verb racing it aborts on the held
    // postings lease, per the exact-or-loud-abort matrix).
    val doclensPublished = scala.concurrent.Promise[Unit]()
    Par.overlap {
      IndexFiles.writeNextVersion(spark, dir, "postings") { next =>
        val postings = readPostings(spark, dir)
          .select(col("bucket"), col("term"), col("doc_id"), col("tf"))
          .join(del, Seq("doc_id"), "left_anti")
        postings.repartition(col("bucket")).write.mode("overwrite")
          .partitionBy("bucket").parquet(next)
        // a full purge leaves zero files in a partitioned overwrite —
        // land the schema so the table stays readable
        IndexFiles.ensureReadable(postings, next)
        // publish-order gate (see above): doclens must cut over first
        Par.awaitGate(doclensPublished.future, "deleteFromIndex", "postings")
      }
    } {
      try {
        IndexFiles.writeNextVersion(spark, dir, "doclens") { next =>
          val doclens = readDoclens(spark, dir)
            .join(del, Seq("doc_id"), "left_anti")
          doclens.write.mode("overwrite").parquet(next)
          IndexFiles.ensureReadable(doclens, next)
        }
        doclensPublished.success(())
      } catch {
        case e: Throwable => doclensPublished.failure(e); throw e
      }
    }
    FaultPoints.afterTable("bm25.delete", "doclens")
    FaultPoints.afterTable("bm25.delete", "postings")
    rebuildStats(spark, dir)
  }

  /** MERGE another persisted inverted index into this one — the
    * shard-union maintenance path: corpora indexed independently (one
    * index per ingest region, per backfill job, per acquisition) become
    * one servable index without re-tokenizing a single document. `from`'s
    * posting rows are re-bucketed under `into`'s frozen modulus (one
    * hash48 expression per row — rows banded under a different modulus
    * would be unreachable by the pruned probe) and appended into the
    * existing bucket partitions; doclens append; stats merge additively
    * (per-term df sums because the doc sets are disjoint; n_docs/sum_dl
    * add) and publish through the versioned swap. The merged index's
    * stats equal a one-shot build's over the union, so serving is
    * bit-identical to having indexed everything together — the q99
    * oracle identity. `from` is read-only throughout.
    *
    * Disjointness is the caller's contract (a doc indexed in both shards
    * would double its df contributions and duplicate its doclens row);
    * `requireDisjoint = true` (default) enforces it with one inner join
    * over the two doclens tables — O(n_docs) small rows, the right
    * price for a run-rarely maintenance op. Pass `false` only when the
    * shards are disjoint by construction (e.g. id-range sharding).
    *
    * NOT crash-atomic (unlike the single-table versioned swaps): the
    * postings and doclens appends land BEFORE the stats cutover, so a
    * crash in between leaves a live index serving the merged docs with
    * STALE corpus stats — n_docs/sum_dl missing `from`'s contribution and
    * idf computed from df = 0 for merged-only terms (their scores skew
    * high; rankings degrade but never crash). Repair (the ledger's
    * at-least-once recipe): RE-RUN the merge, then
    * `compactIndex(dedupeRows = true)` — posting/doclens rows are
    * deterministic in their content, so the re-appended rows are
    * byte-identical duplicates the dedupe drops, and the stats rebuild
    * recomputes df/n_docs/sum_dl from the live ground truth. The same
    * crash shape and repair apply to
    * [[graft.operators.Dedup.mergeLshIndexes]] (shingles land first, so
    * the crash window leaves docs verifiable-but-never-candidates —
    * invisible until the re-merge lands their band rows; the re-merge's
    * duplicate shingle rows are byte-identical and
    * `compactLshIndex(dedupeRows = true)` removes them);
    * [[graft.operators.Similarity.mergeIvfPqIndexes]] is a SINGLE
    * job-atomic lists append, so a crashed merge left nothing visible —
    * just re-run it.
    */
  def mergeIndexes(spark: SparkSession, into: String, from: String,
      requireDisjoint: Boolean = true): Unit = {
    graft.plans.Natives.ensure(spark)
    val statsInto = readStats(spark, into)
    val statsFrom = readStats(spark, from)
    val metaInto = statsInto.select(col("n_buckets"), col("n_docs"),
      col("sum_dl"),
      coalesce(col("stats_epoch"), lit(0L)).as("stats_epoch")).head()
    val metaFrom = statsFrom.select(col("n_docs"), col("sum_dl")).head()
    val nBuckets = metaInto.getInt(0)
    // captured before from's rows land in into's tables — the stats merge
    // below compares it with the live epoch to detect a concurrent
    // ground-truth rebuild (the appendToIndex self-heal rationale)
    val entryEpoch = metaInto.getLong(3)
    val dlInto = readDoclens(spark, into)
    val dlFrom = readDoclens(spark, from)
    if (requireDisjoint) {
      val overlap = dlInto.select("doc_id")
        .join(dlFrom.select("doc_id"), Seq("doc_id")).limit(1).count()
      require(overlap == 0L,
        s"mergeIndexes: doc_id sets of $into and $from overlap — " +
          "df additivity and doclens uniqueness need disjoint shards")
    }
    // re-bucket under into's modulus (no-op values when the moduli match,
    // but always recomputed: the stored bucket is from's geometry)
    IndexFiles.withTableLeaseFenced(spark, into, "postings") { lease =>
      // fenced like appendToIndex: a taken-over holder must not land
      // rows into a version the taker is about to prune
      lease.checkStillHeld("the postings merge-append")
      readPostings(spark, from)
        .select(col("term"), col("doc_id"), col("tf"))
        .withColumn("bucket",
          pmod(Text.hash48(col("term")), lit(nBuckets.toLong)))
        .repartition(col("bucket")).write.mode("append")
        .partitionBy("bucket")
        .parquet(IndexFiles.tablePath(spark, into, "postings"))
    }
    FaultPoints.afterTable("bm25.merge", "postings")
    IndexFiles.withTableLeaseFenced(spark, into, "doclens") { lease =>
      lease.checkStillHeld("the doclens merge-append")
      dlFrom.select(col("doc_id"), col("dl")).write.mode("append")
        .parquet(IndexFiles.tablePath(spark, into, "doclens"))
    }
    FaultPoints.afterTable("bm25.merge", "doclens")
    // host stats re-resolve INSIDE the stats lease (the appendToIndex
    // rationale: merging against the entry-time snapshot would silently
    // revert a delete/append that republished stats while this merge's
    // postings were landing); `from` is read-only, its entry-time stats
    // stand
    IndexFiles.writeNextVersion(spark, into, "stats") { next =>
      val statsLive = readStats(spark, into)
      // one fused head (r18): epoch + live totals in a single metadata
      // job (the appendToIndex fusion)
      val metaLive = statsLive.select(
        coalesce(col("stats_epoch"), lit(0L)).as("stats_epoch"),
        col("n_docs"), col("sum_dl")).head()
      val liveEpoch = metaLive.getLong(0)
      if (liveEpoch != entryEpoch) {
        // SELF-HEAL: a ground-truth rebuild republished into's stats
        // while from's postings/doclens were landing and may already
        // have counted them — recompute from the live tables (from's
        // contribution is fully landed above) instead of double-adding
        // (the appendToIndex drift rationale)
        writeGroundTruthStats(spark, into, nBuckets, liveEpoch + 1, next)
      } else {
        val merged = statsLive.select(col("term"), col("df"))
          .where(col("term").isNotNull) // drop a full-purge sentinel row
          .unionByName(statsFrom.select(col("term"), col("df")))
          .groupBy(col("term")).agg(sum(col("df")).as("df"))
          .withColumn("n_docs",
            lit(metaLive.getLong(1) + metaFrom.getLong(0)))
          .withColumn("sum_dl",
            lit(metaLive.getLong(2) + metaFrom.getLong(1)))
          .withColumn("n_buckets", lit(nBuckets))
          .withColumn("stats_epoch", lit(liveEpoch))
        merged.write.mode("overwrite").parquet(next)
      }
    }
  }

  /** BM25 over a persisted index: the query batch's terms resolve to
    * their hash buckets, a static `bucket IN (...)` filter prunes the
    * postings scan to those partitions (the IVF static-pruning
    * discipline — no DPP heuristics to drop), and scoring runs on the
    * pre-aggregated (term, doc, tf) rows — no tokenize, no corpus pass.
    * Identical arithmetic to [[bm25]] (same integerize-then-sum, same
    * ranking), so serving from the index returns bit-identical results —
    * the q77 oracle identity.
    */
  def searchIndex(spark: SparkSession, dir: String,
      queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val vocab = queries.flatMap(_._2).distinct
    require(vocab.nonEmpty, "searchIndex: empty query vocabulary")
    val statsAll = readStats(spark, dir)
    // ONE metadata collect (r18; was three sequential driver round trips —
    // an n_buckets head, a per-term df collect, an n_docs head — plus a
    // broadcast-limit(1) totals subtree in the serve plan): every stats
    // row carries the corpus totals and the modulus alongside its term's
    // df, so the vocab-filtered collect (<= |vocab| rows, never the full
    // per-term table) yields df AND (n_buckets, n_docs, sum_dl) together.
    // Only when NO vocab term is indexed (all df = 0, or the full-purge
    // null-term sentinel) does a one-row fallback head run for the totals.
    // idf stays computed from the INDEX's persisted df — a wrong or stale
    // df in stats/ still diverges from the in-memory pass and breaks the
    // q77 identity.
    val dfCollected = statsAll.where(col("term").isin(vocab: _*))
      .select(col("term"), col("df"), col("n_buckets"), col("n_docs"),
        col("sum_dl")).collect()
    val (nBuckets, nDocsIdx, sumDlIdx) =
      if (dfCollected.nonEmpty) {
        val r = dfCollected.head
        (r.getInt(2), r.getLong(3), r.getLong(4))
      } else {
        val r = statsAll.select(col("n_buckets"), col("n_docs"),
          col("sum_dl")).head()
        (r.getInt(0), r.getLong(1), r.getLong(2))
      }
    val dfRows = dfCollected
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val buckets = vocab
      .map(t => graft.functions.Vec.hash48(t) % nBuckets).distinct
    val postings = readPostings(spark, dir)
      .where(col("bucket").isin(buckets.map(Long.box): _*))
      .where(col("term").isin(vocab: _*))
    val doclens = readDoclens(spark, dir)
    val idfMap = vocab.map(t =>
      t -> idfMicro(nDocsIdx, dfRows.getOrElse(t, 0L))).toMap
    import spark.implicits._
    val qterms = queries.flatMap { case (q, ts) =>
      ts.distinct.map(t => (q, t, idfMap(t))) }
      .toDF("q_id", "term", "idf_micro")
    // corpus totals as literals (they were just collected): the former
    // crossJoin(broadcast(stats limit 1)) subtree cost one more job and a
    // broadcast exchange in every serve plan for two already-known longs.
    // n_docs clamped to >= 1: a FULLY PURGED index has n_docs = 0 and the
    // literal sum_dl/n_docs would now be CONSTANT-FOLDED at plan time —
    // an eager ANSI divide-by-zero the old non-foldable crossJoin column
    // never hit (its scored frame was simply empty). With zero docs there
    // are zero postings, so the clamp is unobservable in any result row.
    val scored = postings
      .join(broadcast(qterms), "term")
      .join(doclens, "doc_id")
      .withColumn("n_docs", lit(math.max(nDocsIdx, 1L)))
      .withColumn("sum_dl", lit(sumDlIdx))
    val perTerm = scored.withColumn("__s", scoreMicroExpr(k1, b))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    perTerm.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("__s")).as("score_micro"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("rank").cast("long").as("rank"),
        col("score_micro"))
  }

  /** BM25 over a persisted index for a DISTRIBUTED query batch — the
    * corpus-scale twin of [[searchIndex]], whose `Seq`-of-queries
    * contract is driver-bounded by construction. `queries` is a DataFrame
    * of (`qidCol`, `termsCol`: array&lt;string&gt;), so a retrieval pass
    * with millions of queries (dedup-by-retrieval, per-document domain
    * tagging, eval-set contamination sweeps) never routes query rows
    * through the driver. The only driver round-trips are bounded index
    * metadata: the stats head row and the DISTINCT probed bucket ids
    * (&lt;= nBuckets) for the static partition filter — the
    * IVF-probe discipline. Term membership is a join (AQE broadcasts the
    * query side when it is small), and idf is computed once per DISTINCT
    * query term from the index's persisted df with the same
    * [[idfMicro]] `StrictMath.log` chain (a tiny deterministic UDF over
    * metadata-sized rows, not the hot path), so results are
    * bit-identical to [[searchIndex]] / [[bm25]] — the q96 identity.
    *
    * The exploded (q_id, term, bucket) frame is persisted in `scope`
    * (one materialization feeds the bucket collect and the join — the
    * probeCandidates internal-consistency contract).
    */
  def searchIndexBatch(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, k1: Double = 1.2, b: Double = 0.75,
      qidCol: String = "q_id", termsCol: String = "terms",
      scope: Dedup.CacheScope = Dedup.sessionScope): DataFrame = {
    graft.plans.Natives.ensure(spark)
    val statsAll = readStats(spark, dir)
    // totals ride the same one-row head (r18) so the serve plan can carry
    // them as literals instead of a crossJoin(broadcast(limit(1))) subtree
    val meta = statsAll.select(col("n_buckets"), col("n_docs"),
      col("sum_dl")).head()
    val nBuckets = meta.getInt(0)
    val nDocsIdx = meta.getLong(1)
    val sumDlIdx = meta.getLong(2)
    val qterms = scope.track(queries
      .select(col(qidCol).as("q_id"),
        explode(array_distinct(col(termsCol))).as("term"))
      .withColumn("bucket",
        pmod(Text.hash48(col("term")), lit(nBuckets.toLong))))
    // the ONLY query-side collect: distinct probed bucket ids, bounded by
    // nBuckets — this action also materializes the persisted frame
    val probed = qterms.select("bucket").distinct()
      .collect().map(_.getLong(0))
    val idfUdf = udf((df: Long) => idfMicro(nDocsIdx, df))
    val termIdf = qterms.select("term").distinct()
      .join(statsAll.select(col("term"), col("df")), Seq("term"), "left")
      .withColumn("idf_micro", idfUdf(coalesce(col("df"), lit(0L))))
      .select("term", "idf_micro")
    val postings = readPostings(spark, dir)
      .where(col("bucket").isin(probed.map(Long.box).toSeq: _*))
    val doclens = readDoclens(spark, dir)
    val scored = postings
      .join(qterms.select("q_id", "term"), "term")
      .join(termIdf, "term")
      .join(doclens, "doc_id")
      // clamped for the same fully-purged-index constant-folding reason
      // as searchIndex: zero docs => zero postings => no row observes it
      .withColumn("n_docs", lit(math.max(nDocsIdx, 1L)))
      .withColumn("sum_dl", lit(sumDlIdx))
    val perTerm = scored.withColumn("__s", scoreMicroExpr(k1, b))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    perTerm.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("__s")).as("score_micro"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("rank").cast("long").as("rank"),
        col("score_micro"))
  }

  /** DuckDB mirror of [[bm25]] for the driver oracle — identical arithmetic
    * in identical order. `idfTable` is the SAME driver-computed
    * (term -> idf_micro) map the Spark plan embeds, emitted here as a
    * VALUES CTE: the shared cross-engine chain contains no transcendental
    * and no `round()` — only exact integers, IEEE basic ops, and floor.
    * Empty tokens are filtered to mirror the Spark side exactly.
    */
  def bm25Sql(queries: Seq[(String, Seq[String])], k: Int,
      idfTable: Map[String, Long],
      k1: Double = 1.2, b: Double = 0.75,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String = {
    val vocab = queries.flatMap(_._2).distinct
    val vocabLst = vocab.map(t => s"'$t'").mkString("[", ", ", "]")
    val qRows = queries.flatMap { case (q, ts) =>
      ts.distinct.map(t => s"('$q', '$t', CAST(${idfTable(t)} AS BIGINT))") }
      .mkString(", ")
    val toks =
      s"list_filter(${graft.functions.TextSql.tokens(textCol)}, t -> t <> '')"
    s"""WITH d AS (SELECT $idCol AS doc_id, $toks AS toks FROM $table),
        dt AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
        stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dt),
        tf AS (SELECT doc_id, dl, w, count(*) AS tf
               FROM (SELECT doc_id, dl, unnest(toks) AS w FROM dt)
               WHERE list_contains($vocabLst, w) GROUP BY 1, 2, 3),
        qt(q_id, w, idf_micro) AS (VALUES $qRows),
        per_term AS (SELECT q_id, doc_id,
            CAST(floor(
              CAST(idf_micro AS DOUBLE)
              * (CAST(tf AS DOUBLE) * ${k1 + 1.0}
                 / (CAST(tf AS DOUBLE) + $k1 * (1.0 - $b + $b *
                     (CAST(dl AS DOUBLE)
                      / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
              + 0.5) AS BIGINT) AS s
          FROM tf JOIN qt USING (w), stats),
        totals AS (SELECT q_id, doc_id, CAST(sum(s) AS BIGINT) AS score_micro
                   FROM per_term GROUP BY 1, 2),
        ranked AS (SELECT q_id, doc_id, score_micro,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY score_micro DESC, doc_id) AS rank
                   FROM totals)
        SELECT q_id, doc_id, CAST(rank AS BIGINT) AS rank, score_micro
        FROM ranked WHERE rank <= $k ORDER BY q_id, rank"""
  }
}
