package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.CacheScope
import graft.functions.{Text, Vec}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the candidate table, so the big side streams with no shuffle and
  * the only exchange is the final per-query top-k. Scale path: sign-LSH
  * bucketing (deterministic md5-derived hyperplanes) so candidates shrink to
  * one bucket per query; at 100 TB the bucket column is a partition key.
  */
object Similarity {

  /** Brute-force cosine top-k: queries (small, broadcast) x candidates.
    * Output: (q_id, vec_id, rank, cosine), rank 1..k per query, ties broken
    * by candidate id.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      Vec.asDouble(col(vecCol)).as("q_vec")))
    val c = candidates.select(col(idCol).as("vec_id"),
      Vec.asDouble(col(vecCol)).as("c_vec"))
    val scored = c.crossJoin(q)
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", graft.plans.NativeDot.cosineCol(
        candidates.sparkSession, col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "vec_id", "rank", "cosine")
  }

  /** Attach the sign-LSH bucket id (2^nPlanes buckets). */
  def withLshBucket(df: DataFrame, nPlanes: Int, dim: Int,
      vecCol: String = "embedding"): DataFrame =
    df.withColumn("bucket",
      Vec.lshBucket(Vec.asDouble(col(vecCol)), Vec.planes(nPlanes, dim)))

  /** LSH-bucketed ANN: candidates restricted to the query's bucket, then
    * exact cosine top-k within it. Recall trades off against nPlanes.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      nPlanes: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(withLshBucket(queries, nPlanes, dim, vecCol)
      .select(col(idCol).as("q_id"), Vec.asDouble(col(vecCol)).as("q_vec"), col("bucket")))
    val c = withLshBucket(candidates, nPlanes, dim, vecCol)
      .select(col(idCol).as("vec_id"), Vec.asDouble(col(vecCol)).as("c_vec"), col("bucket"))
    val scored = c.join(q, "bucket")
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", graft.plans.NativeDot.cosineCol(
        candidates.sparkSession, col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "vec_id", "rank", "cosine")
  }

  /** A built IVF index: the refined centroids (tiny — nCells x dim, lives
    * on the driver and broadcasts into probe plans) and the inverted
    * lists (cell, vec_id, c_vec). [[saveIvfIndex]] persists the lists
    * partitioned BY CELL, so a loaded index's probe is a partition-pruned
    * scan — only the probed cells' files are read.
    */
  final case class IvfIndex(centroids: Seq[Seq[Double]], lists: DataFrame)

  // Coarse-quantizer argmax via the native codegen expression
  // [[graft.plans.NativeTopCells]] — O(1) expression-tree size in nCells
  // AND whole-stage-codegen'd primitive loops (a Column-algebra form is
  // either an unrolled tree that blows the JVM method-size codegen limit
  // at the nCells ≈ sqrt(N) a large corpus wants, ~10k cells at 100M
  // vectors, or an interpreted CodegenFallback HOF). Scores are the same
  // left-to-right accumulation as [[Vec.dot]], so assignments are
  // bit-identical to the previous forms; ties go to the larger cell,
  // the array_max-over-(d, cell)-structs rule.
  private[graft] def nearestCell(spark: org.apache.spark.sql.SparkSession,
      v: org.apache.spark.sql.Column, cents: Seq[Seq[Double]]) =
    element_at(graft.plans.NativeTopCells.topCellsCol(spark, v, 0, cents,
      Seq.fill(cents.size)(0.0), 1), 1)

  /** Build the IVF index: deterministic seed directions refined by one
    * distributed Lloyd iteration, then every candidate assigned to its
    * nearest centroid's inverted list. The only collect is the nCells x dim
    * centroid matrix.
    */
  import org.apache.spark.sql.types.{StructType, StructField, IntegerType,
    LongType, DoubleType, ArrayType}

  /** The persisted IVF/IVF-PQ tables' schemas, supplied to every read
    * (r18): the writers pin these shapes, and a schema-less
    * `spark.read.parquet` runs a one-task footer-inference job per call —
    * the lifecycle queries pay several. `cell` is the partition directory
    * column; a post-purge `ensureReadable` flat file stores it inline
    * with the same type, so the supplied schema matches both layouts.
    */
  private val ivfListsSchema = StructType(Seq(
    StructField("cell", IntegerType), StructField("vec_id", LongType),
    StructField("c_vec", ArrayType(DoubleType))))
  private val ivfPqListsSchema = StructType(Seq(
    StructField("cell", IntegerType), StructField("vec_id", LongType),
    StructField("code", ArrayType(IntegerType))))
  private val centroidsSchema = StructType(Seq(
    StructField("cell", IntegerType),
    StructField("centroid", ArrayType(DoubleType))))
  private val codebooksSchema = StructType(Seq(
    StructField("s", IntegerType), StructField("cell", IntegerType),
    StructField("centroid", ArrayType(DoubleType))))

  // the explicit select pins COLUMN ORDER: even with a supplied schema,
  // Spark appends partition columns (cell) after the data columns, and
  // loaded-lists consumers (probe internals, specs) access positionally
  private def readIvfLists(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.schema(ivfListsSchema).parquet(path)
      .select(col("cell"), col("vec_id"), col("c_vec"))
  private def readIvfPqLists(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.schema(ivfPqListsSchema).parquet(path)
      .select(col("cell"), col("vec_id"), col("code"))

  def buildIvfIndex(candidates: DataFrame, nCells: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    import org.apache.spark.sql.Row
    val seeds = Vec.planes(nCells, dim) // deterministic unit-ish directions
    val spark = candidates.sparkSession
    val c0 = candidates.select(col(idCol), Vec.asDouble(col(vecCol)).as("v"))
    // one Lloyd iteration: assign to seed cells, recompute centroids
    val assigned = c0.withColumn("cell", nearestCell(spark, col("v"), seeds))
    val centroids: Map[Int, Seq[Double]] = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("cell", "d").agg(avg("x").as("m"))
      .groupBy("cell").agg(sort_array(collect_list(struct(col("d"), col("m")))).as("c"))
      .collect()
      .map { r: Row =>
        r.getInt(0) -> r.getSeq[Row](1).map(_.getDouble(1)).toSeq
      }.toMap
    val cents = (0 until nCells).map(i => centroids.getOrElse(i, seeds(i)))
    val lists = c0.withColumn("cell", nearestCell(spark, col("v"), cents))
      .select(col("cell"), col(idCol).as("vec_id"), col("v").as("c_vec"))
    IvfIndex(cents, lists)
  }

  /** Persist an index: inverted lists as parquet partitioned by cell
    * (probe-time partition pruning), centroids as a tiny parquet table.
    */
  def saveIvfIndex(index: IvfIndex, dir: String): Unit = {
    val spark = index.lists.sparkSession
    // resolve even on save: re-saving into a dir a compaction has
    // versioned must overwrite the LIVE table, not a shadowed legacy path
    writeLists(index.lists, IndexFiles.tablePath(spark, dir, "lists"))
    writeCentroids(spark, index.centroids, s"$dir/centroids")
  }

  /** Write inverted lists partitioned by cell. Repartition on the
    * partition column first: each cell's rows land in exactly one task, so
    * every cell directory holds ONE file instead of one per (task x cell)
    * — at nCells ~ 1000 an unshuffled write from a 32-partition frame
    * would scatter ~32k small files.
    */
  private def writeLists(lists: DataFrame, path: String): Unit = {
    listsWriter(lists).mode("overwrite").parquet(path)
    // full-purge safety: an empty overwrite must stay readable
    IndexFiles.ensureReadable(lists, path)
  }

  private def listsWriter(lists: DataFrame) =
    lists.repartition(col("cell")).write.partitionBy("cell")

  /** The live quantizer of an index dir whose lists version resolved to
    * `lists`: the centroids a retrain or rewrite embedded in that
    * version, else the initial-save `<dir>/centroids`
    * ([[IndexFiles.liveArtifact]]).
    */
  private def liveCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String, lists: String): Seq[Seq[Double]] =
    readCentroids(spark, IndexFiles.liveArtifact(spark, dir, lists, "centroids"))

  /** The list rewrites re-embed the live quantizer in the new version: a
    * compaction or delete after a retrain must not strand the retrained
    * centroids in the pruned old version and silently fall back to the
    * stale initial-save table.
    */
  private def carryCentroids(spark: org.apache.spark.sql.SparkSession) =
    IndexFiles.Carry("centroids",
      (from, to) => writeCentroids(spark, readCentroids(spark, from), to))

  /** Append new vectors to a persisted IVF index without rebuilding:
    * assign against the SAVED centroids (the quantizer is frozen — the
    * serve contract that lets a long-lived index ingest daily batches
    * while amortizing its build) and append the rows into the existing
    * cell partitions (one new file per touched cell; untouched cells'
    * files are not rewritten). A subsequent [[loadIvfIndex]] +
    * [[probeIvf]] sees old and new vectors identically — and because
    * every vector still lives in exactly one cell, the probe-all ≡
    * brute-force identity (q56c/q56f) holds across appends for ANY
    * centroid set.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newVecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val c0 = newVecs.select(col(idCol), Vec.asDouble(col(vecCol)).as("v"))
    // single-writer contract, enforced: an append racing a compaction's
    // rewrite of the same lists table aborts loudly (IndexFiles doc).
    // The quantizer is read INSIDE the lease: centroids live with the
    // lists version, so reading them before it could assign this batch
    // under a quantizer a concurrent retrain just replaced — appended
    // rows would sit in cells the LIVE quantizer never probes.
    IndexFiles.fencedWrite(spark, dir, "lists", "ivf.append") {
      val cents = liveCentroids(spark, dir,
        IndexFiles.tablePath(spark, dir, "lists"))
      listsWriter(c0.withColumn("cell", nearestCell(spark, col("v"), cents))
        .select(col("cell"), col(idCol).as("vec_id"), col("v").as("c_vec")))
    }
  }

  /** Re-train the coarse quantizer from the index's CURRENT contents and
    * re-partition the inverted lists — the REBALANCE a long-lived index
    * needs once the data distribution drifts from the frozen build-time
    * centroids: appends assign to the nearest OLD centroid, so a new
    * content mode (a model-version change upstream, a new language)
    * piles into whichever cell happens to be least-far away, and that
    * mega-cell skews every probe task that touches it. Correctness never
    * depends on the quantizer (probe-all ≡ brute force for ANY centroid
    * set — the q56c identity, re-gated post-retrain by q95); what
    * re-training buys is balanced cells = balanced probe partitions, and
    * optionally a LARGER `nCells` as the corpus grows (cell count should
    * track sqrt(N)).
    *
    * Atomicity: the new centroids are written INSIDE the new lists
    * version (`_centroids` — Spark ignores underscore-prefixed paths, so
    * the lists scan never sees it) and the pair cuts over under the ONE
    * lists-manifest publish. A reader racing the retrain resolves either
    * (old centroids, old assignment) or (new centroids, new assignment),
    * never a mix — the invariant "every vector lives in the cell its
    * live quantizer assigns" that static cell pruning relies on.
    *
    * IVF-PQ indexes are NOT retrainable this way: their lists hold PQ
    * codes, not float vectors, so re-assignment would need the original
    * corpus (and re-training the codebooks would invalidate every stored
    * code) — rebuild from source instead.
    */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, nCells: Option[Int] = None): Unit =
    IndexFiles.writeNextVersion(spark, dir, "lists") { next =>
      // load INSIDE the lease (the IndexFiles read-under-lease rule): a
      // version resolved before it could predate an append/compact that
      // committed in between, silently reverting those rows
      val idx = loadIvfIndex(spark, dir)
      val n = nCells.getOrElse(idx.centroids.size)
      val rebuilt = buildIvfIndex(
        idx.lists.select(col("vec_id"), col("c_vec").as("embedding")),
        n, idx.centroids.head.size)
      writeLists(rebuilt.lists, next)
      writeCentroids(spark, rebuilt.centroids, s"$next/_centroids")
    }

  /** Compact the saved inverted lists back to one file per cell — the
    * maintenance pass a daily-append index needs (each [[appendToIvfIndex]]
    * adds a file per touched cell; after hundreds of appends the
    * partition-pruned probe pays file-listing/open overhead instead of
    * winning by it). Row-identical by default; `dedupeRows = true`
    * additionally drops byte-identical duplicate rows — the repair for
    * an at-least-once streaming replay that re-appended a micro-batch.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, dedupeRows: Boolean = false): Unit = {
    // IVF-aware compact: the live quantizer is re-embedded in the
    // compacted version (carryCentroids), resolved with the rows INSIDE
    // the lease — resolving before it could pair this rewrite with a
    // version (or centroids) a concurrent retrain/delete just replaced,
    // reverting that writer's work.
    IndexFiles.rewriteRows(spark, dir, "lists", Some(ivfListsSchema),
      Some("cell"), carry = Some(carryCentroids(spark)))(
      IndexFiles.keepRows(dedupeRows))
    IndexFiles.compactLedgers(spark, dir)
  }

  /** DELETE vectors from a persisted IVF index — the takedown maintenance
    * path ([[graft.operators.Retrieval.deleteFromIndex]]'s vector twin):
    * the inverted lists are rewritten minus the deleted ids (distributed
    * anti-join; `vecIds` never transits the driver) and published through
    * the zero-downtime versioned swap, with the live quantizer re-embedded
    * in the new version (the [[compactIvfIndex]] discipline — a delete
    * after a retrain must not strand the retrained centroids). The
    * quantizer itself is untouched: cell assignment depends only on the
    * centroids, so remaining vectors stay in their cells and every probe
    * identity (probe-all ≡ brute force over the SURVIVING corpus) holds
    * — the q98 oracle gate. A deleted vector stops matching at the one
    * manifest cutover; no tombstone filtering on the serve path.
    */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecIds: DataFrame, idCol: String = "vec_id"): Unit = {
    val del = vecIds.select(col(idCol).cast("long").as("vec_id")).distinct()
    // quantizer + rows resolved INSIDE the lease (see compactIvfIndex)
    IndexFiles.rewriteRows(spark, dir, "lists", Some(ivfListsSchema),
      Some("cell"), carry = Some(carryCentroids(spark)))(
      _.join(del, Seq("vec_id"), "left_anti"))
  }

  /** MERGE another persisted IVF index into this one — the shard-union
    * maintenance path ([[graft.operators.Retrieval.mergeIndexes]]'s
    * vector twin): embedding corpora indexed independently (per region,
    * per backfill, per acquisition) become one servable index. The
    * inverted lists store full vectors, so `from`'s rows are simply
    * RE-ASSIGNED under `into`'s live quantizer and appended into its
    * cell partitions (the [[appendToIvfIndex]] path — `from`'s own
    * centroids are discarded: cell assignment must be per-index-global
    * or the static cell pruning serves wrong candidates). Correctness
    * never depends on the quantizer (probe-all ≡ brute force over the
    * union for ANY centroid set — the q100 oracle identity); what the
    * merged quantizer affects is balance, so a large merge may warrant a
    * follow-up [[retrainIvfIndex]], exactly as for drift. `from` is
    * read-only throughout; duplicate vec_ids are the caller's contract
    * (same as append).
    */
  def mergeIvfIndexes(spark: org.apache.spark.sql.SparkSession,
      into: String, from: String): Unit =
    appendToIvfIndex(spark, into,
      readIvfLists(spark, IndexFiles.tablePath(spark, from, "lists"))
        .select(col("vec_id"), col("c_vec")),
      idCol = "vec_id", vecCol = "c_vec")

  /** Batch-vs-persisted-index embedding near-dup matches — the vector
    * analog of [[graft.operators.Dedup.matchesAgainstLshIndex]]: each
    * batch vector's ANN nearest neighbor over the saved inverted lists
    * (static cell pruning via [[probeIvf]]; the batch stays a distributed
    * frame, so an arbitrarily large daily-ingest batch never transits the
    * driver). A batch id colliding with an indexed id is treated as the
    * same vector and never matches itself. Output: (batch_id, dup_of,
    * cosine) — top-1 per batch vector; threshold downstream
    * ([[dedupBatchAgainstIvfIndex]]).
    */
  def matchesAgainstIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, nProbe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      scope: CacheScope = CacheScope.session): DataFrame =
    probeIvf(loadIvfIndex(spark, dir), batch, k = 1, nProbe, idCol, vecCol,
        scope)
      .select(col("q_id").as("batch_id"), col("vec_id").as("dup_of"),
        col("cosine"))

  /** The batch rows surviving incremental embedding dedup against a
    * persisted IVF index: anti-join of the batch against its
    * &gt;= `cosineThreshold` nearest-neighbor matches — SemDeDup's drop
    * rule served from the ANN index instead of a corpus self-join.
    * Typical ingest loop: survivors -> [[appendToIvfIndex]] -> vector
    * corpus sink ([[graft.streaming.StreamingOps.ingestVectorsBatch]]).
    */
  def dedupBatchAgainstIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, cosineThreshold: Double = 0.99,
      nProbe: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding",
      scope: CacheScope = CacheScope.session): DataFrame = {
    // EXISTENCE probe, not top-1: a batch vector drops iff ANY probed
    // candidate reaches the threshold, which is exactly "ANN top-1 >=
    // threshold" over the same candidate set — but as a filter + distinct
    // instead of a full rank window, so no per-candidate row ever
    // shuffles for sorting (the window form paid a sort over |batch| x
    // |probed lists| rows; on the 100k-vector bench this is the
    // difference between 21.8 s and ~2 s for a 10.9k-vector batch).
    val dups = probeCandidates(loadIvfIndex(spark, dir), batch, nProbe,
        idCol, vecCol, scope)
      .where(graft.plans.NativeDot.cosineCol(spark,
        col("q_vec"), col("c_vec")) >= cosineThreshold)
      .select(col("q_id").as(idCol)).distinct()
    batch.join(dups, Seq(idCol), "left_anti")
  }

  /** Land a small driver-readable text sidecar next to a tiny artifact
    * table (r18): reading a one-file parquet still costs a one-task Spark
    * job, and the lifecycle verbs re-read the quantizer / codebooks
    * several times per operation. Written atomically
    * ([[IndexFiles.writeSmallFile]]); the parquet stays the durable
    * format and the fallback for pre-sidecar indexes. Doubles are encoded
    * as raw IEEE-754 long bits (hex), so the round-trip is bit-exact by
    * construction.
    */
  private def writeSidecar(spark: org.apache.spark.sql.SparkSession,
      path: String, name: String, text: String): Unit =
    IndexFiles.writeSmallFile(IndexFiles.fsFor(spark, path), path, name,
      text, required = false)

  private def readSidecar(spark: org.apache.spark.sql.SparkSession,
      path: String, name: String): Option[String] =
    IndexFiles.readSmallFile(IndexFiles.fsFor(spark, path), path, name)

  private def hexRow(c: Seq[Double]): String =
    c.map(d => java.lang.Long.toHexString(
      java.lang.Double.doubleToRawLongBits(d))).mkString(",")
  private def unhexRow(line: String): Seq[Double] =
    line.split(",").toSeq.map(h =>
      java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(h, 16)))

  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[Seq[Double]], path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
    // line i = cell i, doubles as raw bits — dense by construction
    writeSidecar(spark, path, "_centroids.txt", cents.map(hexRow).mkString("\n"))
  }

  /** Read a persisted centroid table, enforcing the dense 0..n-1 cell-id
    * contract: [[saveIvfIndex]] always writes all nCells rows, so a gap
    * means a corrupt or partially-written table — fail with the contract
    * spelled out rather than a bare NoSuchElementException from the dense
    * re-index.
    */
  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Double]] = {
    // sidecar first (one FS read, bit-exact, no Spark job); parquet
    // fallback for pre-sidecar indexes. Validated like the codebooks
    // sidecar (r19): a corrupt or hand-edited file would otherwise yield
    // ragged or empty centroids that only surface later as confusing
    // probe errors — require non-empty and uniform row width, with the
    // dense 0..n-1 cell-id contract holding by line order.
    readSidecar(spark, path, "_centroids.txt").foreach { txt =>
      val cents = txt.split("\n").toSeq.map(unhexRow)
      require(cents.nonEmpty && cents.forall(_.size == cents.head.size),
        s"centroids sidecar at $path is torn: expected non-empty " +
          "uniform-width rows (one hex row per cell, line i = cell i); " +
          "delete the sidecar to fall back to the parquet table")
      return cents
    }
    val cents = spark.read.schema(centroidsSchema).parquet(path)
      .orderBy("cell").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
    (0 until cents.size).foreach { i =>
      require(cents.contains(i),
        s"IVF centroid table at $path is missing cell $i (have " +
        s"${cents.size} rows, expected a dense 0..${cents.size - 1} id " +
        "range) — the index is corrupt or was partially written")
    }
    (0 until cents.size).map(cents)
  }

  /** Load a saved index. The probe over a loaded index reads only the
    * probed cells' files (parquet partition pruning on `cell`). The lists
    * path resolves through the version manifest, so a load racing a
    * compaction cutover reads a fully-intact table (old or new).
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex = {
    val lists = IndexFiles.tablePath(spark, dir, "lists")
    IvfIndex(liveCentroids(spark, dir, lists), readIvfLists(spark, lists))
  }

  /** The exploded (q_id, q_vec, cell) probe frame [[probeIvf]] joins —
    * exposed so tests can recompute the exact probed-cell set and hold
    * the scan-pruning metrics to it (one shared derivation, no drift).
    */
  private[graft] def probeCells(index: IvfIndex, queries: DataFrame,
      nProbe: Int, idCol: String, vecCol: String): DataFrame =
    probeCellsOf(index.centroids, queries, nProbe, idCol, vecCol)

  private def probeCellsOf(cents: Seq[Seq[Double]], queries: DataFrame,
      nProbe: Int, idCol: String, vecCol: String): DataFrame = {
    // same native top-cells expression as the build-side assignment,
    // p = nProbe: the returned cells are already in descending score
    // order (descending array_sort tie rule), matching the previous
    // slice(reverse(array_sort(...))) form cell-for-cell
    val probed = graft.plans.NativeTopCells.topCellsCol(queries.sparkSession,
      col("q_vec"), 0, cents, Seq.fill(cents.size)(0.0), nProbe)
    queries.select(col(idCol).as("q_id"),
        Vec.asDouble(col(vecCol)).as("q_vec"))
      .withColumn("cell", explode(probed))
  }

  /** Parallelism floor for the scoring join (r18, guide §2.6/§6): when
    * the probed lists are small enough that AQE broadcasts them, the
    * scoring stage inherits the exploded batch frame's partitioning — and
    * a batch read from a handful of parquet files arrives in 1-2
    * partitions, so the per-candidate cosine/ADC scan (the probe's only
    * heavy stage) ran 2-wide on a 32-core host. Spreading the exploded
    * batch by (q_id, cell) up to the session's default parallelism is
    * scale-adaptive: a corpus-scale ingest batch already exceeds the
    * floor and is left untouched (no added exchange), while a
    * file-count-bound batch fans out to the cores. Hash keys, never
    * round-robin: deterministic under task retry (guide §2.5), and
    * (q_id, cell) is exactly the probe's work unit.
    *
    * MUST be called only on the PERSISTED AND ALREADY-MATERIALIZED
    * exploded frame (r19): the partition-count probe (`.rdd`) builds the
    * physical plan, and under AQE that materializes every shuffle stage
    * of an UNCACHED plan — the r18 placement (inside [[probeCellsOf]],
    * before the caller's persist) silently re-executed the whole
    * batch-preparation subtree once per probe, ~1.7x on the vector
    * ingest path (streamingest A/B). On a materialized cache the probe
    * reads the cached RDD's partition count with no job. An unpersisted
    * frame fails the `require`, so a new call site cannot silently bring
    * the double execution back.
    */
  private[graft] def spreadForScoring(qExplodedCached: DataFrame): DataFrame = {
    require(qExplodedCached.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "spreadForScoring needs a persisted, materialized frame: probing an " +
        "unpersisted plan's partitions re-executes its whole subtree")
    val par = qExplodedCached.sparkSession.sparkContext.defaultParallelism
    if (qExplodedCached.rdd.getNumPartitions < par)
      qExplodedCached.repartition(par, col("q_id"), col("cell"))
    else qExplodedCached
  }

  /** The (cell, vec_id, c_vec, q_id, q_vec) candidate rows a probe
    * scores: the query batch exploded to its nProbe cells (persisted —
    * one materialization feeds both the cell-id collect and the join),
    * statically pruned lists, the cell equi-join, self-matches excluded.
    * Shared by [[probeIvf]] (rank on top) and
    * [[dedupBatchAgainstIvfIndex]] (threshold filter on top — IDENTICAL
    * candidate set, so "any candidate >= threshold" there is provably
    * "top-1 >= threshold" here). The persisted batch frame is tracked in
    * `scope`; the caller releases it after its sink materializes.
    */
  private def probeCandidates(index: IvfIndex, queries: DataFrame,
      nProbe: Int, idCol: String, vecCol: String,
      scope: CacheScope): DataFrame = {
    val qExploded = scope.persist(
      probeCells(index, queries, nProbe, idCol, vecCol))
    // the ONLY collect: distinct probed cell ids, bounded by nCells —
    // this action also materializes the persisted batch frame, freezing a
    // non-deterministic source before the join reads it
    val probedCells = qExploded.select("cell").distinct()
      .collect().map(_.getInt(0))
    // skip the IN filter on a probe-all batch (e.g. the q56c identity),
    // where it prunes nothing and only costs plan/codegen surface
    val lists =
      if (probedCells.length < index.centroids.size)
        index.lists.where(col("cell").isin(probedCells.map(Int.box).toSeq: _*))
      else index.lists
    // spread AFTER the collect materialized the cache (see spreadForScoring)
    lists.join(spreadForScoring(qExploded), "cell")
      .where(col("vec_id") =!= col("q_id"))
  }

  /** Probe a built/loaded index: each query searches its nProbe closest
    * cells (multi-probe), exact cosine within them.
    *
    * The probed cell set is computed up front with one tiny job (the
    * collect is the DISTINCT cell ids only — bounded by nCells, never by
    * the batch size) and pushed as a STATIC `cell IN (...)` partition
    * filter on the inverted lists — a loaded index's probe lists and
    * reads only those cells' files at scan planning time, with no
    * reliance on the dynamic-partition-pruning planner heuristics (AQE
    * drops DPP when it judges the broadcast non-reusable, which would
    * silently regress the probe to a full index scan).
    *
    * The query batch itself stays DISTRIBUTED: the exploded (q_id, q_vec,
    * cell) frame is persisted (materialized ONCE by the cell-id collect,
    * so a non-deterministic source — sample/rand/an uncached shuffle —
    * cannot produce a cell filter that disagrees with the join's cells)
    * and joined as a DataFrame, with AQE choosing broadcast for the
    * serve-sized batch and a shuffled join for a corpus-sized ingest
    * batch — the same shape as [[graft.operators.Dedup.matchesAgainstLshIndex]],
    * so a 100-TB pipeline's daily batch never rides through the driver.
    * The candidate-side plan stays lazy.
    */
  def probeIvf(index: IvfIndex, queries: DataFrame, k: Int, nProbe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      scope: CacheScope = CacheScope.session): DataFrame = {
    val scored = probeCandidates(index, queries, nProbe, idCol, vecCol,
        scope)
      .withColumn("cosine", graft.plans.NativeDot.cosineCol(
        queries.sparkSession, col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "vec_id", "rank", "cosine")
  }

  /** IVF-style ANN: a coarse quantizer (deterministic seed directions
    * refined by one distributed Lloyd iteration) assigns every vector to a
    * cell; search runs only inside the query's cell — the inverted-list
    * scale path where `cell` becomes the partition key at 100 TB. Exact
    * brute force within the probed cell; recall trades off with nCells.
    * One-shot form of [[buildIvfIndex]] + [[probeIvf]].
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      nCells: Int, dim: Int, nProbe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    probeIvf(buildIvfIndex(candidates, nCells, dim, idCol, vecCol),
      queries, k, nProbe, idCol, vecCol)

  /** Product-quantization codebooks: `m` subspaces of `dsub` dims, `ksub`
    * centroids each — m*ksub*dsub doubles total (e.g. 8x16x8 = 1 KB for
    * 64-dim vectors), driver-held and entering probe plans as literals.
    * Encoded vectors store m small ints instead of dim floats: 64x4 B ->
    * 8 B per vector, the compression that keeps a 100 TB embedding corpus'
    * index in cluster memory.
    */
  final case class PqCodebooks(m: Int, ksub: Int, dsub: Int,
      centroids: Seq[Seq[Seq[Double]]])

  /** The s-th subvector (1-indexed slice) of a vector column. */
  private def subVec(v: org.apache.spark.sql.Column, s: Int, dsub: Int) =
    slice(v, s * dsub + 1, dsub)

  /** Windowed sequential dot: folds `c` against the n-length window of
    * `v` starting at 1-based offset `off`+1, via element_at lookups over
    * a constant index sequence (Catalyst folds it to one literal array).
    * Same left-to-right accumulation order as [[Vec.dot]], but zero
    * per-evaluation allocation — CRITICAL: `v` must be a bound attribute
    * (or constant), never a slice/transform expression, because
    * element_at re-evaluates its array argument in full on every lookup.
    */
  private def dotOff(v: org.apache.spark.sql.Column,
      off: org.apache.spark.sql.Column,
      c: org.apache.spark.sql.Column, n: Int) =
    aggregate(sequence(lit(1), lit(n)), lit(0.0),
      (acc, j) => acc + element_at(v, j + off) * element_at(c, j))

  /** Nearest centroid of the subspace whose window starts at `off` (0-based
    * element offset into the full vector attribute `v`): argmin ||x-c||^2
    * = argmax (x.c - ||c||^2/2), via the native codegen expression
    * [[graft.plans.NativeTopCells]] with the precomputed ||c||^2/2 bias
    * vector — O(1) generated-code size in ksub (an unrolled per-centroid
    * form blows past the JVM method-size codegen limit at ksub=256 and
    * falls back to ~100x slower interpreted eval; the prior
    * transform-HOF form survived codegen but paid interpreted
    * CodegenFallback dispatch per (centroid, dim) element on every row).
    * Scores and the larger-cell tie rule are bit-identical to both.
    */
  private def nearestSubCell(spark: org.apache.spark.sql.SparkSession,
      v: org.apache.spark.sql.Column, off: Int, cents: Seq[Seq[Double]]) =
    element_at(graft.plans.NativeTopCells.topCellsCol(spark, v, off, cents,
      cents.map(c => c.map(x => x * x).sum / 2.0), 1), 1)

  /** Train PQ codebooks: deterministic seed directions per subspace
    * refined by `iters` distributed Lloyd iterations (same recipe as
    * [[buildIvfIndex]], per subspace). One pass over the data per
    * iteration trains ALL subspaces — the explode is over the tiny
    * (subspace, dim) grid, not the corpus — and the only collect is the
    * m x ksub x dsub centroid tensor (e.g. 8x256x8 = 16k doubles).
    */
  def trainPq(candidates: DataFrame, m: Int, ksub: Int, dim: Int,
      vecCol: String = "embedding", iters: Int = 3): PqCodebooks = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    var cents = (0 until m).map(s =>
      Vec.planes(ksub, dsub + 1).map(_.drop(1)).map(p =>
        p.map(x => x * (s + 1) / m.toDouble))) // distinct seeds per subspace
    CacheScope.using { scope =>
      val c0 = scope.persist(
        candidates.select(Vec.asDouble(col(vecCol)).as("v")))
      for (_ <- 0 until iters) {
        // one row per (vector, subspace): assign, then mean per (s, cell, pos)
        val assigned = c0.select(explode(array((0 until m).map { s =>
          struct(lit(s).as("s"), subVec(col("v"), s, dsub).as("sv"),
            nearestSubCell(candidates.sparkSession, col("v"), s * dsub,
              cents(s)).as("cell"))
        }: _*)).as("a")).select(col("a.s"), col("a.sv"), col("a.cell"))
        val means = assigned
          .select(col("s"), col("cell"), posexplode(col("sv")).as(Seq("d", "x")))
          .groupBy("s", "cell", "d").agg(avg("x").as("mu"))
          .groupBy("s", "cell")
          .agg(sort_array(collect_list(struct(col("d"), col("mu")))).as("c"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) ->
            r.getSeq[org.apache.spark.sql.Row](2).map(_.getDouble(1)).toSeq)
          .toMap
        cents = (0 until m).map(s => (0 until ksub).map(c =>
          means.getOrElse((s, c), cents(s)(c))))
      }
      PqCodebooks(m, ksub, dsub, cents)
    }
  }

  /** Encode vectors to PQ codes: array of m centroid indices. Two-step
    * select so the double-cast vector is a bound attribute inside the
    * per-subspace argmax (CollapseProject keeps non-cheap multi-referenced
    * expressions materialized, so the cast runs once per row, not once per
    * element lookup).
    */
  def pqEncode(df: DataFrame, cb: PqCodebooks,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol).as("vec_id"), Vec.asDouble(col(vecCol)).as("__v"))
      .select(col("vec_id"),
        array((0 until cb.m).map(s =>
          nearestSubCell(df.sparkSession, col("__v"), s * cb.dsub,
            cb.centroids(s))): _*)
          .as("code"))

  /** PQ top-k by asymmetric distance computation (ADC): each query builds
    * its m x ksub dot-product lookup table ONCE (against the exact query
    * vector), then every candidate scores with m array lookups instead of
    * a dim-length dot — the scan cost that makes compressed-domain search
    * linear in codes, not floats. Approximate by construction; compose
    * with an exact rerank of the shortlist ([[pqTopKRerank]]) for the
    * production shape.
    */
  /** The per-query ADC lookup table: flat (s * ksub + c) -> dot(query
    * subvector, centroid) — built ONCE per query row against a flat
    * centroid literal matrix, looped at runtime so the table-build
    * expression is O(1) in m*ksub (codegen-safe). `qv` must be a bound
    * attribute (the [[dotOff]] contract).
    */
  private def adcTable(cb: PqCodebooks,
      qv: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val flat = typedlit(
      (0 until cb.m).flatMap(s => cb.centroids(s)).map(_.toArray).toArray)
    transform(sequence(lit(0), lit(cb.m * cb.ksub - 1)), i => {
      val s = floor(i.cast("double") / cb.ksub).cast("int")
      dotOff(qv, s * cb.dsub, element_at(flat, i + 1), cb.dsub)
    })
  }

  /** Sum of the m table lookups a candidate's code selects — the ADC
    * approximation of dot(query, candidate).
    */
  private def adcScore(cb: PqCodebooks): org.apache.spark.sql.Column =
    (0 until cb.m).map(s =>
      element_at(col("tbl"),
        (lit(s * cb.ksub) + element_at(col("code"), s + 1) + 1).cast("int")))
      .reduce(_ + _)

  def pqTopK(queries: DataFrame, codes: DataFrame, k: Int, cb: PqCodebooks,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("q_id"), Vec.asDouble(col(vecCol)).as("__qv"))
      .select(col("q_id"), adcTable(cb, col("__qv")).as("tbl")))
    val approx = adcScore(cb)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    codes.crossJoin(q)
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("approx_dot", approx)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "vec_id", "rank", "approx_dot")
  }

  /** Persist a PQ index — the build-once/probe-many shape that lets a
    * multi-minute corpus encode amortize across sessions (mirror of
    * [[saveIvfIndex]]): codes as parquet (m small ints per vector — the
    * compact artifact every later query batch scans), codebooks as a tiny
    * (subspace, cell, centroid) parquet table. Codebook doubles round-trip
    * parquet bit-exactly, so a loaded index reranks identically.
    */
  def savePqIndex(cb: PqCodebooks, codes: DataFrame, dir: String): Unit = {
    codes.write.mode("overwrite")
      .parquet(IndexFiles.tablePath(codes.sparkSession, dir, "codes"))
    writeCodebooks(codes.sparkSession, cb, s"$dir/codebooks")
  }

  private def writeCodebooks(spark: org.apache.spark.sql.SparkSession,
      cb: PqCodebooks, path: String): Unit = {
    import spark.implicits._
    (for (s <- 0 until cb.m; c <- 0 until cb.ksub)
      yield (s, c, cb.centroids(s)(c)))
      .toDF("s", "cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
    // header "m,ksub", then one line per (s, cell) in row-major order
    writeSidecar(spark, path, "_codebooks.txt",
      (s"${cb.m},${cb.ksub}" +:
        cb.centroids.flatten.map(hexRow)).mkString("\n"))
  }

  /** Read a persisted codebook table; shape (m, ksub, dsub) is recovered
    * from the table itself.
    */
  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): PqCodebooks = {
    // sidecar first (one FS read, bit-exact, no Spark job)
    readSidecar(spark, path, "_codebooks.txt").foreach { txt =>
      val lines = txt.split("\n")
      val Array(m, ksub) = lines.head.split(",").map(_.toInt)
      val cents = lines.tail.toSeq.map(unhexRow)
        .grouped(ksub).toSeq.map(_.toSeq)
      require(cents.size == m && cents.forall(_.size == ksub),
        s"codebooks sidecar at $path is torn: expected $m x $ksub")
      return PqCodebooks(m, ksub, cents.head.head.size, cents)
    }
    val rows = spark.read.schema(codebooksSchema).parquet(path)
      .orderBy("s", "cell").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val byKey = rows.map(r => (r._1, r._2) -> r._3).toMap
    val cents = (0 until m).map(s => (0 until ksub).map(c => byKey((s, c))))
    PqCodebooks(m, ksub, cents.head.head.size, cents)
  }

  /** Load a saved PQ index: (codebooks, codes). */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (PqCodebooks, DataFrame) =
    (readCodebooks(spark, s"$dir/codebooks"),
      spark.read.parquet(IndexFiles.tablePath(spark, dir, "codes")))

  /** PQ shortlist + exact rerank: ADC narrows the corpus to `shortlist`
    * candidates per query, then the exact cosine runs only on those —
    * compressed-domain scan over everything, float reads for a few dozen
    * rows. Output matches [[bruteForceTopK]]'s schema.
    */
  def pqTopKRerank(queries: DataFrame, candidates: DataFrame, k: Int,
      cb: PqCodebooks, shortlist: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqTopKRerankCodes(queries, pqEncode(candidates, cb, idCol, vecCol),
      candidates, k, cb, shortlist, idCol, vecCol)

  /** [[pqTopKRerank]] against pre-encoded (persisted) codes — the
    * build-once/probe-many shape: encode the corpus one time, serve every
    * query batch from the compact codes, touch float vectors only for the
    * shortlist rows. This is the variant a long-lived index uses.
    */
  def pqTopKRerankCodes(queries: DataFrame, codes: DataFrame,
      candidates: DataFrame, k: Int, cb: PqCodebooks, shortlist: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rerankExact(pqTopK(queries, codes, shortlist, cb, idCol, vecCol)
      .select(col("q_id"), col("vec_id")), queries, candidates, k,
      idCol, vecCol)

  /** Exact-cosine rerank of a (q_id, vec_id) shortlist: float vectors are
    * read only for the shortlist rows (the join narrows the candidate
    * scan), queries broadcast. Output matches [[bruteForceTopK]]'s schema.
    */
  private def rerankExact(short: DataFrame, queries: DataFrame,
      candidates: DataFrame, k: Int, idCol: String,
      vecCol: String): DataFrame = {
    val c = candidates.select(col(idCol).as("vec_id"),
      Vec.asDouble(col(vecCol)).as("c_vec"))
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      Vec.asDouble(col(vecCol)).as("q_vec")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    short.join(c, "vec_id").join(q, "q_id")
      .withColumn("cosine", graft.plans.NativeDot.cosineCol(
        queries.sparkSession, col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "vec_id", "rank", "cosine")
  }

  /** A composite IVF-PQ index — the serve structure a 100M+-vector corpus
    * actually uses (the IVFADC layout of Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the coarse
    * quantizer routes queries to nProbe cells, the inverted lists hold PQ
    * CODES (m bytes/vector, not dim floats), and the in-cell scan is the
    * compressed-domain ADC lookup. IVF alone ([[IvfIndex]]) reads full
    * float lists; PQ alone ([[pqTopKRerankCodes]]) scans every code; the
    * composite prunes to the probed cells' partitions AND scans them in
    * the compressed domain — at 100 TB the lists are the only large
    * artifact and `cell` is their partition key.
    *
    * `lists`: (cell, vec_id, code). Centroids and codebooks are tiny,
    * driver-held, and enter probe plans as literals.
    */
  final case class IvfPqIndex(centroids: Seq[Seq[Double]], cb: PqCodebooks,
      lists: DataFrame)

  /** Build the composite index: IVF coarse quantizer (one Lloyd
    * iteration) + PQ codebooks ([[trainPq]]), then every candidate lands
    * in its nearest cell's list carrying its m-slot PQ code. Codes are
    * computed on the assigned frame's bound `c_vec` attribute (the
    * [[dotOff]] contract; multi-referenced non-cheap projections stay
    * materialized, so the cast runs once per row).
    */
  def buildIvfPq(candidates: DataFrame, nCells: Int, dim: Int, m: Int,
      ksub: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      iters: Int = 3): IvfPqIndex = {
    val ivf = buildIvfIndex(candidates, nCells, dim, idCol, vecCol)
    val cb = trainPq(candidates, m, ksub, dim, vecCol, iters)
    val lists = ivf.lists.select(col("cell"), col("vec_id"),
      array((0 until cb.m).map(s =>
        nearestSubCell(candidates.sparkSession, col("c_vec"), s * cb.dsub,
          cb.centroids(s))): _*).as("code"))
    IvfPqIndex(ivf.centroids, cb, lists)
  }

  /** Persist the composite index: code lists partitioned by cell (the
    * probe's partition pruning works exactly as [[saveIvfIndex]]'s),
    * centroids and codebooks as tiny tables.
    */
  def saveIvfPqIndex(index: IvfPqIndex, dir: String): Unit = {
    val spark = index.lists.sparkSession
    writeLists(index.lists, IndexFiles.tablePath(spark, dir, "lists"))
    writeCentroids(spark, index.centroids, s"$dir/centroids")
    writeCodebooks(spark, index.cb, s"$dir/codebooks")
  }

  /** Compact the composite index's code lists (see [[compactIvfIndex]] —
    * same maintenance rationale; centroids/codebooks are single tiny
    * files). `dedupeRows = true` repairs an at-least-once replay.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, dedupeRows: Boolean = false): Unit = {
    IndexFiles.compact(spark, dir, "lists", Some("cell"), dedupeRows,
      schema = Some(ivfPqListsSchema))
    IndexFiles.compactLedgers(spark, dir)
  }

  /** DELETE vectors from a persisted IVF-PQ index — the
    * [[deleteFromIvfIndex]] twin for the composite layout: the code lists
    * are rewritten minus the deleted ids and cut over under the one lists
    * manifest; centroids and codebooks are untouched (both frozen — codes
    * stay valid), so probes over the survivors are unchanged (the spec's
    * delete-then-probe ≡ rebuild-on-survivors identity).
    */
  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecIds: DataFrame, idCol: String = "vec_id"): Unit = {
    val del = vecIds.select(col(idCol).cast("long").as("vec_id")).distinct()
    IndexFiles.rewriteRows(spark, dir, "lists", Some(ivfPqListsSchema),
      Some("cell"))(_.join(del, Seq("vec_id"), "left_anti"))
  }

  /** MERGE another persisted IVF-PQ index into this one. Unlike the
    * float-vector layouts, PQ codes are only meaningful under the EXACT
    * quantizer and codebooks that produced them — the lists hold codes,
    * not vectors, so re-assignment/re-encoding is impossible from the
    * index alone. The merge therefore `require`s both tiny tables equal
    * (the shard-encode pattern: train once centrally, fan the encode out
    * per shard with [[appendToIvfPqIndex]]-style jobs against copies of
    * the trained artifacts, merge the code lists back) and is then a
    * pure lists-union append into the cell partitions. Indexes trained
    * independently CANNOT be merged this way — rebuild from the source
    * vectors instead; the require makes that mistake loud, never a
    * silently-garbage ADC scan.
    */
  def mergeIvfPqIndexes(spark: org.apache.spark.sql.SparkSession,
      into: String, from: String): Unit = {
    def centroidsOf(d: String) =
      liveCentroids(spark, d, IndexFiles.tablePath(spark, d, "lists"))
    require(centroidsOf(into) == centroidsOf(from),
      "mergeIvfPqIndexes: coarse centroids differ — codes are not " +
        "transferable between independently trained IVF-PQ indexes")
    require(readCodebooks(spark, s"$into/codebooks") ==
        readCodebooks(spark, s"$from/codebooks"),
      "mergeIvfPqIndexes: PQ codebooks differ — codes are not " +
        "transferable between independently trained IVF-PQ indexes")
    IndexFiles.fencedWrite(spark, into, "lists", "ivfpq.merge")(
      listsWriter(readIvfPqLists(spark,
        IndexFiles.tablePath(spark, from, "lists"))))
  }

  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfPqIndex = {
    val lists = IndexFiles.tablePath(spark, dir, "lists")
    IvfPqIndex(liveCentroids(spark, dir, lists),
      readCodebooks(spark, s"$dir/codebooks"), readIvfPqLists(spark, lists))
  }

  /** Append new vectors to a persisted composite index: coarse-assign
    * against the saved centroids AND encode with the saved codebooks
    * (both frozen — re-training either would silently invalidate every
    * previously stored code), then append into the cell partitions.
    * Mirror of [[appendToIvfIndex]] for the IVFADC layout; the q56f
    * driver row holds the whole grown index to the brute-force identity.
    */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newVecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    // artifacts read INSIDE the lease (the appendToIvfIndex rationale:
    // centroids resolve through the lists version, and an assignment
    // under artifacts a concurrent rewrite replaced would land rows in
    // cells the live index never probes)
    IndexFiles.fencedWrite(spark, dir, "lists", "ivfpq.append") {
      val cents = liveCentroids(spark, dir,
        IndexFiles.tablePath(spark, dir, "lists"))
      val cb = readCodebooks(spark, s"$dir/codebooks")
      // two-step select keeps the double-cast vector a bound attribute
      // inside the argmax expressions (the dotOff contract, as in pqEncode)
      val assigned = newVecs
        .select(col(idCol).as("vec_id"), Vec.asDouble(col(vecCol)).as("__v"))
        .select(col("vec_id"), col("__v"),
          nearestCell(spark, col("__v"), cents).as("cell"))
      listsWriter(assigned.select(col("cell"), col("vec_id"),
        array((0 until cb.m).map(s =>
          nearestSubCell(spark, col("__v"), s * cb.dsub,
            cb.centroids(s))): _*).as("code")))
    }
  }

  /** Probe the composite index: nProbe closest cells per query (static
    * `cell IN (...)` partition filter, same one-materialization contract
    * as [[probeIvf]] — the batch stays a distributed persisted frame and
    * only the distinct cell ids transit the driver), ADC-score the probed
    * cells' codes, keep the top `shortlist` per query, exact-rerank those
    * against the float vectors. With nProbe = nCells and an unbounded
    * shortlist every candidate reaches the exact stage, so the result is
    * identical to [[bruteForceTopK]] — the q56e oracle identity.
    *
    * `candidates` supplies float vectors for the rerank only; the scan
    * over it is a shortlist-sized semi-join, not a corpus pass.
    */
  def probeIvfPq(index: IvfPqIndex, queries: DataFrame,
      candidates: DataFrame, k: Int, nProbe: Int = 3, shortlist: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      scope: CacheScope = CacheScope.session): DataFrame = {
    val qExploded = scope.persist(probeCellsOf(index.centroids, queries,
      nProbe, idCol, vecCol))
    val probedCells = qExploded.select("cell").distinct()
      .collect().map(_.getInt(0))
    // spread AFTER the collect materialized the cache (see spreadForScoring)
    val q = spreadForScoring(qExploded)
      .select(col("q_id"), col("cell"),
        adcTable(index.cb, col("q_vec")).as("tbl"))
    val lists =
      if (probedCells.length < index.centroids.size)
        index.lists.where(col("cell").isin(probedCells.map(Int.box).toSeq: _*))
      else index.lists
    val ws = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    val short = lists.join(q, "cell")
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("approx_dot", adcScore(index.cb))
      .withColumn("srank", row_number().over(ws))
      .where(col("srank") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    // rerank against the SAME materialization the shortlist derives from
    // (not a re-evaluation of `queries`): a non-deterministic source
    // cannot desync the reranked q_vec from the probed one
    val qFromProbe = qExploded
      .select(col("q_id").as(idCol), col("q_vec").as(vecCol)).distinct()
    rerankExact(short, qFromProbe, candidates, k, idCol, vecCol)
  }

  /** Default per-block cap for [[nearDupPairs]] — the analog of
    * [[Dedup.defaultMaxBucket]]: the within-block join is all-pairs, so one
    * skewed blocking key (a dominant label — the embedding-space twin of the
    * LSH boilerplate bucket) reverts the operator to O(block^2) without a
    * valve. 1000 bounds any surviving bucket at ~500k pairs. Pass
    * `maxBlock = None` to opt out.
    */
  val defaultMaxBlock: Option[Int] = Some(1000)

  /** How many sign-LSH planes [[nearDupPairs]] can split an oversized block
    * across. The count bounds WHEN the residual drop can touch diverse
    * (non-near-identical) vectors at all: by pigeonhole a block larger than
    * 2^maxSubPlanes x cap rows must leave some sub-bucket over the cap even
    * with perfectly spreading planes. At 20 planes and the default cap that
    * bound is ~10^9 rows sharing ONE blocking key — beyond it the operator
    * is the wrong tool regardless. Below it, a sub-bucket stays over the
    * cap only when its vectors agree on every sign bit, i.e. are
    * near-identical, which is the judgment call the drop encodes. Cost
    * scales linearly in planes and is paid only by rows of oversized
    * blocks (lazy `when` guard).
    */
  private val maxSubPlanes = 20

  /** Dim-agnostic sign-LSH bucket: bit h = sign of the vector's projection
    * onto a deterministic xxhash64-derived hyperplane, computed by HOF
    * (`zip_with` x position + `aggregate`) so no static `dim` is needed.
    * Interpreted lambdas make this ~10x slower per row than the codegen'd
    * [[Vec.lshBucket]]; it is only ever evaluated on rows of OVERSIZED
    * blocks (guarded by a lazy `when`), where the alternative is a
    * quadratic join.
    */
  private def signBucketDyn(v: org.apache.spark.sql.Column, nPlanes: Int) =
    (0 until nPlanes).map { h =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
          x * ((pmod(xxhash64(lit(h), i), lit(2001)) - 1000).cast("double") / 1000.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0.0, lit(1L << h)).otherwise(0L)
    }.reduce(_ + _)

  /** Embedding near-dup: top-`topPerGroup` most-similar pairs per blocking
    * key. The within-block search is all-pairs, so `maxBlock` is the scale
    * safety valve: blocks over the cap are split into sign-LSH sub-buckets
    * (near-identical vectors keep colliding, so true near-dups survive the
    * split), and any sub-bucket STILL over the cap is dropped — the same
    * judgment call as [[Dedup.defaultMaxBucket]]. Below ~2^20 x cap rows
    * per blocking key (~10^9 at the default cap) an over-cap sub-bucket
    * can only be vectors agreeing on every sign bit, i.e. near-identical
    * ones whose every pair is a trivial dup; a block LARGER than that
    * pigeonholes diverse vectors into the drop too (see [[maxSubPlanes]])
    * — at which point the blocking key itself is degenerate. Blocks at or
    * under the cap join exactly as before, so capped and uncapped results
    * agree on non-degenerate data.
    */
  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): cluster the embedding space, then drop items whose
    * cosine to a SMALLER-ID member of the same cluster reaches `threshold`
    * — the min-id representative of every semantic-duplicate set survives.
    * Output: the kept rows as (id, cluster).
    *
    * Determinism is the whole design: the k cluster "centroids" are not a
    * float iteration but the k corpus vectors with the smallest
    * hash48(salt || id) (ties by id) — reproducible across runs, engines,
    * layouts and appends exactly like [[graft.operators.Corpus.sampleByHash]]
    * — and assignment is argmax cosine over those k seed vectors with ties
    * broken by seed order. Every float op (the sequential-fold cosine, the
    * argmax when-chain) has a bit-identical mirror in the q76 oracle SQL,
    * so the full kept set hash-checks against DuckDB.
    *
    * Scale shape: seed selection is a distributed top-k (TakeOrdered — no
    * global sort) collecting k vectors to the driver (the same bounded
    * contract as IVF centroids); assignment is a narrow map — a fused
    * k-branch cosine chain for small k, switching to the O(1)-codegen
    * [[graft.plans.NativeTopCells]] argmax over unit-normalized seeds at
    * `nativeAssignFrom` (default 65), so the thousands of clusters a
    * billion-row corpus wants cost one native call per row, not a
    * k-branch expression tree; the within-cluster pair search reuses the
    * [[nearDupPairs]] blocked self-join with the same `maxBlock` valve
    * (sub-bucket split + over-cap drop), so one degenerate cluster cannot
    * go quadratic. SemDeDup's own contract — k grows with the corpus so
    * clusters stay bounded — is what keeps the blocked join linear-ish at
    * 100 TB; the valve enforces it. Bit-identical duplicates are immune
    * to the valve: an exact-collapse pre-pass (one window over the
    * (cluster, vector) key) drops all but the min id of every identical
    * group BEFORE the pair scan, so a boilerplate mass of >cap identical
    * embeddings — exactly the shape whose sub-bucket the valve excludes
    * from the quadratic scan — still dedups to one representative
    * (SemDedupBench gates on this with planted duplicates).
    */
  def semanticDedup(df: DataFrame, k: Int, threshold: Double,
      salt: String = "sem", idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxCluster: Option[Int] = defaultMaxBlock,
      nativeAssignFrom: Int = 65): DataFrame = {
    require(k > 0, s"semanticDedup: k $k must be positive")
    val base = df.select(col(idCol).as("id"),
      Vec.asDouble(col(vecCol)).as("v"))
    val seeds = base
      .withColumn("__h", Text.hash48(concat(lit(salt), col("id").cast("string"))))
      .orderBy(col("__h").asc, col("id").asc).limit(k)
      .select(col("id"), col("v")).collect()
      .map(r => r.getSeq[Double](1).toIndexedSeq)
    val assigned =
      if (seeds.length >= nativeAssignFrom) {
        // scale path: argmax cosine == argmax dot against unit-normalized
        // seeds (norm(v) is a positive per-row constant), served by the
        // O(1)-codegen [[graft.plans.NativeTopCells]] argmax — the
        // k-branch when-chain below grows the expression tree linearly in
        // k and falls out of whole-stage codegen past ~100 seeds. Tie
        // rule differs (larger seed index vs first max) — divergent only
        // on exact float ties, measure-zero for real embeddings; the
        // driver-contract q76 uses the chain path (k = 8), whose ties the
        // oracle mirrors exactly.
        val unit = seeds.map { sd =>
          val nrm = math.sqrt(sd.foldLeft(0.0)((a, x) => a + x * x))
          sd.map(_ / nrm)
        }
        base.withColumn("cluster", element_at(graft.plans.NativeTopCells
          .topCellsCol(df.sparkSession, col("v"), 0, unit.map(_.toSeq),
            Seq.fill(unit.size)(0.0), 1), 1).cast("long"))
      } else base.withColumn("cluster",
        argmaxCosine(df.sparkSession, col("v"), seeds))
    // exact-duplicate collapse BEFORE the pair scan: bit-identical vectors
    // in one cluster are cosine-1 pairs by definition, so any threshold
    // <= 1 drops all but the min id — computed as one window over the
    // (cluster, vector) key (Spark groups array columns structurally; no
    // hash-collision risk), NOT via pairs. This matters at scale: a mass
    // of >cap identical rows lands in one over-cap sign-LSH sub-bucket
    // that the maxCluster valve excludes from the pair scan — without
    // this pass the mass would survive wholesale, the opposite of what a
    // dedup operator must do with it. Scanning only the survivors below
    // keeps the result identical to the all-rows scan: every removed row
    // is bit-equal to its group's kept min id, so any >= threshold pair
    // it would have witnessed is witnessed by that (smaller-id) survivor.
    val survivors =
      if (threshold <= 1.0) {
        val wd = Window.partitionBy(col("cluster"), col("v"))
          .orderBy(col("id").asc)
        assigned.withColumn("__r", row_number().over(wd))
          .where(col("__r") === 1).drop("__r")
      } else assigned
    // pairs above threshold only — same capped blocked self-join as
    // nearDupPairs; no ranking needed for the drop rule
    val keyed = cappedBlocks(survivors.select(col("cluster").as("grp"),
      col("id"), col("v")), maxCluster)
    val a = keyed.select(col("grp"), col("sub"), col("id").as("id_a"),
      col("v").as("va"))
    val b = keyed.select(col("grp"), col("sub"), col("id").as("id_b"),
      col("v").as("vb"))
    val dropped = a.join(b, Seq("grp", "sub"))
      .where(col("id_a") < col("id_b") &&
        graft.plans.NativeDot.cosineCol(df.sparkSession,
          col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
    survivors.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cluster"))
  }

  /** Argmax-cosine cluster id over literal seed vectors, first-max-wins on
    * ties (seed order) — the [[graft.functions.Text.langIdFrom]] decision
    * idiom, mirrored in SQL by rank-over-(cosine DESC, seed ASC).
    */
  private def argmaxCosine(spark: org.apache.spark.sql.SparkSession,
      v: org.apache.spark.sql.Column,
      seeds: Seq[Seq[Double]]): org.apache.spark.sql.Column = {
    val cosines = seeds.map(sd => graft.plans.NativeDot.cosineCol(spark,
      v, array(sd.map(lit): _*)))
    val best = if (cosines.size == 1) cosines.head else greatest(cosines: _*)
    cosines.zipWithIndex.foldRight(lit(0L)) { case ((c, j), rest) =>
      when(c === best, lit(j.toLong)).otherwise(rest)
    }
  }

  /** The shared blocking stage of [[nearDupPairs]] and [[semanticDedup]]:
    * a (grp, id, v) frame keyed for the all-pairs self-join, with the
    * `maxBlock` valve applied — blocks over the cap split into sign-LSH
    * sub-buckets, sub-buckets still over the cap dropped.
    */
  private def cappedBlocks(base: DataFrame,
      maxBlock: Option[Int]): DataFrame = maxBlock match {
    case None => base.withColumn("sub", lit(0L))
    case Some(cap) =>
      val wg = Window.partitionBy(col("grp"))
      // enough planes to split this block to <= cap expected per bucket,
      // bounded by maxSubPlanes
      val bits = least(lit(maxSubPlanes),
        ceil(log(2.0, col("__n").cast("double") / cap)).cast("int"))
      val mask = pow(lit(2.0), bits.cast("double")).cast("long") - 1
      val sub = base.withColumn("__n", count(lit(1)).over(wg))
        .withColumn("sub",
          when(col("__n") <= cap, lit(0L))
            .otherwise(signBucketDyn(col("v"), maxSubPlanes).bitwiseAND(mask)))
        .drop("__n")
      // hard guarantee: a sub-bucket the planes could not split (thousands
      // of near-identical vectors) is dropped rather than joined
      val ws = Window.partitionBy(col("grp"), col("sub"))
      sub.withColumn("__sn", count(lit(1)).over(ws))
        .where(col("__sn") <= cap).drop("__sn")
  }

  def nearDupPairs(df: DataFrame, groupCol: String, topPerGroup: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBlock: Option[Int] = defaultMaxBlock): DataFrame = {
    val base = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
      Vec.asDouble(col(vecCol)).as("v"))
    val keyed = cappedBlocks(base, maxBlock)
    val a = keyed.select(col("grp"), col("sub"), col("id").as("id_a"),
      col("v").as("va"))
    val b = keyed.select(col("grp"), col("sub"), col("id").as("id_b"),
      col("v").as("vb"))
    val pairs = a.join(b, Seq("grp", "sub")).where(col("id_a") < col("id_b"))
      .withColumn("cosine", graft.plans.NativeDot.cosineCol(
        df.sparkSession, col("va"), col("vb")))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topPerGroup)
      .select(col("grp"), col("id_a"), col("id_b"), col("cosine"))
  }
}
