package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-search scale rehearsal — the ANN analog of [[CorpusBench]]:
  * synthesize N embeddings on the executors (deterministic, hash-seeded,
  * clustered so recall is meaningful), build the IVF index once, probe a
  * query sample, and report build/probe wall-clock plus measured recall@k
  * against the brute-force oracle as one JSON line.
  *
  * The corpus is drawn from `nClusters` latent directions with small
  * deterministic perturbations, so nearest neighbors are genuinely
  * concentrated (a uniform-random corpus would make every method look
  * equally bad and recall meaningless).
  * Usage: `runMain graft.operators.AnnBench [nVecs] [dim] [nProbe]`.
  */
object AnnBench {

  /** Deterministic pseudo-uniform double in [-1, 1) from (seed, j). */
  private def u(seed: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) =
    (pmod(xxhash64(seed, j), lit(1000000)).cast("double") / 500000.0) - 1.0

  /** N float embeddings: cluster center (id % nClusters) plus a +-0.15
    * per-coordinate perturbation keyed by id — pure Column algebra.
    */
  def synth(spark: SparkSession, n: Long, dim: Int, nClusters: Int): DataFrame = {
    val ds = spark.range(n)
    val center = col("id") % nClusters
    val vec = transform(sequence(lit(1), lit(dim)),
      j => (u(center, j) + u(col("id"), j) * lit(0.15)).cast("float"))
    ds.select(col("id").as("vec_id"), vec.as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000L
    val dim = if (args.length > 1) args(1).toInt else 64
    val nProbe = if (args.length > 2) args(2).toInt else 8
    graft.GraftSession.run()(bench(_, n, dim, nProbe))
  }

  private def bench(spark: SparkSession, n: Long, dim: Int,
      nProbe: Int): Unit = {
    val k = 10
    val nQueries = 50
    val nCells = math.max(4, math.sqrt(n.toDouble).toInt)

    val base = synth(spark, n, dim, nClusters = 200)
      .repartition(32).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    // query sample: vec_id = i * (step + 1) for i < nQueries — i.e. the
    // multiples of step+1 below n. A plain every-step-th stride lands
    // EVERY query in cluster 0 (step = n/50 is divisible by nClusters =
    // 200), which makes probed-cell unions unrealistically small and
    // flatters the pruned-probe numbers; the +1 staggers the sample
    // across 50 distinct clusters (step+1 is coprime to 200), the
    // diverse batch a real serve path sees. NOTE: Column `/` is DOUBLE
    // division, so the previous `% step === vec_id / step` form matched
    // only vec_id 0 — a silent ONE-query sample that flattered every
    // probe metric; `% (step+1) === 0` is exact integer arithmetic.
    val step = n / nQueries
    val queries = base.where(col("vec_id") % (step + 1) === 0)
    // the sample is load-bearing for every number this bench prints, and
    // it has silently degenerated once (the one-query DOUBLE-division
    // form above) — assert size and cluster diversity up front so a
    // regression crashes the bench instead of recording flattering metrics
    val sampled = queries.select(col("vec_id") % 200).distinct().count()
    val nSampled = queries.count()
    require(nSampled == nQueries,
      s"query sample holds $nSampled rows, expected $nQueries")
    require(sampled >= nQueries * 4 / 5,
      s"query sample spans $sampled latent clusters of $nQueries queries — " +
      "a concentrated sample flatters probed-cell unions")

    val t0 = System.nanoTime()
    val index = Similarity.buildIvfIndex(base, nCells, dim)
    index.lists.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    index.lists.count()
    val buildSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val approx = Similarity.probeIvf(index, queries, k, nProbe)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val probeSec = (System.nanoTime() - t1) / 1e9

    val t2 = System.nanoTime()
    val exact = Similarity.bruteForceTopK(queries, base, k)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val bruteSec = (System.nanoTime() - t2) / 1e9

    val exactSets = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(pairs: Array[(Long, Long)]): Double =
      pairs.count { case (q, v) =>
        exactSets.getOrElse(q, Set.empty)(v) }.toDouble / exact.length
    val recall = recallOf(approx)

    // Loaded-index probe: persist the index (parquet partitioned by cell),
    // reload, probe from disk — the serve-path shape a long-lived index
    // runs. Scan metrics from the executed plan prove the partition-
    // pruning claim: the probe must READ only the probed cells' files, not
    // the whole index. (Same-host caveat: the build just wrote these
    // files, so the page cache is warm — this measures plan shape + decode
    // cost, not spindle latency.)
    val idxDir = java.nio.file.Files.createTempDirectory("annbench_ivf").toString
    Similarity.saveIvfIndex(index, idxDir)
    def du(p: java.io.File): (Long, Long) = {
      val kids = Option(p.listFiles).getOrElse(Array.empty)
      val sub = kids.filter(_.isDirectory).map(du)
      (kids.count(f => f.isFile && f.getName.endsWith(".parquet")) + sub.map(_._1).sum,
        kids.filter(_.isFile).map(_.length).sum + sub.map(_._2).sum)
    }
    val (idxFiles, idxBytes) = du(new java.io.File(s"$idxDir/lists"))
    val t1b = System.nanoTime()
    val loaded = Similarity.loadIvfIndex(spark, idxDir)
    // metrics must come from the EXECUTED DataFrame: .select() builds a new
    // plan, so keep the handle that .collect() runs
    val loadedProbe = Similarity.probeIvf(loaded, queries, k, nProbe)
      .select("q_id", "vec_id")
    val loadedPairs = loadedProbe
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val loadedProbeSec = (System.nanoTime() - t1b) / 1e9
    assert(recallOf(loadedPairs) == recall, "loaded index must probe identically")
    // files/bytes actually read by the lists scan (post-dynamic-pruning)
    // AQE wraps executed stages in QueryStageExec nodes whose children are
    // reachable only via .plan (children is Nil) — walk those explicitly
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }) ++ p.subqueries.flatMap(scans)
    def listScanMetrics(executed: org.apache.spark.sql.DataFrame,
        dir: String): (Long, Long) = {
      val listScans = scans(executed.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains(dir)))
      (listScans.map(s => s.metrics("numFiles").value).sum,
        listScans.map(s => s.metrics("filesSize").value).sum)
    }
    val (filesRead, bytesRead) = listScanMetrics(loadedProbe, idxDir)
    // the 50-query batch legitimately probes ~every cell (50 x nProbe
    // covers the index), so ALSO measure a small serve-path batch: 5
    // queries touch at most 5 x nProbe cells, and the static partition
    // filter must confine the scan to those cells' files. Query ids are
    // i * (step + 1), so the first FIVE are i = 0..4 <= 4 * (step + 1)
    val q5 = queries.where(col("vec_id") <= (step + 1) * 4)
    require(q5.count() == 5, "serve batch must hold the first 5 queries")
    val t1c = System.nanoTime()
    val probe5 = Similarity.probeIvf(loaded, q5, k, nProbe)
      .select("q_id", "vec_id")
    probe5.collect()
    val probe5Sec = (System.nanoTime() - t1c) / 1e9
    val (files5, bytes5) = listScanMetrics(probe5, idxDir)

    // PQ compressed-domain path: train on a deterministic 20% sample
    // (codebooks converge on a sample; full-corpus Lloyd is wasted work),
    // encode the whole corpus once, then ADC-scan + exact rerank of a
    // 0.5%-of-corpus shortlist — the memory-bound regime (m ints/vector
    // instead of dim floats) measured on the same corpus and queries
    val t3 = System.nanoTime()
    val cb = Similarity.trainPq(base.where(col("vec_id") % 5 === 0),
      m = 8, ksub = 256, dim = dim)
    val codes = Similarity.pqEncode(base, cb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    codes.count()
    val pqBuildSec = (System.nanoTime() - t3) / 1e9
    val t4 = System.nanoTime()
    val pq = Similarity.pqTopKRerankCodes(queries, codes, base, k, cb,
      shortlist = math.max(100, (n / 200).toInt))
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val pqSec = (System.nanoTime() - t4) / 1e9
    val pqRecall = recallOf(pq)

    // Loaded-PQ probe: persist codebooks + codes, reload, serve the same
    // query batch from the loaded artifacts — the cross-session
    // amortization of the encode cost (float vectors still come from the
    // corpus table for the shortlist rerank, as in production).
    val pqDir = java.nio.file.Files.createTempDirectory("annbench_pq").toString
    Similarity.savePqIndex(cb, codes, pqDir)
    val t5 = System.nanoTime()
    val (cbLoaded, codesLoaded) = Similarity.loadPqIndex(spark, pqDir)
    val pqLoaded = Similarity.pqTopKRerankCodes(queries, codesLoaded, base, k,
      cbLoaded, shortlist = math.max(100, (n / 200).toInt))
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val pqLoadedSec = (System.nanoTime() - t5) / 1e9
    assert(recallOf(pqLoaded) == pqRecall, "loaded PQ index must rerank identically")

    // Composite IVF-PQ (IVFADC): the same centroids and codebooks serve
    // the layout where inverted lists hold CODES — probes are partition-
    // pruned AND compressed-domain, the production serve shape. Assemble
    // from the already-built parts (assignments and codes are identical
    // to buildIvfPq's), persist, and serve everything from the loaded
    // index: probe seconds here include nothing from the build side.
    val t6 = System.nanoTime()
    val ivfpq = Similarity.IvfPqIndex(index.centroids, cb,
      index.lists.select(col("cell"), col("vec_id")).join(codes, "vec_id")
        .select(col("cell"), col("vec_id"), col("code")))
    val ipqDir = java.nio.file.Files.createTempDirectory("annbench_ivfpq").toString
    Similarity.saveIvfPqIndex(ivfpq, ipqDir)
    val ivfpqSaveSec = (System.nanoTime() - t6) / 1e9
    val (ipqFilesTotal, ipqBytesTotal) = du(new java.io.File(s"$ipqDir/lists"))
    val shortN = math.max(100, (n / 200).toInt)
    val ipqLoaded = Similarity.loadIvfPqIndex(spark, ipqDir)
    val t7 = System.nanoTime()
    val ipqProbe = Similarity.probeIvfPq(ipqLoaded, queries, base, k,
      nProbe, shortN).select("q_id", "vec_id")
    val ipqPairs = ipqProbe.collect().map(r => (r.getLong(0), r.getLong(1)))
    val ipqProbeSec = (System.nanoTime() - t7) / 1e9
    val ipqRecall = recallOf(ipqPairs)
    val t8 = System.nanoTime()
    val ipqProbe5 = Similarity.probeIvfPq(ipqLoaded, q5, base, k,
      nProbe, shortN).select("q_id", "vec_id")
    ipqProbe5.collect()
    val ipqProbe5Sec = (System.nanoTime() - t8) / 1e9
    val (ipqFiles5, ipqBytes5) = listScanMetrics(ipqProbe5, ipqDir)
    codes.unpersist()

    index.lists.unpersist(); base.unpersist(blocking = true)
    println(s"""{"metric":"ann_ivf","n_vecs":$n,"dim":$dim,"n_cells":$nCells,""" +
      s""""n_probe":$nProbe,"k":$k,"n_queries":$nQueries,""" +
      s""""build_sec":${math.round(buildSec * 10) / 10.0},""" +
      s""""probe_sec":${math.round(probeSec * 10) / 10.0},""" +
      s""""loaded_probe_sec":${math.round(loadedProbeSec * 10) / 10.0},""" +
      s""""probe_files_read":$filesRead,"probe_bytes_read":$bytesRead,""" +
      s""""probe5_sec":${math.round(probe5Sec * 10) / 10.0},""" +
      s""""probe5_files_read":$files5,"probe5_bytes_read":$bytes5,""" +
      s""""index_files_total":$idxFiles,"index_bytes_total":$idxBytes,""" +
      s""""brute_sec":${math.round(bruteSec * 10) / 10.0},""" +
      s""""recall_at_$k":${math.round(recall * 1000) / 1000.0},""" +
      s""""pq_build_sec":${math.round(pqBuildSec * 10) / 10.0},""" +
      s""""pq_rerank_sec":${math.round(pqSec * 10) / 10.0},""" +
      s""""pq_loaded_sec":${math.round(pqLoadedSec * 10) / 10.0},""" +
      s""""pq_recall_at_$k":${math.round(pqRecall * 1000) / 1000.0},""" +
      s""""ivfpq_save_sec":${math.round(ivfpqSaveSec * 10) / 10.0},""" +
      s""""ivfpq_probe_sec":${math.round(ipqProbeSec * 10) / 10.0},""" +
      s""""ivfpq_probe5_sec":${math.round(ipqProbe5Sec * 10) / 10.0},""" +
      s""""ivfpq_probe5_files_read":$ipqFiles5,"ivfpq_probe5_bytes_read":$ipqBytes5,""" +
      s""""ivfpq_files_total":$ipqFilesTotal,"ivfpq_bytes_total":$ipqBytesTotal,""" +
      s""""ivfpq_recall_at_$k":${math.round(ipqRecall * 1000) / 1000.0}}""")
  }
}
