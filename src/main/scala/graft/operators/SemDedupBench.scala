package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.CacheScope

/** Semantic-dedup scale rehearsal — the [[Similarity.semanticDedup]]
  * analog of [[CorpusBench]]/[[AnnBench]]: synthesize N clustered
  * embeddings on the executors ([[AnnBench.synth]]), plant exact
  * duplicates (every 100th vector re-appears under id + n — the SemDeDup
  * workload's ground truth), run the full operator (hash-seeded k-seed
  * selection, native argmax assignment at scale-k, capped within-cluster
  * pair scan, min-id keep), and report wall-clock, throughput, drop
  * counts, and planted-duplicate recall as one JSON line.
  *
  * k defaults to n/500 (bounded below by 128 so the bench always
  * exercises the native-argmax path), the SemDeDup contract that keeps
  * expected cluster size near 500 — under the default `maxBlock` cap, so
  * the pair scan is (n/k) x per-row work, not quadratic. The planted
  * recall assertion is the gate: an identical pair agrees on every
  * sub-bucket sign bit, so the cap valve must never separate it; any
  * planted survivor crashes the bench.
  *
  * Usage: `runMain graft.operators.SemDedupBench [nVecs] [dim] [k]`.
  */
object SemDedupBench {

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000L
    val dim = if (args.length > 1) args(1).toInt else 64
    val k = if (args.length > 2) args(2).toInt
      else math.max(128L, n / 500L).toInt
    graft.GraftSession.run()(
      bench(_, n, dim, k, incremental = args.contains("incremental")))
  }

  private def bench(spark: SparkSession, n: Long, dim: Int, k: Int,
      incremental: Boolean): Unit = {
    // incremental mode: the ingestVectors serve loop at scale — index 90%,
    // probe a 10% daily batch + planted exact copies of indexed vectors
    // against the persisted IVF index, append the survivors. A planted
    // copy's top-probe cell IS its original's assigned cell (identical
    // argmax over the frozen centroids), so every planted row must drop;
    // any survivor crashes the bench.
    if (incremental) {
      val nIdx = n * 9 / 10
      val clean = AnnBench.synth(spark, n, dim, nClusters = 200)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val idxSide = clean.where(col("vec_id") < nIdx)
      val batch = clean.where(col("vec_id") >= nIdx).unionByName(
          idxSide.where(col("vec_id") % 100 === 0)
            .select((col("vec_id") + 2L * n).as("vec_id"), col("embedding")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nBatch = batch.count()
      val nPlanted = nBatch - (n - nIdx)
      val nCells = math.max(16, math.sqrt(nIdx.toDouble).toInt)
      val dir = java.nio.file.Files.createTempDirectory("vecidx").toString
      val t0 = System.nanoTime()
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(idxSide, nCells, dim), dir)
      val buildSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      // nProbe = 2: an exact/0.999-near copy argmaxes to its original's
      // cell (same frozen centroids), so low-probe is the right recall/
      // cost point for the COPY-dedup question — unlike top-k search,
      // where nProbe buys ranking recall. Probe work scales linearly in
      // nProbe (each probe joins the query against one more cell's list).
      val (nSurv, probeSecs, plantedSurvived, appendSecs) =
        CacheScope.using { scope =>
          val survivors = scope.persist(Similarity.dedupBatchAgainstIvfIndex(
            spark, dir, batch, cosineThreshold = 0.999, nProbe = 2,
            scope = scope))
          val nSurv = survivors.count()
          val probeSecs = (System.nanoTime() - t1) / 1e9
          val planted = survivors.where(col("vec_id") >= 2L * n).count()
          val t2 = System.nanoTime()
          Similarity.appendToIvfIndex(spark, dir, survivors)
          (nSurv, probeSecs, planted, (System.nanoTime() - t2) / 1e9)
        }
      batch.unpersist(); clean.unpersist(blocking = true)
      require(plantedSurvived == 0,
        s"PLANTED COPIES SURVIVED THE INDEX PROBE: $plantedSurvived of $nPlanted")
      println(s"""{"metric":"vecindex_incremental","n_vecs":$n,"dim":$dim,""" +
        s""""n_indexed":$nIdx,"n_batch":$nBatch,"n_survivors":$nSurv,""" +
        s""""planted":$nPlanted,"planted_dropped":$nPlanted,""" +
        s""""build_sec":${math.round(buildSecs * 10) / 10.0},""" +
        s""""probe_sec":${math.round(probeSecs * 10) / 10.0},""" +
        s""""probe_vecs_per_s":${math.round(nBatch / probeSecs)},""" +
        s""""append_sec":${math.round(appendSecs * 10) / 10.0},""" +
        s""""peak_heap_mb":${graft.Bench.peakHeapMb}}""")
      return
    }

    val clean = AnnBench.synth(spark, n, dim, nClusters = 200)
    val planted = clean.where(col("vec_id") % 100 === 0)
      .select((col("vec_id") + n).as("vec_id"), col("embedding"))
    val corpus = clean.unionByName(planted)
      .repartition(32).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = corpus.count()
    val nPlanted = total - n

    val t0 = System.nanoTime()
    val kept = Similarity.semanticDedup(corpus, k, threshold = 0.999)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nKept = kept.count()
    val secs = (System.nanoTime() - t0) / 1e9

    // ground truth: every planted id (id >= n) duplicates a smaller id in
    // the same cluster, so ALL planted rows must drop
    val plantedSurvived = kept.where(col("id") >= n).count()
    kept.unpersist()
    corpus.unpersist(blocking = true)
    require(plantedSurvived == 0,
      s"PLANTED DUPS SURVIVED: $plantedSurvived of $nPlanted")
    println(s"""{"metric":"semantic_dedup","n_vecs":$total,"dim":$dim,"k":$k,""" +
      s""""sec":${math.round(secs * 10) / 10.0},"vecs_per_s":${math.round(total / secs)},""" +
      s""""kept":$nKept,"dropped":${total - nKept},"planted":$nPlanted,""" +
      s""""planted_dropped":${nPlanted - plantedSurvived},""" +
      s""""peak_heap_mb":${graft.Bench.peakHeapMb}}""")
  }
}
