package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.CacheScope

/** Compaction lifecycle rehearsal — the maintenance question a year of
  * daily ingest asks of every persisted index family: build once, append
  * `nAppends` daily batches (each appending one file per touched
  * partition), measure the serve/probe latency and data-file count in the
  * accumulated state, compact, and measure both again. The serve results
  * are require'd identical across the whole cycle (any divergence crashes
  * the bench), so the two latency numbers isolate the pure small-files
  * tax — the cost compaction exists to reclaim. One JSON line per family:
  * BM25 inverted index, LSH band index, IVF inverted lists.
  *
  * Latency is best-of-3 (the Bench warm discipline); appends use fresh
  * key ranges so every batch is genuinely new content. Usage:
  * `runMain graft.operators.CompactionBench [nBase] [nAppends]`.
  */
object CompactionBench {

  private def bestOf3(f: () => Long): (Double, Long) = {
    var best = Double.MaxValue; var v = 0L
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      v = f()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, v)
  }

  private def line(family: String, nBase: Long, nAppends: Int,
      filesBefore: Int, filesAfter: Int, serveBefore: Double,
      serveAfter: Double, compactSecs: Double): Unit =
    println(s"""{"metric":"compaction_$family","n_base":$nBase,""" +
      s""""n_appends":$nAppends,"files_before":$filesBefore,""" +
      s""""files_after":$filesAfter,""" +
      s""""serve_before_sec":${math.round(serveBefore * 1000) / 1000.0},""" +
      s""""serve_after_sec":${math.round(serveAfter * 1000) / 1000.0},""" +
      s""""compact_sec":${math.round(compactSecs * 10) / 10.0}}""")

  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toLong else 200000L
    val nAppends = if (args.length > 1) args(1).toInt else 30
    graft.GraftSession.run()(bench(_, nBase, nAppends))
  }

  private def bench(spark: SparkSession, nBase: Long, nAppends: Int): Unit = {
    val perBatch = math.max(1L, nBase / 100)

    // ---- BM25 inverted index ----
    locally {
      val dir = java.nio.file.Files.createTempDirectory("cpt_bm25").toString
      val qs = Seq("qa" -> Seq("glider", "ocean", "current"),
        "qb" -> Seq("depth", "water", "signal"))
      Retrieval.buildIndex(CorpusBench.synth(spark, nBase), dir, 64)
      for (i <- 1 to nAppends)
        Retrieval.appendToIndex(spark, dir,
          CorpusBench.synth(spark, perBatch).select(
            (col("doc_id") + lit((i + 1) * 10L * nBase)).as("doc_id"),
            col("text")))
      def serve() = Retrieval.searchIndex(spark, dir, qs, k = 10)
        .collect().map(_.toString).sorted.mkString("|").hashCode.toLong
      val filesBefore = IndexFiles.dataFileCount(spark, dir, "postings")
      val (tBefore, hBefore) = bestOf3(() => serve())
      val t0 = System.nanoTime()
      Retrieval.compactIndex(spark, dir)
      val tc = (System.nanoTime() - t0) / 1e9
      val filesAfter = IndexFiles.dataFileCount(spark, dir, "postings")
      val (tAfter, hAfter) = bestOf3(() => serve())
      require(hAfter == hBefore, "BM25 serve diverged across compaction")
      require(filesAfter < filesBefore, s"no shrink: $filesBefore -> $filesAfter")
      line("bm25", nBase, nAppends, filesBefore, filesAfter, tBefore, tAfter, tc)
    }

    // ---- LSH band index ----
    locally {
      val dir = java.nio.file.Files.createTempDirectory("cpt_lsh").toString
      Dedup.saveLshIndex(CorpusBench.synth(spark, nBase), "doc_id", "text",
        dir)
      for (i <- 1 to nAppends)
        Dedup.appendToLshIndex(spark, dir,
          CorpusBench.synth(spark, perBatch).select(
            (col("doc_id") + lit((i + 1) * 10L * nBase)).as("doc_id"),
            col("text")))
      // probe batch: exact copies of 200 indexed docs — guaranteed hits
      val probeBatch = CorpusBench.synth(spark, 200)
        .select((col("doc_id") + lit(5L * nBase)).as("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      probeBatch.count()
      def probe() = CacheScope.using { sc =>
        Dedup.matchesAgainstLshIndex(spark, dir, probeBatch, scope = sc)
          .where(col("jaccard") >= 0.8).count()
      }
      val filesBefore = IndexFiles.dataFileCount(spark, dir, "bands")
      val (tBefore, hBefore) = bestOf3(() => probe())
      val t0 = System.nanoTime()
      Dedup.compactLshIndex(spark, dir)
      val tc = (System.nanoTime() - t0) / 1e9
      val filesAfter = IndexFiles.dataFileCount(spark, dir, "bands")
      val (tAfter, hAfter) = bestOf3(() => probe())
      require(hAfter == hBefore, "LSH probe diverged across compaction")
      require(filesAfter < filesBefore, s"no shrink: $filesBefore -> $filesAfter")
      probeBatch.unpersist()
      line("lsh", nBase, nAppends, filesBefore, filesAfter, tBefore, tAfter, tc)
    }

    // ---- IVF inverted lists ----
    locally {
      val dim = 64
      val dir = java.nio.file.Files.createTempDirectory("cpt_ivf").toString
      val nCells = math.max(16, math.sqrt(nBase.toDouble).toInt)
      Similarity.saveIvfIndex(Similarity.buildIvfIndex(
        AnnBench.synth(spark, nBase, dim, nClusters = 200), nCells, dim), dir)
      for (i <- 1 to nAppends)
        Similarity.appendToIvfIndex(spark, dir,
          AnnBench.synth(spark, perBatch, dim, nClusters = 200).select(
            (col("vec_id") + lit((i + 1) * 10L * nBase)).as("vec_id"),
            col("embedding")))
      val queries = AnnBench.synth(spark, nBase, dim, nClusters = 200)
        .where(col("vec_id") % lit(nBase / 50 + 1) === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      queries.count()
      def probe() = CacheScope.using { scope =>
        Similarity.probeIvf(Similarity.loadIvfIndex(spark, dir),
          queries, k = 10, nProbe = 3, scope = scope).count()
      }
      val filesBefore = IndexFiles.dataFileCount(spark, dir, "lists")
      val (tBefore, hBefore) = bestOf3(() => probe())
      val t0 = System.nanoTime()
      Similarity.compactIvfIndex(spark, dir)
      val tc = (System.nanoTime() - t0) / 1e9
      val filesAfter = IndexFiles.dataFileCount(spark, dir, "lists")
      val (tAfter, hAfter) = bestOf3(() => probe())
      require(hAfter == hBefore, "IVF probe diverged across compaction")
      require(filesAfter < filesBefore, s"no shrink: $filesBefore -> $filesAfter")
      queries.unpersist()
      line("ivf", nBase, nAppends, filesBefore, filesAfter, tBefore, tAfter, tc)
    }
  }
}
