package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.CacheScope

/** Maintenance-verb rehearsal at corpus scale, two modes:
  *
  * `verbs` (default) — shard-merge + takedown-delete per family (the two
  * verbs CompactionBench doesn't cover), including the IVF-PQ composite
  * under its shard-encode contract:
  *
  *  1. build a one-shot index over the full corpus and serve it (the
  *     reference result);
  *  2. build the SAME corpus as two independent shard indexes, MERGE one
  *     into the other, and serve — require'd identical to the one-shot
  *     serve (BM25; for IVF, whose shard quantizers legitimately differ,
  *     the require is the structural invariant instead: every merged row
  *     sits in the cell the host quantizer assigns, row count exact);
  *  3. DELETE 10% of the ids from the merged index and serve again —
  *     require'd to surface no deleted id, with the stats/row counts
  *     shrunk by exactly the takedown count.
  *
  * `composed` — the verbs COMPOSED into one lifecycle per family, the
  * shape a year of operations actually takes:
  * build(A) -> append(B) -> delete -> merge(shard C) -> retrain
  * (IVF re-quantize / LSH re-geometry) -> compact -> serve, with the
  * final serve require'd IDENTICAL to a one-shot build over the
  * survivors-union — any verb that corrupts state for a LATER verb
  * (a stats drift the compact hides, a stranded geometry the retrain
  * leaves) surfaces here and nowhere else.
  *
  * `liveserve` — retrain UNDER LIVE SERVE: a serve thread probes the
  * index continuously while the main thread runs a retrain (LSH
  * re-geometry, IVF re-quantize); every probe's result is require'd
  * correct whichever side of the cutover it resolved (LSH: exact copies
  * collide under ANY geometry, so every probe must hit all of them;
  * IVF: probe-all ≡ brute force under any quantizer), and per-probe
  * latency is reported split before/during/after the retrain window —
  * the zero-downtime claim for the newest verb, measured at scale
  * instead of spec'd at toy scale (IndexSwapSpec's loop).
  *
  * `liveserve3` — THREE-WAY: a foreachBatch ingest stream appends into
  * the LSH index while the serve thread probes and a retrain cuts over
  * mid-append (staged at the between-table window via [[FaultPoints]]);
  * require's geometry-abort + exactly-once replay + zero wrong serves
  * simultaneously. Both liveserve modes run under a FAIR scheduler with
  * a dedicated serve pool (see [[fairPoolsFile]]) and gate the
  * during-window probe median at 3x the before-median
  * (`GRAFT_LIVESERVE_MAX_RATIO` overrides on loaded hosts).
  *
  * Any violated invariant crashes the run (the CompactionBench
  * discipline: a bench that can silently serve garbage measures nothing).
  * One JSON line per family per mode. Usage:
  * `runMain graft.operators.MaintenanceBench [nBase]
  * [verbs|composed|all|liveserve|liveserve3]`.
  */
object MaintenanceBench {

  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val v = f
    ((System.nanoTime() - t0) / 1e9, v)
  }

  private def r3(d: Double): Double = math.round(d * 1000) / 1000.0

  // every index dir of a run roots under the session's private temp root,
  // deleted at exit — an 'all' run at 1M otherwise leaves ~18 full index
  // copies (tens of GB) in the shared tmpdir
  private def tmp(prefix: String): String =
    graft.queries.Common.tempDir(prefix)

  private val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** FAIR-pool allocation for the liveserve modes: the serve loop's probe
    * jobs get a guaranteed minShare of 8 slots (and 8x the weight in
    * excess allocation), so a retrain's wide stages can no longer queue a
    * whole probe behind them — the r16 liveserve_ivf during-window spike
    * (2.6-20.3 s vs a 1.9-2.1 s floor) was exactly that FIFO contention.
    * FAIR does not preempt RUNNING tasks, so the residual during-window
    * tail is bounded by the retrain's longest single task, not its stages.
    * Written before the session (and its temp root) exists, so it is
    * deleted at JVM exit.
    */
  private def fairPoolsFile(): String = {
    val f = java.nio.file.Files.createTempFile("fair_pools", ".xml")
    f.toFile.deleteOnExit()
    java.nio.file.Files.writeString(f,
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="serve">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>8</weight>
        |    <minShare>8</minShare>
        |  </pool>
        |  <pool name="maint">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>1</weight>
        |    <minShare>0</minShare>
        |  </pool>
        |</allocations>
        |""".stripMargin)
    f.toString
  }

  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toLong else 1000000L
    val mode = if (args.length > 1) args(1) else "verbs"
    require(Set("verbs", "composed", "all", "liveserve", "liveserve3",
      "streamingest")(mode), s"unknown mode $mode")
    val fair =
      if (mode.startsWith("liveserve"))
        Map("spark.scheduler.mode" -> "FAIR",
          "spark.scheduler.allocation.file" -> fairPoolsFile())
      else Map.empty[String, String]
    graft.GraftSession.run(fair) { spark =>
      if (mode == "verbs" || mode == "all") verbs(spark, nBase)
      if (mode == "composed" || mode == "all") composed(spark, nBase)
      if (mode == "liveserve") liveServe(spark, nBase)
      if (mode == "liveserve3") liveServe3(spark, nBase)
      if (mode == "streamingest") streamIngest(spark, nBase)
    }
  }

  // ==================== streamingest mode ====================

  /** Time the foreachBatch APPEND path per family — the streaming twins'
    * measured surface (r19; the paths inherited r18's supplied-schema /
    * sidecar / fused-metadata wins without a recorded number). The batch
    * bodies ([[graft.streaming.StreamingOps.ingestBatch]] /
    * `ingestVectorsBatch` / `indexDocumentsBatch`) ARE the stream —
    * foreachBatch calls exactly them — so timing a micro-batch sequence
    * through them measures the streaming ingest path without Structured
    * Streaming trigger/checkpoint noise. Invariants crash the run (the
    * CompactionBench discipline): planted exact duplicates must be
    * vetoed, unique rows must land, and a replayed batchId must be a
    * ledger-skipped no-op (its time rides along as `replay_sec` — the
    * pure ledger-probe overhead). One JSON line per family.
    */
  private def streamIngest(spark: SparkSession, nBase: Long): Unit = {
    import graft.streaming.StreamingOps
    val nBatches = 4
    val nPer = math.max(250L, nBase / 64)

    // ---- LSH dedup ingest (ingestBatch: self-dedup + index veto +
    //      index append + corpus sink) ----
    locally {
      val root = tmp("si_lsh")
      val idx = s"$root/index"; val corpusOut = s"$root/corpus"
      val corpus = CorpusBench.synth(spark, nBase).persist(mem)
      corpus.count()
      val (tBoot, _) = timed(
        Dedup.saveLshIndex(corpus, "doc_id", "text", idx, k = 16, nBands = 8))
      // batch b: nPer exact seed copies (jaccard 1.0 — must veto at any
      // geometry) + nPer namespaced uniques (zero shingle overlap — must
      // all land); disjoint id spaces per role
      def mkBatch(b: Int): DataFrame = corpus
        .where(col("doc_id") >= b * nPer && col("doc_id") < (b + 1) * nPer)
        .select((col("doc_id") + lit(6L * nBase)).as("doc_id"), col("text"))
        .unionByName(spark.range(b * nPer, (b + 1) * nPer)
          .select((col("id") + lit(7L * nBase)).as("doc_id"),
            concat_ws(" ", transform(sequence(lit(1), lit(40)),
              i => concat(lit("u"), col("id").cast("string"), lit("t"),
                i.cast("string")))).as("text")))
      val per = (0 until nBatches).map { b =>
        val (t, _) = timed(StreamingOps.ingestBatch(mkBatch(b), idx,
          corpusOut, jaccardThreshold = 0.8,
          batchId = Some(b.toLong), appId = Some("si_lsh")))
        r3(t)
      }
      // replayed batchId: ledger-skip, nothing changes
      val (tReplay, _) = timed(StreamingOps.ingestBatch(mkBatch(0), idx,
        corpusOut, jaccardThreshold = 0.8,
        batchId = Some(0L), appId = Some("si_lsh")))
      val landed = spark.read.parquet(corpusOut).select("doc_id").persist(mem)
      val nLanded = landed.count()
      val nCopies = landed.where(col("doc_id") >= 6L * nBase &&
        col("doc_id") < 7L * nBase).count()
      landed.unpersist()
      require(nCopies == 0L,
        s"streamingest lsh: $nCopies planted exact copies survived the veto")
      require(nLanded == nBatches * nPer,
        s"streamingest lsh: ${nBatches * nPer} uniques expected in the " +
          s"corpus sink, found $nLanded (replay must not duplicate)")
      println(s"""{"metric":"streamingest_lsh","n_base":$nBase,""" +
        s""""n_per_batch":${2 * nPer},"n_batches":$nBatches,""" +
        s""""bootstrap_sec":${r3(tBoot)},"ingest_sec":${r3(per.sum)},""" +
        s""""per_batch_sec":${per.mkString("[", ",", "]")},""" +
        s""""replay_sec":${r3(tReplay)},"survivors":$nLanded}""")
    }

    // ---- IVF vector ingest (ingestVectorsBatch: in-batch SemDeDup +
    //      index probe + index append + corpus sink) ----
    locally {
      val root = tmp("si_vec")
      val idx = s"$root/index"; val corpusOut = s"$root/corpus"
      val dim = 64
      val base = AnnBench.synth(spark, nBase, dim,
        nClusters = math.max(4, math.sqrt(nBase.toDouble).toInt))
        .persist(mem)
      base.count()
      val (tBoot, _) = timed(Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(base, nCells =
          math.max(8, math.sqrt(nBase.toDouble).toInt), dim = dim), idx))
      // batch b: nPer planted exact copies of indexed vectors (cosine 1.0
      // — every one must drop; the SemDedupBench incremental gate) + nPer
      // fresh cluster vectors (survivor count reported, not asserted —
      // clustered uniques may legitimately near-dup each other)
      def mkBatch(b: Int): DataFrame = base
        .where(col("vec_id") >= b * nPer && col("vec_id") < (b + 1) * nPer)
        .select((col("vec_id") + lit(6L * nBase)).as("vec_id"),
          col("embedding"))
        .unionByName(
          AnnBench.synth(spark, nBase + (b + 2) * nPer, dim,
            nClusters = math.max(4, math.sqrt(nBase.toDouble).toInt))
            .where(col("vec_id") >= nBase + (b + 1) * nPer)
            .select((col("vec_id") + lit(7L * nBase)).as("vec_id"),
              col("embedding")))
      val per = (0 until nBatches).map { b =>
        val (t, _) = timed(StreamingOps.ingestVectorsBatch(mkBatch(b), idx,
          corpusOut, cosineThreshold = 0.99,
          batchId = Some(b.toLong), appId = Some("si_vec")))
        r3(t)
      }
      val (tReplay, _) = timed(StreamingOps.ingestVectorsBatch(mkBatch(0),
        idx, corpusOut, cosineThreshold = 0.99,
        batchId = Some(0L), appId = Some("si_vec")))
      val landed = spark.read.parquet(corpusOut).select("vec_id").persist(mem)
      val nLanded = landed.count()
      val nPlanted = landed.where(col("vec_id") >= 6L * nBase &&
        col("vec_id") < 7L * nBase).count()
      landed.unpersist()
      require(nPlanted == 0L,
        s"streamingest vec: $nPlanted planted exact copies survived")
      println(s"""{"metric":"streamingest_vec","n_base":$nBase,""" +
        s""""n_per_batch":${2 * nPer},"n_batches":$nBatches,"dim":$dim,""" +
        s""""bootstrap_sec":${r3(tBoot)},"ingest_sec":${r3(per.sum)},""" +
        s""""per_batch_sec":${per.mkString("[", ",", "]")},""" +
        s""""replay_sec":${r3(tReplay)},"survivors":$nLanded}""")
    }

    // ---- BM25 document indexing (indexDocumentsBatch: postings/doclens
    //      append + additive stats merge) ----
    locally {
      val root = tmp("si_bm25")
      val idx = s"$root/index"
      val corpus = CorpusBench.synth(spark, nBase + nBatches * nPer)
        .persist(mem)
      corpus.count()
      val (tBoot, _) = timed(
        Retrieval.buildIndex(corpus.where(col("doc_id") < nBase), idx))
      def mkBatch(b: Int): DataFrame = corpus
        .where(col("doc_id") >= nBase + b * nPer &&
          col("doc_id") < nBase + (b + 1) * nPer)
      val per = (0 until nBatches).map { b =>
        val (t, _) = timed(StreamingOps.indexDocumentsBatch(mkBatch(b), idx,
          batchId = Some(b.toLong), appId = Some("si_bm25")))
        r3(t)
      }
      val (tReplay, _) = timed(StreamingOps.indexDocumentsBatch(mkBatch(0),
        idx, batchId = Some(0L), appId = Some("si_bm25")))
      // the additive-merge invariant: n_docs equals seed + every batch,
      // exactly once (a replayed batch double-counting stats would show
      // here); the serve must rank from the full ingested corpus
      val nDocs = spark.read
        .parquet(IndexFiles.tablePath(spark, idx, "stats"))
        .select("n_docs").head().getLong(0)
      require(nDocs == nBase + nBatches * nPer,
        s"streamingest bm25: stats n_docs $nDocs != " +
          s"${nBase + nBatches * nPer} (replay must not double-count)")
      val served = Retrieval.searchIndex(spark, idx,
        Seq("qa" -> Seq("glider", "ocean", "current")), k = 10).count()
      require(served == 10L, s"streamingest bm25: serve returned $served rows")
      println(s"""{"metric":"streamingest_bm25","n_base":$nBase,""" +
        s""""n_per_batch":$nPer,"n_batches":$nBatches,""" +
        s""""bootstrap_sec":${r3(tBoot)},"ingest_sec":${r3(per.sum)},""" +
        s""""per_batch_sec":${per.mkString("[", ",", "]")},""" +
        s""""replay_sec":${r3(tReplay)},"n_docs":$nDocs}""")
    }
  }

  // ==================== verbs mode ====================

  private def verbs(spark: SparkSession, nBase: Long): Unit = {
    val takedown = pmod(col("doc_id"), lit(10L)) === 3L

    // ---- BM25 inverted index ----
    locally {
      val corpus = CorpusBench.synth(spark, nBase).persist(mem)
      corpus.count()
      val qs = Seq("qa" -> Seq("glider", "ocean", "current"),
        "qb" -> Seq("depth", "water", "signal"))
      val one = tmp("mnt_bm25_one")
      val a = tmp("mnt_bm25_a")
      val b = tmp("mnt_bm25_b")
      def serve(d: String) = Retrieval.searchIndex(spark, d, qs, k = 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val (tBuildOne, _) = timed(Retrieval.buildIndex(corpus, one, 64))
      val (tServeOne, servedOne) = timed(serve(one))
      val even = pmod(col("doc_id"), lit(2L)) === 0L
      val (tShards, _) = timed {
        Retrieval.buildIndex(corpus.where(even), a, 64)
        // a different modulus: the merge re-buckets, as foreign shards do
        Retrieval.buildIndex(corpus.where(!even), b, 32)
      }
      // shards are disjoint by the parity split — skip the O(n) check,
      // the thing a production id-range sharding would also skip
      val (tMerge, _) = timed(
        Retrieval.mergeIndexes(spark, a, b, requireDisjoint = false))
      val (tServeMerged, servedMerged) = timed(serve(a))
      require(servedMerged == servedOne,
        "BM25 merged shards served differently from the one-shot build")
      val (tDelete, _) = timed(Retrieval.deleteFromIndex(spark, a,
        corpus.where(takedown).select("doc_id")))
      val (tServeDel, servedDel) = timed(serve(a))
      val deadServed = servedDel.count { case (_, id, _, _) => id % 10 == 3 }
      require(deadServed == 0, s"$deadServed deleted docs still served")
      val nDocsAfter = spark.read
        .parquet(IndexFiles.tablePath(spark, a, "stats"))
        .select(col("n_docs")).head().getLong(0)
      val nDeleted = corpus.where(takedown).count()
      require(nDocsAfter == nBase - nDeleted,
        s"stats n_docs $nDocsAfter != ${nBase - nDeleted} after delete")
      corpus.unpersist()
      println(s"""{"metric":"maintenance_bm25","n":$nBase,""" +
        s""""build_full_sec":${r3(tBuildOne)},"serve_full_sec":${r3(tServeOne)},""" +
        s""""build_shards_sec":${r3(tShards)},"merge_sec":${r3(tMerge)},""" +
        s""""serve_merged_sec":${r3(tServeMerged)},""" +
        s""""n_deleted":$nDeleted,"delete_sec":${r3(tDelete)},""" +
        s""""serve_after_delete_sec":${r3(tServeDel)}}""")
    }

    // ---- LSH band index ----
    locally {
      val corpus = CorpusBench.synth(spark, nBase).persist(mem)
      corpus.count()
      val a = tmp("mnt_lsh_a")
      val b = tmp("mnt_lsh_b")
      val even = pmod(col("doc_id"), lit(2L)) === 0L
      val (tShards, _) = timed {
        Dedup.saveLshIndex(corpus.where(even), "doc_id", "text", a)
        Dedup.saveLshIndex(corpus.where(!even), "doc_id", "text", b)
      }
      val (tMerge, _) = timed(Dedup.mergeLshIndexes(spark, a, b))
      // probe: exact copies of 200 docs spanning BOTH parities — every
      // one must hit post-merge (a shard-local index would miss half)
      val probeBatch = corpus.where(col("doc_id") < 200)
        .select((col("doc_id") + lit(5L * nBase)).as("doc_id"), col("text"))
        .persist(mem)
      val nProbe = probeBatch.count()
      def hits() = CacheScope.using { sc =>
        Dedup.matchesAgainstLshIndex(spark, a, probeBatch, scope = sc)
          .where(col("jaccard") >= 0.8)
          .select("batch_id").distinct().count()
      }
      val (tProbeMerged, hitsMerged) = timed(hits())
      require(hitsMerged == nProbe,
        s"only $hitsMerged/$nProbe copies hit the merged LSH index")
      // takedown: delete exactly the probed originals — every copy must
      // now pass (the right-to-be-forgotten acceptance test)
      val (tDelete, _) = timed(Dedup.deleteFromLshIndex(spark, a,
        corpus.where(col("doc_id") < 200).select("doc_id")))
      val (tProbeDel, hitsDel) = timed(hits())
      require(hitsDel == 0L,
        s"$hitsDel copies of deleted docs still vetoed post-delete")
      probeBatch.unpersist(); corpus.unpersist()
      println(s"""{"metric":"maintenance_lsh","n":$nBase,""" +
        s""""build_shards_sec":${r3(tShards)},"merge_sec":${r3(tMerge)},""" +
        s""""probe_merged_sec":${r3(tProbeMerged)},""" +
        s""""n_deleted":200,"delete_sec":${r3(tDelete)},""" +
        s""""probe_after_delete_sec":${r3(tProbeDel)}}""")
    }

    // ---- IVF inverted lists ----
    locally {
      val dim = 64
      val nCells = math.max(16, math.sqrt(nBase.toDouble).toInt)
      val vecs = AnnBench.synth(spark, nBase, dim, nClusters = 200)
        .persist(mem)
      vecs.count()
      val a = tmp("mnt_ivf_a")
      val b = tmp("mnt_ivf_b")
      val half = nBase / 2
      val (tShards, _) = timed {
        Similarity.saveIvfIndex(Similarity.buildIvfIndex(
          vecs.where(col("vec_id") < half), nCells, dim), a)
        Similarity.saveIvfIndex(Similarity.buildIvfIndex(
          vecs.where(col("vec_id") >= half), nCells / 2, dim), b)
      }
      val (tMerge, _) = timed(Similarity.mergeIvfIndexes(spark, a, b))
      // structural invariants a wrong merge breaks: exact row count, and
      // every row in the cell the HOST quantizer assigns (shard quantizers
      // differ, so a foreign-assignment leak would misplace rows and the
      // static cell pruning would serve wrong candidates)
      val lists = spark.read.parquet(IndexFiles.tablePath(spark, a, "lists"))
        .select(col("cell").cast("int").as("cell"), col("vec_id"),
          col("c_vec"))
      require(lists.count() == nBase, "merged IVF lost/duplicated rows")
      val cents = Similarity.loadIvfIndex(spark, a).centroids
      val misplaced = lists.withColumn("want",
          Similarity.nearestCell(spark, col("c_vec"), cents))
        .where(col("cell") =!= col("want")).count()
      require(misplaced == 0L,
        s"$misplaced merged rows not in host-quantizer cells")
      val queries = vecs.where(col("vec_id") % lit(nBase / 50 + 1) === 0)
        .persist(mem)
      queries.count()
      def probe() = CacheScope.using { scope =>
        Similarity.probeIvf(Similarity.loadIvfIndex(spark, a),
          queries, k = 10, nProbe = 3, scope = scope)
          .select("vec_id").collect().map(_.getLong(0))
      }
      val (tProbeMerged, _) = timed(probe())
      val del = pmod(col("vec_id"), lit(10L)) === 3L
      val (tDelete, _) = timed(Similarity.deleteFromIvfIndex(spark, a,
        vecs.where(del).select("vec_id")))
      val (tProbeDel, served) = timed(probe())
      val dead = served.count(_ % 10 == 3)
      require(dead == 0, s"$dead deleted vectors still served")
      val nAfter = spark.read
        .parquet(IndexFiles.tablePath(spark, a, "lists")).count()
      val nDeleted = vecs.where(del).count()
      require(nAfter == nBase - nDeleted,
        s"lists count $nAfter != ${nBase - nDeleted} after delete")
      queries.unpersist(); vecs.unpersist()
      println(s"""{"metric":"maintenance_ivf","n":$nBase,""" +
        s""""build_shards_sec":${r3(tShards)},"merge_sec":${r3(tMerge)},""" +
        s""""probe_merged_sec":${r3(tProbeMerged)},""" +
        s""""n_deleted":$nDeleted,"delete_sec":${r3(tDelete)},""" +
        s""""probe_after_delete_sec":${r3(tProbeDel)}}""")
    }

    // ---- IVF-PQ composite lists ----
    locally {
      val dim = 64
      val nCells = 256
      val vecs = AnnBench.synth(spark, nBase, dim, nClusters = 200)
        .persist(mem)
      vecs.count()
      val a = tmp("mnt_ivfpq_a")
      val b = tmp("mnt_ivfpq_b")
      val half = nBase / 2
      // shard-encode contract (mergeIvfPqIndexes doc): ONE central
      // training pass, shards carry disjoint code-list halves under the
      // identical artifacts — the only layout whose codes are transferable
      val (tBuild, idx0) = timed(Similarity.buildIvfPq(vecs, nCells, dim,
        m = 8, ksub = 16, iters = 1))
      val idx = idx0.copy(lists = idx0.lists.persist(mem))
      val (tShards, _) = timed {
        Similarity.saveIvfPqIndex(
          idx.copy(lists = idx.lists.where(col("vec_id") < half)), a)
        Similarity.saveIvfPqIndex(
          idx.copy(lists = idx.lists.where(col("vec_id") >= half)), b)
      }
      val (tMerge, _) = timed(Similarity.mergeIvfPqIndexes(spark, a, b))
      require(spark.read.parquet(IndexFiles.tablePath(spark, a, "lists"))
        .count() == nBase, "merged IVF-PQ lost/duplicated rows")
      // independently trained artifacts must be REJECTED, not garbage-ADC'd
      val c = tmp("mnt_ivfpq_c")
      Similarity.saveIvfPqIndex(Similarity.buildIvfPq(
        vecs.where(col("vec_id") < 10000), 8, dim, m = 8, ksub = 16,
        iters = 1), c)
      val rejected =
        try { Similarity.mergeIvfPqIndexes(spark, a, c); false }
        catch { case _: IllegalArgumentException => true }
      require(rejected,
        "merge of independently trained IVF-PQ artifacts must be rejected")
      val queries = vecs.where(col("vec_id") % lit(nBase / 50 + 1) === 0)
        .persist(mem)
      queries.count()
      def probe() = CacheScope.using { scope =>
        Similarity.probeIvfPq(Similarity.loadIvfPqIndex(spark, a),
          queries, vecs, k = 10, nProbe = 8, shortlist = 200, scope = scope)
          .select("vec_id").collect().map(_.getLong(0))
      }
      val (tProbeMerged, _) = timed(probe())
      val del = pmod(col("vec_id"), lit(10L)) === 3L
      val (tDelete, _) = timed(Similarity.deleteFromIvfPqIndex(spark, a,
        vecs.where(del).select("vec_id")))
      val (tProbeDel, served) = timed(probe())
      val dead = served.count(_ % 10 == 3)
      require(dead == 0, s"$dead deleted vectors still served (IVF-PQ)")
      val nAfter = spark.read
        .parquet(IndexFiles.tablePath(spark, a, "lists")).count()
      val nDeleted = vecs.where(del).count()
      require(nAfter == nBase - nDeleted,
        s"IVF-PQ lists count $nAfter != ${nBase - nDeleted} after delete")
      idx.lists.unpersist(); queries.unpersist(); vecs.unpersist()
      println(s"""{"metric":"maintenance_ivfpq","n":$nBase,""" +
        s""""build_encode_sec":${r3(tBuild)},"save_shards_sec":${r3(tShards)},""" +
        s""""merge_sec":${r3(tMerge)},"probe_merged_sec":${r3(tProbeMerged)},""" +
        s""""n_deleted":$nDeleted,"delete_sec":${r3(tDelete)},""" +
        s""""probe_after_delete_sec":${r3(tProbeDel)},"reject_exercised":true}""")
    }
  }

  // ==================== liveserve mode ====================

  private case class ProbeRec(t0: Long, t1: Long, ok: Boolean)

  /** One serve loop: probes on a dedicated thread until stopped,
    * recording (startMs, endMs, resultOk); `probe` must be
    * version-consistent per call (each probe resolves the index once).
    * The thread pins its jobs to the FAIR "serve" pool (a no-op under
    * FIFO), overriding whatever pool it inherited from the spawner.
    */
  private final class ServeLoop(sc: org.apache.spark.SparkContext,
      probe: () => Boolean) {
    private val out =
      new java.util.concurrent.ConcurrentLinkedQueue[ProbeRec]()
    @volatile private var err: Throwable = null
    private val stopF = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val t = new Thread(() => {
      sc.setLocalProperty("spark.scheduler.pool", "serve")
      try while (!stopF.get()) {
        val t0 = System.currentTimeMillis()
        val ok = probe()
        out.add(ProbeRec(t0, System.currentTimeMillis(), ok))
      } catch { case e: Throwable => err = e }
    }, "graft-liveserve")
    t.setDaemon(true)
    def start(): Unit = t.start()
    def awaitProbes(n: Int): Unit =
      while (out.size < n && err == null) Thread.sleep(50)
    /** Wait until `n` probes STARTED at or after `t` have completed —
      * the post-cutover tail (a long retrain otherwise fills any count
      * quota with during-window probes and the AFTER column reads empty).
      */
    def awaitProbesAfter(t: Long, n: Int): Unit = {
      import scala.jdk.CollectionConverters._
      while (err == null &&
          out.iterator().asScala.count(_.t0 >= t) < n) Thread.sleep(50)
    }
    def stop(): Seq[ProbeRec] = {
      stopF.set(true); t.join(600000)
      require(err == null, s"serve loop failed: $err")
      import scala.jdk.CollectionConverters._
      out.iterator().asScala.toSeq
    }
  }

  /** Split per-probe latencies by overlap with the retrain window and
    * require every result correct — the acceptance + report shared by
    * the two liveserve legs.
    */
  private def reportLive(metric: String, nBase: Long, rs: Seq[ProbeRec],
      w0: Long, w1: Long, tRetrain: Double): Unit = {
    require(rs.forall(_.ok),
      s"$metric: ${rs.count(!_.ok)} of ${rs.size} probes returned WRONG " +
        "results across the retrain cutover")
    def secs(f: ProbeRec => Boolean) =
      rs.filter(f).map(r => r3((r.t1 - r.t0) / 1000.0))
    val before = secs(_.t1 <= w0)
    val during = secs(r => r.t1 > w0 && r.t0 < w1)
    val after = secs(_.t0 >= w1)
    def fmt(xs: Seq[Double]) = xs.mkString("[", ",", "]")
    require(during.nonEmpty,
      s"$metric: no probe overlapped the retrain window — lengthen the " +
        "window or slow the probes; the measurement is the DURING column")
    // serve-isolation gate (FAIR pools): the during-window median must
    // stay within maxRatio of the before-median — the r16 FIFO runs
    // spiked to 10x. Env-tunable for loaded hosts; the default is the
    // verdict's bound.
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val ratio = r3(med(during) / med(before))
    val maxRatio =
      sys.env.getOrElse("GRAFT_LIVESERVE_MAX_RATIO", "3.0").toDouble
    require(ratio <= maxRatio,
      s"$metric: during-median ${med(during)} s is ${ratio}x the " +
        s"before-median ${med(before)} s (gate: ${maxRatio}x) — serve " +
        "pool isolation failed to bound the retrain's interference")
    println(s"""{"metric":"$metric","n":$nBase,""" +
      s""""retrain_sec":${r3(tRetrain)},"n_probes":${rs.size},"wrong":0,""" +
      s""""during_over_before_median":$ratio,""" +
      s""""probe_sec_before":${fmt(before)},""" +
      s""""probe_sec_during":${fmt(during)},""" +
      s""""probe_sec_after":${fmt(after)}}""")
  }

  private def liveServe(spark: SparkSession, nBase: Long): Unit = {
    // builds + retrains run in the low-priority maint pool; ServeLoop
    // pins its own thread to the serve pool
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maint")
    // ---- LSH: re-geometry under continuous veto probes ----
    locally {
      val corpus = CorpusBench.synth(spark, nBase).persist(mem)
      corpus.count()
      val dir = tmp("ls_lsh")
      Dedup.saveLshIndex(corpus, "doc_id", "text", dir, k = 16, nBands = 8)
      // exact copies of 200 indexed docs: identical shingle sets collide
      // under ANY geometry, so a correct probe hits ALL of them on both
      // sides of the cutover — and under a torn geometry/bands pairing
      // (the hazard the embedded-meta publish exists to prevent) they
      // would silently hit ZERO
      val probeBatch = corpus.where(col("doc_id") < 200)
        .select((col("doc_id") + lit(5L * nBase)).as("doc_id"), col("text"))
        .persist(mem)
      val nCopies = probeBatch.count()
      val loop = new ServeLoop(spark.sparkContext, () => CacheScope.using { sc =>
        Dedup.matchesAgainstLshIndex(spark, dir, probeBatch, scope = sc)
          .where(col("jaccard") >= 0.8)
          .select("batch_id").distinct().count() == nCopies
      })
      loop.start()
      loop.awaitProbes(2) // latency baseline before the cutover
      val w0 = System.currentTimeMillis()
      val (tRetrain, _) =
        timed(Dedup.retrainLshIndex(spark, dir, k = 8, nBands = 4))
      val w1 = System.currentTimeMillis()
      loop.awaitProbesAfter(w1, 2) // a real post-cutover tail
      val recs = loop.stop()
      reportLive("liveserve_lsh", nBase, recs, w0, w1, tRetrain)
      probeBatch.unpersist(); corpus.unpersist()
    }

    // ---- IVF: re-quantize under continuous probe-all top-k ----
    locally {
      val dim = 64
      val cells0 = math.max(16, math.sqrt(nBase.toDouble).toInt / 2)
      val cellsFinal = math.max(16, math.sqrt(nBase.toDouble).toInt)
      val vecs = AnnBench.synth(spark, nBase, dim, nClusters = 200)
        .persist(mem)
      vecs.count()
      val dir = tmp("ls_ivf")
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(vecs, cells0, dim), dir)
      val queries = vecs.where(col("vec_id") % lit(nBase / 8 + 1) === 0)
        .persist(mem)
      queries.count()
      // probe-all ≡ brute force under ANY quantizer: the expected set is
      // fixed across the cutover even though the centroids change
      def probeAll(): Set[(Long, Long, Int)] = CacheScope.using { sc =>
        Similarity.probeIvf(Similarity.loadIvfIndex(spark, dir),
          queries, k = 10, nProbe = Int.MaxValue, scope = sc)
          .select("q_id", "vec_id", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          .toSet
      }
      val want = probeAll()
      val loop = new ServeLoop(spark.sparkContext, () => probeAll() == want)
      loop.start()
      loop.awaitProbes(2)
      val w0 = System.currentTimeMillis()
      val (tRetrain, _) = timed(
        Similarity.retrainIvfIndex(spark, dir, nCells = Some(cellsFinal)))
      val w1 = System.currentTimeMillis()
      loop.awaitProbesAfter(w1, 2)
      val recs = loop.stop()
      reportLive("liveserve_ivf", nBase, recs, w0, w1, tRetrain)
      queries.unpersist(); vecs.unpersist()
    }
  }

  // ==================== liveserve3 mode ====================

  /** THREE-WAY concurrency at scale: a foreachBatch ingest stream appends
    * micro-batches into a live LSH index while a serve thread probes it
    * continuously and a RETRAIN cuts the geometry over mid-append. The
    * race is staged deterministically at the worst window (the
    * [[FaultPoints]] seam fires the retrain between a micro-batch's
    * shingle and band writes — the exact interleaving
    * BpeAndLshIndexSpec proves at unit scale), and the run require's all
    * three contracts SIMULTANEOUSLY:
    *
    *  1. geometry-abort: the racing micro-batch aborts loudly on the
    *     under-lease geometry re-check and the stream fails BEFORE its
    *     checkpoint commits;
    *  2. exactly-once: a restart from the same checkpoint re-delivers
    *     the batch; when the stream drains, the corpus holds every
    *     planted unique exactly once and no planted copy — survivors are
    *     closed-form because copies are EXACT dups of indexed seeds
    *     (identical shingle sets collide under ANY geometry) and uniques
    *     share no shingle with anything;
    *  3. zero wrong serves: every probe across before/during/after the
    *     cutover hits all its seed copies, with latency split reported
    *     and the FAIR-pool isolation gate applied as in liveserve.
    */
  private def liveServe3(spark: SparkSession, nBase: Long): Unit = {
    import graft.streaming.StreamingOps
    import spark.implicits._
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maint")
    val root = tmp("ls3")
    val idx = s"$root/index"; val corpusOut = s"$root/corpus"
    val corpus = CorpusBench.synth(spark, nBase).persist(mem)
    corpus.count()
    Dedup.saveLshIndex(corpus, "doc_id", "text", idx, k = 16, nBands = 8)

    // stream input: 4 micro-batch files, each half exact seed copies
    // (drop under any geometry) and half namespaced uniques (survive
    // under any geometry) — the closed-form survivor set
    val nPer = math.max(250L, nBase / 64)
    val copyIds = (b: Int) => corpus
      .where(col("doc_id") >= b * nPer && col("doc_id") < (b + 1) * nPer)
      .select((col("doc_id") + lit(6L * nBase)).as("doc_id"), col("text"))
    val uniques = (b: Int) => spark.range(b * nPer, (b + 1) * nPer)
      .select((col("id") + lit(7L * nBase)).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(40)),
          i => concat(lit("u"), col("id").cast("string"), lit("t"),
            i.cast("string")))).as("text"))
    (0 until 4).foreach { b =>
      copyIds(b).union(uniques(b)).coalesce(1)
        .write.parquet(s"$root/in/b$b")
    }
    val expectIds = spark.range(0, 4 * nPer)
      .select((col("id") + lit(7L * nBase)).as("doc_id")).persist(mem)
    expectIds.count()

    // serve loop: exact copies of 200 seed docs must ALL hit, at every
    // instant of the run (the liveserve_lsh veto construction; stream
    // appends only ADD docs and cannot remove a seed's collisions)
    val probeBatch = corpus.where(col("doc_id") < 200)
      .select((col("doc_id") + lit(5L * nBase)).as("doc_id"), col("text"))
      .persist(mem)
    val nCopies = probeBatch.count()
    val loop = new ServeLoop(spark.sparkContext, () => CacheScope.using { sc =>
      Dedup.matchesAgainstLshIndex(spark, idx, probeBatch, scope = sc)
        .where(col("jaccard") >= 0.8)
        .select("batch_id").distinct().count() == nCopies
    })
    loop.start()
    loop.awaitProbes(2)

    val schema = spark.read.parquet(s"$root/in/b0").schema
    def startStream() = StreamingOps.ingestWithDedup(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$root/in/*"),
      idx, corpusOut, jaccardThreshold = 0.8)
      .option("checkpointLocation", s"$root/ckpt").start()

    // stage the cutover at the worst window of the FIRST micro-batch
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var w0 = 0L; @volatile var w1 = 0L
    @volatile var tRetrain = 0.0
    val aborted =
      try {
        FaultPoints.withHook((o, t) =>
          if (o == "lsh.append" && t == "shingles" &&
              fired.compareAndSet(false, true)) {
            w0 = System.currentTimeMillis()
            val (tr, _) =
              timed(Dedup.retrainLshIndex(spark, idx, k = 8, nBands = 4))
            tRetrain = tr
            w1 = System.currentTimeMillis()
          }) {
          val q = startStream()
          try q.processAllAvailable() finally q.stop()
        }
        false
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          val chain = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null)
            .map(t => String.valueOf(t.getMessage)).toSeq
          require(chain.exists(_.contains("geometry changed")),
            s"stream died but not on the geometry re-check: $chain")
          true
      }
    require(aborted,
      "the staged retrain must abort the racing micro-batch (the hook " +
        "did not fire inside an append window)")
    // Count committed part files before asking Spark to read the dir: an
    // aborted job can leave corpusOut existing with only _temporary
    // leftovers, and spark.read.parquet on a footer-less dir throws
    // "unable to infer schema" — masking the intended require with an
    // unrelated error. No committed part files ⇒ 0 published rows.
    val committedParts = Option(new java.io.File(corpusOut).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    require(committedParts.isEmpty ||
      spark.read.parquet(corpusOut).count() == 0L,
      "an aborted micro-batch must not have published corpus rows")

    // replay from the SAME checkpoint: all 4 batches land under the new
    // geometry, exactly once
    val (tReplay, _) = timed {
      val q2 = startStream()
      try q2.processAllAvailable() finally q2.stop()
    }
    loop.awaitProbesAfter(w1, 2)
    val recs = loop.stop()

    val got = spark.read.parquet(corpusOut)
    val nDup = got.groupBy("doc_id").count()
      .where(col("count") > 1).count()
    require(nDup == 0, s"$nDup doc_ids applied more than once")
    val missing = expectIds.except(got.select("doc_id")).count()
    val extra = got.select("doc_id").except(expectIds).count()
    require(missing == 0 && extra == 0,
      s"survivor set wrong: $missing planted uniques missing, " +
        s"$extra unexpected survivors (planted copies must drop)")
    // cross-batch visibility on the grown index: a fresh exact copy of a
    // landed survivor drops; a fresh unique survives
    val visProbe = Seq(
      (9L * nBase, s"u0t1 " + (2 to 40).map(i => s"u0t$i").mkString(" ")),
      (9L * nBase + 1, (1 to 40).map(i => s"v9t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val visKept = Dedup.dedupBatchAgainstLshIndex(spark, idx,
      visProbe.toDF("doc_id", "text"), jaccardThreshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    require(visKept == Set(9L * nBase + 1),
      s"grown-index visibility wrong: kept $visKept")

    reportLive("liveserve3_lsh", nBase, recs, w0, w1, tRetrain)
    println(s"""{"metric":"liveserve3_stream","n":$nBase,""" +
      s""""n_stream_docs":${8 * nPer},"n_survivors":${4 * nPer},""" +
      s""""abort_replayed":true,"replay_sec":${r3(tReplay)}}""")
    probeBatch.unpersist(); expectIds.unpersist(); corpus.unpersist()
  }

  // ==================== composed mode ====================

  /** Region split shared by the four composed lifecycles: build on A
    * (40%), append B (30%), then delete the `% 10 == 3` tenth, merge a
    * foreign shard C (30%), retrain, compact, serve. The acceptance is
    * one identity per family: the composed index serves exactly like a
    * one-shot build over the survivors-union.
    */
  private def composed(spark: SparkSession, nBase: Long): Unit = {
    def regA(id: String) = pmod(col(id), lit(10L)) < 4
    def regB(id: String) = pmod(col(id), lit(10L)) >= 4 &&
      pmod(col(id), lit(10L)) < 7
    def regC(id: String) = pmod(col(id), lit(10L)) >= 7
    def isDel(id: String) = pmod(col(id), lit(10L)) === 3L

    // ---- BM25 ----
    locally {
      val corpus = CorpusBench.synth(spark, nBase).persist(mem)
      corpus.count()
      val qs = Seq("qa" -> Seq("glider", "ocean", "current"),
        "qb" -> Seq("depth", "water", "signal"))
      val dir = tmp("cmp_bm25"); val shard = tmp("cmp_bm25_c")
      val one = tmp("cmp_bm25_one")
      def serve(d: String) = Retrieval.searchIndex(spark, d, qs, k = 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val (tChain, _) = timed {
        Retrieval.buildIndex(corpus.where(regA("doc_id")), dir, 64)
        Retrieval.appendToIndex(spark, dir, corpus.where(regB("doc_id")))
        Retrieval.deleteFromIndex(spark, dir,
          corpus.where(isDel("doc_id")).select("doc_id"))
        // the foreign shard deliberately uses a different modulus: the
        // merge must re-bucket under the host's
        Retrieval.buildIndex(corpus.where(regC("doc_id")), shard, 32)
        Retrieval.mergeIndexes(spark, dir, shard, requireDisjoint = false)
        Retrieval.compactIndex(spark, dir)
      }
      val (tServe, served) = timed(serve(dir))
      val (tOne, _) = timed(
        Retrieval.buildIndex(corpus.where(!isDel("doc_id")), one, 64))
      require(served == serve(one),
        "composed BM25 lifecycle served differently from one-shot survivors")
      corpus.unpersist()
      println(s"""{"metric":"composed_bm25","n":$nBase,""" +
        s""""chain_sec":${r3(tChain)},"serve_sec":${r3(tServe)},""" +
        s""""oneshot_build_sec":${r3(tOne)}}""")
    }

    // ---- LSH (retrain = re-geometry mid-chain) ----
    locally {
      val corpus = CorpusBench.synth(spark, nBase).persist(mem)
      corpus.count()
      val dir = tmp("cmp_lsh"); val shard = tmp("cmp_lsh_c")
      val one = tmp("cmp_lsh_one")
      // probe: exact copies of docs from every region INCLUDING deleted
      // ones — survivors must veto, deleted must not, and the veto set
      // must equal the one-shot index's exactly
      val probeBatch = corpus.where(col("doc_id") < 400)
        .select((col("doc_id") + lit(5L * nBase)).as("doc_id"), col("text"))
        .persist(mem)
      probeBatch.count()
      def vetoes(d: String) = CacheScope.using { sc =>
        Dedup.matchesAgainstLshIndex(spark, d, probeBatch, scope = sc)
          .where(col("jaccard") >= 0.8)
          .select("batch_id", "dup_of")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val (tChain, _) = timed {
        Dedup.saveLshIndex(corpus.where(regA("doc_id")), "doc_id", "text",
          dir, k = 16, nBands = 8)
        Dedup.appendToLshIndex(spark, dir, corpus.where(regB("doc_id")))
        Dedup.deleteFromLshIndex(spark, dir,
          corpus.where(isDel("doc_id")).select("doc_id"))
        Dedup.saveLshIndex(corpus.where(regC("doc_id")), "doc_id", "text",
          shard, k = 16, nBands = 8)
        Dedup.mergeLshIndexes(spark, dir, shard)
        // re-geometry AFTER the merge: the retrained bands must cover
        // every row however it arrived (build, append, merge)
        Dedup.retrainLshIndex(spark, dir, k = 8, nBands = 4)
        Dedup.compactLshIndex(spark, dir)
      }
      val (tServe, got) = timed(vetoes(dir))
      val (tOne, _) = timed(Dedup.saveLshIndex(
        corpus.where(!isDel("doc_id")), "doc_id", "text", one,
        k = 8, nBands = 4))
      require(got == vetoes(one),
        "composed LSH lifecycle vetoed differently from one-shot survivors")
      require(got.nonEmpty, "composed LSH probe produced no vetoes at all")
      require(!got.exists { case (_, dupOf) => dupOf % 10 == 3 },
        "a deleted doc still vetoes after the composed lifecycle")
      probeBatch.unpersist(); corpus.unpersist()
      println(s"""{"metric":"composed_lsh","n":$nBase,""" +
        s""""chain_sec":${r3(tChain)},"serve_sec":${r3(tServe)},""" +
        s""""oneshot_build_sec":${r3(tOne)}}""")
    }

    // ---- IVF (retrain = re-quantize + grow cells mid-chain) ----
    locally {
      val dim = 64
      val cells0 = math.max(16, math.sqrt(nBase.toDouble).toInt / 2)
      val cellsFinal = math.max(16, math.sqrt(nBase.toDouble).toInt)
      val vecs = AnnBench.synth(spark, nBase, dim, nClusters = 200)
        .persist(mem)
      vecs.count()
      val dir = tmp("cmp_ivf"); val shard = tmp("cmp_ivf_c")
      val one = tmp("cmp_ivf_one")
      val queries = vecs.where(col("vec_id") % lit(nBase / 16 + 1) === 0)
        .persist(mem)
      queries.count()
      // probe-all: identical to brute force for ANY quantizer, so the
      // composed chain (whose retrained centroids legitimately differ
      // from the one-shot build's) must match exactly
      def probeAll(d: String, n: Int) = CacheScope.using { sc =>
        Similarity.probeIvf(Similarity.loadIvfIndex(spark, d),
          queries, k = 10, nProbe = n, scope = sc)
          .select("q_id", "vec_id", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      }
      val (tChain, _) = timed {
        Similarity.saveIvfIndex(Similarity.buildIvfIndex(
          vecs.where(regA("vec_id")), cells0, dim), dir)
        Similarity.appendToIvfIndex(spark, dir, vecs.where(regB("vec_id")))
        Similarity.deleteFromIvfIndex(spark, dir,
          vecs.where(isDel("vec_id")).select("vec_id"))
        Similarity.saveIvfIndex(Similarity.buildIvfIndex(
          vecs.where(regC("vec_id")), cells0 / 2, dim), shard)
        Similarity.mergeIvfIndexes(spark, dir, shard)
        Similarity.retrainIvfIndex(spark, dir, nCells = Some(cellsFinal))
        Similarity.compactIvfIndex(spark, dir)
      }
      val (tServe, got) = timed(probeAll(dir, cellsFinal))
      val (tOne, _) = timed(Similarity.saveIvfIndex(Similarity.buildIvfIndex(
        vecs.where(!isDel("vec_id")), cellsFinal, dim), one))
      require(got == probeAll(one, cellsFinal),
        "composed IVF lifecycle served differently from one-shot survivors")
      queries.unpersist(); vecs.unpersist()
      println(s"""{"metric":"composed_ivf","n":$nBase,""" +
        s""""chain_sec":${r3(tChain)},"serve_probeall_sec":${r3(tServe)},""" +
        s""""oneshot_build_sec":${r3(tOne)}}""")
    }

    // ---- IVF-PQ (shard-encode; no retrain verb by family contract) ----
    locally {
      val dim = 64
      val nCells = 256
      val vecs = AnnBench.synth(spark, nBase, dim, nClusters = 200)
        .persist(mem)
      vecs.count()
      val dir = tmp("cmp_ivfpq"); val shard = tmp("cmp_ivfpq_c")
      val one = tmp("cmp_ivfpq_one")
      val queries = vecs.where(col("vec_id") % lit(nBase / 8 + 1) === 0)
        .persist(mem)
      queries.count()
      // probe-all + shortlist-inf ≡ brute force for ANY artifacts — the
      // q56e identity — so the one-shot reference may train its own
      def probeAll(d: String) = CacheScope.using { sc =>
        Similarity.probeIvfPq(Similarity.loadIvfPqIndex(spark, d),
          queries, vecs, k = 10, nProbe = nCells,
          shortlist = Int.MaxValue, scope = sc)
          .select("q_id", "vec_id", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      }
      val (tChain, _) = timed {
        val idx = Similarity.buildIvfPq(vecs.where(regA("vec_id")), nCells,
          dim, m = 8, ksub = 16, iters = 1)
        Similarity.saveIvfPqIndex(idx, dir)
        Similarity.appendToIvfPqIndex(spark, dir, vecs.where(regB("vec_id")))
        Similarity.deleteFromIvfPqIndex(spark, dir,
          vecs.where(isDel("vec_id")).select("vec_id"))
        // shard C under the SAME artifacts (the shard-encode contract):
        // copy the host's artifacts+lists, append C, delete the copied
        // host rows — three existing verbs, no private encode API
        Similarity.saveIvfPqIndex(idx, shard)
        Similarity.appendToIvfPqIndex(spark, shard, vecs.where(regC("vec_id")))
        Similarity.deleteFromIvfPqIndex(spark, shard,
          vecs.where(regA("vec_id")).select("vec_id"))
        Similarity.mergeIvfPqIndexes(spark, dir, shard)
        Similarity.compactIvfPqIndex(spark, dir)
      }
      require(spark.read.parquet(IndexFiles.tablePath(spark, dir, "lists"))
          .count() == vecs.where(!isDel("vec_id")).count(),
        "composed IVF-PQ lists row count drifted from the survivors-union")
      val (tServe, got) = timed(probeAll(dir))
      val (tOne, _) = timed(Similarity.saveIvfPqIndex(Similarity.buildIvfPq(
        vecs.where(!isDel("vec_id")), nCells, dim, m = 8, ksub = 16,
        iters = 1), one))
      require(got == probeAll(one),
        "composed IVF-PQ lifecycle served differently from one-shot survivors")
      queries.unpersist(); vecs.unpersist()
      println(s"""{"metric":"composed_ivfpq","n":$nBase,""" +
        s""""chain_sec":${r3(tChain)},"serve_probeall_sec":${r3(tServe)},""" +
        s""""oneshot_build_sec":${r3(tOne)}}""")
    }
  }
}
