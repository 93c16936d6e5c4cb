package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.CacheScope

/** Corpus-pipeline scale rehearsal — the LLM-training-data analog of
  * [[graft.pipeline.PipelineBench]]: synthesize an N-document corpus
  * entirely on the executors (no driver loop, no input files), run the
  * full [[Corpus.preprocess]] composition (quality gate -> capped LSH ->
  * exact Jaccard -> cluster resolution -> keep min-id), and report
  * wall-clock, docs/s, survivor counts, peak heap, and cache hygiene as
  * one JSON line.
  *
  * The synthetic corpus is deterministic (hash-seeded, no RNG state) and
  * adversarially shaped: ~10% of docs arrive as exact-duplicate pairs,
  * ~4% as junk that the language gate must drop, and every doc shares a
  * high-frequency stopword backbone so LSH buckets are realistically
  * skewed. Usage: `runMain graft.operators.CorpusBench [nDocs]`.
  *
  * `cached_rdds_after_release` counts what the session [[CacheScope]]
  * cannot free: [[Dedup.connectedComponents]]'s final-round
  * localCheckpoint RDDs, which pin O(paired docs) label rows for as long
  * as the result frame is live — unpersisting a localCheckpoint severs truncated lineage rather
  * than triggering recompute, so they are deliberately not tracked.
  * Measured at local[32] (round 7): 200k docs 23.1 s (8.7k docs/s), 1M
  * docs 201 s (~5k docs/s — single machine, fixed cores); 200k
  * boilerplate-adversarial docs 18.9 s with the pre-cap worst bucket at
  * 172k docs collapsing to 6 post-cap. Shuffle partitions scale with the
  * ~60x shingle explode (n/10k, min 32) — see BASELINE.md round 7.
  */
object CorpusBench {

  /** English-ish vocabulary: the langId stopword list plus filler words,
    * so the gate recognizes the corpus as "en" at a realistic stopword
    * density.
    */
  private val vocab: Seq[String] =
    graft.functions.Text.stopwords.collectFirst { case ("en", ws) => ws }.get ++
      Seq("glider", "ocean", "current", "shear", "profile", "sensor",
        "velocity", "depth", "water", "signal", "measurement", "survey",
        "transect", "column", "density", "pressure", "beam", "echo",
        "range", "sample", "drift", "heading", "salinity", "thermocline",
        "plume", "eddy", "front", "mixing", "layer", "buoyancy",
        "ballast", "pitch", "antenna", "surface", "mission", "battery")

  /** Deterministic synthetic corpus: doc i's text is `nTok` words drawn by
    * xxhash64(seed, position) from the vocabulary — pure Column algebra,
    * generated in parallel on the executors. Docs with id % 20 in {0, 1}
    * share a seed (exact-duplicate pairs -> dedup work); id % 25 == 7 is
    * unrecognizable junk (gate work).
    */
  def synth(spark: SparkSession, n: Long, nTok: Int = 60): DataFrame = {
    val v = typedLit(vocab)
    val nv = vocab.size
    val seed = when(col("id") % 20 < 2, col("id") - col("id") % 20)
      .otherwise(col("id"))
    val words = transform(sequence(lit(1), lit(nTok)),
      i => element_at(v, pmod(xxhash64(seed, i), lit(nv)).cast("int") + 1))
    spark.range(n)
      .withColumn("text",
        when(col("id") % 25 === 7,
          concat_ws(" ", transform(sequence(lit(1), lit(nTok)),
            i => concat(lit("z"), conv(pmod(xxhash64(col("id"), i), lit(999)), 10, 36)))))
        .otherwise(concat_ws(" ", words)))
      .select(col("id").as("doc_id"), col("text"))
  }

  /** Adversarial boilerplate corpus: EVERY doc opens with the same
    * 40-token backbone (a fixed vocabulary prefix — think shared license
    * headers or site chrome) followed by a few hash-drawn unique tokens.
    * The backbone owns most band-signature minima, so band buckets
    * degenerate to a large fraction of the corpus — the configuration
    * where an uncapped LSH self-join is quadratic and the default
    * [[Dedup.defaultMaxBucket]] must engage. Exact-dup pairs
    * (id % 20 in {0,1}) still dedup via their discriminating suffix bands.
    */
  def synthBoiler(spark: SparkSession, n: Long, nUnique: Int = 6): DataFrame = {
    val backbone = (0 until 40).map(i => vocab(i % vocab.size)).mkString(" ")
    val v = typedLit(vocab)
    val nv = vocab.size
    val seed = when(col("id") % 20 < 2, col("id") - col("id") % 20)
      .otherwise(col("id"))
    val uniq = transform(sequence(lit(1), lit(nUnique)),
      i => concat(element_at(v, pmod(xxhash64(seed, i), lit(nv)).cast("int") + 1),
        conv(pmod(xxhash64(seed, i + 100), lit(46655)), 10, 36)))
    spark.range(n)
      .withColumn("text", concat(lit(backbone + " "), concat_ws(" ", uniq)))
      .select(col("id").as("doc_id"), col("text"))
  }

  /** Usage: `runMain graft.operators.CorpusBench [nDocs]
    * [normal|boiler|retrieval|spans|bpe|lshindex]`.
    * Boiler mode additionally measures LSH bucket pressure: the pre-cap
    * worst band bucket (how adversarial the corpus is) and the post-cap
    * worst bucket, and exits nonzero if the cap failed to bound it.
    */
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val mode = if (args.length > 1) args(1) else "normal"
    // shuffle partitions sized like a real deployment would: the shingle
    // explode multiplies rows ~60x, so at 1M docs a 32-way shuffle makes
    // ~2M-row tasks that stall on sort spill — scale partitions with the
    // corpus (overridable for experiments)
    val shufflePartitions = sys.env.getOrElse("GRAFT_BENCH_PARTITIONS",
      math.max(32L, n / 10000L).toString)
    graft.GraftSession.run(Map("spark.sql.shuffle.partitions" ->
      shufflePartitions))(bench(_, n, mode))
  }

  private def bench(spark: SparkSession, n: Long, mode: String): Unit = {
    // materialize the input first so the timed section measures the
    // pipeline, not the synthesis
    val docs = (if (mode == "boiler") synthBoiler(spark, n) else synth(spark, n))
      .repartition(32).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.count()

    // retrieval mode: BM25 ranked search + token-level sequence packing
    // over the same corpus — the read-side mix-construction ops, measured
    // separately from the dedup pipeline (they share no stage with it)
    if (mode == "retrieval") {
      val t0 = System.nanoTime()
      val hits = Retrieval.bm25(docs, Seq(
          "qa" -> Seq("glider", "ocean", "current"),
          "qb" -> Seq("depth", "water", "signal"),
          "qc" -> Seq("the", "a", "of")), k = 10).count()
      val bm25Secs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val weighted = docs.select(col("doc_id"),
        (col("doc_id") % 64).as("src"),
        size(graft.functions.Text.tokens(col("text"))).cast("long").as("w"))
      val slices = Corpus.packSequences(weighted, "w", seqLen = 2048,
        orderCol = "doc_id", groupCols = Seq("src")).count()
      val packSecs = (System.nanoTime() - t1) / 1e9
      // the build-once/serve-many path: persist the inverted index, then
      // serve the same query batch from it — the serve scan is statically
      // pruned to the query terms' posting buckets (reported as
      // serve_buckets of total_buckets, the partition-pruning proof)
      val idxDir = java.nio.file.Files.createTempDirectory("bm25_idx").toString
      val qs = Seq(
        "qa" -> Seq("glider", "ocean", "current"),
        "qb" -> Seq("depth", "water", "signal"),
        "qc" -> Seq("the", "a", "of"))
      val nBuckets = 64
      val t2 = System.nanoTime()
      Retrieval.buildIndex(docs, idxDir, nBuckets)
      val buildSecs = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val servedHits = Retrieval.searchIndex(spark, idxDir, qs, k = 10).count()
      val serveSecs = (System.nanoTime() - t3) / 1e9
      require(servedHits == hits,
        s"index-served hit count $servedHits != in-memory $hits")
      val serveBuckets = qs.flatMap(_._2).distinct
        .map(t => graft.functions.Vec.hash48(t) % nBuckets).distinct.size
      val totalBuckets = new java.io.File(s"$idxDir/postings").listFiles()
        .count(_.getName.startsWith("bucket="))
      // incremental maintenance leg (r12): append a 10% daily batch of NEW
      // docs into the frozen buckets + additive stats merge, then re-serve.
      // The grown index's n_docs is a closed-form invariant.
      val batch = synth(spark, nDocs / 10).select(
        (col("doc_id") + lit(10L * nDocs)).as("doc_id"), col("text"))
      val t4 = System.nanoTime()
      Retrieval.appendToIndex(spark, idxDir, batch)
      val appendSecs = (System.nanoTime() - t4) / 1e9
      val t5 = System.nanoTime()
      val grownHits = Retrieval.searchIndex(spark, idxDir, qs, k = 10).count()
      val reserveSecs = (System.nanoTime() - t5) / 1e9
      // resolve the LIVE stats version — the append publishes a new one
      val statsLive = spark.read.parquet(
        IndexFiles.tablePath(spark, idxDir, "stats"))
      val grownN = statsLive.select(col("n_docs")).head().getLong(0)
      require(grownN == nDocs + nDocs / 10,
        s"grown index n_docs $grownN != ${nDocs + nDocs / 10}")
      // stopword leg (r13): serve ONE query on the corpus's highest-df
      // term — the degenerate case where a single q_id's candidate set is
      // a large corpus fraction. The map-side WindowGroupLimit pre-rank
      // (pinned by PlanAudit) keeps this a per-partition top-k, not a
      // single-task sort; this leg measures that it holds at bench scale.
      val worst = statsLive.orderBy(col("df").desc)
        .select("term", "df").head()
      val (stopTerm, stopDf) = (worst.getString(0), worst.getLong(1))
      val t6 = System.nanoTime()
      val stopHits = Retrieval.searchIndex(spark, idxDir,
        Seq("stop" -> Seq(stopTerm)), k = 10).count()
      val stopSecs = (System.nanoTime() - t6) / 1e9
      require(stopHits == 10L, s"stopword query returned $stopHits hits")
      // distributed-batch serve leg (r13): 10k hash-drawn 3-term queries
      // as a DataFrame — the driver-unbounded searchIndexBatch contract
      // measured at a real batch size (the Seq contract would hold 10k
      // query tuples and their per-term idf map on the driver). Terms
      // come from the SELECTIVE z-token tail of the synth corpus (df ~
      // 2.3k of 1M) — the realistic retrieval-batch shape, where per-
      // query work is bounded by term selectivity; every term of the
      // main vocab is an ~80%-df stopword (the synth corpus is 60 draws
      // from ~70 words), and 10k three-stopword queries would demand
      // scoring ~10^10 (query, matching-doc) candidates, which is the
      // workload's cost, not the operator's (the single-stopword leg
      // above covers the degenerate-df case)
      val nQ = 10000L
      val qBatch = spark.range(nQ).select(
        concat(lit("q"), col("id")).as("q_id"),
        transform(sequence(lit(1), lit(3)), i => concat(lit("z"),
          conv(pmod(xxhash64(col("id"), i + 1000), lit(999)), 10, 36)))
          .as("terms"))
      val t7 = System.nanoTime()
      val batchHits = Retrieval.searchIndexBatch(spark, idxDir, qBatch,
        k = 10).count()
      val batchSecs = (System.nanoTime() - t7) / 1e9
      require(batchHits > 0L, "batch serve returned nothing")
      docs.unpersist(blocking = true)
      println(s"""{"metric":"corpus_retrieval","n_docs":$nDocs,"bm25_hits":$hits,""" +
        s""""bm25_sec":${math.round(bm25Secs * 10) / 10.0},""" +
        s""""bm25_docs_per_s":${math.round(nDocs / bm25Secs)},""" +
        s""""pack_slices":$slices,"pack_sec":${math.round(packSecs * 10) / 10.0},""" +
        s""""idx_build_sec":${math.round(buildSecs * 10) / 10.0},""" +
        s""""idx_serve_sec":${math.round(serveSecs * 10) / 10.0},""" +
        s""""serve_buckets":$serveBuckets,"total_buckets":$totalBuckets,""" +
        s""""idx_append_sec":${math.round(appendSecs * 10) / 10.0},""" +
        s""""idx_reserve_sec":${math.round(reserveSecs * 10) / 10.0},""" +
        s""""grown_hits":$grownHits,""" +
        s""""stopword_term":"$stopTerm","stopword_df":$stopDf,""" +
        s""""stopword_serve_sec":${math.round(stopSecs * 100) / 100.0},""" +
        s""""batch_queries":$nQ,"batch_hits":$batchHits,""" +
        s""""batch_serve_sec":${math.round(batchSecs * 100) / 100.0},""" +
        s""""batch_q_per_s":${math.round(nQ / batchSecs)},""" +
        s""""peak_heap_mb":${graft.Bench.peakHeapMb}}""")
      return
    }

    // spans mode: the round-10 content operators at corpus scale —
    // span-level dedup (detect + strip), DSIR importance weights, and
    // bigram-LM scoring. Invariant checked: the synthetic exact-duplicate
    // pairs (id % 20 in {0,1}, minus the junk overlap) are FULLY covered
    // by repeated spans, so their stripped text is empty.
    if (mode == "spans") {
      val t0 = System.nanoTime()
      val nSpans = Dedup.repeatedSpans(docs, "doc_id", "text", 5).count()
      val spanSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val stripped = Dedup.stripRepeatedSpans(docs, "doc_id", "text", 5)
        .select(col("doc_id"), (col("text_clean") === "").as("empty"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nStripped = stripped.count()
      val stripSecs = (System.nanoTime() - t1) / 1e9
      val nEmpty = stripped.where(col("empty")).count()
      stripped.unpersist(blocking = true)
      // intact dup docs = 10% of corpus minus those overridden to junk
      val nDup = (0L until nDocs).count(i => i % 20 < 2 && i % 25 != 7)
      require(nStripped == nDocs, s"strip lost rows: $nStripped != $nDocs")
      require(nEmpty >= nDup,
        s"only $nEmpty docs stripped to empty; every intact dup doc ($nDup) must")
      // force with a checksum aggregate over the score column, NOT
      // count(): count() of the doc LEFT JOIN grouped-scores shape lets
      // Catalyst eliminate the join and skip the whole computation (the
      // Bench.pass lesson)
      val t2 = System.nanoTime()
      val dsirRow = Corpus.importanceWeights(docs, "doc_id", "text",
          col("doc_id") % 5 === 0)
        .agg(count(lit(1)).as("n"), sum(abs(col("dsir_micro"))).as("chk"))
        .first()
      val dsirSecs = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val lmRow = Corpus.lmScore(docs, "doc_id", "text",
          col("doc_id") % 5 === 0)
        .agg(count(lit(1)).as("n"), sum(abs(col("lm_micro"))).as("chk"))
        .first()
      val lmSecs = (System.nanoTime() - t3) / 1e9
      require(dsirRow.getLong(0) == nDocs && lmRow.getLong(0) == nDocs,
        "score row-count mismatch")
      require(dsirRow.getLong(1) > 0 && lmRow.getLong(1) > 0,
        "degenerate all-zero scores")
      docs.unpersist(blocking = true)
      println(s"""{"metric":"corpus_spans","n_docs":$nDocs,"n_spans":$nSpans,""" +
        s""""span_sec":${math.round(spanSecs * 10) / 10.0},""" +
        s""""span_docs_per_s":${math.round(nDocs / spanSecs)},""" +
        s""""strip_sec":${math.round(stripSecs * 10) / 10.0},""" +
        s""""n_stripped_empty":$nEmpty,"n_dup_expected":$nDup,""" +
        s""""dsir_sec":${math.round(dsirSecs * 10) / 10.0},""" +
        s""""lm_sec":${math.round(lmSecs * 10) / 10.0},""" +
        s""""peak_heap_mb":${graft.Bench.peakHeapMb}}""")
      return
    }

    // bpe mode: tokenizer training + corpus encode at scale. The
    // histogram/collect is the distributed half (vocabulary-bounded
    // result); the driver merge loop is the incremental trainer; the
    // encode is amortized over distinct words then joined back onto the
    // corpus. Forced with a checksum aggregate (the Bench.pass lesson).
    if (mode == "bpe") {
      val t0 = System.nanoTime()
      val merges = Bpe.train(docs, "text", nMerges = 200)
      val trainSecs = (System.nanoTime() - t0) / 1e9
      require(merges.length == 200, s"trained only ${merges.length} merges")
      // round-trip the model through its persisted form: the encode below
      // runs off the LOADED merges, so the rehearsal exercises the
      // train-once/encode-many artifact, not just the in-memory list
      val mdir = java.nio.file.Files.createTempDirectory("bpe_model").toString
      Bpe.saveBpeModel(spark, merges, mdir)
      val loaded = Bpe.loadBpeModel(spark, mdir)
      require(loaded == merges, "loaded bpe model differs from trained")
      val t1 = System.nanoTime()
      val enc = Bpe.encodeCorpus(docs, "doc_id", "text", loaded)
        .agg(count(lit(1)).as("n_tok"), sum("n_pieces").as("n_pieces"),
          sum(length(col("word"))).as("n_chars"))
        .first()
      val encodeSecs = (System.nanoTime() - t1) / 1e9
      val (nTok, nPieces, nChars) =
        (enc.getLong(0), enc.getLong(1), enc.getLong(2))
      // merges only ever shrink a token's piece count toward >= 1
      require(nPieces >= nTok && nPieces <= nChars,
        s"piece count $nPieces outside [$nTok, $nChars]")
      docs.unpersist(blocking = true)
      println(s"""{"metric":"corpus_bpe","n_docs":$nDocs,"n_merges":${merges.length},""" +
        s""""train_sec":${math.round(trainSecs * 10) / 10.0},""" +
        s""""train_docs_per_s":${math.round(nDocs / trainSecs)},""" +
        s""""encode_sec":${math.round(encodeSecs * 10) / 10.0},""" +
        s""""encode_docs_per_s":${math.round(nDocs / encodeSecs)},""" +
        s""""n_tokens":$nTok,"n_pieces":$nPieces,""" +
        s""""pieces_per_token_milli":${math.round(1000.0 * nPieces / nTok)},""" +
        s""""peak_heap_mb":${graft.Bench.peakHeapMb}}""")
      return
    }

    // lshindex mode: the incremental-dedup ingest loop at scale — persist
    // an LSH index over the accepted corpus, probe a daily batch against
    // it, append the survivors. Batch = the id%20==1 members of the
    // synthetic exact-dup pairs (every one has its jaccard-1.0 twin in
    // the index — exact twins always band-collide, so they MUST all be
    // dropped) plus the unique-seed id%20==5 docs (no twin anywhere —
    // they MUST all survive; junk ids ≡7 mod 25 intersect neither batch
    // class, by CRT). The survivor count is therefore exact, not a bound.
    if (mode == "lshindex") {
      val idxSide = docs.where(col("doc_id") % 20 =!= 1 &&
        col("doc_id") % 20 =!= 5)
      val batch = docs.where(col("doc_id") % 20 === 1 ||
        col("doc_id") % 20 === 5)
      val dir = java.nio.file.Files.createTempDirectory("lsh_idx").toString
      val t0 = System.nanoTime()
      Dedup.saveLshIndex(idxSide, "doc_id", "text", dir)
      val buildSecs = (System.nanoTime() - t0) / 1e9
      val nIdx = idxSide.count()
      val t1 = System.nanoTime()
      val survivors = Dedup.dedupBatchAgainstLshIndex(spark, dir, batch,
          jaccardThreshold = 0.99)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nSurv = survivors.count()
      val probeSecs = (System.nanoTime() - t1) / 1e9
      val nBatch = batch.count()
      val expSurv = (0L until nDocs).count(_ % 20 == 5)
      require(nSurv == expSurv,
        s"$nSurv batch survivors; expected exactly the $expSurv unique docs")
      val t2 = System.nanoTime()
      Dedup.appendToLshIndex(spark, dir, survivors)
      val appendSecs = (System.nanoTime() - t2) / 1e9
      survivors.unpersist(blocking = true)
      CacheScope.session.release()
      docs.unpersist(blocking = true)
      println(s"""{"metric":"corpus_lshindex","n_docs":$nDocs,"n_indexed":$nIdx,""" +
        s""""n_batch":$nBatch,"n_survivors":$nSurv,""" +
        s""""build_sec":${math.round(buildSecs * 10) / 10.0},""" +
        s""""build_docs_per_s":${math.round(nIdx / buildSecs)},""" +
        s""""probe_sec":${math.round(probeSecs * 10) / 10.0},""" +
        s""""probe_docs_per_s":${math.round(nBatch / probeSecs)},""" +
        s""""append_sec":${math.round(appendSecs * 10) / 10.0},""" +
        s""""peak_heap_mb":${graft.Bench.peakHeapMb}}""")
      return
    }

    // mix mode: the trainingMix composition + within-shard shuffle at
    // scale. en weight is exactly 2.0, so every (gate ∧ dedup) survivor
    // emits exactly two copies — rows == 2 x distinct docs is closed-form,
    // checked from ONE aggregate over the final frame (no second pass).
    if (mode == "mix") {
      val t0 = System.nanoTime()
      val mix = Corpus.trainingMix(docs, Map("en" -> 2.0),
        budget = 100000, salt = "m")
      val shuffled = Corpus.shuffleWithinShards(mix,
        Seq("lang_pred", "shard"), Seq("doc_id", "copy"), salt = "e1")
      val r = shuffled.agg(count(lit(1)).as("n"),
        countDistinct(col("doc_id")).as("nd"),
        sum("n_tokens").as("tok"), max("shard").as("maxsh"),
        sum("shuffle_pos").as("posck")).first()
      val secs = (System.nanoTime() - t0) / 1e9
      val (n, nd) = (r.getLong(0), r.getLong(1))
      require(n == 2 * nd, s"$n mix rows != 2 x $nd survivors at weight 2.0")
      require(n > 0 && r.getLong(3) >= 0)
      docs.unpersist(blocking = true)
      println(s"""{"metric":"corpus_mix","n_docs":$nDocs,"n_rows":$n,""" +
        s""""n_survivors":$nd,"n_tokens":${r.getLong(2)},""" +
        s""""max_shard":${r.getLong(3)},""" +
        s""""mix_sec":${math.round(secs * 10) / 10.0},""" +
        s""""mix_docs_per_s":${math.round(nDocs / secs)},""" +
        s""""peak_heap_mb":${graft.Bench.peakHeapMb}}""")
      return
    }

    val t0 = System.nanoTime()
    val kept = Corpus.preprocess(docs, "doc_id", "text").count()
    val secs = (System.nanoTime() - t0) / 1e9

    // bucket-pressure report (boiler mode): worst band bucket before and
    // after the default cap, from the same signature/banding path the
    // pipeline ran
    val bucketStats = if (mode == "boiler") {
      val cap = Dedup.defaultMaxBucket.get
      val banded = Dedup.bands(
          Dedup.signatures(docs, "doc_id", "text", 16), "doc_id", 16, 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val worst = banded.groupBy("band", "bsig").count()
        .agg(max("count")).first().getLong(0)
      // the REAL post-cap state: run the bands through the same pruning
      // Dedup.candidates applies, then measure what survived — a broken
      // window filter would surface here, where the old max(when(count<=cap))
      // formulation was true by construction
      val survivedRow = Dedup.pruneBuckets(banded, Dedup.defaultMaxBucket)
        .groupBy("band", "bsig").count()
        .agg(max("count")).first()
      // null = every bucket exceeded the cap and pruning dropped them all —
      // a valid (if extreme) outcome, reported as 0 survivors
      val worstCapped = if (survivedRow.isNullAt(0)) 0L else survivedRow.getLong(0)
      banded.unpersist()
      require(worstCapped <= cap,
        s"CAP FAILED: post-cap bucket $worstCapped > $cap")
      s""","worst_bucket_precap":$worst,"worst_bucket_capped":$worstCapped,"cap":$cap"""
    } else ""

    CacheScope.session.release()
    docs.unpersist(blocking = true)
    val cachedAfter = spark.sparkContext.getPersistentRDDs.size
    println(s"""{"metric":"corpus_preprocess","mode":"$mode","n_docs":$nDocs,"kept":$kept,""" +
      s""""sec":${math.round(secs * 10) / 10.0},"docs_per_s":${math.round(nDocs / secs)},""" +
      s""""peak_heap_mb":${graft.Bench.peakHeapMb},"cached_rdds_after_release":$cachedAfter$bucketStats}""")
  }
}
