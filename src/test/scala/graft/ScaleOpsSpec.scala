package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{CacheScope, Salt}
import graft.operators.Similarity

class SaltSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val skewed = ((1 to 5000).map(i => ("hot", i.toDouble)) ++
    (1 to 100).map(i => (s"k${i % 10}", i.toDouble))).toDF("k", "v")

  test("salted aggregation equals the plain aggregation") {
    val plain = skewed.groupBy("k").agg(sum("v"), count("v"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val salted = Salt.saltedSumCount(skewed, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  test("salted join equals the plain join") {
    val small = Seq(("hot", 1L), ("k1", 2L), ("missing", 3L)).toDF("k", "tag")
    val plain = skewed.join(small, "k").groupBy("k", "tag").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val salted = Salt.saltedJoin(skewed, small, "k").groupBy("k", "tag").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(salted == plain)
  }
}

class ReplicationInvarianceSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  test("grid2d over ScaleUp's 10x events is count-scaled, mean-invariant vs sf0.1") {
    // the property that would catch binning drift at scale boundaries: the
    // +rep ns jitter must be invisible to `ts div 1000`, so every replica
    // lands in its original's (xbin, ybin) cell — per-cell integerized sum
    // and count scale EXACTLY by the factor, hence the mean is bit-invariant
    val dir = "/root/testdata/sf0.1"
    val T0us = 1704067200000000L
    def cells(raw: org.apache.spark.sql.DataFrame): Map[(Long, Long), (Long, Long)] =
      graft.core.Grid2d.grid2d(
          raw.withColumn("ts_us", graft.queries.Common.tsUs(raw))
            .withColumn("day",
              (col("ts_us") - lit(T0us)).cast("double") / 8.64e10),
          col("day"), 0.0, 1.0, 31,
          col("value"), 0.0, 25.0, 20,
          col("value"),
          c => struct(sum((c * 1000).cast("long")).as("s"),
            count(c).as("n")))
        .collect().map { r =>
          val v = r.getStruct(2)
          (r.getLong(0), r.getLong(1)) -> ((v.getLong(0), v.getLong(1)))
        }.toMap
    val base = cells(graft.queries.Common.table(spark, dir, "events"))
    val rep = cells(ScaleUp.replicateEvents(
      graft.queries.Common.table(spark, dir, "events"), 10))
    assert(rep.keySet == base.keySet,
      s"replication changed the populated cell set: ${(rep.keySet diff base.keySet).take(5)}...")
    base.foreach { case (cell, (s, n)) =>
      assert(rep(cell) == ((s * 10, n * 10)),
        s"cell $cell: base (sum=$s, n=$n), 10x ${rep(cell)} — expected exact 10x")
    }
  }

  test("interpolation output is replication-invariant (the invariant queries see)") {
    // every consumer floors ts to us, so replicas present COINCIDENT knots
    // with IDENTICAL values — the property that makes interp results
    // replication-invariant. Lock it the way downstream code observes it:
    // the q10-shape interpolation over 10x-replicated events must give (a)
    // the bit-identical result for every original event id and (b) the
    // original's exact value for every replica id (ns-level distinctness
    // of (user_id, ts) is true but irrelevant — nothing after `ts div
    // 1000` can see it)
    def interp(raw: org.apache.spark.sql.DataFrame) = {
      val ev = raw.withColumn("ts_us", graft.queries.Common.tsUs(raw))
        .withColumn("x", col("ts_us"))
      val src = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("x"), col("value"))
      val dst = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("x"))
      graft.core.InterpJoin.interpolate(src, dst, "x", Seq("value"), Seq("user_id"))
        .select(col("event_id"),
          round(col("interp_value") * 1000).cast("long").as("v"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) Long.MinValue else r.getLong(1))).toMap
    }
    val raw = graft.queries.Common.table(spark, "/root/testdata/sf0.001", "events")
    val base = interp(raw)
    val rep = interp(ScaleUp.replicateEvents(raw, 10))
    assert(rep.size == base.size * 10, "every replica click must interpolate")
    base.foreach { case (id, v) =>
      assert(rep(id) == v, s"original event $id changed under replication")
      (1 to 9).foreach { r =>
        assert(rep(id + r * 1000000000L) == v,
          s"replica $r of event $id diverged from its original")
      }
    }
  }
}

class IvfSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  test("IVF top-k achieves reasonable recall vs brute force on sf0.001") {
    val e = graft.queries.Common.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(q, e, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, e, 5, 8, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty, "IVF returned nothing")
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // single-probe IVF over 8 cells: random embeddings spread neighbors, so
    // demand only that the index works and finds a meaningful share
    assert(recall > 0.2, s"IVF recall $recall too low")
    // every IVF result must be a genuine candidate (correct cosine ordering
    // within its cell): ranks are 1..5 per query
    assert(ivf.size <= 8 * 5)
  }

  test("probe-all IVF (nProbe = nCells) equals brute force exactly") {
    // the q56c oracle premise: visiting every inverted list recovers the
    // full candidate set (each vector lives in exactly one cell), so the
    // ranking must be identical to brute force — including cosine values
    val e = graft.queries.Common.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("q_id"), col("vec_id"), col("rank"),
        round(col("cosine") * 1e6).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val brute = rows(Similarity.bruteForceTopK(q, e, 5))
    val probeAll = rows(Similarity.ivfTopK(q, e, 5, 8, 64, nProbe = 8))
    assert(probeAll == brute, "probe-all IVF must reproduce brute force bit-for-bit")
  }

  test("PQ-ADC recalls neighbors; exact rerank of the shortlist recovers most of top-k") {
    val e = graft.queries.Common.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 8)
    val cb = Similarity.trainPq(e, m = 8, ksub = 16, dim = 64)
    assert(cb.centroids.size == 8 && cb.centroids.forall(_.size == 16) &&
      cb.centroids.forall(_.forall(_.size == 8)))
    // codes are m small ints — the 64x4B -> 8-slot compression claim
    val codes = Similarity.pqEncode(e, cb)
    val sample = codes.limit(5).collect()
    assert(sample.forall(_.getSeq[Int](1).size == 8))
    assert(codes.count() == e.count())

    val brute = Similarity.bruteForceTopK(q, e, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Similarity.pqTopK(q, codes, 10, cb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcRecall = (brute intersect adc).size.toDouble / brute.size
    assert(adcRecall > 0.2, s"raw ADC recall $adcRecall too low")

    val rerank = Similarity.pqTopKRerank(q, e, 10, cb, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rerankRecall = (brute intersect rerank).size.toDouble / brute.size
    assert(rerankRecall >= adcRecall,
      s"rerank ($rerankRecall) must not lose recall vs raw ADC ($adcRecall)")
    assert(rerankRecall > 0.4, s"rerank recall $rerankRecall too low")
    info(f"ADC recall@10 = $adcRecall%.2f, rerank(50) recall@10 = $rerankRecall%.2f")
  }

  test("saved/loaded PQ index reranks identically") {
    // the amortization claim: the expensive corpus encode persists, and a
    // fresh session probing the loaded codes gets bit-identical results
    val e = graft.queries.Common.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 4)
    val cb = Similarity.trainPq(e, m = 8, ksub = 16, dim = 64)
    val codes = Similarity.pqEncode(e, cb)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("q_id"), col("vec_id"), col("rank"),
        round(col("cosine") * 1e6).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val direct = rows(Similarity.pqTopKRerankCodes(q, codes, e, 5, cb, shortlist = 50))
    val dir = java.nio.file.Files.createTempDirectory("pq_idx").toString
    Similarity.savePqIndex(cb, codes, dir)
    val (cbLoaded, codesLoaded) = Similarity.loadPqIndex(spark, dir)
    assert(cbLoaded == cb, "codebooks must round-trip bit-equal")
    assert(codesLoaded.orderBy("vec_id").collect().map(_.toString).toSeq ==
      codes.orderBy("vec_id").collect().map(_.toString).toSeq,
      "codes must round-trip")
    val loaded = rows(Similarity.pqTopKRerankCodes(q, codesLoaded, e, 5,
      cbLoaded, shortlist = 50))
    assert(loaded == direct, "loaded PQ index must rerank identically")
  }

  test("1024-cell assignment stays codegen-compact and matches driver argmax") {
    // the 100M-vector regime wants nCells ~ sqrt(N) ~ 10k; an unrolled
    // per-centroid expression grows O(nCells) and would blow the JVM method
    // -size codegen limit exactly as nearestSubCell's comment documents.
    // Lock the native NativeTopCells form: generated method size is O(1) in
    // nCells (assert far under the 8000-byte JIT limit at 1024 cells), and
    // the assignment agrees with a driver-computed argmax (same fold order).
    import org.apache.spark.sql.execution.debug._
    val base = graft.operators.AnnBench.synth(spark, 1000, 16, 50)
    val idx = Similarity.buildIvfIndex(base, 1024, 16)
    val stats = codegenStringSeq(idx.lists.queryExecution.executedPlan)
    assert(stats.nonEmpty, "assignment plan must have whole-stage codegen subtrees")
    stats.foreach { case (_, _, s) =>
      assert(s.maxMethodCodeSize < 8000,
        s"generated method ${s.maxMethodCodeSize} B breaches the JIT inline limit")
    }
    val cents = idx.centroids.map(_.toArray).toArray
    def argmax(v: Seq[Double]): Int = {
      var best = 0; var bestD = Double.NegativeInfinity
      for (i <- cents.indices) {
        var d = 0.0
        var j = 0
        while (j < v.length) { d += v(j) * cents(i)(j); j += 1 }
        if (d >= bestD) { bestD = d; best = i } // ties toward the larger cell
      }
      best
    }
    idx.lists.collect().foreach { r =>
      val v = r.getSeq[Double](2)
      assert(r.getInt(0) == argmax(v), s"vec ${r.getLong(1)} assigned to wrong cell")
    }
    // the probe side shares the native top-cells expression; at 1024 cells
    // it must still run
    val probed = Similarity.probeIvf(idx, base.where(col("vec_id") < 4), 5,
      nProbe = 3).count()
    assert(probed > 0)
  }

  test("appending to a saved IVF index grows it without touching old rows") {
    val e = graft.queries.Common.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 8)
    val idx = Similarity.buildIvfIndex(e.where(col("vec_id") < 50), 8, 64)
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    Similarity.saveIvfIndex(idx, dir)
    val before = Similarity.loadIvfIndex(spark, dir).lists.count()
    Similarity.appendToIvfIndex(spark, dir, e.where(col("vec_id") >= 50))
    val grown = Similarity.loadIvfIndex(spark, dir)
    assert(grown.lists.count() == e.count(),
      "grown index must hold every corpus vector exactly once")
    assert(before < e.count(), "test premise: the append added rows")
    // the quantizer is frozen, so probe-all over the grown index is still
    // the exact brute-force identity over the FULL corpus
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("q_id"), col("vec_id"), col("rank"),
        round(col("cosine") * 1e6).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val brute = rows(Similarity.bruteForceTopK(q, e, 5))
    val probeAll = rows(Similarity.probeIvf(grown, q, 5, nProbe = 8))
    assert(probeAll == brute,
      "probe-all over the appended index must equal brute force")
    // appended rows were assigned by the SAVED centroids, not re-trained
    assert(grown.centroids == idx.centroids, "append must not move centroids")
  }

  test("compactIvfIndex: fewer files, identical probes; replay repair") {
    val e = graft.queries.Common.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_cpt").toString
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(e.where(col("vec_id") < 50), 8, 64), dir)
    val appended = e.where(col("vec_id") >= 50)
    Similarity.appendToIvfIndex(spark, dir, appended)
    def rows() = Similarity.probeIvf(Similarity.loadIvfIndex(spark, dir),
        q, 5, nProbe = 8)
      .select(col("q_id"), col("vec_id"), col("rank"),
        round(col("cosine") * 1e6).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val before = rows()
    val filesBefore = graft.operators.IndexFiles.dataFileCount(spark, dir, "lists")
    Similarity.compactIvfIndex(spark, dir)
    assert(graft.operators.IndexFiles.dataFileCount(spark, dir, "lists") < filesBefore,
      "compaction must shrink the lists file count")
    assert(rows() == before, "layout compaction changed probe results")
    // at-least-once replay of the appended half, then the dedupe repair:
    // row multiset restored exactly (count AND probe results)
    Similarity.appendToIvfIndex(spark, dir, appended)
    Similarity.compactIvfIndex(spark, dir, dedupeRows = true)
    assert(Similarity.loadIvfIndex(spark, dir).lists.count() == e.count(),
      "dedupe repair must restore one row per corpus vector")
    assert(rows() == before, "replay repair diverged")
  }

  test("loadIvfIndex rejects a centroid table with a missing cell") {
    import spark.implicits._
    val bad = java.nio.file.Files.createTempDirectory("ivf_bad").toString
    Seq((0, 0L, Seq(0.0, 0.0))).toDF("cell", "vec_id", "c_vec")
      .write.partitionBy("cell").parquet(s"$bad/lists")
    (0 until 8).filter(_ != 3).map(i => (i, Seq(i.toDouble, 0.0)))
      .toDF("cell", "centroid").write.parquet(s"$bad/centroids")
    val ex = intercept[IllegalArgumentException](
      Similarity.loadIvfIndex(spark, bad))
    assert(ex.getMessage.contains("missing cell 3"), ex.getMessage)
  }

  test("probeIvf stays internally consistent on a non-deterministic query frame") {
    // the eager-collect contract: the static cell filter and the broadcast
    // join side derive from ONE materialization of the query batch, so a
    // rand()-gated source (different rows on every evaluation) cannot
    // produce a filter that disagrees with the joined cells and drop probe
    // cells — every returned query must still rank a full top-k
    val e = graft.queries.Common.table(spark, "/root/testdata/sf0.001", "embeddings")
    val idx = Similarity.buildIvfIndex(e, 8, 64)
    val q = e.where(rand() < 0.05)
    val out = Similarity.probeIvf(idx, q, 3, nProbe = 2)
      .groupBy("q_id").agg(count(lit(1)).as("n"))
      .collect()
    assert(out.nonEmpty, "the sampled query batch should not be empty")
    out.foreach(r => assert(r.getLong(1) == 3L,
      s"query ${r.get(0)} ranked ${r.getLong(1)} neighbors, expected 3"))
  }

  test("retrain re-learns the quantizer from current contents, atomically") {
    val e = graft.queries.Common.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val half = e.agg(expr("percentile(vec_id, 0.5)")).head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("ivf_retrain").toString
    // drift setup: the quantizer is trained on the lower half only, the
    // upper half arrives later under those frozen stale centroids
    Similarity.saveIvfIndex(Similarity.buildIvfIndex(
      e.where(col("vec_id") <= half), 8, 64), dir)
    Similarity.appendToIvfIndex(spark, dir, e.where(col("vec_id") > half))
    val stale = Similarity.loadIvfIndex(spark, dir).centroids
    Similarity.retrainIvfIndex(spark, dir, nCells = Some(13))
    val loaded = Similarity.loadIvfIndex(spark, dir)
    // the retrained quantizer IS a fresh build over the current contents
    // (same seeds, same Lloyd pass, same corpus — equal up to the
    // last-ulp order dependence of the distributed centroid avg, whose
    // summation order differs between the lists-parquet and the
    // embeddings-parquet inputs) and wins over the stale initial-save
    // table (embedded _centroids resolution)
    val rebuilt = Similarity.buildIvfIndex(e, 13, 64)
    assert(loaded.centroids.size == 13)
    loaded.centroids.zip(rebuilt.centroids).zipWithIndex.foreach {
      case ((a, b), c) => a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9,
          s"cell $c centroid diverged from a fresh build: $x vs $y")
      }
    }
    assert(loaded.centroids != stale, "retrain premise: centroids changed")
    // every vector present exactly once under the new assignment — the
    // invariant static cell pruning needs (one cell per vector)
    val ids = loaded.lists.select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length && ids.length == e.count(),
      "retrained lists must carry every vector exactly once")
    // an exact copy of an indexed vector argmaxes to its original's cell
    // under the NEW centroids, so a minimal nProbe=1 probe finds it —
    // later appends and probes see the retrained quantizer
    val dup = Similarity.dedupBatchAgainstIvfIndex(spark, dir,
      e.where(col("vec_id") === 3)
        .withColumn("vec_id", col("vec_id") + lit(10000000L)),
      cosineThreshold = 0.99, nProbe = 1)
    assert(dup.count() == 0L, "copy of an indexed vector must drop")
    // compaction preserves the retrained quantizer (the IVF-aware compact
    // re-embeds it; the generic table compact would strand it in the old
    // version and fall back to the stale initial-save table)
    Similarity.compactIvfIndex(spark, dir)
    assert(Similarity.loadIvfIndex(spark, dir).centroids == loaded.centroids,
      "compaction lost the retrained centroids")
  }

  test("probe batch side stays distributed (no driver round-trip)") {
    // the 100-TB ingest contract: probeCandidates must not collect the
    // query batch — the pre-round-13 shape re-entered the collected rows
    // as a LocalTableScan (driver-held); the fixed shape joins the
    // persisted exploded frame (an InMemoryTableScan in the executed
    // plan) and collects only the distinct probed cell ids
    val e = graft.queries.Common.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val idx = Similarity.buildIvfIndex(e, 8, 64)
    val scope = new CacheScope
    try {
      val probe = Similarity.probeIvf(idx, e.where(col("vec_id") < 6), 3,
        nProbe = 2, scope = scope)
      assert(probe.collect().nonEmpty)
      val plan = probe.queryExecution.executedPlan.toString
      assert(!plan.contains("LocalTableScan"),
        "query batch must not transit the driver:\n" + plan)
      assert(plan.contains("InMemoryTableScan"),
        "batch side should read the persisted exploded frame:\n" + plan)
    } finally scope.release()
  }

  test("saved/loaded IVF index probes identically and prunes partitions") {
    val e = graft.queries.Common.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 4)
    val idx = Similarity.buildIvfIndex(e, 8, 64)
    val direct = Similarity.probeIvf(idx, q, 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.saveIvfIndex(idx, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(loaded.centroids == idx.centroids, "centroids round-trip")
    val probe = Similarity.probeIvf(loaded, q, 5, nProbe = 2)
    val fromDisk = probe
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fromDisk == direct, "loaded index must probe identically")
    // the probe over the loaded index must be a partition-PRUNED scan,
    // held to the EXACT probed-cell set via the scan's numFiles metric
    // (saveIvfIndex writes one file per non-empty cell, so expected files
    // = probed cells that hold at least one vector). A stringly
    // "PartitionFilters appears in the plan" check once passed while a
    // broken query sample made the metric meaningless — assert the number.
    val probedCells = Similarity.probeCells(loaded, q, nProbe = 2,
        "vec_id", "embedding")
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val nonEmpty = loaded.lists.select("cell").distinct().collect()
      .map(_.getInt(0)).toSet
    val expectedFiles = (probedCells intersect nonEmpty).size
    assert(expectedFiles > 0 && probedCells.size < 8,
      s"test premise: a strict subset of cells probed, got $probedCells")
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(qs.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }) ++ p.subqueries.flatMap(scans)
    val listScans = scans(probe.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(dir)))
    assert(listScans.nonEmpty, "probe plan must scan the saved lists")
    val filesRead = listScans.map(_.metrics("numFiles").value).sum
    assert(filesRead == expectedFiles,
      s"scan read $filesRead files, expected $expectedFiles " +
      s"(probed ${probedCells.size} cells, ${nonEmpty.size} non-empty)")
  }

  test("spreadForScoring refuses an unpersisted frame") {
    val df = spark.range(8).selectExpr("id AS q_id", "CAST(id % 2 AS INT) AS cell")
    intercept[IllegalArgumentException](Similarity.spreadForScoring(df))
    val cached = df.persist()
    try {
      cached.count()
      assert(Similarity.spreadForScoring(cached).count() == 8)
    } finally cached.unpersist()
  }
}

class IvfPqSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  private def e = graft.queries.Common.table(spark,
    "/root/testdata/sf0.001", "embeddings")

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select(col("q_id"), col("vec_id"), col("rank"),
      round(col("cosine") * 1e6).cast("long").as("c"))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet

  test("probe-all + unbounded shortlist IVF-PQ equals brute force exactly") {
    // the q56e oracle premise: every candidate reaches the exact-cosine
    // rerank (all cells probed, no shortlist truncation), so the ADC
    // approximation is irrelevant to the final top-k and the composite
    // reproduces brute force bit-for-bit — covering build (coarse argmax +
    // PQ train/encode into lists), probe-cell routing, ADC table/scan,
    // and rerank in one identity
    val q = e.where(col("vec_id") < 8)
    val idx = Similarity.buildIvfPq(e, nCells = 8, dim = 64, m = 8,
      ksub = 16, iters = 1)
    val brute = rows(Similarity.bruteForceTopK(q, e, 5))
    val all = rows(Similarity.probeIvfPq(idx, q, e, 5, nProbe = 8,
      shortlist = Int.MaxValue))
    assert(all == brute, "probe-all IVF-PQ must reproduce brute force")
  }

  test("pruned IVF-PQ keeps recall against brute force") {
    val q = e.where(col("vec_id") < 8)
    val idx = Similarity.buildIvfPq(e, nCells = 8, dim = 64, m = 8, ksub = 16)
    val brute = Similarity.bruteForceTopK(q, e, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Similarity.probeIvfPq(idx, q, e, 5, nProbe = 3,
        shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned.nonEmpty, "pruned probe returned nothing")
    val recall = (brute intersect pruned).size.toDouble / brute.size
    assert(recall > 0.2, s"IVF-PQ recall $recall too low")
  }

  test("IVF-PQ probe batch side stays distributed") {
    // same contract as IvfSpec's driver-round-trip test: the shortlist
    // join reads the persisted exploded batch, not driver-collected rows
    val q = e.where(col("vec_id") < 6)
    val idx = Similarity.buildIvfPq(e, nCells = 8, dim = 64, m = 8, ksub = 16)
    val scope = new CacheScope
    try {
      val probe = Similarity.probeIvfPq(idx, q, e, 3, nProbe = 2,
        shortlist = 50, scope = scope)
      assert(probe.collect().nonEmpty)
      val plan = probe.queryExecution.executedPlan.toString
      assert(!plan.contains("LocalTableScan"),
        "query batch must not transit the driver:\n" + plan)
      assert(plan.contains("InMemoryTableScan"),
        "batch side should read the persisted exploded frame:\n" + plan)
    } finally scope.release()
  }

  test("appending to a saved IVF-PQ index encodes with the frozen codebooks") {
    // the q56f premise at spec scale: build on half, append the rest
    // against the saved centroids+codebooks, probe-all + shortlist-inf
    // over the loaded grown index == brute force over the full corpus
    val q = e.where(col("vec_id") < 8)
    val idx = Similarity.buildIvfPq(e.where(col("vec_id") < 50), nCells = 8,
      dim = 64, m = 8, ksub = 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_append").toString
    Similarity.saveIvfPqIndex(idx, dir)
    Similarity.appendToIvfPqIndex(spark, dir, e.where(col("vec_id") >= 50))
    val grown = Similarity.loadIvfPqIndex(spark, dir)
    assert(grown.lists.count() == e.count(),
      "grown index must hold every corpus vector exactly once")
    val brute = rows(Similarity.bruteForceTopK(q, e, 5))
    val all = rows(Similarity.probeIvfPq(grown, q, e, 5, nProbe = 8,
      shortlist = Int.MaxValue))
    assert(all == brute,
      "probe-all over the appended composite index must equal brute force")
    // appended codes must be byte-compatible with built codes: re-encoding
    // the appended rows with the loaded codebooks reproduces them exactly
    val reEnc = Similarity.pqEncode(e.where(col("vec_id") >= 50), grown.cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    grown.lists.where(col("vec_id") >= 50).collect().foreach { r =>
      assert(r.getSeq[Int](2) == reEnc(r.getLong(1)),
        s"appended code for vec ${r.getLong(1)} diverged from the codebooks")
    }
  }

  test("compactIvfPqIndex: fewer files, identical probes; replay repair") {
    val q = e.where(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_cpt").toString
    Similarity.saveIvfPqIndex(Similarity.buildIvfPq(
      e.where(col("vec_id") < 50), nCells = 8, dim = 64, m = 8,
      ksub = 16, iters = 1), dir)
    val appended = e.where(col("vec_id") >= 50)
    Similarity.appendToIvfPqIndex(spark, dir, appended)
    def probe() = rows(Similarity.probeIvfPq(
      Similarity.loadIvfPqIndex(spark, dir), q, e, 5, nProbe = 8,
      shortlist = Int.MaxValue))
    val before = probe()
    val filesBefore = graft.operators.IndexFiles.dataFileCount(spark, dir, "lists")
    Similarity.compactIvfPqIndex(spark, dir)
    assert(graft.operators.IndexFiles.dataFileCount(spark, dir, "lists") < filesBefore,
      "compaction must shrink the code-list file count")
    assert(probe() == before, "layout compaction changed probe results")
    Similarity.appendToIvfPqIndex(spark, dir, appended) // replay
    Similarity.compactIvfPqIndex(spark, dir, dedupeRows = true)
    assert(Similarity.loadIvfPqIndex(spark, dir).lists.count() == e.count(),
      "dedupe repair must restore one code row per corpus vector")
    assert(probe() == before, "replay repair diverged")
  }

  test("saved/loaded IVF-PQ index probes identically and prunes partitions") {
    val q = e.where(col("vec_id") < 4)
    val idx = Similarity.buildIvfPq(e, nCells = 8, dim = 64, m = 8, ksub = 16)
    val direct = Similarity.probeIvfPq(idx, q, e, 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    Similarity.saveIvfPqIndex(idx, dir)
    val loaded = Similarity.loadIvfPqIndex(spark, dir)
    assert(loaded.centroids == idx.centroids, "centroids round-trip")
    assert(loaded.cb == idx.cb, "codebooks round-trip")
    // collect probe ITSELF (not a derived frame) so the scan metrics below
    // read from the executed plan
    val probe = Similarity.probeIvfPq(loaded, q, e, 5, nProbe = 2)
    val fromDisk = probe
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fromDisk == direct, "loaded index must probe identically")
    // code lists are cell-partitioned exactly like the IVF float lists, so
    // the loaded probe must read ONLY the probed cells' files
    val probedCells = Similarity.probeCells(
        Similarity.IvfIndex(loaded.centroids, loaded.lists), q, nProbe = 2,
        "vec_id", "embedding")
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val nonEmpty = loaded.lists.select("cell").distinct().collect()
      .map(_.getInt(0)).toSet
    val expectedFiles = (probedCells intersect nonEmpty).size
    assert(expectedFiles > 0 && probedCells.size < 8,
      s"test premise: a strict subset of cells probed, got $probedCells")
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(qs.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }) ++ p.subqueries.flatMap(scans)
    val listScans = scans(probe.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(dir)))
    assert(listScans.nonEmpty, "probe plan must scan the saved code lists")
    val filesRead = listScans.map(_.metrics("numFiles").value).sum
    assert(filesRead == expectedFiles,
      s"scan read $filesRead files, expected $expectedFiles " +
      s"(probed ${probedCells.size} cells, ${nonEmpty.size} non-empty)")
  }
}

/** Streaming embedding ingest into a persisted IVF index: the vector twin
  * of StreamingIngestSpec — the foreachBatch loop equals the sequential
  * batch loop, and the planted drops land exactly.
  */
class VectorIngestSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  import graft.streaming.StreamingOps

  private val dim = 16
  /** One-hot basis vector: distinct ids are mutually orthogonal (cosine
    * 0), so every drop below is a closed-form decision at threshold 0.99.
    */
  private def oneHot(i: Int): Seq[Float] =
    (0 until dim).map(j => if (j == i) 1.0f else 0.0f)
  /** cosine vs oneHot(i) = 1/sqrt(1.01) ~ 0.995 >= 0.99 — a NON-exact
    * near-dup that must still drop. */
  private def nearOf(i: Int, other: Int): Seq[Float] = {
    val n = math.sqrt(1.01).toFloat
    (0 until dim).map(j =>
      if (j == i) 1.0f / n else if (j == other) 0.1f / n else 0.0f)
  }

  test("streamed vector ingest == sequential batch loop; planted drops land") {
    val root = java.nio.file.Files.createTempDirectory("graft-vingest-").toString
    def writeBatch(name: String, rows: Seq[(Long, Seq[Float])]): Unit =
      rows.toDF("vec_id", "embedding").coalesce(1)
        .write.parquet(s"$root/in/$name")
    val batches = Seq(
      // b1: exact copy of indexed e_5 (dropped vs index) + two uniques
      Seq((100L, oneHot(5)), (101L, oneHot(10)), (102L, oneHot(11))),
      // b2: 0.995-near-dup of b1's survivor 101 (dropped ONLY if b1's
      // append became visible — cross-batch visibility) + a unique
      Seq((110L, nearOf(10, 12)), (111L, oneHot(12))),
      // b3: within-batch exact pair (self-dedup keeps min id 120) +
      // exact copy of indexed e_7 + a unique
      Seq((120L, oneHot(13)), (121L, oneHot(13)), (122L, oneHot(7)),
        (123L, oneHot(14))))
    batches.zipWithIndex.foreach { case (b, i) => writeBatch(s"b${i + 1}", b) }
    val seed = (0 until 10).map(i => (i.toLong, oneHot(i)))
      .toDF("vec_id", "embedding")
    val nCells = 4
    def freshIndex(tag: String): String = {
      val d = s"$root/$tag/index"
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(seed, nCells, dim), d)
      d
    }

    // sequential truth: the same ingestVectorsBatch body, explicit loop
    val loopIdx = freshIndex("loop")
    val loopCorpus = s"$root/loop/corpus"
    batches.foreach { b =>
      StreamingOps.ingestVectorsBatch(b.toDF("vec_id", "embedding"),
        loopIdx, loopCorpus, cosineThreshold = 0.99, nProbe = nCells)
    }
    val expect = spark.read.parquet(loopCorpus)
      .select("vec_id").as[Long].collect().toSet

    // the stream: one file per trigger, in write order
    val streamIdx = freshIndex("stream")
    val streamCorpus = s"$root/stream/corpus"
    val schema = spark.read.parquet(s"$root/in/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in/{b1,b2,b3}")
    val q = StreamingOps.ingestVectors(stream, streamIdx, streamCorpus,
        cosineThreshold = 0.99, nProbe = nCells)
      .option("checkpointLocation", s"$root/stream/ckpt").start()
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(streamCorpus)
      .select("vec_id").as[Long].collect().toSet

    assert(got == expect, "stream diverged from the sequential batch loop")
    assert(got == Set(101L, 102L, 111L, 120L, 123L),
      s"planted drop set violated: $got")
    // the grown index carries seed + survivors under the frozen
    // centroids: re-probing a survivor's exact copy now drops it
    val reprobe = Similarity.dedupBatchAgainstIvfIndex(spark, streamIdx,
      Seq((999L, oneHot(14))).toDF("vec_id", "embedding"),
      cosineThreshold = 0.99, nProbe = nCells)
    assert(reprobe.count() == 0L,
      "a survivor's exact copy must be dropped by the grown index")
  }
}
