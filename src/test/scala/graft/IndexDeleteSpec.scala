package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, IndexFiles, Retrieval, Similarity}

/** Takedown deletes across the four persisted index families: deleting a
  * set of ids must leave an index that SERVES exactly as if those rows
  * had never been indexed (rebuild-on-survivors identity), with the
  * deleted rows physically gone — no serve-time tombstone filtering.
  * These also exercise the first-rewrite manifest bootstrap heavily:
  * every delete here is the first versioned rewrite of a legacy table.
  */
class IndexDeleteSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.queries.Common.table(spark, sf, "documents")
  private def embs = graft.queries.Common.table(spark, sf, "embeddings")
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("BM25 delete == index built without the docs (serve AND stats)") {
    val del = pmod(col("doc_id"), lit(7L)) === 3L
    val full = tmp("del_bm25_full"); val kept = tmp("del_bm25_kept")
    Retrieval.buildIndex(docs, full, nBuckets = 16)
    Retrieval.deleteFromIndex(spark, full, docs.where(del).select("doc_id"))
    Retrieval.buildIndex(docs.where(!del), kept, nBuckets = 16)
    val qs = Seq("qa" -> Seq("spark", "join"), "qb" -> Seq("window", "scan"))
    def serve(d: String) = Retrieval.searchIndex(spark, d, qs, k = 10)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(serve(full) == serve(kept),
      "post-delete serve must equal a rebuild on the survivors")
    def stats(d: String) = spark.read
      .parquet(IndexFiles.tablePath(spark, d, "stats"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(stats(full) == stats(kept),
      "rebuilt stats must equal a clean build's (df, n_docs, sum_dl)")
    // physically gone, not filtered at serve time
    val deadIds = docs.where(del).select(col("doc_id")).as[Long].collect().toSet
    val remaining = spark.read
      .parquet(IndexFiles.tablePath(spark, full, "doclens"))
      .select("doc_id").as[Long].collect().toSet
    assert(remaining.intersect(deadIds).isEmpty, "doclens row survived delete")
  }

  test("BM25 full purge leaves a readable, appendable index") {
    // a takedown set covering EVERY document is legal (right to be
    // forgotten over a whole tenant); the rebuilt stats must keep one
    // metadata row so the index stays readable — before r15, searchIndex
    // threw NoSuchElementException on the empty stats head
    val dir = tmp("del_bm25_purge")
    Retrieval.buildIndex(docs, dir, nBuckets = 16)
    Retrieval.deleteFromIndex(spark, dir, docs.select("doc_id"))
    val qs = Seq("qa" -> Seq("spark", "join"))
    assert(Retrieval.searchIndex(spark, dir, qs, k = 10).collect().isEmpty,
      "a fully purged index must serve empty results, not crash")
    val stats = spark.read
      .parquet(IndexFiles.tablePath(spark, dir, "stats"))
    assert(stats.select("n_docs").head().getLong(0) == 0L)
    // and appends bring it back to life with correct stats
    Retrieval.appendToIndex(spark, dir,
      Seq((9001L, "spark join window")).toDF("doc_id", "text"))
    val served = Retrieval.searchIndex(spark, dir, qs, k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(served == Set(9001L),
      "an append after a full purge must serve the new doc")
    // the revival leaves a mixed layout (the purge's flat schema file +
    // the append's bucket= partitions); compaction normalizes it and
    // serving is unchanged
    Retrieval.compactIndex(spark, dir)
    assert(Retrieval.searchIndex(spark, dir, qs, k = 10)
      .select("doc_id").as[Long].collect().toSet == Set(9001L),
      "compaction after a purge+revival must preserve serving")
  }

  test("IVF delete == brute force over the survivors (probe-all)") {
    val del = pmod(col("vec_id"), lit(5L)) === 3L
    val dir = tmp("del_ivf")
    Similarity.saveIvfIndex(Similarity.buildIvfIndex(embs, 8, 64), dir)
    Similarity.deleteFromIvfIndex(spark, dir,
      embs.where(del).select("vec_id"))
    val queries = embs.where(col("vec_id") < 6 && !del)
    val got = Similarity.probeIvf(Similarity.loadIvfIndex(spark, dir),
        queries, 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Similarity.bruteForceTopK(queries, embs.where(!del), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want,
      "probe-all over the deleted index must equal brute force on survivors")
    // the deleted rows are physically out of the live lists version
    val left = spark.read
      .parquet(IndexFiles.tablePath(spark, dir, "lists"))
      .select("vec_id").as[Long].collect().toSet
    assert(left == embs.where(!del).select("vec_id").as[Long].collect().toSet)
  }

  test("IVF delete composes with append and compaction") {
    // append AFTER a delete must assign against the re-embedded live
    // centroids; a compaction after both must not resurrect deleted rows
    val dir = tmp("del_ivf_mix")
    val half = embs.agg(expr("percentile(vec_id, 0.5)")).head().getDouble(0)
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(embs.where(col("vec_id") <= half), 8, 64), dir)
    val del = pmod(col("vec_id"), lit(5L)) === 3L
    Similarity.deleteFromIvfIndex(spark, dir,
      embs.where(col("vec_id") <= half && del).select("vec_id"))
    Similarity.appendToIvfIndex(spark, dir, embs.where(col("vec_id") > half))
    Similarity.compactIvfIndex(spark, dir)
    val left = spark.read
      .parquet(IndexFiles.tablePath(spark, dir, "lists"))
      .select("vec_id").as[Long].collect().toSet
    val want = embs.where(col("vec_id") > half || !del)
      .select("vec_id").as[Long].collect().toSet
    assert(left == want, "delete + append + compact left the wrong id set")
  }

  test("IVF-PQ delete: exact probe over the deleted index == brute force on survivors") {
    val del = pmod(col("vec_id"), lit(5L)) === 3L
    val dir = tmp("del_ivfpq")
    Similarity.saveIvfPqIndex(
      Similarity.buildIvfPq(embs, nCells = 8, dim = 64, m = 8, ksub = 16,
        iters = 1), dir)
    Similarity.deleteFromIvfPqIndex(spark, dir,
      embs.where(del).select("vec_id"))
    val queries = embs.where(col("vec_id") < 6 && !del)
    // shortlist-inf + probe-all: every surviving candidate reaches the
    // exact rerank, so codebooks are irrelevant to the identity
    val got = Similarity.probeIvfPq(Similarity.loadIvfPqIndex(spark, dir),
        queries, embs.where(!del), 5, nProbe = 8, shortlist = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Similarity.bruteForceTopK(queries, embs.where(!del), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want)
  }

  test("LSH delete: a deleted doc stops vetoing ingests, survivors still veto") {
    def doc(i: Long) = s"unique document body number $i with stable shingle text " +
      s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"
    val seed = (0L until 10L).map(i => (i, doc(i))).toDF("doc_id", "text")
    val dir = tmp("del_lsh")
    Dedup.saveLshIndex(seed, "doc_id", "text", dir)
    val probe = Seq((100L, doc(5)), (101L, doc(7))).toDF("doc_id", "text")
    def survivors() = Dedup.dedupBatchAgainstLshIndex(spark, dir, probe,
      jaccardThreshold = 0.7).select("doc_id").as[Long].collect().toSet
    assert(survivors() == Set.empty[Long],
      "both probes are exact copies of indexed docs and must be vetoed")
    Dedup.deleteFromLshIndex(spark, dir, Seq(5L).toDF("doc_id"))
    assert(survivors() == Set(100L),
      "the copy of deleted doc 5 must now survive; doc 7's copy must not")
    // rebuild-on-survivors identity: same veto behavior from a fresh index
    val kept = tmp("del_lsh_kept")
    Dedup.saveLshIndex(seed.where(col("doc_id") =!= 5L), "doc_id", "text", kept)
    val fresh = Dedup.dedupBatchAgainstLshIndex(spark, kept, probe,
      jaccardThreshold = 0.7).select("doc_id").as[Long].collect().toSet
    assert(fresh == Set(100L))
  }

  test("a delete whose first-published table fails publishes neither table") {
    // the ordered two-table publish: doclens (BM25) and bands (LSH)
    // publish first; when that rewrite fails — here its lease is held by
    // a second writer — the gated second rewrite must abort unpublished,
    // so its manifest still names the old version and serving is as
    // before the delete
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    def withHeldLease[T](dir: String, table: String)(body: => T): T = {
      val entered = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val holder = new Thread(() =>
        IndexFiles.withTableLeaseFenced(spark, dir, table) { _ =>
          entered.countDown()
          release.await(60, TimeUnit.SECONDS)
        }, s"held-$table")
      holder.start()
      assert(entered.await(60, TimeUnit.SECONDS), "holder never entered")
      try body finally { release.countDown(); holder.join(60000) }
    }
    def manifest(dir: String, table: String) = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$dir/$table.manifest")).trim
    def checkUnpublished(dir: String, first: String, second: String,
        serve: () => Set[Seq[Any]])(delete: => Unit): Unit = {
      val secondVersion = manifest(dir, second)
      val served = serve()
      val e = intercept[IllegalStateException] {
        withHeldLease(dir, first)(delete)
      }
      assert(e.getMessage.contains("writer lease"), e.getMessage)
      assert(manifest(dir, second) == secondVersion,
        s"$second must not publish when $first failed")
      assert(serve() == served, "serving must be as before the delete")
    }

    val bm = tmp("del_order_bm25")
    Retrieval.buildIndex(docs, bm, nBuckets = 16)
    // a first delete versions both tables, so each has a manifest
    Retrieval.deleteFromIndex(spark, bm,
      docs.where(pmod(col("doc_id"), lit(7L)) === 3L).select("doc_id"))
    val qs = Seq("qa" -> Seq("spark", "join"), "qb" -> Seq("window", "scan"))
    checkUnpublished(bm, "doclens", "postings", () =>
      Retrieval.searchIndex(spark, bm, qs, k = 10).collect().map(_.toSeq).toSet) {
      Retrieval.deleteFromIndex(spark, bm,
        docs.where(pmod(col("doc_id"), lit(7L)) === 4L).select("doc_id"))
    }

    def doc(i: Long) = s"unique document body number $i with stable shingle " +
      s"text alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"
    val lsh = tmp("del_order_lsh")
    Dedup.saveLshIndex((0L until 10L).map(i => (i, doc(i)))
      .toDF("doc_id", "text"), "doc_id", "text", lsh)
    Dedup.deleteFromLshIndex(spark, lsh, Seq(9L).toDF("doc_id"))
    val probe = Seq((100L, doc(5)), (101L, doc(7))).toDF("doc_id", "text")
    checkUnpublished(lsh, "bands", "shingles", () =>
      Dedup.matchesAgainstLshIndex(spark, lsh, probe, maxBucket = None)
        .collect().map(_.toSeq).toSet) {
      Dedup.deleteFromLshIndex(spark, lsh, Seq(5L).toDF("doc_id"))
    }
  }
}
