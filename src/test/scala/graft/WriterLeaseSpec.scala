package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IndexFiles, Retrieval}

/** The per-table writer lease ([[graft.operators.IndexFiles.withTableLeaseFenced]])
  * enforcing the single-writer contract: two concurrent writers of one
  * index table must never interleave — before r15 a racing rewrite pair
  * would each compute the same `next` version and delete the other's
  * in-progress directory as "crash residue" (silent corruption); now the
  * second writer aborts loudly while the table stays fully servable, and
  * a crashed holder's lease goes stale and is taken over.
  */
class WriterLeaseSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def freshIndex(): String = {
    val idx = java.nio.file.Files.createTempDirectory("lease").toString + "/index"
    Retrieval.buildIndex(
      Seq((1L, "alpha beta gamma"), (2L, "beta delta epsilon"))
        .toDF("doc_id", "text"), idx, nBuckets = 8)
    idx
  }

  private def doclensCount(idx: String): Long =
    spark.read.parquet(IndexFiles.tablePath(spark, idx, "doclens")).count()

  test("two racing rewrites: one wins, one aborts loudly, table servable throughout") {
    val idx = freshIndex()
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var aErr: Throwable = null
    val a = new Thread(() => {
      try IndexFiles.writeNextVersion(spark, idx, "doclens") { next =>
        entered.countDown()
        release.await(60, TimeUnit.SECONDS)
        spark.read.parquet(IndexFiles.tablePath(spark, idx, "doclens"))
          .coalesce(1).write.mode("overwrite").parquet(next)
      } catch { case t: Throwable => aErr = t }
    }, "lease-race-writer-a")
    a.start()
    assert(entered.await(60, TimeUnit.SECONDS), "writer A never entered")
    // writer B races the same table mid-rewrite: loud abort naming the
    // holder, NOT a silent delete of A's in-progress version
    val e = intercept[IllegalStateException] {
      IndexFiles.writeNextVersion(spark, idx, "doclens")(_ => ())
    }
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    assert(doclensCount(idx) == 2, "table must stay servable mid-race")
    release.countDown()
    a.join(120000)
    assert(aErr == null, s"winner must complete cleanly: $aErr")
    assert(doclensCount(idx) == 2, "winner's rewrite must have published")
    // lease released: the loser's retry now proceeds
    IndexFiles.compact(spark, idx, "doclens", None, dedupeRows = false)
    assert(doclensCount(idx) == 2)
  }

  test("an append aborts while a rewrite holds the table lease") {
    val idx = freshIndex()
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => {
      IndexFiles.withTableLeaseFenced(spark, idx, "postings") { _ =>
        entered.countDown()
        release.await(60, TimeUnit.SECONDS)
      }
      ()
    }, "lease-holder")
    holder.start()
    assert(entered.await(60, TimeUnit.SECONDS))
    val e = intercept[IllegalStateException] {
      Retrieval.appendToIndex(spark, idx,
        Seq((10L, "zeta eta")).toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    release.countDown()
    holder.join(60000)
    // after release the same append succeeds and the index serves it
    Retrieval.appendToIndex(spark, idx,
      Seq((10L, "zeta eta")).toDF("doc_id", "text"))
    assert(doclensCount(idx) == 3)
  }

  test("streaming ingest aborted by a lease replays safely via the ledger") {
    // the documented recovery story end to end: a micro-batch whose
    // append hits a held lease (a compaction racing the stream) FAILS
    // loudly; because the failure landed before the ledger marker, the
    // foreachBatch replay of the same batchId re-runs in full and the
    // final state is exactly one application of the batch
    import graft.operators.Dedup
    import graft.streaming.StreamingOps
    val root = java.nio.file.Files.createTempDirectory("lease-replay").toString
    val idx = s"$root/index"; val corpus = s"$root/corpus"
    Dedup.saveLshIndex(
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val batch = Seq((10L, "iota kappa lambda mu")).toDF("doc_id", "text")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => {
      IndexFiles.withTableLeaseFenced(spark, idx, "bands") { _ =>
        entered.countDown()
        release.await(60, TimeUnit.SECONDS)
      }
      ()
    }, "lease-holder-ingest")
    holder.start()
    assert(entered.await(60, TimeUnit.SECONDS))
    val e = intercept[IllegalStateException] {
      StreamingOps.ingestBatch(batch, idx, corpus, batchId = Some(5L))
    }
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    assert(!IndexFiles.wasBatchApplied(spark, idx, "local", 5L),
      "an aborted batch must NOT be marked applied")
    release.countDown()
    holder.join(60000)
    // the replay (same batchId, as foreachBatch would re-deliver it)
    StreamingOps.ingestBatch(batch, idx, corpus, batchId = Some(5L))
    assert(IndexFiles.wasBatchApplied(spark, idx, "local", 5L))
    assert(spark.read.parquet(corpus).count() == 1,
      "exactly one application of the batch after abort + replay")
    val bandRows = spark.read
      .parquet(IndexFiles.tablePath(spark, idx, "bands"))
      .where(org.apache.spark.sql.functions.col("doc_id") === 10L).count()
    assert(bandRows == 8L, s"one banding of the ingested doc, got $bandRows")
  }

  test("a holder taken over mid-write is FENCED OUT at publish, not double-publishing") {
    // the r15 residual race: a holder stalls past the stale window (GC
    // pause, heartbeat silently failing), a taker claims the lease and
    // publishes; the resumed holder must abort at its publish fence
    // instead of publishing over the taker. Simulated deterministically:
    // while the holder is inside its write callback, the lock is
    // rewritten with a taker's identity (exactly what the takeover's
    // delete+create leaves behind).
    val idx = freshIndex()
    val lockFile = new java.io.File(s"$idx/doclens.lock")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var err: Throwable = null
    val holder = new Thread(() => {
      try IndexFiles.writeNextVersion(spark, idx, "doclens") { next =>
        spark.read.parquet(IndexFiles.tablePath(spark, idx, "doclens"))
          .coalesce(1).write.mode("overwrite").parquet(next)
        entered.countDown()
        release.await(60, TimeUnit.SECONDS)
      } catch { case t: Throwable => err = t }
    }, "fenced-holder")
    holder.start()
    assert(entered.await(60, TimeUnit.SECONDS), "holder never entered")
    val manifestBefore = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$idx/doclens.manifest")).trim
    // the "taker" claims the lock with its own identity
    java.nio.file.Files.write(lockFile.toPath,
      "taker-host/pid=999/nonce=deadbeef".getBytes("UTF-8"))
    release.countDown()
    holder.join(120000)
    assert(err != null, "fenced holder must abort, not publish")
    assert(err.isInstanceOf[IllegalStateException], err.toString)
    assert(err.getMessage.contains("fenced out"), err.getMessage)
    // nothing published: the live version is unchanged and servable
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$idx/doclens.manifest")).trim
      == manifestBefore, "fenced holder must not move the manifest")
    assert(doclensCount(idx) == 2)
    // and release must NOT delete the taker's lease
    assert(lockFile.exists(), "release must leave the taker's lock alone")
    assert(new String(java.nio.file.Files.readAllBytes(lockFile.toPath),
      "UTF-8").contains("taker-host"),
      "the taker's lock content must survive the fenced holder's release")
    lockFile.delete()
  }

  test("a failing heartbeat aborts the write BEFORE a takeover becomes possible") {
    // an object store without setTimes: the heartbeat cannot keep the
    // lock fresh, so a write longer than the stale window WILL be taken
    // over — the lease must fail loud at the publish fence once
    // staleness is near, not publish into the takeover race
    val idx = freshIndex()
    val orig = IndexFiles.heartbeatRefresh
    IndexFiles.heartbeatRefresh = (_, _) =>
      throw new java.io.IOException("setTimes unsupported (injected)")
    try {
      val e = intercept[IllegalStateException] {
        IndexFiles.writeNextVersion(spark, idx, "doclens",
            staleLeaseMs = 400L) { next =>
          spark.read.parquet(IndexFiles.tablePath(spark, idx, "doclens"))
            .coalesce(1).write.mode("overwrite").parquet(next)
          Thread.sleep(900) // >= 3 failed beats, past half the window
        }
      }
      assert(e.getMessage.contains("heartbeat"), e.getMessage)
      // nothing published; table stays servable; lease released (the
      // lock content is still ours — only the mtime refresh failed)
      assert(doclensCount(idx) == 2)
      assert(!new java.io.File(s"$idx/doclens.lock").exists(),
        "healthy-content lock must still be released after the abort")
    } finally IndexFiles.heartbeatRefresh = orig
    // with the refresh restored the same rewrite proceeds normally
    IndexFiles.compact(spark, idx, "doclens", None, dedupeRows = false)
    assert(doclensCount(idx) == 2)
  }

  test("a stale lease (crashed holder) is taken over; a fresh one is honored") {
    val idx = freshIndex()
    val lock = new java.io.File(s"$idx/doclens.lock")
    assert(lock.createNewFile(), "seed lock")
    // fresh foreign lock: abort
    intercept[IllegalStateException] {
      IndexFiles.compact(spark, idx, "doclens", None, dedupeRows = false)
    }
    // holder "crashes": no heartbeat refreshes the mtime past the stale
    // window — the next writer takes the lease over and proceeds
    assert(lock.setLastModified(
      System.currentTimeMillis() - IndexFiles.defaultStaleLeaseMs - 60000))
    IndexFiles.compact(spark, idx, "doclens", None, dedupeRows = false)
    assert(doclensCount(idx) == 2, "takeover rewrite must publish normally")
    assert(!lock.exists(), "lease must be released after the rewrite")
  }

  test("a taken-over holder's APPEND is fenced out before landing rows") {
    // the r17 append fence: a holder that resumed after a stale-lease
    // takeover used to land its append rows into whatever table version
    // the taker had made live (or was about to prune) — silently lost
    // rows. checkStillHeld right before the write job aborts instead.
    // Every family's append and merge writes through the one fenced
    // write, so the same seam must close for each: staged via the
    // in-lease pre-write hook, the "takeover" rewrites the lock with the
    // taker's identity inside exactly the stall window the fence closes.
    import graft.operators.{Dedup, Similarity}
    import org.apache.spark.sql.functions.col
    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(tag).toString + "/index"
    val qs = Seq("q1" -> Seq("alpha", "beta"), "q2" -> Seq("zeta", "theta"))
    def bm25Serve(d: String) = Retrieval.searchIndex(spark, d, qs, k = 10)
      .collect().map(_.toSeq).toSet
    def lshDoc(i: Long) = s"unique body $i alpha$i beta$i gamma$i delta$i eps$i"
    def lshDocs(ids: Seq[Long]) = ids.map(i => (i, lshDoc(i)))
      .toDF("doc_id", "text")
    def lshServe(d: String) = Dedup.matchesAgainstLshIndex(spark, d,
        lshDocs(Seq(1L, 11L)).withColumn("doc_id", col("doc_id") + 100L),
        maxBucket = None)
      .collect().map(_.toSeq).toSet
    def vecs(ids: Seq[Long]) = ids.map(i =>
      (i, (0 until 8).map(d => math.sin(i * 1.7 + d * 0.9) + d * 0.01)))
      .toDF("vec_id", "embedding")
    val queries = vecs(Seq(100L, 101L))
    def ivfServe(d: String) = Similarity.probeIvf(
        Similarity.loadIvfIndex(spark, d), queries, 3, nProbe = 2)
      .collect().map(_.toSeq).toSet
    def ivfPqServe(d: String) = Similarity.probeIvfPq(
        Similarity.loadIvfPqIndex(spark, d), queries, vecs(0L until 20L), 3,
        nProbe = 2, shortlist = Int.MaxValue)
      .collect().map(_.toSeq).toSet
    // (op, table, index, fenced verb, serve)
    val cases: Seq[(String, String, String, String => Unit,
        String => Set[Seq[Any]])] = Seq(
      ("bm25.append", "postings", freshIndex(),
        d => Retrieval.appendToIndex(spark, d,
          Seq((9L, "zeta eta theta")).toDF("doc_id", "text")), bm25Serve),
      ("bm25.merge", "postings", freshIndex(), { d =>
        val shard = tmp("lease-shard")
        Retrieval.buildIndex(Seq((9L, "zeta eta theta")).toDF("doc_id", "text"),
          shard, nBuckets = 4)
        Retrieval.mergeIndexes(spark, d, shard)
      }, bm25Serve),
      ("lsh.merge", "shingles", {
        val d = tmp("lease-lsh")
        Dedup.saveLshIndex(lshDocs(0L until 5L), "doc_id", "text", d)
        d
      }, { d =>
        val shard = tmp("lease-lsh-shard")
        Dedup.saveLshIndex(lshDocs(10L until 15L), "doc_id", "text", shard)
        Dedup.mergeLshIndexes(spark, d, shard)
      }, lshServe),
      ("ivf.append", "lists", {
        val d = tmp("lease-ivf")
        Similarity.saveIvfIndex(
          Similarity.buildIvfIndex(vecs(0L until 10L), 2, 8), d)
        d
      }, d => Similarity.appendToIvfIndex(spark, d, vecs(10L until 20L)),
        ivfServe),
      ("ivfpq.append", "lists", {
        val d = tmp("lease-ivfpq")
        Similarity.saveIvfPqIndex(Similarity.buildIvfPq(vecs(0L until 10L),
          nCells = 2, dim = 8, m = 2, ksub = 4, iters = 1), d)
        d
      }, d => Similarity.appendToIvfPqIndex(spark, d, vecs(10L until 20L)),
        ivfPqServe))
    for ((op, table, idx, verb, serve) <- cases) {
      val lockFile = new java.io.File(s"$idx/$table.lock")
      def rows() = spark.read
        .parquet(IndexFiles.tablePath(spark, idx, table)).count()
      val before = serve(idx)
      val rowsBefore = rows()
      val err = intercept[IllegalStateException] {
        graft.operators.FaultPoints.withPreWriteHook((o, t) =>
          if (o == op && t == table)
            java.nio.file.Files.write(lockFile.toPath,
              "taker-host/pid=999/nonce=deadbeef".getBytes("UTF-8")))(verb(idx))
      }
      assert(err.getMessage.contains("fenced out"), s"$op: ${err.getMessage}")
      assert(rows() == rowsBefore, s"$op: a fenced write must not land rows")
      assert(serve(idx) == before,
        s"$op: a fenced write must leave serving as before the append")
      if (op.startsWith("bm25"))
        assert(doclensCount(idx) == 2,
          s"$op: a fenced write must not have reached the doclens write")
      // and release must NOT delete the taker's lease
      assert(lockFile.exists(), s"$op: release must leave the taker's lock")
      assert(new String(java.nio.file.Files.readAllBytes(lockFile.toPath),
        "UTF-8").contains("taker-host"),
        s"$op: the taker's lock content must survive the fenced release")
      lockFile.delete()
    }
  }
}
