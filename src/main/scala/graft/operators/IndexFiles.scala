package graft.operators

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one lifecycle engine of the persisted index families (IVF and
  * IVF-PQ lists, LSH bands/shingles, BM25 postings/doclens/stats): every
  * lifecycle decision is written once here, and the families keep only
  * their math (tokenize, band, assign, encode, the BM25 stats
  * arithmetic). The verbs:
  *
  *  - [[fencedWrite]] — the one fenced append (lease, build under it,
  *    fault point, fence, write, release), used by every append, merge
  *    and the LSH save;
  *  - [[rewriteRows]] — the one row-filtering rewrite (read the live
  *    version with its static schema, filter, write, keep readable,
  *    re-embed a live artifact, publish), used by every delete and
  *    compaction ([[compact]]);
  *  - [[publishInOrder]] — the ordered two-table publish of the BM25 and
  *    LSH deletes;
  *  - [[writeSmallFile]]/[[readSmallFile]] — the one atomic small text
  *    file (manifests, the ledger highwater, artifact sidecars);
  *  - [[liveArtifact]] — where a table's quantizer or geometry lives;
  *  - [[applyBatchOnce]] — the ingest ledger bracket.
  *
  * Retrains and the BM25 stats rebuild compute new contents and stay
  * family code over [[writeNextVersion]].
  *
  * Every append path adds at least one new file per touched partition,
  * so a year of daily ingest turns each `cell=`/`band=`/`bucket=`
  * directory into hundreds of small files — the listing/open overhead
  * then dominates the partition-pruned probes these layouts exist for.
  * Compaction rewrites a table to one file per partition (row-identical
  * by default) and cuts readers over with a ZERO-DOWNTIME versioned swap:
  *
  *  - a table `sub` lives at `<dir>/<sub>` when freshly saved (version 0,
  *    the legacy layout) and at `<dir>/<sub>.v<N>` after N rewrites;
  *  - `<dir>/<sub>.manifest` holds the live version number; read and
  *    append paths resolve it via [[tablePath]];
  *  - a rewrite writes the FULL next version first, then atomically
  *    republishes the manifest ([[publishVersion]]), then deletes
  *    versions older than the immediately-prior live one — so a reader
  *    that resolved just before the cutover keeps a fully-intact table
  *    for the whole compaction cycle, and EVERY crash window leaves a
  *    readable, fully-written live table (the delete+rename swap this
  *    replaces had both a reader outage window and a crash window that
  *    lost the live table outright).
  *
  * Single-writer contract: appends and rewrites of one table must not
  * run concurrently with each other; readers are lock-free. Since r15
  * the contract is ENFORCED best-effort by a per-table writer lease
  * ([[withTableLeaseFenced]]) taken by every rewrite ([[writeNextVersion]])
  * and every family append path: a second concurrent writer aborts
  * loudly instead of silently corrupting the table (a racing rewrite
  * would otherwise delete the first writer's in-progress version as
  * "crash residue"). Every rewrite resolves the table version and reads
  * its inputs INSIDE the lease (a read-modify-write whose read preceded
  * the lease would silently revert a writer that committed in between).
  * Append-mode writers are FENCED too (since r17): [[fencedWrite]] calls
  * [[WriterLease.checkStillHeld]] immediately before the write job
  * starts, so a holder that stalled past the stale window and was taken
  * over aborts instead of landing rows into a table version the taker
  * is about to prune (silently lost rows — worse than the duplicate an
  * abort+replay leaves). The residual window is the write job itself: a
  * takeover DURING it requires the heartbeat to be failing as well
  * (a healthy heartbeat keeps the lock fresh for the job's whole
  * duration), and its residue is dedupe-compactable rows in a pruned
  * version — bounded by the two-priors retention, repaired by the
  * ledger replay. Recovery after an abort is the ingest ledger's job —
  * a failed micro-batch replays under its recorded batchId.
  *
  * Scope, stated honestly: the lease serializes writers of ONE TABLE.
  * Maintenance OPERATIONS that touch several tables of an index (a
  * delete rewriting postings+doclens+stats, an append landing bands
  * then shingles) are not made atomic by it — two concurrent
  * OPERATIONS on one index interleave at table granularity and remain
  * the caller's contract to serialize. The write orders are chosen so
  * such interleavings degrade to invisible-until-retry rows,
  * dedupe-compactable duplicates, or a SELF-HEALED stats recompute —
  * never a wrong serve DOC SET. The formerly-drifting case (exercised
  * by IndexInterleaveSpec): a BM25 delete/dedupe-compact whose
  * ground-truth stats rebuild runs between a concurrent append's table
  * writes has already counted whichever of the batch's tables landed
  * before it — WHICH stats components the append's additive merge
  * would then double-count depends on the window (df only when the
  * rebuild fell between the postings and doclens landings — the tested
  * representative case; df AND n_docs/sum_dl when it ran after both).
  * Since r17 the additive mergers detect the rebuild via the stats
  * EPOCH (bumped by every ground-truth recompute, compared
  * entry-vs-live inside the stats lease) and recompute ground truth
  * instead of double-adding, so the pair lands EXACT in either window.
  * The verb×verb interleaving matrix with each pair's landed state is
  * COVERAGE.md's interleaving table; every other pair is exact or
  * loud-abort.
  */
private[graft] object IndexFiles {

  /** A lease older than this with no heartbeat refresh is considered
    * abandoned (holder crashed without releasing) and may be taken over.
    * The live holder refreshes the lock's mtime every [[heartbeatMs]],
    * so a healthy long rewrite never looks stale; 10 minutes of silence
    * is ~40 missed heartbeats.
    */
  val defaultStaleLeaseMs: Long = 10 * 60 * 1000L

  private val heartbeatMs = 15 * 1000L

  /** Settle delay for the double re-read that guards non-atomic
    * check-then-create lock acquisition (see [[withTableLeaseFenced]]) — must
    * exceed a plausible competitor's check-to-create skew. `private[graft]`
    * var only so time-sensitive specs can shorten it.
    */
  @volatile private[graft] var createSettleMs: Long = 50L

  /** Handle to one lease acquisition — carries the acquisition's unique
    * owner nonce (for fencing) and the heartbeat's health (for failing
    * loud BEFORE a takeover, not after). Guarded bodies that publish
    * irreversible state call [[checkStillHeld]] immediately before the
    * publish: it re-reads the lock and requires it still carries THIS
    * acquisition's nonce — a holder that stalled past the stale window
    * (GC pause, long shuffle) and was taken over aborts loudly instead
    * of double-publishing over the taker — and aborts pre-emptively when
    * the heartbeat has been failing long enough that a takeover is
    * imminent (an object store without `setTimes`: better to fail loud
    * before the takeover than to fence-abort after it).
    */
  private[graft] final class WriterLease(fs: FileSystem, val lock: Path,
      owner: String, staleLeaseMs: Long) {
    private val hbFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile private var lastRefreshMs = System.currentTimeMillis()
    private[operators] def refreshed(): Unit = {
      hbFailures.set(0); lastRefreshMs = System.currentTimeMillis()
    }
    private[operators] def refreshFailed(): Int = hbFailures.incrementAndGet()
    private[operators] def ownsLock(): Boolean = readHolder(fs, lock) == owner

    /** True while the heartbeat is keeping the lock visibly fresh — or
      * has not yet failed long enough for staleness to be NEAR (half the
      * stale window with >=3 consecutive failures is the abort line).
      */
    def heartbeatHealthy: Boolean =
      hbFailures.get() < 3 ||
        System.currentTimeMillis() - lastRefreshMs <= staleLeaseMs / 2

    def checkStillHeld(what: String): Unit = {
      if (!heartbeatHealthy)
        throw new IllegalStateException(
          s"writer lease $lock: heartbeat has been failing for " +
            s"${System.currentTimeMillis() - lastRefreshMs} ms " +
            s"(${hbFailures.get()} consecutive failures) and the lock " +
            s"looks abandoned to other writers after $staleLeaseMs ms — " +
            s"aborting before $what rather than racing an imminent " +
            "stale-lease takeover. Serialize writers externally on " +
            "stores without setTimes support.")
      if (!ownsLock())
        throw new IllegalStateException(
          s"writer lease $lock: fenced out before $what — the lock no " +
            "longer carries this acquisition's nonce (a stale-lease " +
            "takeover claimed it while this writer stalled). Aborting " +
            "instead of publishing over the new holder; retry if still " +
            "needed.")
    }
  }

  /** Test seam: the heartbeat's refresh action. Specs inject a failing
    * refresh to exercise the takeover-prone-store abort path; production
    * never touches it.
    */
  @volatile private[graft] var heartbeatRefresh: (FileSystem, Path) => Unit =
    (fs, lock) => fs.setTimes(lock, System.currentTimeMillis(), -1)

  /** Best-effort per-table writer lease enforcing the single-writer
    * contract. Acquisition is a `create(overwrite = false)` of
    * `<dir>/<sub>.lock` holding the owner identity — atomic on HDFS-like
    * stores; where create-no-overwrite is check-then-create
    * (LocalFileSystem, some object stores) the acquirer re-reads the
    * lock after EVERY create — immediately and again after a settle
    * delay ([[createSettleMs]]) longer than a plausible competitor's
    * check-to-create skew — and requires its own nonce both times. That
    * NARROWS the collided-double-create window to competitors whose
    * create lands later than the settle delay after their check (not a
    * proof of mutual exclusion — see the best-effort paragraph below);
    * a detected collision aborts loudly. While the
    * body runs, a daemon thread refreshes the lock's mtime as a liveness
    * heartbeat; release deletes the lock only if it still carries this
    * acquisition's nonce (never a taker's fresh lease). A second writer
    * finding a FRESH lock aborts with the holder's identity in the
    * message — loud, instead of the silent interleaved-rewrite
    * corruption the contract doc used to merely warn about. A lock whose
    * mtime is older than `staleLeaseMs` is treated as a crashed holder
    * and taken over (delete + re-create; the documented stale-lease
    * takeover — crash-safe because every crash window of the guarded
    * operations already leaves a readable live table, so takeover only
    * ever unblocks, never repairs).
    *
    * Best-effort, not a distributed lock manager: the create/delete
    * races of two takeovers landing in the same millisecond are accepted
    * (the settled re-reads make two proceeding writers require a
    * competitor's create to land later than the settle delay after its
    * own existence check — unlikely, not impossible), and an object
    * store without atomic create degrades to the re-read-verified
    * advisory protocol above. That is the right
    * price — the hazard being closed is unsynchronized AUTOMATION (a
    * compaction cron racing a streaming append), not byzantine
    * concurrency. The body receives the [[WriterLease]] handle so it can
    * fence its publish points ([[WriterLease.checkStillHeld]]).
    */
  private[graft] def withTableLeaseFenced[T](spark: SparkSession,
      dir: String, sub: String,
      staleLeaseMs: Long = defaultStaleLeaseMs)(body: WriterLease => T): T = {
    val fs = fsFor(spark, dir)
    val lock = new Path(s"$dir/$sub.lock")
    val owner = acquireLease(fs, lock, staleLeaseMs)
    val lease = new WriterLease(fs, lock, owner, staleLeaseMs)
    val hb = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, s"graft-lease-heartbeat-$sub")
        t.setDaemon(true); t
      })
    val warned = new java.util.concurrent.atomic.AtomicBoolean(false)
    // heartbeat faster than the stale window divided by ~40 missed beats
    // (15 s under the 10 min default), so short spec windows still beat
    val period = math.max(50L, math.min(heartbeatMs, staleLeaseMs / 40))
    hb.scheduleAtFixedRate(
      () => try { heartbeatRefresh(fs, lock); lease.refreshed() }
            catch { case e: Exception =>
              lease.refreshFailed()
              // a silently dead heartbeat would let a HEALTHY long write
              // look stale and be taken over mid-flight — surface it, and
              // let the lease handle abort fenced publishes pre-emptively
              if (warned.compareAndSet(false, true))
                System.err.println(s"[graft] writer-lease heartbeat on " +
                  s"$lock failing (${e.getClass.getSimpleName}: " +
                  s"${e.getMessage}); a write longer than the stale " +
                  "window risks takeover — serialize writers externally " +
                  "on stores without setTimes support")
            },
      period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    try body(lease)
    finally {
      hb.shutdownNow()
      // release only OUR lease: after a stale takeover the lock is the
      // taker's — deleting it here would unlock a live writer's table
      try { if (lease.ownsLock()) fs.delete(lock, false) }
      catch { case _: Exception => () }
    }
  }

  /** The lock's current holder string. A MISSING lock and a transiently
    * unreadable one are different facts: missing means genuinely not ours
    * (released or taken over — callers comparing against their own nonce
    * correctly treat it as lost), while a transient read failure on a
    * flaky store must not make release leak the lock for a full stale
    * window or make checkStillHeld fence out a healthy writer after its
    * expensive data write — so FileNotFoundException returns immediately
    * and every other failure is retried briefly before giving up. A
    * PERSISTENTLY unreadable lock still resolves to not-ours: failing
    * safe (abort / leak until stale) beats double-publishing.
    */
  private def readHolder(fs: FileSystem, lock: Path): String = {
    var attempt = 0
    var res: String = null
    while (res == null) {
      try {
        val in = fs.open(lock)
        try res = new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } catch {
        case _: java.io.FileNotFoundException => res = "<missing>"
        case _: Exception =>
          attempt += 1
          if (attempt >= 3) res = "<unreadable>"
          else Thread.sleep(20L * attempt)
      }
    }
    res
  }

  private def acquireLease(fs: FileSystem, lock: Path,
      staleLeaseMs: Long): String = {
    // nonce makes the owner string unique per ACQUISITION, so the
    // post-create ownership re-checks below cannot be fooled by this
    // writer's own earlier lease
    val owner = s"${java.net.InetAddress.getLocalHost.getHostName}/" +
      s"pid=${ProcessHandle.current().pid()}/" +
      s"thread=${Thread.currentThread().getName}/" +
      s"nonce=${java.util.UUID.randomUUID()}"
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lock, false)
        try out.write(owner.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    // create-no-overwrite is check-then-create on LocalFileSystem and some
    // object stores, so two acquirers can BOTH see create success. An
    // immediate re-read alone only NARROWS the window (A could re-read its
    // own nonce before B's check-then-create overwrite lands), so verify
    // twice: once immediately (fast fail), then again after a settle delay
    // longer than a plausible competitor's check-to-create skew — B's
    // overwrite either landed by then (we see B's nonce and abort) or B
    // itself settles after us and sees whoever wrote last. Still advisory,
    // not a proof, on stores without atomic create (see the lease doc).
    def settledOwnership(): Boolean = {
      if (readHolder(fs, lock) != owner) return false
      Thread.sleep(createSettleMs)
      readHolder(fs, lock) == owner
    }
    if (tryCreate()) {
      if (settledOwnership()) return owner
      throw new IllegalStateException(
        s"writer lease $lock: simultaneous acquisition collided " +
          "(non-atomic create) and another writer's identity landed — " +
          "aborting; retry if still needed")
    }
    val holder = readHolder(fs, lock)
    val fresh =
      try System.currentTimeMillis() -
        fs.getFileStatus(lock).getModificationTime <= staleLeaseMs
      catch { case _: java.io.FileNotFoundException => false }
    if (fresh)
      throw new IllegalStateException(
        s"writer lease $lock is held by $holder — appends and rewrites " +
          "of one index table must not run concurrently (single-writer " +
          "contract). If the holder is dead, its lease goes stale after " +
          s"$staleLeaseMs ms and is taken over automatically.")
    // stale: the holder stopped heartbeating long ago — take over. The
    // delete+create pair is NOT atomic: a second taker pausing between
    // its own staleness check and its delete could remove THIS taker's
    // fresh lock (the window is unbounded — a GC pause suffices), so
    // after creating, re-read the lock and require it still carries OUR
    // owner string; losing either step means another taker won — abort
    // rather than run two writers.
    try fs.delete(lock, false) catch { case _: Exception => () }
    if (!tryCreate() || !settledOwnership())
      throw new IllegalStateException(
        s"writer lease $lock: lost the stale-lease takeover race — " +
          "another writer claimed it first; retry if still needed")
    owner
  }

  private[graft] def fsFor(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  private def versionPath(dir: String, sub: String, v: Int): String =
    if (v == 0) s"$dir/$sub" else s"$dir/$sub.v$v"

  private def versionsOnDisk(fs: FileSystem, dir: String,
      sub: String): Seq[Int] = {
    val d = new Path(dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(s"$sub.v"))
      .flatMap(n => n.drop(sub.length + 2).toIntOption)
  }

  /** Live version of `sub` under `dir`: the manifest's value when present;
    * else the highest `<sub>.v<N>` on disk; else 0 (legacy unversioned
    * layout). The no-manifest-but-versions-exist fallback is reachable in
    * exactly ONE window — [[publishVersion]]'s delete→rename of the
    * manifest file — where the highest on-disk version is always fully
    * written: [[writeNextVersion]] BOOTSTRAPS a manifest pinning the
    * current live version before the first versioned rewrite ever starts
    * writing, so a half-written `<sub>.v1` can never be the fallback's
    * answer (without the bootstrap, a reader racing the first rewrite of
    * a legacy table — or any reader after a crash mid-first-rewrite —
    * would resolve the incomplete v1 instead of the intact legacy v0).
    */
  private def liveVersion(fs: FileSystem, dir: String, sub: String): Int =
    readSmallFile(fs, dir, s"$sub.manifest").map(_.trim.toInt)
      .getOrElse(versionsOnDisk(fs, dir, sub).maxOption.getOrElse(0))

  /** The live directory of table `sub` under index `dir` — EVERY read and
    * append path resolves through this (a freshly saved index resolves to
    * the legacy `<dir>/<sub>`, so the layout is invisible until the first
    * rewrite).
    */
  def tablePath(spark: SparkSession, dir: String, sub: String): String = {
    val fs = fsFor(spark, dir)
    versionPath(dir, sub, liveVersion(fs, dir, sub))
  }

  /** Write a replacement for table `sub` as its next version (the `write`
    * callback receives the target directory) and publish it. The
    * zero-downtime successor of the old delete+rename swap. Runs under
    * the table's writer lease ([[withTableLeaseFenced]]): a concurrent rewrite
    * or append of the same table aborts loudly instead of the two
    * rewriters computing the same `next` and deleting each other's
    * in-progress version as crash residue. The two destructive points —
    * the crash-residue delete and the manifest publish — are FENCED
    * ([[WriterLease.checkStillHeld]]): a holder that stalled past the
    * stale window and was taken over aborts there instead of deleting
    * the taker's in-progress version or double-publishing over it.
    */
  def writeNextVersion(spark: SparkSession, dir: String, sub: String,
      staleLeaseMs: Long = defaultStaleLeaseMs)
      (write: String => Unit): Unit =
      withTableLeaseFenced(spark, dir, sub, staleLeaseMs) { lease =>
    val fs = fsFor(spark, dir)
    val live = liveVersion(fs, dir, sub)
    // bootstrap: the initial save paths write no manifest, so the FIRST
    // rewrite must pin the current live version in a manifest BEFORE any
    // v(next) file exists — otherwise liveVersion's highest-on-disk
    // fallback would resolve the in-progress (or crash-abandoned) next
    // version for every lock-free reader
    if (!fs.exists(new Path(s"$dir/$sub.manifest")))
      writeSmallFile(fs, dir, s"$sub.manifest", live.toString, required = true)
    val next = live + 1
    val target = new Path(versionPath(dir, sub, next))
    // crash residue: a previous rewrite attempt may have died mid-write of
    // this same (never-published) version — clear it so the callback
    // writes a fresh table instead of landing on top of a partial one.
    // Fenced: if we were fenced out at acquisition (collided create) or
    // already taken over, "residue" may be the NEW holder's in-progress
    // version — abort rather than delete a live writer's work
    lease.checkStillHeld("the crash-residue delete")
    if (fs.exists(target)) fs.delete(target, true)
    write(versionPath(dir, sub, next))
    // fenced publish: a takeover during a long `write` means the taker
    // may have published its own versions — re-verify ownership (and
    // heartbeat health) and abort instead of publishing over it
    lease.checkStillHeld("publishing the new version")
    publishVersion(spark, dir, sub, next)
  }

  /** Atomically replace the small text file `<dir>/<name>` — a version
    * manifest, a ledger highwater, an artifact sidecar (`_meta.txt`,
    * `_centroids.txt`, `_codebooks.txt`): write `<dir>/.<name>.tmp`, then
    * rename it over the old file, so a racing reader sees the old text or
    * the new, never a torn write. A failed rename raises when `required`
    * (the manifest and the highwater have no fallback); otherwise the tmp
    * file is dropped and readers fall back to the parquet table the
    * sidecar mirrors.
    */
  private[graft] def writeSmallFile(fs: FileSystem, dir: String,
      name: String, text: String, required: Boolean): Unit = {
    val dst = new Path(s"$dir/$name")
    val tmp = new Path(s"$dir/.$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) {
      require(!required, s"rename $tmp -> $dst failed")
      fs.delete(tmp, false)
    }
  }

  /** The text of `<dir>/<name>` written by [[writeSmallFile]], if present. */
  private[graft] def readSmallFile(fs: FileSystem, dir: String,
      name: String): Option[String] = {
    val f = new Path(s"$dir/$name")
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Cut readers over to version `v` (already fully written) and prune
    * versions older than the immediately-prior live one. Crash windows:
    * before the manifest tmp rename there is either the old manifest
    * (old version stays live) or — between the delete and the rename —
    * no manifest at all, in which case [[liveVersion]] falls back to the
    * highest on-disk version, which is `v`, already complete. Either way
    * a reader resolves a fully-written table.
    */
  private def publishVersion(spark: SparkSession, dir: String, sub: String,
      v: Int): Unit = {
    val fs = fsFor(spark, dir)
    val prev = liveVersion(fs, dir, sub)
    require(fs.exists(new Path(versionPath(dir, sub, v))),
      s"publishVersion: $dir/$sub.v$v does not exist")
    writeSmallFile(fs, dir, s"$sub.manifest", v.toString, required = true)
    // keep TWO prior versions: an in-flight reader that resolved just
    // before this cutover survives not only this publish but a whole
    // further compaction cycle (a reader slower than one rewrite would
    // otherwise race the prune). Steady-state disk cost: 3 copies of the
    // table, transient between rewrites.
    (versionsOnDisk(fs, dir, sub) :+ 0)
      .filter(o => o < prev - 1 && o != v).distinct
      .foreach(o => fs.delete(new Path(versionPath(dir, sub, o)), true))
  }

  /** The one fenced write of the index families: every append, merge
    * and the LSH save land rows in a live table through here, in this
    * order — take `sub`'s writer lease; build the batch under it (`batch`
    * may read the index's centroids or geometry and `require` that they
    * still match); fire [[FaultPoints.beforeFencedWrite]]; fence
    * ([[WriterLease.checkStillHeld]]: a holder taken over while stalled
    * would otherwise land its rows in a version the taker is about to
    * prune — silently lost rows, worse than the dedupe-compactable
    * duplicate an abort + replay leaves); write to the live
    * [[tablePath]]; release the lease; fire [[FaultPoints.afterTable]].
    * `op` names the verb for the fault points (`bm25.append`,
    * `lsh.merge`, ...); `batch` carries the family's own partitioning.
    */
  private[graft] def fencedWrite(spark: SparkSession, dir: String,
      sub: String, op: String, mode: String = "append")
      (batch: => DataFrameWriter[Row]): Unit = {
    withTableLeaseFenced(spark, dir, sub) { lease =>
      val writer = batch
      FaultPoints.beforeFencedWrite(op, sub)
      lease.checkStillHeld(s"the $op write of $sub")
      writer.mode(mode).parquet(tablePath(spark, dir, sub))
    }
    FaultPoints.afterTable(op, sub)
  }

  /** A small artifact a table rewrite carries into the new version:
    * `copy(from, to)` reads it at `from` ([[liveArtifact]]) and writes it
    * at `to` = `<next version>/_<name>`.
    */
  private[graft] final case class Carry(name: String,
      copy: (String, String) => Unit)

  /** Where artifact `name` of a table lives, given the table's resolved
    * live version `live`: embedded as `<live>/_<name>` when a retrain or
    * rewrite put it there (Spark ignores underscore paths, so the table
    * scan never sees it), else the save-time `<dir>/<name>`. Embedding
    * makes the artifact and the rows cut over under ONE manifest publish,
    * so a reader never pairs a new quantizer or geometry with old rows.
    * Callers that also read the rows pass the same `live` they read them
    * from — resolving twice could straddle a cutover.
    */
  private[graft] def liveArtifact(spark: SparkSession, dir: String,
      live: String, name: String): String =
    if (fsFor(spark, dir).exists(new Path(s"$live/_$name"))) s"$live/_$name"
    else s"$dir/$name"

  /** `rows` for a rewrite that keeps every row, or drops full-row
    * duplicates — the at-least-once replay repair (a replayed
    * micro-batch re-appends byte-identical rows).
    */
  private[graft] def keepRows(dedupeRows: Boolean): DataFrame => DataFrame =
    df => if (dedupeRows) df.distinct() else df

  /** The one row-filtering rewrite of table `sub`: under its lease
    * ([[writeNextVersion]]) resolve and read the live version — with the
    * static `schema` when the owner knows it (a schema-less read runs a
    * footer-inference job), columns in schema order — apply `rows` (an
    * anti-join, [[keepRows]]), write the next version, keep it readable
    * ([[ensureReadable]]), re-land `carry` from the live version into the
    * new one, run `beforePublish` (the gate of [[publishInOrder]]) and
    * publish. Partitioned tables repartition on `partitionBy` (one task
    * -> one file per partition). Flat tables are written as the rows come
    * unless `flatFiles` is set: then they coalesce to a file count SIZED
    * FROM THE TABLE'S ON-DISK BYTES (an FS listing, no data scan),
    * ceil(bytes / 256 MB) floored at `flatFiles` — a fixed small count
    * would serialize the rewrite at scale (coalesce merges READ tasks
    * too). Deletes leave flat tables uncoalesced: the anti-join's shuffle
    * lets AQE size their output.
    */
  private[graft] def rewriteRows(spark: SparkSession, dir: String,
      sub: String, schema: Option[StructType], partitionBy: Option[String],
      flatFiles: Option[Int] = None, carry: Option[Carry] = None,
      beforePublish: () => Unit = () => ())
      (rows: DataFrame => DataFrame): Unit =
    writeNextVersion(spark, dir, sub) { next =>
      // resolve + read INSIDE the lease: resolving before it could pair
      // this rewrite with a version another writer replaced in between
      // (reverting that writer's committed work)
      val live = tablePath(spark, dir, sub)
      val kept = rows(schema.fold(spark.read)(spark.read.schema(_))
        .parquet(live))
      val df = schema.fold(kept)(s => kept.select(s.fieldNames.map(col): _*))
      val writer = (partitionBy, flatFiles) match {
        case (Some(p), _) => df.repartition(col(p)).write.partitionBy(p)
        case (None, Some(f)) =>
          df.coalesce(math.max(f,
            (tableBytes(spark, live) / (256L << 20)).toInt + 1)).write
        case (None, None) => df.write
      }
      writer.mode("overwrite").parquet(next)
      ensureReadable(df, next)
      carry.foreach(c =>
        c.copy(liveArtifact(spark, dir, live, c.name), s"$next/_${c.name}"))
      beforePublish()
    }

  /** Rewrite `sub` compacted ([[rewriteRows]] with its by-bytes
    * coalesce for flat tables), row-identical unless `dedupeRows`. The
    * rewrite lands as the next table version and cuts over with zero
    * reader downtime (see the object doc).
    */
  def compact(spark: SparkSession, dir: String, sub: String,
      partitionBy: Option[String], dedupeRows: Boolean,
      flatFiles: Int = 4, schema: Option[StructType] = None): Unit =
    rewriteRows(spark, dir, sub, schema, partitionBy,
      flatFiles = Some(flatFiles))(keepRows(dedupeRows))

  /** The ordered two-table publish: run two table rewrites as concurrent
    * driver jobs, but publish `first`'s table before the second's —
    * `second` receives a gate to call after its data write and before its
    * publish ([[rewriteRows]]' `beforePublish`). The lease heartbeat
    * keeps the second table's lease fresh while it waits. If `first`
    * fails, the gate rethrows and the second rewrite aborts UNPUBLISHED
    * (its next-version residue is cleared by the next rewrite); both are
    * always awaited ([[Par.overlap]]), so no job outlives the call. Crash
    * windows: the first table may cut over without the second, never the
    * reverse.
    */
  private[graft] def publishInOrder(verb: String, secondTable: String)
      (first: => Unit)(second: (() => Unit) => Unit): Unit = {
    val firstPublished = scala.concurrent.Promise[Unit]()
    Par.overlap {
      second(() => Par.awaitGate(firstPublished.future, verb, secondTable))
    } {
      try { first; firstPublished.success(()) }
      catch { case e: Throwable => firstPublished.failure(e); throw e }
    }
  }

  /** Keep a just-rewritten table READABLE when its content is empty: a
    * dynamic-partition overwrite of an empty frame lands ZERO parquet
    * files, and Spark cannot re-read a fileless directory
    * (UNABLE_TO_INFER_SCHEMA) — reachable by a perfectly legal
    * full-takedown delete (right to be forgotten over a whole tenant).
    * If no data file landed, land the schema as one empty flat file; the
    * partition column degrades to a regular column, which every reader
    * treats identically (partition pruning simply has nothing to prune),
    * and a later append resurrects the partitioned layout alongside it.
    */
  def ensureReadable(df: org.apache.spark.sql.DataFrame,
      path: String): Unit = {
    val fs = fsFor(df.sparkSession, path)
    val p = new Path(path)
    val it = if (fs.exists(p)) fs.listFiles(p, true) else null
    var any = false
    while (!any && it != null && it.hasNext)
      any = it.next().getPath.getName.endsWith(".parquet")
    if (!any)
      // repartition(1), not coalesce: an empty frame may plan ZERO
      // partitions, and a zero-task write emits no schema file either
      df.limit(0).repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Total data bytes under a table directory, from the filesystem
    * listing alone (no data scan) — the compaction target-file-count
    * input.
    */
  private def tableBytes(spark: SparkSession, path: String): Long = {
    val fs = fsFor(spark, path)
    val it = fs.listFiles(new Path(path), true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
    }
    total
  }

  /** Batch-application ledger — the idempotent-replay guard for
    * streaming index ingest. Structured Streaming's foreachBatch
    * re-delivers a micro-batch when a crash lands between the sink write
    * and the checkpoint commit; an ingest step brackets its appends with
    * [[wasBatchApplied]] (skip if true) and [[recordBatchApplied]] (after
    * every append of the step completes), so a re-delivered batchId is a
    * no-op instead of a double append. One empty marker file per applied
    * batch under `<dir>/_ledger/<writerId>/` — an O(1) existence probe
    * per batch, set semantics (no reliance on batchId monotonicity).
    *
    * `writerId` scopes the markers to ONE writer identity (the Delta
    * `txnAppId` pattern): Structured Streaming batchIds are scoped to a
    * checkpoint location and restart from 0 under a fresh checkpoint, so
    * an UNSCOPED ledger would make a restarted-with-new-checkpoint stream
    * (or a second stream sharing the index dir) silently skip genuinely
    * new batches — data loss, strictly worse than double-append. The
    * streaming ingest paths default `writerId` to the stream's queryId,
    * which is persisted in the checkpoint and therefore stable across
    * restarts of the SAME checkpoint and fresh for a NEW one — exactly
    * the batchId scope.
    *
    * Honest contract: this closes the REPLAY path (batch fully applied,
    * checkpoint stale — the common failure). A crash inside the window
    * between the last append finishing and the marker write still
    * re-appends once on restart; that residue is exactly what
    * `compact(dedupeRows = true)` repairs, and is irreducible without a
    * transactional table format underneath the parquet layout.
    */
  def wasBatchApplied(spark: SparkSession, dir: String, writerId: String,
      batchId: Long): Boolean = {
    val fs = fsFor(spark, dir)
    fs.exists(ledgerMarker(dir, writerId, batchId)) ||
      readHighwater(fs, dir, writerId).exists(batchId <= _) ||
      // upgrade fallback, "local" ONLY: markers from the pre-writer-scope
      // flat layout (`_ledger/applied-<id>`) stay visible to the default
      // non-streaming writer — backfill loops shared one namespace by
      // construction, so the flat ledger IS local's scope. Deliberately
      // NOT honored for stream writers: a flat marker could have been
      // left by a DIFFERENT pre-upgrade stream, and skipping a new
      // stream's genuinely-new batch is silent data loss (strictly worse
      // than the one repairable double-append). A stream restarting its
      // in-flight batch ACROSS the layout upgrade therefore re-appends
      // once — run `compact(dedupeRows = true)` once after upgrading a
      // live streaming ingest pipeline.
      (writerId == "local" && fs.exists(new Path(s"$dir/_ledger/applied-$batchId")))
  }

  /** The ledger bracket of one ingest step: skip `body` when `batchId`
    * is already applied for `writerId`; else run it and write the marker
    * LAST — a crash before the marker replays the batch once (index rows
    * repairable by a dedupe compact), while a marker written early would
    * drop the batch. Without a batchId (an ad-hoc backfill) the body just
    * runs.
    */
  def applyBatchOnce(spark: SparkSession, dir: String, writerId: String,
      batchId: Option[Long])(body: => Unit): Unit =
    if (!batchId.exists(wasBatchApplied(spark, dir, writerId, _))) {
      body
      batchId.foreach(recordBatchApplied(spark, dir, writerId, _))
    }

  def recordBatchApplied(spark: SparkSession, dir: String, writerId: String,
      batchId: Long): Unit = {
    val fs = fsFor(spark, dir)
    val p = ledgerMarker(dir, writerId, batchId)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(batchId.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Compact a writer's ledger: fold the CONTIGUOUS applied prefix into a
    * single `highwater` file and delete its per-batch markers — a
    * long-lived streaming index otherwise accumulates one marker file per
    * micro-batch forever (a year of one-minute triggers is ~525k files of
    * pure listing overhead). Set semantics are preserved exactly:
    * [[wasBatchApplied]] is `marker exists OR batchId <= highwater`, and
    * the fold only ever advances along ids that are contiguously present
    * from the current mark (a GAP stops it — out-of-order markers beyond
    * the gap stay as files), so no assumption about batchId monotonicity
    * is introduced even though a Structured Streaming writer does apply
    * them in order. Crash-safe in both windows: the highwater tmp+rename
    * lands before any marker is deleted, so every intermediate state
    * answers [[wasBatchApplied]] identically.
    */
  def compactLedger(spark: SparkSession, dir: String,
      writerId: String): Unit = {
    val fs = fsFor(spark, dir)
    val ledgerDir = ledgerMarker(dir, writerId, 0L).getParent
    val scoped =
      if (!fs.exists(ledgerDir)) Seq.empty[Long]
      else fs.listStatus(ledgerDir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("applied-"))
        .map(_.stripPrefix("applied-").toLong)
    // legacy flat markers (`_ledger/applied-<id>`, pre-writer-scope
    // layout) are the `local` writer's scope by construction (see
    // [[wasBatchApplied]]) — fold them into local's highwater too,
    // else an upgraded pipeline keeps the flat files forever
    val flatDir = new Path(s"$dir/_ledger")
    val flat: Seq[Long] =
      if (writerId != "local" || !fs.exists(flatDir)) Seq.empty
      else fs.listStatus(flatDir).toSeq.filter(_.isFile)
        .map(_.getPath.getName).filter(_.startsWith("applied-"))
        .map(_.stripPrefix("applied-").toLong)
    val ids = (scoped ++ flat).distinct
    if (ids.isEmpty) return
    val hw0 = readHighwater(fs, dir, writerId).getOrElse(-1L)
    var hw = hw0
    ids.filter(_ > hw).sorted.foreach(id => if (id == hw + 1) hw = id)
    if (hw > hw0)
      writeSmallFile(fs, ledgerDir.toString, "highwater", hw.toString,
        required = true)
    scoped.filter(_ <= hw).foreach(id =>
      fs.delete(ledgerMarker(dir, writerId, id), false))
    flat.filter(_ <= hw).foreach(id =>
      fs.delete(new Path(s"$dir/_ledger/applied-$id"), false))
  }

  /** [[compactLedger]] for every writer that has markers under `dir` —
    * wired into the four families' compact paths so routine table
    * compaction also bounds the ledger's file count (safe to automate:
    * the fold never changes a [[wasBatchApplied]] answer). Legacy flat
    * markers are folded as the `local` writer's even when no scoped
    * `local` directory exists yet.
    */
  def compactLedgers(spark: SparkSession, dir: String): Unit = {
    val fs = fsFor(spark, dir)
    val root = new Path(s"$dir/_ledger")
    if (!fs.exists(root)) return
    val entries = fs.listStatus(root)
    val writers = entries.filter(_.isDirectory).map(_.getPath.getName).toSet
    val hasFlat = entries.exists(e =>
      e.isFile && e.getPath.getName.startsWith("applied-"))
    (writers ++ (if (hasFlat) Set("local") else Set.empty))
      .foreach(w => compactLedger(spark, dir, w))
  }

  private def readHighwater(fs: FileSystem, dir: String,
      writerId: String): Option[Long] =
    readSmallFile(fs, ledgerMarker(dir, writerId, 0L).getParent.toString,
      "highwater").map(_.trim.toLong)

  private def ledgerMarker(dir: String, writerId: String,
      batchId: Long): Path = {
    require(writerId.nonEmpty, "ledger writerId must be nonempty")
    // caller-supplied app ids may carry path separators; queryIds (UUIDs)
    // pass through unchanged
    val sanitized = writerId.map(c =>
      if (c.isLetterOrDigit || c == '.' || c == '_' || c == '-') c else '_')
    // collision-free: the char squash above is many-to-one (`app/1` and
    // `app:1` both sanitize to `app_1`, the same directory an appId
    // LITERALLY named `app_1` uses), and writers sharing a ledger
    // directory silently skip each other's batches — the exact data-loss
    // mode writer scoping exists to prevent. Any id the squash CHANGED
    // gets a short hash of the RAW id suffixed, so distinct raw ids can
    // never share a directory; already-clean ids (queryId UUIDs, "local",
    // typical appIds) keep their r14 directory names unchanged.
    val safe =
      if (sanitized == writerId) sanitized
      else sanitized + "-" + java.security.MessageDigest.getInstance("MD5")
        .digest(writerId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"$b%02x").mkString
    new Path(s"$dir/_ledger/$safe/applied-$batchId")
  }

  /** Files (ignoring _SUCCESS/metadata) under a table directory,
    * recursively — the compaction metric and the specs' assertion.
    */
  def dataFileCount(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1
      else 0
    walk(new java.io.File(dir))
  }

  /** [[dataFileCount]] of the LIVE version of `sub` — what the compaction
    * specs assert once a table has been rewritten at least once.
    */
  def dataFileCount(spark: SparkSession, dir: String, sub: String): Int =
    dataFileCount(tablePath(spark, dir, sub))
}
