package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of the data `src/main` caches: every persist and every
  * stage checkpoint goes through a scope, and whoever holds the scope
  * frees it with [[release]] after its last action on the results.
  *
  * Operators and pipeline entry points take a trailing
  * `scope: CacheScope = CacheScope.session`. Single-tenant callers (the
  * bench and verify mains, one query after another) use the process
  * default [[CacheScope.session]] and release it between queries; a caller
  * running several jobs at once in one JVM passes each its own scope, so
  * releasing one run frees only that run's blocks. A body that caches
  * only for itself runs in [[CacheScope.using]].
  *
  * Caveat: Spark's cache manager is plan-keyed, so two scopes persisting a
  * literally-identical frame share one cache entry and releasing either
  * frees it. Isolation holds across distinct inputs.
  */
final class CacheScope {
  private val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
  private val rdds = scala.collection.mutable.ArrayBuffer[RDD[_]]()

  /** Persists `df` (MEMORY_AND_DISK) and tracks it. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    synchronized { frames += p }
    p
  }

  /** An eager local checkpoint of `df`: materializes it once and replaces
    * its lineage with a plan leaf. The checkpoint RDDs are tracked, not
    * the Dataset: unpersisting a checkpointed Dataset leaves its
    * LogicalRDD's blocks in place. After [[release]] an action on the
    * result fails (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val p = df.localCheckpoint(eager = true)
    val cut = p.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    synchronized { rdds ++= cut }
    p
  }

  /** The frames currently tracked by [[persist]]. */
  def tracked: Seq[DataFrame] = synchronized { frames.toSeq }

  /** Frees every frame and checkpoint this scope tracked and forgets them.
    * Frames go newest first, so no cached frame outlives one it reads.
    */
  def release(): Unit = synchronized {
    frames.reverseIterator.foreach(_.unpersist())
    rdds.foreach(_.unpersist(blocking = true))
    frames.clear()
    rdds.clear()
  }
}

object CacheScope {

  /** The process default, released between queries by the single-tenant
    * mains (`Bench.pass`, `Verify`, `Tool`).
    */
  val session: CacheScope = new CacheScope

  /** Runs `body` with a new scope and releases it afterwards, also when
    * `body` throws.
    */
  def using[T](body: CacheScope => T): T = {
    val scope = new CacheScope
    try body(scope) finally scope.release()
  }
}
