package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session shape every entry point of the program runs in,
  * so the plan a tool shows is the plan the bench times.
  *
  *  - master `local[cores]` and `cores` shuffle partitions, where `cores`
  *    is `SPARK_GRAFT_CPUS` when set, else the JVM's available processors;
  *  - UTC session time zone, no UI, WARN logging;
  *  - the AQE partition-coalescing floor (r18, guide §2.2/§2.6): the
  *    default minPartitionSize (1m) makes parallelism-first coalescing
  *    merge a small-but-CPU-DENSE shuffle (token explode + hashing, window
  *    gradient chains — kilobytes per row, milliseconds per row) down to
  *    3-4 tasks on a 32-core host; 64k keeps those stages wide. The floor
  *    binds only when a shuffle's total bytes are of order partitions x
  *    1 MB — at production shuffle sizes it is a no-op.
  *    `SPARK_GRAFT_AQE_MIN_PARTITION` overrides it for cluster tuning;
  *  - a 2,000-entry code-generation cache: with Spark's 100-entry default
  *    a pass over the query mix evicts its own generated classes, so every
  *    repeated pass compiles them again;
  *  - no codegen stage id in generated class names: adaptive execution
  *    numbers the stages of one plan differently from run to run, and the
  *    id is part of the cached source, so with it a repeated pipeline run
  *    misses the cache and compiles its classes again;
  *  - the [[graft.plans.Natives]] functions and one warm-up job (task
  *    scheduling, codegen compiler), so the first timed query does not
  *    absorb the session's one-time startup cost;
  *  - a private temp root as the `graft.tmpdir` property: the queries'
  *    index-lifecycle dirs land there ([[graft.queries.Common.tempDir]]),
  *    so [[Bench]]'s per-query sweep owns everything it deletes and no run
  *    leaves residue in the shared tmpdir. The session is stopped before
  *    the root is deleted, so the delete never races a live session's
  *    spill or cache dirs, and both happen however the body ends.
  */
object GraftSession {

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Runs `body` in a fresh session; `extraConf` is applied last, for the
    * callers whose workload needs another partition count or scheduler.
    */
  def run[T](extraConf: Map[String, String] = Map.empty)(
      body: SparkSession => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft_")
    System.setProperty("graft.tmpdir", root.toString)
    try {
      val builder = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
          sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.codegen.useIdInClassName", "false")
      extraConf.foreach { case (k, v) => builder.config(k, v) }
      val spark = builder.getOrCreate()
      try {
        spark.sparkContext.setLogLevel("WARN")
        graft.plans.Natives.ensure(spark)
        spark.range(1000).selectExpr("sum(id)").count()
        body(spark)
      } finally spark.stop()
    } finally {
      Bench.deleteRecursively(root.toFile)
      System.clearProperty("graft.tmpdir")
    }
  }
}
