package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    GraftSession.run() { spark =>
      new java.io.File(outDir).mkdirs()
      SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          // the Bench.pass cache-scope hygiene: dead persisted blocks from a
          // hundred prior queries otherwise squeeze the storage-heavy ones
          graft.core.CacheScope.session.release()
        }
      // Restrict the oracle dump to the queries that actually ran: some
      // oracles (q74/q77/q79) embed driver-computed literal tables stashed
      // by their query entry — dumping them for a query that did NOT run
      // this invocation would silently emit a structurally different
      // fallback form.
      val json = SparkEntry.oracleSql
        .filter { case (k, _) => only.forall(_.contains(k)) }
        .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    }
  }
}
