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
          graft.operators.Dedup.releaseCaches()
        }
      // JSON string escape: backslash, quote, and ALL control chars (<0x20)
      // — a tab or CR in builder-authored SQL would otherwise make the
      // driver's json.load fail and silently zero the round's correctness.
      def q(s: String): String = "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      // Restrict the oracle dump to the queries that actually ran: some
      // oracles (q74/q77/q79) embed driver-computed literal tables stashed
      // by their query entry — dumping them for a query that did NOT run
      // this invocation would silently emit a structurally different
      // fallback form.
      val json = SparkEntry.oracleSql
        .filter { case (k, _) => only.forall(_.contains(k)) }
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    }
  }
}
