package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The operator-query workload: fixed sets of `SparkEntry.queries` on the
  * sf0.1 tables. `serve` is read-only; `maintain` runs index-lifecycle
  * writes. Neither touches `graft.pipeline`.
  */
object Queries {

  /** Read-only set: core (grid2d, interp join), a streaming batch twin
    * (windowed session totals), functions (TEOS-10), dedup (SimHash) and
    * ANN (brute-force cosine).
    */
  val serve: Seq[String] = Seq(
    "q04_grid2d_mean", "q10_interp_join", "q68_session_totals", "q35_teos10",
    "q52_dedup_simhash", "q55_ann_bruteforce")

  /** Index-lifecycle set: an IVF index built, a takedown set deleted
    * from it (an anti-join rewrite through the versioned table swap), and
    * the survivors served.
    */
  val maintain: Seq[String] = Seq("q98_ivf_delete_exact")

  /** One query's outcome; `layers` covers only its timed window. */
  final case class Run(name: String, seconds: Double,
      layers: Option[Layers], indexMb: Double, indexFiles: Long,
      error: Option[String])

  /** One pass over `names` in the given order. Each query is forced by a
    * noop write (as `graft.Bench.pass` does), or, when `dumpDir` is given,
    * by writing its result there for the oracle check. After the timed
    * window the index root is measured (traced runs), the session cache
    * scope is released and the query's index directories are deleted.
    */
  def pass(spark: SparkSession, sfDir: String, names: Seq[String],
      indexRoot: File, tr: Option[Tracer], dumpDir: Option[File]): Seq[Run] = {
    val all = SparkEntry.queries
    names.map { name =>
      val before = tr.map(_.snapshot())
      val t0 = System.nanoTime()
      def run(): Unit = {
        val d = all(name)(spark, sfDir)
        dumpDir match {
          // the same plan as the timed passes, only another sink: the
          // oracle check reads every part file
          case Some(dir) => d.write.mode("overwrite")
            .parquet(new File(dir, name).getPath)
          case None => d.write.format("noop").mode("overwrite").save()
        }
      }
      val err = try {
        tr.fold(run())(_.span(s"queries.$name")(run()))
        None
      } catch { case e: Exception =>
        Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}")
      }
      val t1 = System.nanoTime()
      val secs = (t1 - t0) / 1e9
      val layers = tr.map(t => Layers(t.snapshot() - before.get,
        t.gapSeconds(t0, t1)))
      val (mb, files) = if (tr.isDefined) diskUsage(indexRoot) else (0.0, 0L)
      graft.operators.Dedup.releaseCaches()
      Option(indexRoot.listFiles()).getOrElse(Array.empty).foreach(delete)
      Run(name, secs, layers, mb, files, err)
    }
  }

  private def diskUsage(f: File): (Double, Long) = {
    def walk(x: File): (Long, Long) =
      if (x.isDirectory) Option(x.listFiles()).getOrElse(Array.empty)
        .map(walk).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      else (x.length, 1L)
    val (bytes, n) = walk(f)
    (bytes / (1024.0 * 1024.0), n)
  }

  def delete(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete(): Unit
  }

  /** The DuckDB oracle SQL of `names`, as a JSON object. Read after the
    * queries ran: the BM25 oracles embed literals their queries stash.
    */
  def oracleJson(names: Seq[String]): String = {
    val sql = SparkEntry.oracleSql
    names.filter(sql.contains).map(n => s"${Json.str(n)}: ${Json.str(sql(n))}")
      .mkString("{", ",\n", "}")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else BigDecimal(x).toString
}
