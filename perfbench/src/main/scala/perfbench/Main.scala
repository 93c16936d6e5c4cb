package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload per process.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <outDir>
  * <sfDir>` or `perfbench.Main self-check <outDir> <sfDir>`.
  *
  * Writes `<outDir>/result.json` (operations attempted and failed, check
  * errors, metrics) and, for the query workload, every checked result under
  * `<outDir>/results/` with the oracle SQL in `<outDir>/oracle_sql.json`;
  * `perfbench/run.py` compares those against DuckDB.
  */
object Main {

  /** Task threads: four, or fewer when the machine has fewer cores. */
  val threads: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** The one session configuration every workload runs with. */
  def session(out: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the query mix generates more classes than the default 100-entry
      // cache holds, so with it every pass recompiles them (Janino, then
      // the JIT) and the passes never settle
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final class Outcome {
    var attempted = 0L
    var failed = 0L
    var wrong = false
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    def op(err: Option[String], checkFailed: Boolean = false): Unit = {
      attempted += 1
      err.foreach { e => failed += 1; errors += e; if (checkFailed) wrong = true }
    }
    def metric(name: String, v: Double, unit: String): Unit =
      metrics(name) = (v, unit)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = args match {
    case Array("self-check", outDir, sfDir) =>
      sys.exit(SelfCheck.run(new File(outDir), sfDir))
    case Array(workload, seed, seconds, trace, outDir, sfDir) =>
      val o = run(workload, seed.toLong, seconds.toDouble, trace == "1",
        new File(outDir), sfDir)
      writeResult(new File(outDir, "result.json"), o)
    case _ =>
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> " +
        "<trace 0|1> <outDir> <sfDir> | self-check <outDir> <sfDir>")
      sys.exit(2)
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: File, sfDir: String): Outcome = {
    val t0 = System.nanoTime()
    out.mkdirs()
    // every index directory the queries create goes under this private
    // root, which is swept after each query and deleted at exit
    val indexRoot = new File(out, "index-root")
    indexRoot.mkdirs()
    System.setProperty("graft.tmpdir", indexRoot.getPath)
    val spark = session(out)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = if (trace) Some(new Tracer(spark)) else None
    try {
      workload match {
        case "mission_single" =>
          Workloads.mission(spark, seed, seconds, tr, sessionS)
        case "operator_queries" =>
          Workloads.queries(spark, sfDir, seed, seconds, tr, sessionS, out,
            indexRoot)
        case other =>
          throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally {
      tr.foreach(_.writeSpans(new File(out, "spans.json").toPath))
      spark.stop()
      Queries.delete(indexRoot)
    }
  }

  def writeResult(f: File, o: Outcome): Unit = {
    val ms = o.metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val errs = o.errors.map(Json.str).mkString("[", ", ", "]")
    Files.writeString(f.toPath,
      s"""{"correct": ${!o.wrong}, "attempted": ${o.attempted}, "failed": ${o.failed}, "errors": $errs, "metrics": $ms}""" + "\n")
  }
}
