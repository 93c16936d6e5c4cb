package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Companion tools for working on the driver-contract queries, each run in
  * the [[GraftSession]] shape the bench times:
  *
  * {{{
  * runMain graft.Tool qbench <query>...              time 3 runs of each query
  * runMain graft.Tool dump <outDir> <query>...       rows as sorted CSV, for diffs
  * runMain graft.Tool explain <outDir> <tag> <query>...  formatted explain files
  * runMain graft.Tool plan <query>...                print the physical plan tree
  * runMain graft.Tool profile <query>...             per-job times and driver gaps
  * }}}
  *
  * The tables come from `SPARK_GRAFT_SF_DIR` (default sf0.1). Every mode
  * is a function of a live session; after each query run it releases the
  * session cache scope, the [[Bench.pass]] hygiene.
  */
object Tool {

  private val usage = "usage: graft.Tool qbench|plan|profile <query>... | " +
    "dump <outDir> <query>... | explain <outDir> <tag> <query>..."

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (mode, names): ((SparkSession, String) => Any, Seq[String]) =
      args.toSeq match {
        case "qbench" +: qs => ((s, q) => qbench(s, dir, q), qs)
        case "dump" +: out +: qs => ((s, q) => dump(s, dir, q, out), qs)
        case "explain" +: out +: tag +: qs =>
          ((s, q) => explain(s, dir, q, out, tag), qs)
        case "plan" +: qs => ((s, q) => plan(s, dir, q), qs)
        case "profile" +: qs => ((s, q) => profile(s, dir, q), qs)
        case _ => ((_, _) => (), Nil)
      }
    require(names.nonEmpty, usage)
    GraftSession.run() { spark => names.foreach(mode(spark, _)) }
  }

  private def query(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Forces a query the way [[Bench.pass]] does (a noop write, so no
    * per-row work is pruned) and returns the elapsed seconds.
    */
  private def forced(spark: SparkSession, dir: String, name: String): Double = {
    val t0 = System.nanoTime()
    query(spark, dir, name).write.format("noop").mode("overwrite").save()
    val t = (System.nanoTime() - t0) / 1e9
    // outside the timed window
    graft.core.CacheScope.session.release()
    t
  }

  /** Seconds of each of `runs` forced runs of one query. */
  def qbench(spark: SparkSession, dir: String, name: String,
      runs: Int = 3): Seq[Double] =
    (1 to runs).map { i =>
      val t = forced(spark, dir, name)
      println(f"$name run$i: $t%.2f s")
      t
    }

  /** Writes the query's rows as deterministic CSV (columns and rows
    * sorted) to `<outDir>/<name>.csv` — capture before and after an
    * internal rewrite and diff the files to prove the results, and so the
    * driver's hash check, are unchanged. Returns the row count.
    */
  def dump(spark: SparkSession, dir: String, name: String,
      outDir: String): Int = {
    val df = query(spark, dir, name)
    val cols = df.columns.sorted
    val rows = df.select(cols.toSeq.map(col): _*).collect().map(_.mkString(",")).sorted
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(s"$outDir/$name.csv"),
      (cols.mkString(",") + "\n" + rows.mkString("\n")).getBytes("UTF-8"))
    graft.core.CacheScope.session.release()
    println(s"$name: ${rows.length} rows -> $outDir/$name.csv")
    rows.length
  }

  /** Writes `.explain("formatted")` of the query to
    * `<outDir>/<name>_<tag>.txt` — the plan evidence the optimization
    * rounds commit under `plans/r<N>/` — and returns it. Index-lifecycle
    * queries run their build and maintenance actions while the final
    * DataFrame is built; the explained plan is the serve plan.
    */
  def explain(spark: SparkSession, dir: String, name: String, outDir: String,
      tag: String): String = {
    val txt = query(spark, dir, name).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val out: Path = Paths.get(s"$outDir/${name}_$tag.txt")
    Files.createDirectories(out.getParent)
    Files.write(out, txt.getBytes("UTF-8"))
    graft.core.CacheScope.session.release()
    println(s"$name -> $out (${txt.length} chars)")
    txt
  }

  /** Prints and returns the query's full physical plan tree — where each
    * exchange sits, beyond [[PlanAudit]]'s counters.
    */
  def plan(spark: SparkSession, dir: String, name: String): String = {
    val txt = query(spark, dir, name).queryExecution.executedPlan.toString
    graft.core.CacheScope.session.release()
    println(txt.take(8000))
    txt
  }

  /** One Spark job of a profiled run; times are event epoch millis. */
  final case class Job(id: Int, desc: String, startMs: Long, endMs: Long,
      tasks: Int)

  /** One profiled run: its wall window (epoch millis) and its jobs. */
  final case class Run(startMs: Long, endMs: Long, jobs: Seq[Job])

  /** Runs one query `runs` times under a SparkListener and reports each
    * job's time plus the DRIVER-SIDE GAPS between jobs (planning, file
    * listing, lease sleeps, collect-driven round trips). A query whose
    * time is mostly gaps is bounded by sequential driver work and job
    * count, not by stage compute — a different fix (fewer actions, fused
    * jobs) than a slow-stage fix. The listener bus is drained before a
    * run is read, so late job-end events are not missed.
    */
  def profile(spark: SparkSession, dir: String, name: String,
      runs: Int = 3): Seq[Run] = {
    val sc = spark.sparkContext
    val jobs = ArrayBuffer[Job]()
    val listener = new SparkListener {
      private val starts =
        scala.collection.concurrent.TrieMap[Int, SparkListenerJobStart]()
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts(js.jobId) = js
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { js =>
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(js.stageInfos.lastOption.map(_.name)).getOrElse("")
          jobs.synchronized {
            jobs += Job(js.jobId, desc, js.time, je.time,
              js.stageInfos.map(_.numTasks).sum)
          }
        }
    }
    sc.addSparkListener(listener)
    try (1 to runs).map { i =>
      org.apache.spark.GraftBus.drain(sc)
      jobs.synchronized(jobs.clear())
      val t0 = System.currentTimeMillis()
      val total = forced(spark, dir, name)
      org.apache.spark.GraftBus.drain(sc)
      val js = jobs.synchronized(jobs.sortBy(_.startMs).toVector)
      val inJobs = js.map(j => j.endMs - j.startMs).sum / 1e3
      println(f"== $name run$i: total $total%.3f s, ${js.size} jobs, " +
        f"in-job $inJobs%.3f s, gaps ${total - inJobs}%.3f s")
      var prevEnd = t0
      js.foreach { j =>
        println(f"  job${j.id}%-4d +gap ${(j.startMs - prevEnd) / 1e3}%6.3f" +
          f"  run ${(j.endMs - j.startMs) / 1e3}%6.3f  tasks ${j.tasks}%4d" +
          f"  ${j.desc.take(80)}")
        prevEnd = math.max(prevEnd, j.endMs)
      }
      Run(t0, t0 + math.round(total * 1e3), js)
    }
    finally sc.removeSparkListener(listener)
  }
}
