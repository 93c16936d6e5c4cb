package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative layer counters; a block's share is the difference of two
  * snapshots taken around it.
  */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskNs: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    outputBytes: Long = 0, analysisMs: Long = 0, optimizationMs: Long = 0,
    planningMs: Long = 0, gcMs: Long = 0) {
  def -(o: Counters): Counters = this + o.scaled(-1)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskNs + o.taskNs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    outputBytes + o.outputBytes, analysisMs + o.analysisMs,
    optimizationMs + o.optimizationMs, planningMs + o.planningMs,
    gcMs + o.gcMs)
  private def scaled(k: Long): Counters = Counters(jobs * k, stages * k,
    tasks * k, taskNs * k, shuffleWriteBytes * k, spillBytes * k,
    outputBytes * k, analysisMs * k, optimizationMs * k, planningMs * k,
    gcMs * k)
}

/** Layer counters and seconds with no job running, over one timed window. */
final case class Layers(counters: Counters, gapSeconds: Double) {
  def +(o: Layers): Layers =
    Layers(counters + o.counters, gapSeconds + o.gapSeconds)
}

/** The traced run's instruments: a Spark listener (jobs, stages, tasks and
  * their metrics), a query-execution listener (Catalyst phase times per
  * action), JVM GC/JIT beans, and a span recorder for the harness's own
  * calls. Spark jobs become spans too, parented to the innermost harness
  * span that was open when they started.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  // (jobId, start epoch ms, end epoch ms)
  private val jobTimes = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val jobStarts = mutable.Map[Int, Long]()
  private var c = Counters()
  // epoch ms at the span clock's origin, to place listener times on it
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()

  // every counter is guarded by the Tracer's own monitor, which the
  // query-execution listener and the readers below take too
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        jobStarts(e.jobId) = e.time
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        val s = jobStarts.remove(e.jobId).getOrElse(e.time)
        jobTimes += ((e.jobId, s, e.time))
        c = c.copy(jobs = c.jobs + 1)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        c = c.copy(stages = c.stages + 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val m = e.taskMetrics
        c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
          tasks = c.tasks + 1,
          taskNs = c.taskNs + m.executorRunTime * 1000000L,
          shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          outputBytes = c.outputBytes + m.outputMetrics.bytesWritten)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      c = c.copy(analysisMs = c.analysisMs + ms("analysis"),
        optimizationMs = c.optimizationMs + ms("optimization"),
        planningMs = c.planningMs + ms("planning"))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Current cumulative counters, after every posted event is delivered. */
  def snapshot(): Counters = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(c.copy(gcMs = (Jvm.gcSeconds * 1e3).toLong))
  }

  /** Wall seconds inside [t0Ns, t1Ns] during which no Spark job ran. */
  def gapSeconds(t0Ns: Long, t1Ns: Long): Double = {
    val lo = toMs(t0Ns); val hi = toMs(t1Ns)
    val iv = synchronized(jobTimes.toList)
      .map { case (_, s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var end = lo
    iv.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    math.max(0L, (hi - lo) - covered) / 1e3
  }

  private def toMs(ns: Long): Long = originMs + (ns - originNs) / 1000000L

  /** Times `body` as a named span under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    spans += Span(name, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
    open = id :: open
    try body
    finally { spans(id).endNs = System.nanoTime(); open = open.tail }
  }

  /** Writes every span (harness spans and Spark jobs) with its self time:
    * its duration minus that of its direct children.
    */
  def writeSpans(path: java.nio.file.Path): Unit = {
    snapshot()
    val all = mutable.ArrayBuffer[(String, Int, Double, Double)]()
    spans.foreach(s => all += ((s.name, s.parent, sec(s.startNs), sec(s.endNs))))
    synchronized(jobTimes.toList).sortBy(_._2).foreach { case (id, s, e) =>
      val st = (s - originMs) / 1e3; val en = (e - originMs) / 1e3
      // innermost harness span that contains the job's start
      val parent = spans.indices.filter { i =>
        sec(spans(i).startNs) <= st && st <= sec(spans(i).endNs) }
        .sortBy(i => -sec(spans(i).startNs)).headOption.getOrElse(-1)
      all += ((s"spark.job.$id", parent, st, en))
    }
    val childSum = mutable.Map[Int, Double]().withDefaultValue(0.0)
    all.foreach { case (_, p, s, e) => if (p >= 0) childSum(p) += e - s }
    val lines = all.zipWithIndex.map { case ((n, p, s, e), i) =>
      val self = if (i < spans.length) math.max(0.0, (e - s) - childSum(i))
                 else e - s
      f"""{"id":$i,"name":"$n","parent":$p,"start_s":$s%.6f,"end_s":$e%.6f,"self_s":$self%.6f}"""
    }
    java.nio.file.Files.writeString(path,
      lines.mkString("[\n", ",\n", "\n]\n"))
  }

  private def sec(ns: Long): Double = (ns - originNs) / 1e9
}

object Tracer {
  private final case class Span(name: String, parent: Int, startNs: Long,
      var endNs: Long)
}

object Jvm {
  /** Total JIT compile seconds so far. */
  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** Total GC seconds so far, over every collector. */
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Classes loaded so far; generated code that is compiled again shows
    * as a count that keeps growing.
    */
  def classesLoaded: Long =
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  /** Heap retained after forced collections, in MB. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    mem.getUsed / (1024.0 * 1024.0)
  }
}
