package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for a root), so a layer's self time is its duration
  * minus what its children cover. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept until the run ends and dumped
  * once; nothing is written while the loop runs. Records nothing unless
  * `enabled` (untraced operations run their bodies bare). */
final class Spans {
  val done = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  private var nextId = 0
  private var stack: List[Int] = Nil

  def span[A](name: String)(body: => A): A = if (!enabled) body else {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, parent, name, t0, System.nanoTime(), m0, System.currentTimeMillis())
      stack = stack.tail
    }
  }

  def childrenOf(id: Int): Seq[Span] = done.filter(_.parent == id).toSeq
}

/** Process-level counters read before and after an operation: GC, forked
  * children's CPU, Hadoop `file`-scheme I/O statistics. */
object Proc {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  def gcCount: Long = gcs.map(_.getCollectionCount).filter(_ >= 0).sum

  /** cutime + cstime of /proc/self/stat: CPU of reaped child processes
    * (the `chmod`/`ls` forks of Hadoop's local file system). */
  def childCpuMs: Double = {
    val stat = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    // fields after the command: state is index 0, cutime is field 16 → 13
    (f(13).toLong + f(14).toLong) * 10.0
  }

  /** Hadoop `file`-scheme statistics (the local file system counts bytes,
    * not operations). */
  final case class Fs(bytesRead: Long, bytesWritten: Long) {
    def -(o: Fs): Fs = Fs(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }

  def fs: Fs = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Fs(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def loadAvg: Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(' ')(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Fixed-work machine sample: single-thread xorshift writes over a 64 MB
    * array (beyond any cache), so it responds to CPU steal and memory
    * bandwidth contention. Identical work on every call: the elapsed time
    * measures the machine, never the program. */
  def calibrateMs(): Double = {
    val arr = new Array[Long](1 << 23)
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 8) {
      var i = 0
      while (i < arr.length) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        arr(i) += x
        i += 1
      }
      pass += 1
    }
    if (arr((x & 0x7FFFFF).toInt) == 42L) System.err.println("[perfbench] calibration collision")
    (System.nanoTime() - t0) / 1e6
  }
}

/** Heap in use right after a full collection, in MB. Called between
  * operations (outside their timing), so the maximum over a run is the
  * largest live set the workload leaves behind. Spark's context cleaner
  * drops unreachable broadcast and shuffle blocks only after a collection
  * has found them unreachable, so a second collection follows it. */
object Heap {
  private val mem = ManagementFactory.getMemoryMXBean

  def liveMbAfterGc(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Spark-side trace: one `SparkListener` (jobs, tasks, shuffle, spill) and
  * one `QueryExecutionListener` (Catalyst phase times, exchanges in the
  * executed plan). Installed only for traced runs. All counters are
  * cumulative; callers diff snapshots taken around an operation. */
final class SparkTrace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  final case class Snap(jobs: Long, tasks: Long, taskFailures: Long, runMs: Long,
      cpuMs: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long,
      queries: Long, exchanges: Long, broadcasts: Long)

  private var jobs, tasks, taskFailures, runMs, shuffleWrite, shuffleRead, spill = 0L
  private var cpuNs = 0L
  private var analysisMs, optimizationMs, planningMs, queries, exchanges, broadcasts = 0L
  /** job intervals (start, end) in epoch ms, for the driver-gap figure */
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private var attached = false

  /** Attach or detach both listeners (traced runs alternate traced and
    * untraced operations to measure the tracing overhead). */
  def attach(on: Boolean, spans: Spans): Unit = if (on != attached) {
    spans.enabled = on
    drain()
    if (on) { spark.sparkContext.addSparkListener(this); spark.listenerManager.register(this) }
    else { spark.sparkContext.removeSparkListener(this); spark.listenerManager.unregister(this) }
    attached = on
  }

  def snap(): Snap = {
    drain()
    synchronized(Snap(jobs, tasks, taskFailures, runMs, cpuNs / 1e6, shuffleWrite,
      shuffleRead, spill, analysisMs, optimizationMs, planningMs, queries,
      exchanges, broadcasts))
  }

  /** Block until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1; jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time))) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != org.apache.spark.Success) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String): Long = ph.get(n).map(_.durationMs).getOrElse(0L)
    val (ex, bc) = countExchanges(qe.executedPlan)
    synchronized {
      queries += 1
      analysisMs += phase("analysis")
      optimizationMs += phase("optimization")
      planningMs += phase("planning")
      exchanges += ex
      broadcasts += bc
    }
  }

  /** Shuffle and broadcast exchanges in a physical plan, looking through
    * adaptive plans, query stages and command children. */
  private def countExchanges(plan: SparkPlan): (Long, Long) = {
    var ex, bc = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case s: QueryStageExec => walk(s.plan); return
        case _: ShuffleExchangeLike => ex += 1
        case _: BroadcastExchangeLike => bc += 1
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, bc)
  }

  /** Milliseconds of [t0, t1] (epoch ms) covered by no job. */
  def gapMs(t0: Long, t1: Long): Double = synchronized {
    val iv = jobIntervals.iterator.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (t1 - t0 - covered).toDouble
  }
}
