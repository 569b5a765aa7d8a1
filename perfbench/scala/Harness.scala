package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload per process.
  *
  *   java ... perfbench.Harness <workload> <workDir> <seconds> <trace 0|1>
  *
  * `workDir/inputs.properties` (written by run.py) names the generated
  * inputs; `workDir/result.json` receives the samples and metrics, and
  * `workDir/spans.json` the span dump of a traced run. Sessions are built
  * the way the program's own entry points build them; nothing is tuned for
  * the benchmark.
  */
object Harness {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, secondsArg, traceArg) = args
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(workDir, "inputs.properties"))
    try props.load(in) finally in.close()
    val conf = props.asScala.toMap
    val run = new Run(workload, workDir, secondsArg.toDouble, traceArg == "1", conf)
    val out = workload match {
      case "etl_small" | "etl_bulk" => new EtlWorkload(run).run()
      case "snapshot_commits" => new SnapshotWorkload(run).run()
      case "registry_sample" => new RegistryWorkload(run).run()
      case other => sys.error(s"unknown workload $other")
    }
    Files.writeString(Paths.get(workDir, "result.json"), Json(out))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }
}

/** Settings and shared machinery of one run. */
final class Run(val workload: String, val workDir: String, val seconds: Double,
    val traced: Boolean, val conf: Map[String, String]) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val spans = new Spans
  private val born = System.nanoTime()

  /** Progress line on stderr (the JVM log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2fs] $msg")

  /** Live heap (MB after full collections) sampled between ops. */
  val heapSamples = mutable.ArrayBuffer.empty[Double]

  /** Set up `Harness.SetupReps` times — each a fresh session plus the
    * workload's `prepare` — and keep the last; returns its session, the
    * prepared state and the setup times in seconds. */
  def setup[S](mk: () => SparkSession)(prepare: (SparkSession, Int) => S)
      : (SparkSession, S, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: (SparkSession, S) = null
    for (rep <- 1 to Harness.SetupReps) {
      if (last != null) { last._1.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime()
      val spark = mk()
      val state = prepare(spark, rep)
      times += (System.nanoTime() - t0) / 1e9
      last = (spark, state)
      log(f"setup $rep: ${times.last}%.3fs")
    }
    (last._1, last._2, times.toSeq)
  }

  /** Closed loop, one client: run `op` back to back until `seconds` have
    * passed, at least `minOps` times and a whole number of `cycle`s. `op`
    * returns its own wall seconds; full collections after each cycle,
    * outside the op timing, sample the live heap. Returns the per-op wall
    * seconds. */
  def loop(minOps: Int, cycle: Int = 1)(op: Int => Double): Seq[Double] = {
    val walls = mutable.ArrayBuffer.empty[Double]
    heapSamples += Heap.liveMbAfterGc()
    log("loop start")
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds || i % cycle != 0) {
      val c0 = Proc.cpuS
      walls += op(i)
      cpu += Proc.cpuS - c0
      i += 1
      if (i % cycle == 0) heapSamples += Heap.liveMbAfterGc()
    }
    log(s"loop end: $i ops")
    walls.toSeq
  }

  /** Median of the live-heap samples; samples can differ by whole
    * retained blocks, so the median (not the maximum, which the result
    * also records) is the steadier figure. */
  def heapLiveMb: Double = Stats.median(heapSamples.toSeq)

  /** Process CPU seconds (all threads) of each op of the last loop. */
  val cpu = mutable.ArrayBuffer.empty[Double]

  /** Machine conditions bracketing the measured loop. */
  def machine[A](body: => A): (A, Map[String, Any]) = {
    val calPre = Proc.calibrateMs()
    val loadPre = Proc.loadAvg
    val out = body
    val calPost = Proc.calibrateMs()
    (out, Map("calibration_ms_pre" -> calPre, "calibration_ms_post" -> calPost,
      "loadavg_pre" -> loadPre, "loadavg_post" -> Proc.loadAvg, "cores" -> cores))
  }

  def dumpSpans(): Unit = if (traced) {
    val rows = spans.done.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    Files.writeString(Paths.get(workDir, "spans.json"), Json(rows.toSeq))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest percentile with at least ten samples beyond it (the
    * 11th-largest sample) and that percentile, when it lies above the
    * median — that takes at least 21 samples; None with fewer. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    if (s.size >= 21) Some((s(s.size - 11), 100.0 * (s.size - 10) / s.size)) else None
  }

  /** Median, tail (when the sample supports one), max and count, under
    * `prefix`_p50 / _tail / _tail_pct / _max / _n. */
  def timing(prefix: String, xs: Seq[Double]): Map[String, Any] =
    Map(s"${prefix}_p50" -> median(xs), s"${prefix}_max" -> xs.max, s"${prefix}_n" -> xs.size) ++
      tail(xs).toSeq.flatMap { case (v, p) => Seq(s"${prefix}_tail" -> v, s"${prefix}_tail_pct" -> p) }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON encoder for the result files (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case s => quote(s.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Files2 {
  /** Regular files under `dir` with their sizes. */
  def sizes(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Content of the data files Spark wrote under a CSV output dir, in
    * name order (part files only: the CRC and marker files carry no rows). */
  def partBytes(dir: String): Array[Byte] = {
    val parts = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    parts.flatMap(f => Files.readAllBytes(f.toPath))
  }
}
