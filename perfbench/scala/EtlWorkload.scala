package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.etl.{MusicKpis, MusicPipeline, PipelineConfig}
import graft.io.{Sinks, Sources}
import graft.pipeline.{Pipeline, Stage}
import graft.quality.{Checks, InRange, NoNulls, NotEmpty}
import org.apache.spark.sql.{DataFrame, SparkSession}

object Sessions {
  /** The session `graft.etl.Main` builds (master and shuffle width come
    * from the same environment variables it reads). */
  def etlMain(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("music-streaming-etl")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  /** The session the query registry's entry points (`graft.Verify`,
    * `graft.Bench`) build. */
  def registry(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The engine's recommended session factory, as a table-format user
    * would call it. */
  def graftLocal(cores: Int): SparkSession = {
    val spark = graft.GraftSession.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** `etl_small` / `etl_bulk`: repeated `MusicPipeline.run` over generated
  * CSVs. Every run's KPI files are kept; run.py checks each against an
  * independent DuckDB computation. The traced variant composes the same
  * layers one call at a time, with a span around each, and must write
  * what `MusicPipeline.run` writes on the same inputs. */
final class EtlWorkload(r: Run) {
  private val plays = r.conf("plays").toLong
  private val out = s"${r.workDir}/out"
  private def cfg(dir: String) = PipelineConfig(
    usersPath = r.conf("users"), songsPath = r.conf("songs"),
    streamsGlob = r.conf("streams"),
    genreKpisOut = s"$dir/genre_kpis", hourlyKpisOut = s"$dir/hourly_kpis")
  /** Keep one run's KPI files for the checks run.py makes afterwards. */
  private def keep(dir: String, runDir: String): Unit = {
    Files.createDirectories(Paths.get(runDir))
    for (t <- Seq("genre_kpis", "hourly_kpis"))
      Files.write(Paths.get(runDir, s"$t.csv"), Files2.partBytes(s"$dir/$t"))
  }

  def run(): Map[String, Any] = {
    // set-up: the session etl.Main builds, plus resolving the three
    // declared-schema sources (file listing) — what a scheduled run pays
    // before its DAG starts
    val (spark, _, setupS) = r.setup(() => Sessions.etlMain()) { (s, _) =>
      Sources.users(s, r.conf("users")).schema
      Sources.songs(s, r.conf("songs")).schema
      Sources.streams(s, r.conf("streams")).schema
    }
    // untimed warm-up: the first runs are slower while the JIT compiles the
    // driver-side planning and scheduling paths (runs over a miniature of
    // the inputs cost nearly as much: the per-run fixed cost dominates).
    // The last one's output is what the traced composition must match.
    val warm = if (r.conf.get("warmup_scale").contains("0")) 1 else EtlWorkload.Warmup
    (1 to warm).foreach(_ => MusicPipeline.run(spark, cfg(s"$out/ref")))
    keep(s"$out/ref", s"$out/kept/ref")
    r.log("warm-up done")
    val trace = if (r.traced) Some(new SparkTrace(spark)) else None
    val perRun = mutable.ArrayBuffer.empty[Map[String, Double]]
    val untracedMs = mutable.ArrayBuffer.empty[Double]

    val (walls, machine) = r.machine {
      r.loop(minOps = 3) { i =>
        // a traced run alternates traced and untraced runs, for the overhead
        val on = trace.isDefined && i % 2 == 0
        trace.foreach(_.attach(on, r.spans))
        val t0 = System.nanoTime()
        trace.filter(_ => on) match {
          case None => MusicPipeline.run(spark, cfg(out))
          case Some(tr) => perRun += tracedRun(spark, tr, cfg(out))
        }
        val wall = (System.nanoTime() - t0) / 1e9
        if (trace.isDefined && !on) untracedMs += wall * 1000
        keep(out, f"$out/kept/run$i%04d")
        wall
      }
    }
    val base = Map[String, Any](
      "workload" -> r.workload, "attempted" -> walls.size, "failed" -> 0,
      "traced" -> r.traced,
      "setup_s" -> Stats.median(setupS), "setup_samples_s" -> setupS,
      "op_cpu_s_p50" -> Stats.median(r.cpu.toSeq), "op_samples_s" -> walls,
      "rows_per_s" -> plays * walls.size / walls.sum,
      "heap_live_mb" -> r.heapLiveMb, "heap_live_max_mb" -> r.heapSamples.max,
      "heap_samples_mb" -> r.heapSamples.toSeq,
      "plays" -> plays, "kept_dir" -> s"$out/kept", "machine" -> machine) ++
      Stats.timing("op_s", walls) ++ Stats.timing("dag_s", walls)
    r.dumpSpans()
    if (r.traced) base ++ Map("layers" -> layers(perRun.toSeq, untracedMs.toSeq)) else base
  }

  /** `MusicPipeline.run`'s composition, one layer call at a time. Kept in
    * step with the program by checking its output against the program's
    * (run.py). */
  private def tracedRun(spark: SparkSession, tr: SparkTrace, cfg: PipelineConfig)
      : Map[String, Double] = {
    val sp = r.spans
    val before = tr.snap()
    val fs0 = Proc.fs
    val gc0 = (Proc.gcMs, Proc.gcCount)
    val child0 = Proc.childCpuMs
    val e0 = System.currentTimeMillis()
    var cacheMem, cacheDisk = 0L
    var stageRuns = 0
    sp.span("dag") {
      val (users, songs, streams) = sp.span("io.sources") {
        (Sources.users(spark, cfg.usersPath), Sources.songs(spark, cfg.songsPath),
          Sources.streams(spark, cfg.streamsGlob))
      }
      val enriched = sp.span("etl.enrich") {
        MusicKpis.enrich(streams, songs, "track_id", users, "user_id", "listen_time").cache()
      }
      var genre: DataFrame = null
      var hourly: DataFrame = null
      def stage(name: String, layer: String, timeoutMs: Long = 0L)(body: => Unit) =
        Stage(name, () => { stageRuns += 1; sp.span(layer)(body) }, timeoutMs)
      val stages = Seq(
        stage("validate_data", "quality.validate_data") {
          Checks.run(users, Seq(NotEmpty, NoNulls(Seq("user_id")))).enforce()
          Checks.run(songs, Seq(NotEmpty, NoNulls(Seq("track_id")))).enforce()
          Checks.run(streams,
            Seq(NotEmpty, NoNulls(Seq("user_id", "track_id", "listen_time")))).enforce()
        },
        stage("compute_kpis", "etl.compute_kpis") {
          genre = MusicKpis.genreKpis(enriched,
            genreCol = "track_genre", countCol = "track_id",
            avgCol = "duration_ms", modeCol = "track_name",
            modeOut = "most_popular_track")
          hourly = MusicKpis.hourlyKpis(enriched,
            userCol = "user_id", artistCol = "artists", trackCol = "track_id",
            k = cfg.topK)
        },
        stage("validate_kpis", "quality.validate_kpis") {
          Checks.run(genre, Seq(NotEmpty, NoNulls(Seq("listen_count")))).enforce()
          Checks.run(hourly, Seq(
            NotEmpty, NoNulls(Seq("unique_listeners")), InRange("hour", 0, 23))).enforce()
        },
        stage("load_genre_kpis", "io.sinks.load", cfg.loadTimeoutMs) {
          Sinks.csv(genre, cfg.genreKpisOut, cfg.singleFileOutput)
        },
        stage("load_hourly_kpis", "io.sinks.load", cfg.loadTimeoutMs) {
          Sinks.csv(Sinks.serializeArray(hourly, "top_artists"),
            cfg.hourlyKpisOut, cfg.singleFileOutput)
        })
      try sp.span("pipeline.run")(Pipeline.run(stages, cfg.retries))
      finally sp.span("etl.unpersist") {
        spark.sparkContext.getRDDStorageInfo.foreach { i =>
          cacheMem += i.memSize; cacheDisk += i.diskSize
        }
        enriched.unpersist()
      }
    }
    val e1 = System.currentTimeMillis()
    val after = tr.snap()
    val fs = Proc.fs - fs0
    val dag = sp.done.last
    val kids = sp.childrenOf(dag.id)
    val pipe = kids.find(_.name == "pipeline.run").get
    val stageSpans = sp.childrenOf(pipe.id)
    def ms(name: String) = stageSpans.filter(_.name == name).map(_.ms).sum
    def jobsIn(name: String) = stageSpans.filter(_.name == name).map { s =>
      tr.jobIntervals.count { case (js, _) => js >= s.startMs && js <= s.endMs }
    }.sum.toDouble
    val written = (Files2.sizes(cfg.genreKpisOut) ++ Files2.sizes(cfg.hourlyKpisOut)).values
    val layerMs = Map(
      "io.sources.plan" -> kids.filter(_.name == "io.sources").map(_.ms).sum,
      "etl.enrich" -> kids.filter(_.name == "etl.enrich").map(_.ms).sum,
      "etl.unpersist" -> kids.filter(_.name == "etl.unpersist").map(_.ms).sum,
      "quality.validate_data" -> ms("quality.validate_data"),
      "etl.compute" -> ms("etl.compute_kpis"),
      "quality.validate_kpis" -> ms("quality.validate_kpis"),
      "io.sinks.load" -> ms("io.sinks.load"),
      "pipeline.overhead" -> (pipe.ms - stageSpans.map(_.ms).sum))
    layerMs.map { case (k, v) => s"${k}_ms" -> v } ++
      layerMs.map { case (k, v) => s"${k}_share" -> v / dag.ms } ++ Map(
      "op_ms" -> dag.ms,
      "layer.coverage" -> kids.map(_.ms).sum / dag.ms,
      "pipeline.attempts" -> stageRuns / 5.0,
      "quality.jobs" -> (jobsIn("quality.validate_data") + jobsIn("quality.validate_kpis")),
      "io.files_written" -> written.size.toDouble,
      "io.small_files_written" -> written.count(_ < 4096).toDouble,
      "io.fs.bytes_written" -> fs.bytesWritten.toDouble,
      "io.fs.bytes_read" -> fs.bytesRead.toDouble,
      "etl.cache_mem_bytes" -> cacheMem.toDouble,
      "etl.cache_disk_bytes" -> cacheDisk.toDouble,
      "jvm.child_cpu_ms" -> (Proc.childCpuMs - child0),
      "jvm.gc_ms" -> (Proc.gcMs - gc0._1).toDouble,
      "jvm.gc_count" -> (Proc.gcCount - gc0._2).toDouble,
      "spark.driver_gap_ms" -> tr.gapMs(e0, e1)) ++
      SparkLayers.diff(before, after)
  }

  private def layers(runs: Seq[Map[String, Double]], untracedMs: Seq[Double])
      : Map[String, Double] =
    runs.head.keys.filter(_.contains('.')).map(k => k -> Stats.mean(runs.map(_(k)))).toMap ++ Map(
      "layer.coverage_min" -> runs.map(_("layer.coverage")).min,
      "jvm.gc_share" -> runs.map(_("jvm.gc_ms")).sum / runs.map(_("op_ms")).sum,
      "jvm.child_cpu_share" -> runs.map(_("jvm.child_cpu_ms")).sum / runs.map(_("op_ms")).sum) ++
      Overhead(runs.map(_("op_ms")), untracedMs)
}

/** Tracing overhead of a traced run: mean traced op time over mean
  * untraced op time, minus one (ops of one run, alternated; over two
  * whole cycles of the snapshot's odd-length cycle both halves hold the
  * same mix of commit kinds). */
object Overhead {
  def apply(tracedMs: Seq[Double], untracedMs: Seq[Double]): Map[String, Double] =
    if (tracedMs.isEmpty || untracedMs.isEmpty) Map.empty
    else Map("trace.overhead_ratio" -> (Stats.mean(tracedMs) / Stats.mean(untracedMs) - 1),
      "trace.traced_op_ms_mean" -> Stats.mean(tracedMs),
      "trace.untraced_op_ms_mean" -> Stats.mean(untracedMs))
}

object SparkLayers {
  /** Per-operation Spark and Catalyst counters from two trace snapshots. */
  def diff(a: SparkTrace#Snap, b: SparkTrace#Snap): Map[String, Double] = Map(
    "spark.jobs" -> (b.jobs - a.jobs).toDouble,
    "spark.tasks" -> (b.tasks - a.tasks).toDouble,
    "spark.task_failures" -> (b.taskFailures - a.taskFailures).toDouble,
    "spark.executor_run_ms" -> (b.runMs - a.runMs).toDouble,
    "spark.executor_cpu_ms" -> (b.cpuMs - a.cpuMs),
    "spark.shuffle_write_bytes" -> (b.shuffleWrite - a.shuffleWrite).toDouble,
    "spark.shuffle_read_bytes" -> (b.shuffleRead - a.shuffleRead).toDouble,
    "spark.spill_bytes" -> (b.spill - a.spill).toDouble,
    "catalyst.analysis_ms" -> (b.analysisMs - a.analysisMs).toDouble,
    "catalyst.optimization_ms" -> (b.optimizationMs - a.optimizationMs).toDouble,
    "catalyst.planning_ms" -> (b.planningMs - a.planningMs).toDouble,
    "catalyst.queries" -> (b.queries - a.queries).toDouble,
    "plan.exchanges" -> (b.exchanges - a.exchanges).toDouble,
    "plan.broadcasts" -> (b.broadcasts - a.broadcasts).toDouble)
}

object EtlWorkload {
  val Warmup = 2
}
