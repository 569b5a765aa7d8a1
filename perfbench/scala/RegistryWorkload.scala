package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** `registry_sample`: passes over a fixed list of `SparkEntry` queries on
  * generated star-schema tables, each pass in a seeded order, each query
  * run to completion through the `noop` sink (as `graft.Bench` runs them).
  * One untimed pass first writes every result and its `oracleSql` the way
  * `graft.Verify` does; run.py compares them with DuckDB through
  * `tools/check_correctness.py`. Read-only. */
final class RegistryWorkload(r: Run) {
  import RegistryWorkload._

  private val dir = r.conf("tables")
  private val names: Seq[String] = Families.flatMap(_._2)
  private val rng = new scala.util.Random(r.conf("run_seed").toLong)

  def run(): Map[String, Any] = {
    // set-up: the session the registry's own entry points build, plus
    // resolving every table (file listing and footer schema)
    val (spark, _, setupS) = r.setup(() => Sessions.registry(r.cores)) { (s, _) =>
      Tables.all.foreach(t => table(s, t).schema)
    }
    val checked = s"${r.workDir}/verify"
    dumpForOracle(spark, checked)
    r.log("checked pass done")
    val trace = if (r.traced) Some(new SparkTrace(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val untracedMs = mutable.ArrayBuffer.empty[Double]

    val (walls, machine) = r.machine {
      r.loop(minOps = if (r.conf.get("warmup_scale").contains("0")) 1 else MinPasses) { i =>
        // a traced run alternates traced and untraced passes, for the overhead
        val on = trace.isDefined && i % 2 == 0
        trace.foreach(_.attach(on, r.spans))
        val order = rng.shuffle(names)
        val before = trace.filter(_ => on).map(_.snap())
        val gc0 = (Proc.gcMs, Proc.gcCount)
        val child0 = Proc.childCpuMs
        val e0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val qMs = order.map { name =>
          val q0 = System.nanoTime()
          r.spans.span(s"queries.$name") {
            val df = r.spans.span("queries.build")(SparkEntry.queries(name)(spark, dir))
            r.spans.span("queries.execute")(df.write.format("noop").mode("overwrite").save())
          }
          val ms = (System.nanoTime() - q0) / 1e6
          perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms / 1000
          name -> ms
        }.toMap
        val wall = (System.nanoTime() - t0) / 1e9
        passes += wall
        if (trace.isDefined && !on) untracedMs += wall * 1000
        (before, trace) match {
          case (Some(a), Some(tr)) =>
            perPass += passLayers(tr, a, qMs, wall * 1000, e0, gc0) +
              ("jvm.child_cpu_ms" -> (Proc.childCpuMs - child0))
          case _ =>
        }
        wall
      }
    }
    val base = Map[String, Any](
      "workload" -> r.workload, "attempted" -> walls.size, "failed" -> 0,
      "traced" -> r.traced, "verify_dir" -> checked, "tables" -> dir,
      "setup_s" -> Stats.median(setupS), "setup_samples_s" -> setupS,
      "op_cpu_s_p50" -> Stats.median(r.cpu.toSeq), "op_samples_s" -> walls,
      "heap_live_mb" -> r.heapLiveMb, "heap_live_max_mb" -> r.heapSamples.max,
      "heap_samples_mb" -> r.heapSamples.toSeq, "machine" -> machine,
      "queries_per_s" -> names.size * walls.size / walls.sum) ++
      Stats.timing("op_s", walls) ++ Stats.timing("sweep_s", passes.toSeq) ++
      perQuery.map { case (n, xs) => s"query.${n}_s_p50" -> Stats.median(xs.toSeq) }
    r.dumpSpans()
    if (r.traced) base ++ Map("layers" -> layers(perPass.toSeq, untracedMs.toSeq)) else base
  }

  private def table(s: SparkSession, t: String) = t match {
    case "events" => Tables.events(s, dir)
    case other => Tables(s, dir, other)
  }

  /** Every query's result as one parquet directory plus `oracle_sql.json`,
    * the layout `graft.Verify` writes and `tools/check_correctness.py`
    * reads. A query that throws leaves no result: the check reports it. */
  private def dumpForOracle(spark: SparkSession, out: String): Unit = {
    Files.createDirectories(Paths.get(out))
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$name")
      catch { case e: Exception => r.log(s"$name failed: ${e.getMessage}") }
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
  }

  /** Layer figures of one traced pass: the registry's own time (building
    * each query's plan, which runs the operators' eager steps, and running
    * it), per family, and Spark's counters. */
  private def passLayers(tr: SparkTrace, before: SparkTrace#Snap, qMs: Map[String, Double],
      passMs: Double, e0: Long, gc0: (Long, Long)): Map[String, Double] = {
    val after = tr.snap()
    val e1 = System.currentTimeMillis()
    val spans = r.spans.done.filter(s => s.startMs >= e0)
    def sum(name: String) = spans.filter(_.name == name).map(_.ms).sum
    val queryMs = spans.filter(s => s.parent == -1 && s.name.startsWith("queries.")).map(_.ms).sum
    Map("op_ms" -> passMs,
      "queries.build_ms" -> sum("queries.build"),
      "queries.execute_ms" -> sum("queries.execute"),
      "queries.build_share" -> sum("queries.build") / passMs,
      "queries.execute_share" -> sum("queries.execute") / passMs,
      "layer.coverage" -> queryMs / passMs,
      "spark.driver_gap_ms" -> tr.gapMs(e0, e1),
      "jvm.gc_ms" -> (Proc.gcMs - gc0._1).toDouble,
      "jvm.gc_count" -> (Proc.gcCount - gc0._2).toDouble) ++
      Families.map { case (fam, qs) =>
        s"operators.${fam}_ms" -> qs.flatMap(qMs.get).sum
      } ++ qMs.map { case (n, ms) => s"queries.${n}_ms" -> ms } ++
      SparkLayers.diff(before, after)
  }

  private def layers(passes: Seq[Map[String, Double]], untracedMs: Seq[Double])
      : Map[String, Double] =
    passes.head.keys.filter(_.contains('.')).map(k => k -> Stats.mean(passes.map(_(k)))).toMap ++
      Map("layer.coverage_min" -> passes.map(_("layer.coverage")).min,
        "jvm.gc_share" -> passes.map(_("jvm.gc_ms")).sum / passes.map(_("op_ms")).sum,
        "jvm.child_cpu_share" ->
          passes.map(_("jvm.child_cpu_ms")).sum / passes.map(_("op_ms")).sum) ++
      Overhead(passes.map(_("op_ms")), untracedMs)
}

object RegistryWorkload {
  val MinPasses = 2

  /** The sampled queries, by family: relational, text dedup, ANN/PQ,
    * k-means and the near-duplicate graph. Neither snapshot/streaming
    * queries (snapshot_commits covers that layer) nor the gated exact
    * tier. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("genre_kpis", "ship_latency_quantiles", "basket_triples"),
    "text_dedup" -> Seq("corpus_curate2", "minhash_lsh_pairs"),
    "ann" -> Seq("pq_topk", "ivf_topk", "margin_align_pairs"),
    "kmeans" -> Seq("kmeans_k_sweep"),
    "graph" -> Seq("dup_graph_harmonic"))
}
