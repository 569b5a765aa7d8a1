package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.VersionedSnapshot
import graft.streaming.VersionedSnapshot.{DeleteMatched, UpdateMatched}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `snapshot_commits`: one bucketed `VersionedSnapshot` table, seeded in
  * set-up, then a closed loop over the generated batches — `mergeInto`
  * upserts, `applyChanges` with deletes, `stageDelta` merge-on-read
  * batches and a periodic `compact` — each commit followed by a
  * `readForKeys` point read, and a full `read` every `FullReadEvery`
  * commits. The benchmark keeps an in-memory model of the table; every
  * read must equal it. */
final class SnapshotWorkload(r: Run) {
  import SnapshotWorkload._

  private val seedRows = readCsv(r.conf("seed"))
  private val batches: IndexedSeq[Batch] = readCsv(r.conf("ops"))
    .groupBy(_(0).toInt).toIndexedSeq.sortBy(_._1).map { case (b, rows) =>
      Batch(b, rows.head(1), rows.filter(_(1) != "compact").map(c =>
        Change(c(2), c(3).toLong, Rec(c(4), c(5).toLong, c(6).toDouble))))
    }
  private val cycle = r.conf("cycle").toInt
  private val keySpace = r.conf("key_space").toLong
  private val model = mutable.HashMap.empty[Long, Rec]
  private val rng = new java.util.SplittableRandom(r.conf("run_seed").toLong)
  private var failures = 0
  private val problems = mutable.ArrayBuffer.empty[String]

  def run(): Map[String, Any] = {
    val cores = r.cores
    // set-up: the engine's session plus the table's first version
    val (spark, dir, setupS) = r.setup(() => Sessions.graftLocal(cores)) { (s, rep) =>
      val d = s"${r.workDir}/table$rep"
      VersionedSnapshot.mergeInto(d, frame(s, seedRows.map(c =>
        Row(c(0).toLong, c(1), c(2).toLong, c(3).toDouble))), Keys,
        UpdateMatched, insertUnmatched = true, marker = "seed")
      d
    }
    seedRows.foreach(c => model(c(0).toLong) = Rec(c(1), c(2).toLong, c(3).toDouble))
    // untimed warm-up: one cycle of commit kinds (it advances the table
    // and the model), so the loop starts at a cycle boundary
    val warm = cycle
    (0 until warm).foreach(i => commitAndRead(spark, dir, batches(i), None))
    r.log("warm-up done")
    val trace = if (r.traced) Some(new SparkTrace(spark)) else None
    val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
    val commitS, readS, fullReadS, spaceAmp = mutable.ArrayBuffer.empty[Double]
    var written, userBytes, rowsChanged = 0L

    val (walls, machine) = r.machine {
      r.loop(minOps = cycle, cycle = cycle) { i =>
        val batch = batches((warm + i) % batches.size)
        // a traced run alternates traced and untraced ops, for the overhead
        val on = trace.isDefined && i % 2 == 0
        trace.foreach(_.attach(on, r.spans))
        val m = commitAndRead(spark, dir, batch, trace.filter(_ => on)) + ("traced" -> (if (on) 1.0 else 0.0))
        commitS += m("commit_s"); readS += m("read_s")
        written += m("bytes_written").toLong; userBytes += m("user_bytes").toLong
        rowsChanged += batch.changes.size
        perOp += m
        if ((i + 1) % FullReadEvery == 0) {
          val (s, amp) = fullRead(spark, dir)
          fullReadS += s; spaceAmp += amp
        }
        m("commit_s") + m("read_s")
      }
    }
    if (fullReadS.isEmpty) { val (s, amp) = fullRead(spark, dir); fullReadS += s; spaceAmp += amp }
    val busy = walls.sum + fullReadS.sum
    val base = Map[String, Any](
      "workload" -> r.workload, "attempted" -> walls.size, "failed" -> failures,
      "problems" -> problems.take(5).toSeq, "traced" -> r.traced,
      "setup_s" -> Stats.median(setupS), "setup_samples_s" -> setupS,
      "op_cpu_s_p50" -> Stats.median(perCycle(r.cpu.toSeq)),
      "op_s_per_cycle" -> perCycle(walls),
      "rows_per_s" -> rowsChanged / busy,
      "commits_per_s" -> walls.size / busy,
      "space_amp" -> Stats.mean(spaceAmp), "write_amp" -> written.toDouble / userBytes,
      "heap_live_mb" -> r.heapLiveMb, "heap_live_max_mb" -> r.heapSamples.max,
      "heap_samples_mb" -> r.heapSamples.toSeq, "machine" -> machine,
      "op_samples_s" -> walls) ++ Stats.timing("op_s", walls) ++
      // the state of the table cycles with the commit kinds (overlays
      // build up until compaction), so the headline median is taken over
      // whole cycles, each its mean time per operation
      Map("op_s_p50" -> Stats.median(perCycle(walls))) ++
      Stats.timing("commit_s", commitS.toSeq) ++ Stats.timing("read_s", readS.toSeq) ++
      Stats.timing("full_read_s", fullReadS.toSeq)
    r.dumpSpans()
    if (r.traced) base ++ Map("layers" -> layers(perOp.toSeq, fullReadS.toSeq,
      spaceAmp.toSeq, written.toDouble / userBytes)) else base
  }

  /** One closed-loop step: the batch's commit, then a point read of a few
    * of its keys plus one random key, checked against the model. */
  private def commitAndRead(spark: SparkSession, dir: String, b: Batch,
      trace: Option[SparkTrace]): Map[String, Double] = {
    val source = b.kind match {
      case "changes" => frame(spark, b.changes.map(c => Row(c.id, c.rec.track, c.rec.plays,
        c.rec.score, c.op)), withOp = true)
      case "delta" if b.changes.forall(_.op == "delete") =>
        spark.createDataFrame(b.changes.map(c => Row(c.id)).asJava, KeySchema)
      case _ => frame(spark, b.changes.map(c => Row(c.id, c.rec.track, c.rec.plays, c.rec.score)))
    }
    val marker = s"b${b.id}-${System.nanoTime()}"
    val filesBefore = if (trace.isDefined) Files2.sizes(dir) else Map.empty[String, Long]
    val snap0 = trace.map(_.snap())
    val fs0 = Proc.fs
    val gc0 = (Proc.gcMs, Proc.gcCount)
    val child0 = Proc.childCpuMs
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    r.spans.span("commit") {
      b.kind match {
        case "merge" => r.spans.span("snapshot.merge")(VersionedSnapshot.mergeInto(
          dir, source, Keys, UpdateMatched, insertUnmatched = true, marker = marker))
        case "changes" => r.spans.span("snapshot.apply_changes")(
          VersionedSnapshot.applyChanges(dir, source, Keys, marker))
        case "delta" =>
          val action = if (b.changes.forall(_.op == "delete")) DeleteMatched else UpdateMatched
          r.spans.span("snapshot.stage_delta")(
            VersionedSnapshot.stageDelta(dir, source, Keys, action, marker))
        case "compact" => r.spans.span("snapshot.compact")(
          VersionedSnapshot.compact(spark, dir, Keys, marker))
      }
    }
    val commitS = (System.nanoTime() - t0) / 1e9
    val fsCommit = Proc.fs - fs0
    val snap1 = trace.map(_.snap())
    b.changes.foreach { c =>
      if (c.op == "delete") model.remove(c.id) else model(c.id) = c.rec
    }
    val userBytes = b.changes.map(c => if (c.op == "delete") 8L else 24L + c.rec.track.length).sum

    // point read
    val probe = (b.changes.take(4).map(_.id) :+ (1L + rng.nextLong(keySpace))).distinct
    val keyRows = spark.createDataFrame(probe.map(k => Row(k)).asJava, KeySchema)
    val fs1 = Proc.fs
    val t1 = System.nanoTime()
    val got = r.spans.span("snapshot.read_keys") {
      VersionedSnapshot.readForKeys(spark, dir, keyRows).get.collect()
    }
    val readS = (System.nanoTime() - t1) / 1e9
    // the op's wall time on a timer outside every span, for the coverage
    val opWallMs = (System.nanoTime() - t0) / 1e6
    val fsRead = Proc.fs - fs1
    val e1 = System.currentTimeMillis()
    val want = probe.flatMap(k => model.get(k).map(k -> _)).toMap
    val have = got.map(recOf).toMap
    if (want != have) {
      failures += 1
      problems += s"batch ${b.id} (${b.kind}): point read of ${probe.mkString(",")} " +
        s"returned ${have.toSeq.sortBy(_._1)}, model has ${want.toSeq.sortBy(_._1)}"
    }

    val base = Map("commit_s" -> commitS, "read_s" -> readS,
      "bytes_written" -> fsCommit.bytesWritten.toDouble, "user_bytes" -> userBytes.toDouble)
    (snap0, snap1, trace) match {
      case (Some(a), Some(c), Some(tr)) =>
        val op = tr.snap()
        val after = Files2.sizes(dir)
        val fresh = after.filter { case (p, _) => !filesBefore.contains(p) }
        val opMs = (commitS + readS) * 1000
        base ++ SparkLayers.diff(a, op) ++ Map(
          s"snapshot.${KindLayer(b.kind)}_ms" -> commitS * 1000,
          s"snapshot.${KindLayer(b.kind)}_share" -> commitS * 1000 / opMs,
          "snapshot.read_keys_ms" -> readS * 1000,
          "snapshot.read_keys_share" -> readS * 1000 / opMs,
          "layer.coverage" -> r.spans.done.filter(sp => sp.startNs >= t0 &&
            sp.name.startsWith("snapshot.")).map(_.ms).sum / opWallMs,
          "snapshot.jobs_per_commit" -> (c.jobs - a.jobs).toDouble,
          "snapshot.files_per_commit" -> fresh.size.toDouble,
          "snapshot.small_files_per_commit" -> fresh.count(_._2 < 4096).toDouble,
          "snapshot.point_read_bytes_ratio" -> fsRead.bytesRead / math.max(after.values.sum.toDouble, 1.0),
          "spark.driver_gap_ms" -> tr.gapMs(e0, e1),
          "io.files_written" -> fresh.size.toDouble,
          "io.small_files_written" -> fresh.count(_._2 < 4096).toDouble,
          "io.fs.bytes_written" -> (fsCommit.bytesWritten + fsRead.bytesWritten).toDouble,
          "io.fs.bytes_read" -> (fsCommit.bytesRead + fsRead.bytesRead).toDouble,
          "jvm.gc_ms" -> (Proc.gcMs - gc0._1).toDouble,
          "jvm.gc_count" -> (Proc.gcCount - gc0._2).toDouble,
          "jvm.child_cpu_ms" -> (Proc.childCpuMs - child0),
          "op_ms" -> opMs)
      case _ => base
    }
  }

  /** Full read of the current version, checked against the model; returns
    * its wall seconds and the space amplification (bytes under the table
    * directory ÷ bytes of the files the live version reads). */
  private def fullRead(spark: SparkSession, dir: String): (Double, Double) = {
    val t0 = System.nanoTime()
    val rows = r.spans.span("snapshot.read")(VersionedSnapshot.read(spark, dir).get.collect())
    val s = (System.nanoTime() - t0) / 1e9
    val have = rows.map(recOf).toMap
    if (have.size != rows.length || have != model) {
      failures += 1
      problems += s"full read: ${rows.length} rows, model ${model.size}; " +
        s"${(have.keySet diff model.keySet).size} extra, ${(model.keySet diff have.keySet).size} missing"
    }
    val live = VersionedSnapshot.read(spark, dir).get.inputFiles
      .map(f => Files.size(Paths.get(new java.net.URI(f)))).sum.toDouble
    (s, Files2.sizes(dir).values.sum / math.max(live, 1.0))
  }

  private def perCycle(xs: Seq[Double]): Seq[Double] =
    xs.grouped(cycle).filter(_.size == cycle).map(c => c.sum / cycle).toSeq

  private def recOf(row: Row): (Long, Rec) =
    row.getAs[Long]("id") -> Rec(row.getAs[String]("track_id"), row.getAs[Long]("plays"),
      row.getAs[Double]("score"))

  /** Per-op means over the traced ops. A commit kind's `_ms` averages
    * over that kind's commits; its `_share` is the kind's part of all
    * traced op time. */
  private def layers(ops: Seq[Map[String, Double]], fullReadS: Seq[Double],
      spaceAmp: Seq[Double], writeAmp: Double): Map[String, Double] = {
    val (on, off) = ops.partition(_("traced") == 1.0)
    val kindMs = KindLayer.values.map(l => s"snapshot.${l}_ms").toSet
    val keys = on.flatMap(_.keys).distinct
      .filter(k => k.contains('.') && !kindMs(k) && !k.endsWith("_share"))
    val totalMs = on.map(_("op_ms")).sum
    keys.map(k => k -> on.map(_(k)).sum / on.size).toMap ++
      KindLayer.values.flatMap { l =>
        val ms = on.flatMap(_.get(s"snapshot.${l}_ms"))
        Seq(s"snapshot.${l}_ms" -> Stats.mean(ms), s"snapshot.${l}_share" -> ms.sum / totalMs)
      } ++ Map(
        "snapshot.read_keys_share" -> on.map(_("snapshot.read_keys_ms")).sum / totalMs,
        "snapshot.read_ms" -> Stats.mean(fullReadS.map(_ * 1000)),
        "snapshot.space_amp" -> Stats.mean(spaceAmp),
        "snapshot.write_amp" -> writeAmp,
        "layer.coverage_min" -> on.map(_("layer.coverage")).min,
        "jvm.gc_share" -> on.map(_("jvm.gc_ms")).sum / totalMs,
        "jvm.child_cpu_share" -> on.map(_("jvm.child_cpu_ms")).sum / totalMs) ++
      Overhead(on.map(_("op_ms")), off.map(o => (o("commit_s") + o("read_s")) * 1000))
  }
}

object SnapshotWorkload {
  val Keys = Seq("id")
  val FullReadEvery = 10
  val KindLayer = Map("merge" -> "merge", "changes" -> "apply_changes",
    "delta" -> "stage_delta", "compact" -> "compact")

  final case class Rec(track: String, plays: Long, score: Double)
  final case class Change(op: String, id: Long, rec: Rec)
  final case class Batch(id: Int, kind: String, changes: Seq[Change])

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("track_id", StringType),
    StructField("plays", LongType), StructField("score", DoubleType)))
  val KeySchema: StructType = StructType(Seq(StructField("id", LongType, nullable = false)))

  def frame(spark: SparkSession, rows: Seq[Row], withOp: Boolean = false): DataFrame =
    spark.createDataFrame(rows.asJava,
      if (withOp) Schema.add(StructField("op", StringType)) else Schema)

  /** Rows of a generated CSV (header dropped, quotes stripped; the
    * generator writes no embedded commas). */
  def readCsv(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.drop(1)
      .map(_.split(",", -1).map(_.stripPrefix("\"").stripSuffix("\"")))
}
