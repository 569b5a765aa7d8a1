package graft.etl

import graft.SparkSpec
import graft.pipeline.PipelineFailure
import java.nio.file.{Files, Path}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** File-to-file e2e over CSV fixtures mirroring the reference's
  * users/songs/streams shapes. */
class MusicPipelineSpec extends SparkSpec {

  private val usersHeader = "user_id,user_name,user_age,user_country,created_at"
  private val usersRows =
    """1,Alice,30,US,2024-01-01
      |2,Bob,25,FR,2024-01-02
      |3,Cara,41,DE,2024-01-03
      |""".stripMargin
  private val songsHeader =
    "id,track_id,artists,album_name,track_name,popularity,duration_ms,explicit," +
      "danceability,energy,song_key,loudness,mode,speechiness,acousticness,instrumentalness," +
      "liveness,valence,tempo,time_signature,track_genre"
  private val songsRows =
    """1,t1,Artist 1,Alb,Song A,50,200000,false,0.5,0.5,1,-5.0,1,0.1,0.1,0.0,0.1,0.5,120.0,4,rock
      |2,t2,Artist 2,Alb,Song B,40,100000,false,0.5,0.5,1,-5.0,1,0.1,0.1,0.0,0.1,0.5,120.0,4,rock
      |3,t3,Artist 1,Alb,Song C,30,300000,true,0.5,0.5,1,-5.0,1,0.1,0.1,0.0,0.1,0.5,120.0,4,jazz
      |""".stripMargin
  private val streamsHeader = "user_id,track_id,listen_time"
  private val streamsRows =
    """1,t1,2024-06-25T10:00:00.000Z
      |1,t1,2024-06-25T10:30:00.000Z
      |2,t2,2024-06-25T10:45:00.000Z
      |2,t3,2024-06-25T11:05:00.000Z
      |""".stripMargin

  /** Writes the three sources (rows below each header; streams split into
    * two shards) and returns the config that reads them. */
  private def writeFixtures(dir: Path, users: String = usersRows, songs: String = songsRows,
      streams: String = streamsRows): PipelineConfig = {
    Files.writeString(dir.resolve("users.csv"), s"$usersHeader\n$users")
    Files.writeString(dir.resolve("songs.csv"), s"$songsHeader\n$songs")
    val (first, second) = streams.linesIterator.toSeq.splitAt(2)
    for ((rows, i) <- Seq(first, second).zipWithIndex)
      Files.writeString(dir.resolve(s"streams${i + 1}.csv"),
        (streamsHeader +: rows).mkString("", "\n", "\n"))
    PipelineConfig(
      usersPath = dir.resolve("users.csv").toString,
      songsPath = dir.resolve("songs.csv").toString,
      streamsGlob = dir.resolve("streams*.csv").toString,
      genreKpisOut = dir.resolve("genre_kpis").toString,
      hourlyKpisOut = dir.resolve("hourly_kpis").toString,
      topK = 2, retries = 0)
  }

  /** Fails the test instead of hanging it: an Observation that never
    * fires blocks its reader forever. */
  private def within[T](body: => T): T =
    Await.result(Future(body)(ExecutionContext.global), 3.minutes)

  private def validateDataFails(cfg: PipelineConfig, message: String): Unit = {
    val e = within(intercept[PipelineFailure](MusicPipeline.run(spark, cfg)))
    assert(e.stage == "validate_data")
    assert(e.getCause.getMessage.contains(message), e.getCause.getMessage)
  }

  private def genreOf(cfg: PipelineConfig): Map[String, (String, String)] =
    spark.read.option("header", "true").csv(cfg.genreKpisOut).collect().map(r =>
      r.getAs[String]("track_genre") -> (r.getAs[String]("listen_count"),
        r.getAs[String]("most_popular_track"))).toMap

  test("pipeline runs file-to-file and writes both KPI tables") {
    val cfg = writeFixtures(Files.createTempDirectory("graft-pipe"))
    within(MusicPipeline.run(spark, cfg))

    val g = genreOf(cfg)
    assert(g("rock") == (("3", "Song A")))
    assert(g("jazz") == (("1", "Song C")))

    val hourly = spark.read.option("header", "true").csv(cfg.hourlyKpisOut)
    val h = hourly.collect().map(r =>
      r.getAs[String]("hour") -> r.getAs[String]("top_artists")).toMap
    assert(h("10") == "Artist 1,Artist 2")
  }

  test("pipeline fails with named stage when validation trips") {
    val dir = Files.createTempDirectory("graft-pipe-bad")
    validateDataFails(writeFixtures(dir, streams = "1,t1,\n"), "no_nulls")
  }

  test("validate_data fails on a null user_id in users") {
    val dir = Files.createTempDirectory("graft-pipe-null-user")
    validateDataFails(writeFixtures(dir, users = usersRows + ",Dan,50,US,2024-01-04\n"),
      "no_nulls(user_id)")
  }

  test("validate_data fails on a null track_id in songs") {
    val dir = Files.createTempDirectory("graft-pipe-null-track")
    val noTrackId = songsRows.linesIterator.next().replace(",t1,", ",,")
    validateDataFails(writeFixtures(dir, songs = s"$noTrackId\n"), "no_nulls(track_id)")
  }

  test("validate_data fails on header-only streams shards") {
    val dir = Files.createTempDirectory("graft-pipe-empty-streams")
    validateDataFails(writeFixtures(dir, streams = ""), "not_empty")
  }

  test("validate_data fails on header-only dimension tables") {
    validateDataFails(
      writeFixtures(Files.createTempDirectory("graft-pipe-empty-songs"), songs = ""),
      "not_empty")
    validateDataFails(
      writeFixtures(Files.createTempDirectory("graft-pipe-empty-users"), users = ""),
      "not_empty")
  }

  test("a songs row malformed only in a column no KPI reads still fails the run (FAILFAST)") {
    val dir = Files.createTempDirectory("graft-pipe-bad-tempo")
    val badTempo = songsRows.replace("0.5,120.0,4,jazz", "0.5,abc,4,jazz")
    val e = within(intercept[PipelineFailure](
      MusicPipeline.run(spark, writeFixtures(dir, songs = badTempo))))
    assert(e.stage == "validate_data")
  }

  test("consecutive runs in one session both validate and write") {
    val dir = Files.createTempDirectory("graft-pipe-twice")
    val cfg = writeFixtures(dir)
    within(MusicPipeline.run(spark, cfg))
    val more = songsRows + "4,t4,Artist 3,Alb,Song D,20,100000,false,0.5,0.5,1,-5.0,1,0.1,0.1,0.0,0.1,0.5,120.0,4,pop\n"
    writeFixtures(dir, songs = more, streams = streamsRows + "3,t4,2024-06-25T12:00:00.000Z\n")
    within(MusicPipeline.run(spark, cfg))
    assert(genreOf(cfg)("pop") == (("1", "Song D")))
    validateDataFails(writeFixtures(dir, streams = "1,t1,\n"), "no_nulls")
  }

  test("one run starts no more Spark jobs than the single-scan DAG needs") {
    val cfg = writeFixtures(Files.createTempDirectory("graft-pipe-jobs"))
    within(MusicPipeline.run(spark, cfg)) // warm: first-run planning may differ
    val tag = s"graft-pipe-jobs-${System.nanoTime()}"
    val marker = s"$tag-done"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(',').toSet)
        if (tags(marker)) drained.countDown()
        else if (tags(tag)) jobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      within {
        spark.sparkContext.addJobTag(tag)
        try MusicPipeline.run(spark, cfg)
        finally spark.sparkContext.removeJobTag(tag)
        // the listener bus delivers in order: once the marker job's start
        // arrives, every job of the run has been counted
        spark.sparkContext.addJobTag(marker)
        try spark.range(1).count() finally spark.sparkContext.removeJobTag(marker)
        drained.await()
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // measured on this fixture: 19 jobs (the two-scan DAG this replaced
    // started 30 per run). More means a source is scanned again or a KPI
    // plan executes twice.
    info(s"${jobs.get} jobs")
    assert(jobs.get <= 19, s"${jobs.get} jobs")
  }
}
