package graft.etl

import graft.SparkSpec
import java.sql.Timestamp

class MusicKpisSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // streams(user_id, track_id, listen_time) ⋈ songs(track_id, genre, dur, name) ⋈ users(user_id, country)
  private def streams = Seq(
    (1, "t1", ts("2024-06-25 10:00:00")),
    (1, "t1", ts("2024-06-25 10:30:00")),
    (2, "t2", ts("2024-06-25 10:45:00")),
    (2, "t3", ts("2024-06-25 11:05:00")),
    (3, "tX", ts("2024-06-25 11:10:00")) // no songs match → null genre
  ).toDF("user_id", "track_id", "listen_time")

  private def songs = Seq(
    ("t1", "rock", 200.0, "Song A", "Artist 1"),
    ("t2", "rock", 100.0, "Song B", "Artist 2"),
    ("t3", "jazz", 300.0, "Song C", "Artist 1")
  ).toDF("track_id", "track_genre", "duration_ms", "track_name", "artists")

  private def users = Seq(
    (1, "US"), (2, "FR"), (3, "DE")
  ).toDF("user_id", "user_country")

  private def enriched = MusicKpis.enrich(
    streams, songs, "track_id", users, "user_id", "listen_time")

  test("enrich keeps all fact rows (left joins) and derives date/hour") {
    val e = enriched.collect()
    assert(e.length == 5)
    val miss = enriched.filter($"track_id" === "tX").collect().head
    assert(miss.getAs[String]("track_genre") == null)
    assert(miss.getAs[String]("user_country") == "DE")
    assert(enriched.select("hour").as[Int].collect().toSet == Set(10, 11))
  }

  test("genreKpis computes count, avg and deterministic mode per (genre,date)") {
    val k = MusicKpis.genreKpis(enriched,
      genreCol = "track_genre", countCol = "track_id", avgCol = "duration_ms",
      modeCol = "track_name", modeOut = "most_popular_track")
      .collect().map(r => Option(r.getAs[String]("track_genre")) ->
        (r.getAs[Long]("listen_count"), r.getAs[Double]("avg_duration"),
         r.getAs[String]("most_popular_track"))).toMap
    val (cnt, avg, mode) = k(Some("rock"))
    assert(cnt == 3)
    assert(math.abs(avg - (200.0 + 200.0 + 100.0) / 3) < 1e-9)
    assert(mode == "Song A")
    // null-genre group kept by default (Spark-honest), avg of null = null row counted
    assert(k.contains(None))
  }

  test("genreKpis: the null-genre group keeps its mode (ties → smallest value)") {
    // t4/t5 are listed without a genre: named tracks in the null group
    val genreless = songs.union(Seq(
      ("t4", null, 400.0, "Song E", "Artist 3"),
      ("t5", null, 500.0, "Song D", "Artist 3")
    ).toDF("track_id", "track_genre", "duration_ms", "track_name", "artists"))
    val plays = streams.union(Seq(
      (1, "t4", ts("2024-06-25 12:00:00")),
      (2, "t5", ts("2024-06-25 12:10:00"))
    ).toDF("user_id", "track_id", "listen_time"))
    val k = MusicKpis.genreKpis(
        MusicKpis.enrich(plays, genreless, "track_id", users, "user_id", "listen_time"),
        genreCol = "track_genre", countCol = "track_id", avgCol = "duration_ms",
        modeCol = "track_name", modeOut = "most_popular_track")
      .filter($"track_genre".isNull).collect()
    assert(k.length == 1)
    // tX (no song row) adds a null track_name, which the mode ignores;
    // Song D and Song E tie at one play each
    assert(k.head.getAs[Long]("listen_count") == 3)
    assert(k.head.getAs[String]("most_popular_track") == "Song D")
  }

  test("genreKpis dropNullGroups reproduces pandas dropna semantics") {
    val k = MusicKpis.genreKpis(enriched,
      genreCol = "track_genre", countCol = "track_id", avgCol = "duration_ms",
      modeCol = "track_name", dropNullGroups = true).collect()
    assert(!k.exists(_.isNullAt(0)))
    assert(k.length == 2)
  }

  test("hourlyKpis: distinct listeners, ordered top-k, diversity with count(*) denominator") {
    val k = MusicKpis.hourlyKpis(enriched,
      userCol = "user_id", artistCol = "artists", trackCol = "track_id", k = 2)
      .collect().map(r => r.getAs[Int]("hour") ->
        (r.getAs[Long]("unique_listeners"),
         r.getAs[scala.collection.Seq[String]]("top_artists").toSeq,
         r.getAs[Double]("track_diversity_index"))).toMap
    val (u10, top10, d10) = k(10)
    assert(u10 == 2)
    assert(top10 == Seq("Artist 1", "Artist 2")) // counts 2,1
    assert(math.abs(d10 - 2.0 / 3.0) < 1e-9)     // t1,t2 distinct / 3 rows
    val (u11, _, d11) = k(11)
    assert(u11 == 2)
    // hour 11: tracks t3,tX distinct=2, rows=2 → 1.0
    assert(math.abs(d11 - 1.0) < 1e-9)
  }
}
