package graft.io

import graft.SparkSpec
import java.nio.file.Files

class IoSpec extends SparkSpec {

  private def csvDir = {
    val dir = Files.createTempDirectory("graft-io")
    Files.writeString(dir.resolve("users.csv"),
      """user_id,user_name,user_age,user_country,created_at
        |1,Alice,30,US,2024-01-01
        |2,,25,FR,2024-01-02
        |""".stripMargin)
    dir
  }

  test("strict csv source applies declared schema and maps empty string to NULL") {
    val dir = csvDir
    val users = Sources.users(spark, dir.resolve("users.csv").toString)
    assert(users.schema("user_id").dataType.typeName == "integer")
    assert(users.schema("created_at").dataType.typeName == "date")
    val rows = users.collect().sortBy(_.getInt(0))
    assert(rows(1).isNullAt(1)) // empty user_name → NULL (BLANKSASNULL parity)
  }

  test("FAILFAST rejects malformed rows (COPY MAXERROR 0 parity)") {
    val dir = Files.createTempDirectory("graft-io-bad")
    Files.writeString(dir.resolve("users.csv"),
      """user_id,user_name,user_age,user_country,created_at
        |not_an_int,Bob,25,FR,2024-01-02
        |""".stripMargin)
    intercept[org.apache.spark.SparkException] {
      Sources.users(spark, dir.resolve("users.csv").toString).collect()
    }
  }

  test("csvQuarantine routes malformed rows aside and parses the rest") {
    val dir = Files.createTempDirectory("graft-io-quar")
    Files.writeString(dir.resolve("users.csv"),
      """user_id,user_name,user_age,user_country,created_at
        |1,Ann,30,US,2024-01-01
        |not_an_int,Bob,25,FR,2024-01-02
        |3,Cid,junk_age,DE,2024-01-03
        |4,Dee,40,JP,2024-01-04
        |""".stripMargin)
    val quar = dir.resolve("quarantine").toString
    val clean = Sources.csvQuarantine(spark, Sources.usersSchema, quar,
      dir.resolve("users.csv").toString)
    assert(clean.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 4))
    assert(clean.columns.forall(!_.contains("corrupt")))
    val quarantined = spark.read.text(quar).collect().map(_.getString(0)).sorted
    assert(quarantined.length == 2)
    assert(quarantined.exists(_.startsWith("not_an_int")))
    assert(quarantined.exists(_.contains("junk_age")))
  }

  /** Formatted messages `loggerName` logs at WARN or above during `body`. */
  private def warnings(loggerName: String)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = LogManager.getLogger(loggerName).asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("graft-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    val level = logger.getLevel
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try body
    finally { logger.setLevel(level); logger.removeAppender(appender); appender.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("streams glob is expanded on the driver: every shard is read, no metadata probe") {
    val dir = Files.createTempDirectory("graft-io-glob")
    for (i <- 1 to 2)
      Files.writeString(dir.resolve(s"streams$i.csv"),
        s"user_id,track_id,listen_time\n$i,t$i,2024-06-25T10:00:00.000Z\n")
    val logged = warnings("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink") {
      val streams = Sources.streams(spark, dir.resolve("streams*.csv").toString)
      assert(streams.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    }
    assert(logged.isEmpty, logged)
  }

  test("a streams glob that matches nothing still fails the read") {
    val dir = Files.createTempDirectory("graft-io-noglob")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Sources.streams(spark, dir.resolve("streams*.csv").toString)
    }
    assert(e.getMessage.contains("streams*.csv"), e.getMessage)
  }

  test("renameColumns bridges source names to warehouse names") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("key", "mode")
    val out = Sources.renameColumns(df, "key" -> "song_key")
    assert(out.columns.toSeq == Seq("song_key", "mode"))
  }

  test("csv sink overwrites (full-refresh semantics) and round-trips nulls") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink").resolve("out").toString
    Sinks.csv(Seq((1, "x"), (2, null)).toDF("id", "v"), dir, singleFile = true)
    Sinks.csv(Seq((3, "y")).toDF("id", "v"), dir, singleFile = true) // overwrite
    val back = spark.read.option("header", "true").option("nullValue", "").csv(dir)
    assert(back.collect().map(_.getString(0)).toSeq == Seq("3"))
  }

  test("table sink drops + recreates via overwrite saveAsTable") {
    import spark.implicits._
    Sinks.table(Seq((1, "a")).toDF("id", "v"), "graft_test_tbl")
    Sinks.table(Seq((2, "b"), (3, "c")).toDF("id", "v"), "graft_test_tbl")
    assert(spark.table("graft_test_tbl").count() == 2)
    spark.sql("DROP TABLE graft_test_tbl")
  }

  // ---- JDBC source/sink against embedded Derby (the in-sandbox stand-in
  // for the reference's Postgres extract / Redshift load) ----

  private val jdbcUrl = "jdbc:derby:memory:graftdb;create=true"

  test("jdbc sink overwrites and jdbc source round-trips (Derby)") {
    import spark.implicits._
    val df = Seq((1, "Alice", 30), (2, "Bob", 25), (3, "Cara", 41))
      .toDF("user_id", "user_name", "user_age")
    Sinks.jdbc(df, jdbcUrl, "users_rt")
    Sinks.jdbc(df.filter($"user_id" <= 2), jdbcUrl, "users_rt") // overwrite
    val back = Sources.jdbc(spark, jdbcUrl, "users_rt")
    assert(back.count() == 2)
    assert(back.collect().map(_.getAs[String]("user_name")).toSet == Set("Alice", "Bob"))
  }

  test("jdbc source pushes filters down to the database scan") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i, s"u$i", 20 + i % 30)).toDF("user_id", "user_name", "user_age")
    Sinks.jdbc(df, jdbcUrl, "users_pd")
    val filtered = Sources.jdbc(spark, jdbcUrl, "users_pd")
      .filter($"user_age" > 40).select("user_id", "user_age")
    // the predicate must reach the JDBC scan (DB-side WHERE), not run as a
    // post-scan Spark filter — the reference's extract queries filter in
    // Postgres for the same reason
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(user_age,40)"),
      s"filter not pushed to JDBC scan:\n$plan")
    assert(filtered.collect().forall(_.getInt(1) > 40))
  }

  test("jdbcPartitioned splits the extract into ranged parallel reads") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Sinks.jdbc(df, jdbcUrl, "facts_part")
    val part = Sources.jdbcPartitioned(spark, jdbcUrl, "facts_part",
      partitionColumn = "id", lowerBound = 1, upperBound = 101, numPartitions = 4)
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == 100) // ranges partition, never drop or duplicate
  }

  test("jdbcQuery executes the aggregate inside the database (A3 pushdown shape)") {
    import spark.implicits._
    val df = Seq((1, "US"), (2, "US"), (3, "FR")).toDF("user_id", "user_country")
    // Derby maps StringType to CLOB (not groupable) — declare the DDL type,
    // as a production load into any warehouse would
    Sinks.jdbc(df, jdbcUrl, "users_agg",
      options = Map("createTableColumnTypes" -> "user_country VARCHAR(8)"))
    // Spark's JDBC writer creates quoted (case-exact) columns; Derby folds
    // unquoted identifiers to uppercase, so the DB-side query must quote
    val out = Sources.jdbcQuery(spark, jdbcUrl,
      """SELECT "user_country", count(*) AS n FROM users_agg GROUP BY "user_country"""")
    assert(out.collect().map(r => r.getString(0) -> r.getAs[Number](1).longValue).toMap ==
      Map("US" -> 2L, "FR" -> 1L))
  }

  test("serializeArray and PyRepr forms at the sink boundary") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1, Seq("a", "b"))).toDF("id", "arr")
    assert(Sinks.serializeArray(df, "arr").select("arr").as[String].head() == "a,b")
    assert(Sinks.serializeArrayPyRepr(df, "arr").select("arr").as[String].head() == "['a', 'b']")
  }

  test("ORC round-trips and pushes filters + pruning into the scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val df = (1 to 50).map(i => (i.toLong, s"name$i", i * 2.5)).toDF("id", "name", "score")
    Sinks.orc(df, dir)
    val back = Sources.orc(spark, dir)
    // file sources read back nullable — compare names/types, not nullability
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // filter + projection must reach the columnar scan, exactly like parquet
    val filtered = back.filter(col("id") > 40L).select("id", "name")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,40)"),
      s"filter not pushed to ORC scan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("score"),
      s"unused column not pruned from ORC scan:\n$plan")
    assert(filtered.count() == 10)
  }

  test("JSON-lines round-trips under a declared schema and FAILFAST rejects garbage") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    val df = Seq((1L, "a", true), (2L, "b", false)).toDF("id", "v", "flag")
    Sinks.json(df, dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("flag", BooleanType)))
    val back = Sources.json(spark, schema, dir)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // FAILFAST: a malformed line is an error, not a silent null row
    val badDir = java.nio.file.Files.createTempDirectory("graft_json_bad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(badDir, "bad.json"),
      "{\"id\": 1, \"v\": \"ok\", \"flag\": true}\nnot json at all\n".getBytes("UTF-8"))
    intercept[org.apache.spark.SparkException] {
      Sources.json(spark, schema, badDir).collect()
    }
  }
}
