package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Source readers with declared schemas — no runtime inference on
  * production paths (the reference re-infers CSV dtypes at every stage,
  * its weakest point; see SURVEY.md §1.2).
  *
  * CSV option semantics mirror the reference's Redshift COPY options
  * (`/root/reference/dags/music_streaming_etl_dags.py:83-92`):
  * MAXERROR 0 → FAILFAST, BLANKSASNULL/EMPTYASNULL → nullValue "",
  * IGNOREHEADER 1 → header true, TIMEFORMAT auto → timestampFormat default.
  */
object Sources {

  /** users — reference DDL `/root/reference/sql/create_tables.sql:4-10`. */
  val usersSchema: StructType = StructType(Seq(
    StructField("user_id", IntegerType, nullable = false),
    StructField("user_name", StringType),
    StructField("user_age", IntegerType),
    StructField("user_country", StringType),
    StructField("created_at", DateType)))

  /** songs — reference DDL `/root/reference/sql/create_tables.sql:15-52`
    * (Spotify-tracks shape; CSV column `key` arrives renamed `song_key`,
    * see [[renameColumns]]). */
  val songsSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("track_id", StringType),
    StructField("artists", StringType),
    StructField("album_name", StringType),
    StructField("track_name", StringType),
    StructField("popularity", IntegerType),
    StructField("duration_ms", IntegerType),
    StructField("explicit", BooleanType),
    StructField("danceability", DoubleType),
    StructField("energy", DoubleType),
    StructField("song_key", IntegerType),
    StructField("loudness", DoubleType),
    StructField("mode", IntegerType),
    StructField("speechiness", DoubleType),
    StructField("acousticness", DoubleType),
    StructField("instrumentalness", DoubleType),
    StructField("liveness", DoubleType),
    StructField("valence", DoubleType),
    StructField("tempo", DoubleType),
    StructField("time_signature", IntegerType),
    StructField("track_genre", StringType)))

  /** streams — header `/root/reference/data/streams/streams1.csv:1`,
    * timestamp parse at `dags/music_streaming_etl_dags.py:118`. */
  val streamsSchema: StructType = StructType(Seq(
    StructField("user_id", IntegerType),
    StructField("track_id", StringType),
    StructField("listen_time", TimestampType)))

  /** Strict CSV read: declared schema, FAILFAST on malformed rows
    * (COPY MAXERROR 0), empty string → NULL (BLANKSASNULL/EMPTYASNULL).
    * `paths` may be a glob or many shard paths — the multi-file union is
    * the engine-native form of the reference's concat of 3 S3 objects
    * (U1, `dags/music_streaming_etl_dags.py:113-120`). */
  def csv(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "FAILFAST")
      .option("nullValue", "")
      .schema(schema)
      .csv(paths: _*)

  /** Permissive dev-convenience variant (schema inference): NOT for
    * production paths. */
  def csvInferred(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(paths: _*)

  /** Quarantining CSV read — the third failure policy, between FAILFAST
    * (one bad row kills a 100 TB load) and silent PERMISSIVE (bad rows
    * become nulls and vanish): malformed lines are routed to
    * `quarantineDir` as raw text for later triage/replay, clean rows flow
    * on with the declared schema. Returns the clean rows.
    *
    * The `.cache()` is REQUIRED, not an optimization: Spark refuses
    * filters on the internal corrupt-record column over a lazy CSV scan
    * (the parser would have to run twice with diverging results), so the
    * parsed batch is pinned before the two filters split it. Size the
    * batch (one partition/day/shard per call) accordingly, and release the
    * pin with `spark.catalog.clearCache()` (or sink the returned frame and
    * drop it) once the load lands — the pinned parse otherwise lives for
    * the session. */
  def csvQuarantine(spark: SparkSession, schema: StructType,
      quarantineDir: String, paths: String*): DataFrame = {
    val corrupt = "_graft_corrupt"
    val parsed = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .option("nullValue", "")
      .schema(schema.add(corrupt, StringType))
      .csv(paths: _*)
      .cache()
    parsed.filter(col(corrupt).isNotNull)
      .select(col(corrupt))
      .write.mode(SaveMode.Append).text(quarantineDir)
    parsed.filter(col(corrupt).isNull).drop(corrupt)
  }

  def parquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.parquet(paths: _*)

  /** Strict JSON-lines read: declared schema (inference would scan the
    * data twice — never at 100 TB), FAILFAST on malformed records. Glob /
    * multi-path like [[csv]]. */
  def json(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .option("mode", "FAILFAST")
      .schema(schema)
      .json(paths: _*)

  /** ORC read — columnar like parquet: filter pushdown and column pruning
    * reach the scan the same way. */
  def orc(spark: SparkSession, paths: String*): DataFrame =
    spark.read.orc(paths: _*)

  /** Rename source columns to warehouse names (reference: CSV `key` →
    * DB `song_key`, `sql/load_data_into_rds.ipynb` column_mappings). */
  def renameColumns(df: DataFrame, mapping: (String, String)*): DataFrame =
    mapping.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  def users(spark: SparkSession, path: String): DataFrame = csv(spark, usersSchema, path)
  def songs(spark: SparkSession, path: String): DataFrame = csv(spark, songsSchema, path)
  /** The shard glob is expanded here, on the driver: handed a literal
    * glob, the reader probes it for a streaming-sink metadata directory and
    * logs that probe's FileNotFoundException on every run. */
  def streams(spark: SparkSession, paths: String*): DataFrame =
    csv(spark, streamsSchema, expandGlobs(spark, paths): _*)

  /** Each path's matches (Hadoop `globStatus`, sorted); a path that matches
    * nothing is kept as given, so the read fails on it as it would have. */
  private def expandGlobs(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.flatMap { p =>
      val path = new Path(p)
      Option(path.getFileSystem(conf).globStatus(path)).filter(_.nonEmpty)
        .fold(Seq(p))(_.toSeq.map(_.getPath.toString))
    }
  }

  // ---- JDBC relational source (reference S1/S2: Postgres extract at
  // `/root/reference/dags/music_streaming_etl_dags.py:96-102`, queries
  // `:55-63`) ----
  //
  // Spark's JDBC source pushes filter predicates and column pruning into
  // the database's SQL (visible as `PushedFilters` on the scan node —
  // asserted against embedded Derby in IoSpec), so a filtered extract
  // ships only matching rows over the wire, like the reference's
  // WHERE-bearing extract queries.

  /** Single-partition JDBC table read. Fine for dimension-sized tables;
    * for anything fact-sized use [[jdbcPartitioned]] — one JDBC connection
    * otherwise serializes the whole extract through a single task. */
  def jdbc(spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame =
    options.foldLeft(
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
      ) { case (r, (k, v)) => r.option(k, v) }
      .load()

  /** Parallel JDBC extract: `numPartitions` ranged queries over a numeric
    * `partitionColumn` (each task reads `[lower, upper)` slices). This is
    * the 100 TB-shaped extract — per-partition connections, and each
    * ranged WHERE composes with pushed-down filters on the DB side. */
  def jdbcPartitioned(spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, options: Map[String, String] = Map.empty): DataFrame =
    options.foldLeft(
        spark.read.format("jdbc")
          .option("url", url)
          .option("dbtable", table)
          .option("partitionColumn", partitionColumn)
          .option("lowerBound", lowerBound.toString)
          .option("upperBound", upperBound.toString)
          .option("numPartitions", numPartitions.toString)
      ) { case (r, (k, v)) => r.option(k, v) }
      .load()

  /** Whole-query pushdown: the query executes IN the database and Spark
    * reads only its result — the engine-native form of the reference's
    * DB-side validation aggregates (A3, `dags/music_streaming_etl_dags
    * .py:65-80`, executed `:130`,`:141`). Use for small aggregate results,
    * not bulk extract (single partition). */
  def jdbcQuery(spark: SparkSession, url: String, query: String,
      options: Map[String, String] = Map.empty): DataFrame =
    options.foldLeft(
        spark.read.format("jdbc").option("url", url).option("query", query)
      ) { case (r, (k, v)) => r.option(k, v) }
      .load()
}
