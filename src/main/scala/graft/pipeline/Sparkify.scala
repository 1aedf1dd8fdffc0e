package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.ops.{Dedup, TimeOps}

/** The reference's full capability surface — the Sparkify star schema —
  * re-expressed Spark-first (reference `etl.py:34–175`). Four dimension
  * tables (songs, artists, users, time) and one fact table (songplays)
  * from two JSON inputs, written as partitioned parquet.
  *
  * Divergences from the literal reference, all *intended-semantics* fixes
  * documented in SURVEY §1.2/§2.1/§2.4/§2.8:
  *  - song schema includes `song_id` (the declared schema omits it but
  *    `etl.py:65` selects it);
  *  - the natural `song_id` is preserved — the reference overwrites it
  *    with `monotonically_increasing_id()` *after* deduping on it
  *    (`etl.py:69–70`), which breaks the songs↔songplays FK;
  *  - the songplays SQL reads `start_time`, not the nonexistent
  *    `ld.timestamp` (`etl.py:154`);
  *  - users dedup is deterministic "latest level by ts" instead of an
  *    arbitrary row (`etl.py:116`);
  *  - shared scans are cached at fan-out points (the reference re-reads
  *    and re-parses JSON for every sink — SURVEY §4).
  *
  * Scale posture: both inputs are scanned once and cached; every dedup is
  * one hash shuffle on its key; the songplays join broadcasts the song
  * catalog when small (Catalyst decides; the projected catalog is 5
  * columns), else sort-merge on the composite key; all sinks are
  * dynamic-partition parquet writes, so downstream reads prune on
  * year/month (or year/artist_id) directories. The five sinks are
  * independent (no sink reads another's output) and run concurrently:
  * they share only the two cached scans, whose partitions the block
  * manager still computes once, and a small table's one-task write (the
  * songs sink) overlaps the other sinks' jobs instead of leaving the
  * other cores idle.
  */
object Sparkify {

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()

  def readSongs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.song).option("mode", "PERMISSIVE").json(path)

  def readLogs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.logEvent).json(path)

  /** songs dim (`etl.py:65–74`): one row per song_id. */
  def songsTable(songData: DataFrame): DataFrame =
    Dedup.firstBy(
      songData.select("song_id", "title", "artist_id", "year", "duration"),
      Seq("song_id"), Seq(col("title").asc))

  /** artists dim (`etl.py:78–86`): one row per artist_id. */
  def artistsTable(songData: DataFrame): DataFrame =
    Dedup.firstBy(
      songData.select(
        col("artist_id"), col("artist_name"), col("artist_location"),
        col("artist_latitude"), col("artist_longitude")),
      Seq("artist_id"), Seq(col("artist_name").asc))

  /** Only song-play events feed users/time/songplays (`etl.py:109`). */
  def nextSongEvents(logData: DataFrame): DataFrame =
    logData.filter(col("page") === "NextSong")

  /** users dim (`etl.py:112–120`): camelCase→snake_case rename + latest
    * row per user (the reference keeps an arbitrary `level`).
    */
  def usersTable(logData: DataFrame): DataFrame =
    Dedup.firstBy(nextSongEvents(logData), Seq("userId"),
        Seq(col("ts").desc, col("sessionId").desc, col("itemInSession").desc))
      .selectExpr("userId as user_id", "firstName as first_name",
        "lastName as last_name", "gender", "level")

  /** time dim (`etl.py:124–140`): epoch-ms → timestamp → calendar fields,
    * one row per start_time. Replaces the reference's Python UDF with
    * `timestamp_millis` (sub-second precision preserved; SURVEY §2.7 U1).
    */
  def timeTable(logData: DataFrame): DataFrame = {
    val withTs = nextSongEvents(logData)
      .withColumn("start_time", TimeOps.fromEpochMillis(col("ts")))
    TimeOps.withCalendarFields(withTs, "start_time")
      .select("ts", "start_time", "hour", "day", "week", "month", "year",
        "weekday")
      .dropDuplicates("start_time")
  }

  /** songplays fact (`etl.py:144–174`): the 3-column composite-key inner
    * equi-join, one leg on exact double equality (`length = duration` —
    * preserved bit-for-bit, never tolerance-matched; SURVEY §2.3 J1).
    * Expressed through the SQL surface over temp views for parity with
    * the reference (`etl.py:149–169`), named per call (`log_data_<n>`,
    * `song_data_<n>`) and dropped once the query is analyzed;
    * `songplay_id` is a deterministic surrogate key instead of
    * `monotonically_increasing_id()`, assigned by [[graft.ops.DenseId]]
    * in (ts, session_id, item_in_session) order — the fact table is the LARGEST table this pipeline writes,
    * so the id must NOT funnel through a single-task global
    * `row_number()` window (the q06-vs-q06b distinction: same dense
    * deterministic ids, range-partitioned count-then-offset assignment
    * instead of one task holding every row).
    */
  def songplaysTable(spark: SparkSession, songData: DataFrame, logData: DataFrame): DataFrame = {
    // per-call view names: temp views are session-global, so concurrent
    // calls on one session would otherwise swap each other's inputs
    val n = viewSeq.incrementAndGet()
    val (logView, songView) = (s"log_data_$n", s"song_data_$n")
    nextSongEvents(logData)
      .withColumn("start_time", TimeOps.fromEpochMillis(col("ts")))
      .createOrReplaceTempView(logView)
    songData.createOrReplaceTempView(songView)
    // spark.sql analyzes eagerly, so the views can go once it returns;
    // dropped from the session catalog, because Catalog.dropTempView
    // would also uncache the caller's cached songData
    val joined = try spark.sql(s"""
      SELECT ld.ts            AS __ts,
             ld.itemInSession AS __item,
             ld.start_time,
             year(ld.start_time)  AS year,
             month(ld.start_time) AS month,
             ld.userId    AS user_id,
             ld.level     AS level,
             sd.song_id   AS song_id,
             sd.artist_id AS artist_id,
             ld.sessionId AS session_id,
             ld.location  AS location,
             ld.userAgent AS user_agent
      FROM $logView ld
      JOIN $songView sd
        ON ld.song = sd.title
       AND ld.length = sd.duration
       AND ld.artist = sd.artist_name""")
    finally Seq(logView, songView).foreach(spark.sessionState.catalog.dropTempView)
    graft.ops.DenseId.withDenseId(joined, "songplay_id",
        col("__ts"), col("session_id"), col("__item"))
      .select("songplay_id", "start_time", "year", "month", "user_id",
        "level", "song_id", "artist_id", "session_id", "location",
        "user_agent")
  }

  /** Full pipeline: read both inputs once, cache at the fan-out points,
    * write all five tables with the reference's partition layouts
    * (`etl.py:74,86,120,139,173`). The five sinks run at the same time
    * (`graft.Parallel.all`), each labelled `sparkify: <table>` in its
    * jobs' description; every sink runs to its end even when another
    * fails, and the first failure is rethrown.
    */
  def run(spark: SparkSession, songPath: String, logPath: String, outDir: String): Unit = {
    val songs = readSongs(spark, songPath).cache()
    val logs = readLogs(spark, logPath).cache()
    // Each table is built inside its sink's thread: songplaysTable runs
    // DenseId's jobs when it is called.
    def sink(table: String, partitionCols: String*)(df: => DataFrame): () => Unit =
      () => {
        spark.sparkContext.setJobDescription(s"sparkify: $table")
        df.write.mode("overwrite").partitionBy(partitionCols: _*)
          .parquet(s"$outDir/$table")
      }
    try graft.Parallel.all(Seq(
      sink("songs", "year", "artist_id")(songsTable(songs)),
      sink("artists")(artistsTable(songs)),
      sink("users")(usersTable(logs)),
      sink("time", "year", "month")(timeTable(logs)),
      sink("songplays", "year", "month")(songplaysTable(spark, songs, logs))))
    finally {
      songs.unpersist(); logs.unpersist()
    }
  }
}
