package graft

import java.nio.file.Files

import org.apache.hadoop.fs.ParentNotDirectoryException
import org.apache.spark.JobLog
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Sparkify

/** End-to-end star-schema pipeline test (SURVEY §5.4) on the reference's
  * golden records (FIXTURES.md §A) plus synthetic variations.
  */
class SparkifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  // Golden song record (README.md:22-24) + a second song.
  private val songJson = Seq(
    """{"num_songs": 1, "artist_id": "ARJIE2Y1187B994AB7", "artist_latitude": null, "artist_longitude": null, "artist_location": "", "artist_name": "Line Renaud", "song_id": "SOUPIRU12A6D4FA1E1", "title": "Der Kleine Dompfaff", "duration": 152.92036, "year": 0}""",
    """{"num_songs": 1, "artist_id": "AR0000000000000001", "artist_latitude": 35.1, "artist_longitude": -90.0, "artist_location": "Memphis", "artist_name": "Test Artist", "song_id": "SO0000000000000001", "title": "Test Song", "duration": 200.5, "year": 2001}""")

  // Golden log record (README.md:32-34, trimmed) + a matching NextSong
  // play for the golden song, + a non-NextSong event that must be
  // filtered, + a later event for the same user with a level change.
  private val logJson = Seq(
    """{"artist": "Line Renaud", "auth": "Logged In", "firstName": "Lily", "gender": "F", "itemInSession": 0, "lastName": "Koch", "length": 152.92036, "level": "free", "location": "Chicago", "method": "PUT", "page": "NextSong", "registration": 1.541048010796E12, "sessionId": 818, "song": "Der Kleine Dompfaff", "status": 200, "ts": 1542837407796, "userAgent": "ua", "userId": "15"}""",
    """{"artist": null, "auth": "Logged In", "firstName": "Lily", "gender": "F", "itemInSession": 1, "lastName": "Koch", "length": null, "level": "free", "location": "Chicago", "method": "GET", "page": "Home", "registration": 1.541048010796E12, "sessionId": 818, "song": null, "status": 200, "ts": 1542837500000, "userAgent": "ua", "userId": "15"}""",
    """{"artist": "Test Artist", "auth": "Logged In", "firstName": "Lily", "gender": "F", "itemInSession": 2, "lastName": "Koch", "length": 200.5, "level": "paid", "location": "Chicago", "method": "PUT", "page": "NextSong", "registration": 1.541048010796E12, "sessionId": 819, "song": "Test Song", "status": 200, "ts": 1542837600000, "userAgent": "ua", "userId": "15"}""")

  private def inputs(prefix: String, songs: Seq[String] = songJson,
      logs: Seq[String] = logJson): String = {
    val dir = Scratch.register(
      Files.createTempDirectory(prefix).toFile.getAbsolutePath)
    Files.write(java.nio.file.Paths.get(s"$dir/songs.json"),
      songs.mkString("\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$dir/logs.json"),
      logs.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("full pipeline: star schema, FK integrity, partition layout") {
    val dir = inputs("graft_sparkify")

    Sparkify.run(spark, s"$dir/songs.json", s"$dir/logs.json", s"$dir/out")

    val songs = spark.read.parquet(s"$dir/out/songs")
    val artists = spark.read.parquet(s"$dir/out/artists")
    val users = spark.read.parquet(s"$dir/out/users")
    val time = spark.read.parquet(s"$dir/out/time")
    val songplays = spark.read.parquet(s"$dir/out/songplays")

    assert(songs.count() === 2)
    assert(artists.count() === 2)
    assert(users.count() === 1)
    // level is the LATEST by ts (paid), not an arbitrary pick
    assert(users.head().getAs[String]("level") === "paid")
    // only NextSong events feed time/songplays
    assert(time.count() === 2)
    assert(songplays.count() === 2)

    // FK integrity: songplays.song_id ⊆ songs.song_id — the invariant
    // the reference breaks by overwriting song_id (SURVEY §2.4)
    val fk = songplays.join(songs.select("song_id"), Seq("song_id"), "left_anti")
    assert(fk.count() === 0)

    // reference partition layout: songplays/year=…/month=…
    val partDirs = new java.io.File(s"$dir/out/songplays").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(partDirs.exists(_.startsWith("year=")))
    // time table keeps the raw ts column alongside start_time (parity)
    assert(time.columns.contains("ts"))
  }

  test("every job of a run carries its sink's description, one per table") {
    val dir = inputs("graft_sparkify_labels")
    val (_, jobs) = JobLog.of(spark.sparkContext)(
      Sparkify.run(spark, s"$dir/songs.json", s"$dir/logs.json", s"$dir/out"))
    val labels = jobs.map(_.prop("spark.job.description"))
    assert(labels.forall(_.exists(_.startsWith("sparkify: "))), labels)
    assert(labels.flatten.toSet ===
      Set("songs", "artists", "users", "time", "songplays")
        .map(t => s"sparkify: $t"))
  }

  test("a failing run attempts every sink, rethrows, and leaves no thread") {
    val dir = inputs("graft_sparkify_fail")
    val file = s"$dir/not_a_dir"
    Files.write(java.nio.file.Paths.get(file), Array[Byte](1))
    def sinkThreads(): Set[Thread] = Thread.getAllStackTraces.keySet
      .toArray(Array.empty[Thread])
      .filter(_.getName.startsWith("graft-parallel-")).toSet
    val before = sinkThreads()
    // the output root is under a regular file, so all five sinks fail
    val e = intercept[ParentNotDirectoryException](
      Sparkify.run(spark, s"$dir/songs.json", s"$dir/logs.json", s"$file/out"))
    // (Spark attaches a stack-trace marker of its own as suppressed)
    assert(e.getSuppressed.count(_.isInstanceOf[ParentNotDirectoryException]) === 4)
    assert((sinkThreads() -- before).isEmpty)
  }

  test("songplay_id is dense 1..N in (ts, session, item) order with " +
      "NO single-task global window (the DenseId scalable form)") {
    val dir = inputs("graft_sparkify_id")
    val songs = Sparkify.readSongs(spark, s"$dir/songs.json")
    val logs = Sparkify.readLogs(spark, s"$dir/logs.json")
    val sp = Sparkify.songplaysTable(spark, songs, logs)
    // the fact table is the pipeline's largest output: its surrogate
    // key must never plan a global Window (one task holding all rows)
    assert(!sp.queryExecution.executedPlan.toString.contains("Window"),
      "songplay_id must use the DenseId count-then-offset form")
    val rows = sp.orderBy("songplay_id")
      .select("songplay_id", "session_id").collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length))
    // ts order: session 818's play precedes session 819's
    assert(rows.head.getLong(1) === 818L)
  }

  test("songplaysTable leaves no view behind, keeps the caller's cache, " +
      "and concurrent calls each join their own inputs") {
    val dirA = inputs("graft_sparkify_views_a")
    val songs = Sparkify.readSongs(spark, s"$dirA/songs.json").cache()
    val logs = Sparkify.readLogs(spark, s"$dirA/logs.json")
    Sparkify.songplaysTable(spark, songs, logs)
    val views = spark.catalog.listTables().collect().map(_.name)
    assert(!views.exists(v => v.startsWith("log_data") ||
      v.startsWith("song_data")), views.toSeq)
    assert(songs.storageLevel.useMemory)
    songs.unpersist()

    // a second catalog with its own song, played once
    val dirB = inputs("graft_sparkify_views_b",
      Seq("""{"num_songs": 1, "artist_id": "AR0000000000000002", "artist_latitude": null, "artist_longitude": null, "artist_location": "", "artist_name": "Other Artist", "song_id": "SO0000000000000002", "title": "Other Song", "duration": 99.25, "year": 1999}"""),
      Seq("""{"artist": "Other Artist", "auth": "Logged In", "firstName": "Max", "gender": "M", "itemInSession": 0, "lastName": "Roe", "length": 99.25, "level": "free", "location": "Boston", "method": "PUT", "page": "NextSong", "registration": 1.541048010796E12, "sessionId": 900, "song": "Other Song", "status": 200, "ts": 1542837700000, "userAgent": "ua", "userId": "16"}"""))
    def songIds(dir: String): () => Set[String] = () =>
      Sparkify.songplaysTable(spark,
          Sparkify.readSongs(spark, s"$dir/songs.json"),
          Sparkify.readLogs(spark, s"$dir/logs.json"))
        .collect().map(_.getAs[String]("song_id")).toSet
    for (_ <- 1 to 4)
      assert(Parallel.all(Seq(songIds(dirA), songIds(dirB))) === Seq(
        Set("SOUPIRU12A6D4FA1E1", "SO0000000000000001"),
        Set("SO0000000000000002")))
  }

  test("S2 literal form: schema inference over logs matches Schemas.logEvent") {
    // the reference infers the log schema (`etl.py:105`); the engine
    // declares it, but the inference pass must produce the SAME types
    // on real data or the declared schema is a guess — notably userId
    // stays a STRING (it holds "" for anonymous events) and ts a LONG
    val dir = Scratch.register(
      Files.createTempDirectory("graft_infer").toFile.getAbsolutePath)
    Files.write(java.nio.file.Paths.get(s"$dir/logs.json"),
      logJson.mkString("\n").getBytes("UTF-8"))
    val inferred = spark.read.json(s"$dir/logs.json").schema
    val declared = graft.model.Schemas.logEvent
    // compare by (name → type), nullability-insensitive: inference
    // always yields nullable fields, and order follows file layout
    val inferredTypes = inferred.fields.map(f => f.name -> f.dataType).toMap
    val declaredTypes = declared.fields.map(f => f.name -> f.dataType).toMap
    assert(inferredTypes === declaredTypes)
  }

  test("PERMISSIVE song reads null out malformed records instead of failing") {
    val dir = Scratch.register(
      Files.createTempDirectory("graft_permissive").toFile.getAbsolutePath)
    Files.write(java.nio.file.Paths.get(s"$dir/songs.json"),
      (songJson :+ """{"song_id": "SOBROKEN000000001", "duration": "not-a-number"}"""
        :+ """this is not json at all""")
        .mkString("\n").getBytes("UTF-8"))
    val df = Sparkify.readSongs(spark, s"$dir/songs.json")
    // all 4 lines become rows (reference `etl.py:61` mode='PERMISSIVE');
    // malformed fields/records are null, the job does not fail
    assert(df.count() === 4)
    assert(df.filter(col("song_id") === "SOBROKEN000000001").count() === 1)
    assert(df.filter(col("song_id").isNull).count() === 1)
  }
}
