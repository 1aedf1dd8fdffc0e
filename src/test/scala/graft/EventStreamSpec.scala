package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

class EventStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private val min = 60L * 1000

  /** Stage one parquet file into a stream dir with a controlled mod
    * time — the file source orders micro-batches by mod time, so each
    * staged file becomes one batch under maxFilesPerTrigger=1.
    */
  private def writeOne(rows: Seq[(Long, String, Long)], dir: java.io.File,
      name: String, mtime: Long): Unit = {
    import spark.implicits._
    val tmp = s"${dir.getAbsolutePath}/__stage_$name"
    rows.toDF("event_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(dir, name)
    Files.move(part.toPath, dst.toPath)
    dst.setLastModified(mtime)
  }

  test("streamed windowed counts equal the late-filtered batch result") {
    import spark.implicits._
    val min = 60L * 1000
    // ~3 hours of events, offset 7s from window boundaries so the final
    // watermark (max − 1h) never ties a window end exactly.
    val rows = (0 until 18).map { i =>
      (i.toLong, if (i % 2 == 0) "click" else "view", i * 10 * min + 7000)
    }
    val src = rows.toDF("event_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val dir = new java.io.File(
      Scratch.register(Files.createTempDirectory("graft_es_spec").toString))
    val pq = s"${dir.getAbsolutePath}/events_src"
    src.coalesce(1).write.parquet(pq)
    val file = new java.io.File(pq).listFiles()
      .filter(_.getName.endsWith(".parquet")).head

    val got = EventStream.windowedCounts(spark, file.getAbsolutePath)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    // batch mirror: 10-minute windows, keep only window_end <= max - 1h
    val batch = src
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .count()
      .filter(unix_millis(col("window.end")) <= 170 * min + 7000 - 60 * min)
      .select(unix_millis(col("window.start")).as("w"), col("event_type"),
        col("count"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("windowedApproxUsers: stream HLL equals the batch sketch on " +
      "closed windows (register-merge determinism)") {
    import spark.implicits._
    val rows = (0 until 180).map { i =>
      (i.toLong, (i % 7).toLong, if (i % 2 == 0) "click" else "view",
        i * min + 7000)
    }
    val src = rows.toDF("event_id", "user_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val dir = new java.io.File(Scratch.register(
      Files.createTempDirectory("graft_es_hll").toString))
    val pq = s"${dir.getAbsolutePath}/events_src"
    src.coalesce(1).write.parquet(pq)
    val file = new java.io.File(pq).listFiles()
      .filter(_.getName.endsWith(".parquet")).head

    val got = EventStream.windowedApproxUsers(spark, file.getAbsolutePath)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    // the HLL estimate is a deterministic function of the input SET —
    // micro-batch boundaries merge sketches register-wise, so the
    // stream must reproduce the batch sketch EXACTLY, not approximately
    val batch = src
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("u"))
      .filter(unix_millis(col("window.end")) <=
        179 * min + 7000 - 60 * min)
      .select(unix_millis(col("window.start")), col("event_type"), col("u"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("late data inside the watermark delay lands; beyond it is dropped") {
    import spark.implicits._
    val dir = new java.io.File(Scratch.register(
      Files.createTempDirectory("graft_es_late").toString))
    // batch 1: max ts 60:07 → eviction watermark for batch 2 = 50:07
    // (delay 10 min); [0,10) and [30,40) emit there
    writeOne(Seq(
        (0L, "click", 5 * min + 7000),
        (1L, "click", 35 * min + 7000),
        (2L, "click", 55 * min + 7000),
        (3L, "click", 60 * min + 7000)),
      dir, "b1.parquet", 1000000L)
    // batch 2: a late event at 55:07 — its [50,60) window hasn't been
    // evicted (end 60:00 > wm 50:07) → must be counted — plus a new max
    // at 120:07 pushing the final watermark to 110:07.
    writeOne(Seq(
        (4L, "click", 55 * min + 7000),
        (6L, "click", 120 * min + 7000)),
      dir, "b2.parquet", 2000000L)
    // batch 3: an event at 35:07, far below the late-event watermark
    // (Spark filters batch N's input with batch N−1's watermark —
    // 110:07 here), whose [30,40) window already emitted → must be
    // dropped, NOT re-open state and re-emit a duplicate [30,40) row.
    writeOne(Seq(
        (5L, "click", 35 * min + 7000)),
      dir, "b3.parquet", 3000000L)

    val schema = spark.read.parquet(dir.getAbsolutePath).schema
    val qn = "graft_late_spec"
    val query = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one file per micro-batch
      .parquet(dir.getAbsolutePath)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()

    val rows = spark.table(qn)
      .select(unix_millis(col("window.start")).as("w"), col("n_events"))
      .collect().map(r => (r.getLong(0) / min, r.getLong(1)))
    val got = rows.toMap
    // [50,60): base event + the accepted in-delay late arrival
    assert(got(50L) === 2L)
    // [30,40): emitted exactly once with only the on-time event — the
    // beyond-watermark arrival neither merged nor re-opened the window
    assert(rows.count(_._1 == 30L) === 1)
    assert(got(30L) === 1L)
    assert(got(0L) === 1L && got(60L) === 1L)
    // [120,130) never closes (final wm 110:07) → append emits nothing
    assert(!got.contains(120L))
  }

  test("dropDuplicatesWithinWatermark: dedups inside the horizon, re-admits after expiry") {
    // the bounded-state dedup E35 points to for unbounded key spaces:
    // state per key lives until the watermark passes its event time +
    // delay — a key recurring AFTER expiry is a new event by contract
    // (the tradeoff vs dropDuplicates' O(all distinct keys) state)
    val dir = new java.io.File(Scratch.register(
      Files.createTempDirectory("graft_es_ddww").toString))
    // all times offset +7s: the operator's late filter drops rows with
    // ts ≤ watermark, and the initial watermark is epoch 0 — a t=0 row
    // would be "late" before anything ran
    val off = 7000L
    // batch 1: key (1,click) twice within the delay → one row; key 2 once
    writeOne(Seq(
        (1L, "click", off),
        (1L, "click", 30 * min + off),
        (2L, "view", off)),
      dir, "b1.parquet", 1000000L)
    // batch 2: filler advances the watermark to 2h — both keys' state
    // (event time + 1h delay < 2h) is due for eviction
    writeOne(Seq((9L, "filler", 180 * min + off)), dir, "b2.parquet",
      2000000L)
    // batch 3: key (1,click) recurs — but state eviction runs at batch
    // END, so the expired entry still matches and this row is dropped;
    // the horizon is a lower bound on dedup, not an upper bound
    writeOne(Seq((1L, "click", 185 * min + off)), dir, "b3.parquet",
      3000000L)
    // batch 4: key (1,click) again, now against an evicted store →
    // re-admitted as a new event
    writeOne(Seq((1L, "click", 200 * min + off)), dir, "b4.parquet",
      4000000L)

    val schema = spark.read.parquet(dir.getAbsolutePath).schema
    val qn = "graft_ddww_spec"
    val query = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id", "event_type")
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()

    val got = spark.table(qn)
      .select(col("event_id"), col("event_type"), unix_millis(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // key 1: exactly ONE of the two in-horizon batch-1 rows survives
    // (which one is an intra-batch race — both are "the same event" by
    // contract), the pre-eviction recurrence is dropped, and the
    // post-eviction one is re-admitted
    val k1 = got.filter(t => t._1 == 1L).map(_._3).sorted
    assert(k1.length === 2)
    assert(Set(off, 30 * min + off).contains(k1.head))
    assert(k1.last === 200 * min + off)
    assert(got.count(t => t._1 == 2L) === 1)
  }

  test("stream-static join enriches without join state; equals batch join") {
    import spark.implicits._
    val dir = new java.io.File(Scratch.register(
      Files.createTempDirectory("graft_sst_spec").toString))
    // events for users 1, 2, 3 (user 3 has no dim row -> inner-drops);
    // spread over 3h so the watermark closes the early windows
    val rows = (0 until 18).map { i =>
      (i.toLong, (i % 3 + 1).toLong, "click", i * 10 * min + 7000)
    }
    val src = rows.toDF("event_id", "user_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val evDir = s"${dir.getAbsolutePath}/events_src"
    src.coalesce(1).write.parquet(evDir)
    val evFile = new java.io.File(evDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dimDir = s"${dir.getAbsolutePath}/dim_src"
    Seq((1L, "AUTO"), (2L, "RETAIL"))
      .toDF("c_custkey", "c_mktsegment")
      .coalesce(1).write.parquet(dimDir)

    val got = EventStream.streamStaticSegments(spark,
        evFile.getAbsolutePath, dimDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    val batch = src
      .join(Seq((1L, "AUTO"), (2L, "RETAIL")).toDF("user_id", "segment"),
        Seq("user_id"))
      .groupBy(window(col("ts"), "10 minutes"), col("segment"))
      .count()
      .filter(unix_millis(col("window.end")) <= 170 * min + 7000 - 60 * min)
      .select(unix_millis(col("window.start")).as("w"), col("segment"),
        col("count"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    assert(got === batch)
    assert(got.nonEmpty)
    // user 3's events joined nothing: no segment beyond the dim's two
    assert(got.keySet.map(_._2).subsetOf(Set("AUTO", "RETAIL")))
  }

  test("stageSplitAndRead delivers each chunk as its own micro-batch, " +
      "in event-time order") {
    import spark.implicits._
    val dir = new java.io.File(Scratch.register(
      Files.createTempDirectory("graft_split_spec").toString))
    val rows = (0 until 12).map { i =>
      (i.toLong, "click", i * 10 * min + 7000)
    }
    val src = rows.toDF("event_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val pq = s"${dir.getAbsolutePath}/events_src"
    src.coalesce(1).write.parquet(pq)
    val file = new java.io.File(pq).listFiles()
      .filter(_.getName.endsWith(".parquet")).head

    val (events, _) = graft.streaming.Staging.stageSplitAndRead(spark,
      file.getAbsolutePath, "graft_split_spec", 3)
    val batches =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val query = events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized {
          batches += id -> batch.select("event_id").collect()
            .map(_.getLong(0)).toSeq.sorted
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()

    val dataBatches = batches.filter(_._2.nonEmpty).sortBy(_._1)
    assert(dataBatches.size === 3)
    assert(dataBatches.map(_._2) === Seq(
      (0L to 3L), (4L to 7L), (8L to 11L)).map(_.toSeq))
  }

  test("left-outer interval join: null row exactly when the watermark " +
      "closes an unmatched click's horizon") {
    import spark.implicits._
    val dir = new java.io.File(Scratch.register(
      Files.createTempDirectory("graft_ssjo_spec").toString))
    // click 1 (user 1) never matches and its horizon (10 min lag)
    // closes long before the final watermark → must emit NULL-padded.
    // click 2 (user 2) matches purchase 3 five minutes later → inner
    // row. click 4 (user 3) at 600 min is unmatched but still inside
    // the watermark at end-of-input → must NOT emit (a resumed run
    // could still match it). purchase 5 (user 99, 599 min) advances
    // the purchase-side watermark; unmatched purchases never appear
    // in a LEFT outer result.
    val rows = Seq(
      (1L, 1L, "click", 10 * min),
      (2L, 2L, "click", 20 * min),
      (3L, 2L, "purchase", 25 * min),
      (4L, 3L, "click", 600 * min),
      (5L, 99L, "purchase", 599 * min))
    val src = rows.toDF("event_id", "user_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val pq = s"${dir.getAbsolutePath}/events_src"
    src.coalesce(1).write.parquet(pq)
    val file = new java.io.File(pq).listFiles()
      .filter(_.getName.endsWith(".parquet")).head

    val got = EventStream.clickAttributionOuter(spark,
        file.getAbsolutePath, chunks = 3)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got === Array(
      (1L, -1L, -1L),
      (2L, 3L, 5 * min)))
  }

  /** Write `df` as ONE parquet file and return its path — the
    * single-file source every EventStream entry point stages from.
    */
  private def oneFile(df: org.apache.spark.sql.DataFrame,
      name: String): String = {
    val dir = Scratch.register(
      Files.createTempDirectory(s"graft_es_$name").toString)
    df.coalesce(1).write.parquet(s"$dir/src")
    new java.io.File(s"$dir/src").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
  }

  /** ~4 hours of clicks and views, 7 s off every window boundary so no
    * window end ties a watermark.
    */
  private def windowFixture: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0 until 48).map { i =>
      (i.toLong, (i % 5).toLong, if (i % 3 == 0) "view" else "click",
        i * 5 * min + 7000)
    }.toDF("event_id", "user_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
  }

  /** Batch restatement of the windowed count: 10-minute windows per
    * event_type, optionally only those whose end is at or before
    * `closedBy` (the final watermark).
    */
  private def batchWindowCounts(src: org.apache.spark.sql.DataFrame,
      closedBy: Option[Long]): Map[(Long, String), Long] = {
    val all = src
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .count()
    closedBy.fold(all)(wm => all.filter(unix_millis(col("window.end")) <= wm))
      .select(unix_millis(col("window.start")), col("event_type"),
        col("count"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  private def windowMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap

  test("sessionWindowCounts (q167): closed sessions equal a batch " +
      "gaps-and-islands restatement") {
    import spark.implicits._
    // per-user event minutes; a gap of 30 min or more opens a session
    val byUser = Map(
      1L -> Seq(0L, 10L, 25L, 70L, 80L, 200L),
      2L -> Seq(5L, 60L, 89L, 118L, 150L),
      3L -> Seq(40L, 41L, 42L, 300L))
    val rows = byUser.toSeq.flatMap { case (u, ms) =>
      ms.map(m => (u, m * min + 7000 + u * 1000))
    }.zipWithIndex.map { case ((u, ms), i) => (i.toLong, u, "click", ms) }
    val src = rows.toDF("event_id", "user_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")

    val got = EventStream.sessionWindowCounts(spark, oneFile(src, "sesswin"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val gap = 30 * min
    val watermark = rows.map(_._4).max - 60 * min
    val want = rows.groupBy(_._2).toSeq.flatMap { case (u, evs) =>
      val ms = evs.map(_._4).sorted
      val sessions = ms.tail.foldLeft(List(List(ms.head))) {
        case (cur :: done, t) =>
          if (t - cur.head >= gap) List(t) :: cur :: done
          else (t :: cur) :: done
        case (Nil, t) => List(List(t))
      }
      sessions.map { s =>
        val end = s.head + gap
        assert(end != watermark, "fixture must not tie the watermark")
        (s.last, u, s.size.toLong, end)
      }
    }.filter(_._4 <= watermark).map(t => (t._1, t._2, t._3)).toSet

    assert(want.nonEmpty && want.size < rows.size)
    assert(got === want)
  }

  test("windowedCountsToParquet (q58): read-back equals the late-filtered " +
      "batch result") {
    val src = windowFixture
    val maxMs = 47 * 5 * min + 7000
    val got = windowMap(EventStream.windowedCountsToParquet(spark,
      oneFile(src, "fbsink")))
    val want = batchWindowCounts(src, Some(maxMs - 60 * min))
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("windowedCountsToParquet (q58): a stream that closes no window " +
      "returns an empty frame with the three-column schema") {
    import spark.implicits._
    // 20 minutes of events: the final watermark (max - 1 h) lies before
    // every window end, so append mode emits nothing
    val src = (0 until 5).map(i => (i.toLong, "click", i * 5 * min + 7000))
      .toDF("event_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val got = EventStream.windowedCountsToParquet(spark,
      oneFile(src, "fbsink_empty"))
    assert(got.count() === 0L)
    assert(got.schema.map(f => f.name -> f.dataType) === Seq(
      "window_start_ms" -> org.apache.spark.sql.types.LongType,
      "event_type" -> org.apache.spark.sql.types.StringType,
      "n_events" -> org.apache.spark.sql.types.LongType))
  }

  test("windowedCountsComplete (q114): equals the batch count over every " +
      "window, open ones included") {
    val src = windowFixture
    val got = windowMap(EventStream.windowedCountsComplete(spark,
      oneFile(src, "complete")))
    assert(got === batchWindowCounts(src, None))
  }

  test("windowedCountsUpdate (q122): the merged upsert over 3 micro-batches " +
      "equals the batch count over every window") {
    val src = windowFixture
    val got = windowMap(EventStream.windowedCountsUpdate(spark,
      oneFile(src, "upd"), chunks = 3))
    assert(got === batchWindowCounts(src, None))
  }

  test("Staging.toMemory returns the drained table with no query left " +
      "running") {
    val src = windowFixture
    val (events, tag) = graft.streaming.Staging.stageSplitAndRead(spark,
      oneFile(src, "tomem"), "graft_tomem_spec", chunks = 2)
    val got = graft.streaming.Staging.toMemory(
      events.select("event_id"), "append", s"graft_tomem_spec_$tag")
    assert(spark.streams.active.isEmpty)
    assert(got.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 48L))
  }

  test("streamDedup reads a one-chunk source without ts or event_id " +
      "columns: rows equal the batch distinct") {
    import spark.implicits._
    val src = (0 until 30).map(i => ((i % 4).toLong,
      if (i % 3 == 0) "view" else "click")).toDF("user_id", "event_type")
    val got = EventStream.streamDedup(spark, oneFile(src, "dedup_nots"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = src.distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(want.size === 8)
    assert(got === want)
  }
}
