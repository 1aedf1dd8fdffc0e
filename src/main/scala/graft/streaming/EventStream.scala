package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface (SURVEY §2.10 — extension beyond the
  * batch-only reference): file-source stream → event-time tumbling-window
  * aggregation with a watermark → sink.
  *
  * Semantics: 10-minute tumbling windows on event time, watermark
  * `delay` behind the max observed event time. In *append* mode a window
  * emits exactly once, when the watermark passes its end — so late data
  * within the delay still lands, and state for closed windows is dropped
  * (bounded state at 100 TB/day: state size is O(open windows × groups),
  * not O(stream)).
  *
  * The batch equivalence this is verified against: windows whose end ≤
  * final watermark, i.e. `GROUP BY time_bucket(10 min, ts)` filtered to
  * buckets closed before max(ts) − delay. That equivalence (stream
  * result ≡ late-filtered batch result) is the standard streaming
  * correctness statement, and is what the DuckDB oracle replays.
  */
object EventStream {

  /** Shared scaffold for the three windowed-aggregation output-mode
    * variants: stage → (optional watermark) → window×event_type
    * groupBy → memory sink in `mode` → run to completion → project
    * (window_start_ms, event_type, <agg>) ordered. One copy, so a fix
    * to the mechanics (staging, the window-start projection) cannot
    * silently miss a variant.
    */
  private def windowedToMemory(spark: SparkSession, srcParquet: String,
      prefix: String, window: String, watermark: Option[String],
      mode: String, agg: org.apache.spark.sql.Column): DataFrame =
      Staging.withStreamShufflePartitions(spark) {
    val (events, tag) = Staging.stageSplitAndRead(spark, srcParquet,
      s"${prefix}_in", chunks = 1)
    val watermarked = watermark.fold(events)(d => events.withWatermark("ts", d))
    val sunk = Staging.toMemory(watermarked
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(agg), mode, s"${prefix}_$tag")
    val aggName = sunk.columns(2)
    sunk.select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col(aggName))
      .orderBy("window_start_ms", "event_type")
  }

  /** Windowed counts per event_type over a parquet-file stream, run to
    * completion ([[Staging.toMemory]]).
    */
  def windowedCounts(spark: SparkSession, srcParquet: String,
      window: String = "10 minutes",
      delay: String = "1 hour"): DataFrame =
    windowedToMemory(spark, srcParquet, "graft_stream", window,
      Some(delay), "append", count(lit(1)).as("n_events"))

  /** Native session windows in streaming mode (q167): Spark's built-in
    * `session_window` under a watermark — the declarative counterpart
    * of the custom `flatMapGroupsWithState` sessionizer (q35): state
    * handling, merging of adjacent windows, and emission-on-close all
    * come from the engine. Append mode ⇒ only sessions whose end
    * (last event + gap) fell behind the final watermark emit, so the
    * result ≡ the batch gaps-and-islands sessionization restricted to
    * sessions closed before max(ts) − delay — which is what the
    * oracle replays (with the same ≥-gap break rule as q83's batch
    * form). State per key is the open session only: bounded by the
    * gap horizon, not the stream.
    */
  def sessionWindowCounts(spark: SparkSession, srcParquet: String,
      gap: String = "30 minutes",
      delay: String = "1 hour"): DataFrame =
      Staging.withStreamShufflePartitions(spark) {
    val (events, tag) = Staging.stageSplitAndRead(spark, srcParquet,
      "graft_sesswin_in", chunks = 1)
    Staging.toMemory(events
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events")), "append", s"graft_sesswin_$tag")
      .select(unix_millis(col("session_window.start"))
          .as("session_start_ms"),
        col("user_id"), col("n_events"))
      .orderBy("session_start_ms", "user_id")
  }

  /** Stream-stream interval join (the remaining first-class Structured
    * Streaming operator): click→purchase attribution — every purchase
    * within `lag` after a click by the same user. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can size the join state to the interval: state per side is
    * O(events inside the watermark+lag horizon), not O(stream). Inner
    * join, so matches emit as both sides arrive; the watermark only
    * bounds state retention — with all input in one run the result
    * equals the batch join, which is what the oracle replays.
    */
  def clickAttribution(spark: SparkSession, srcParquet: String,
      lag: String = "10 minutes",
      delay: String = "30 minutes"): DataFrame =
      Staging.withStreamShufflePartitions(spark) {
    val (events, tag) = Staging.stageSplitAndRead(spark, srcParquet,
      "graft_ssj_in", chunks = 1)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", delay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", delay)
    Staging.toMemory(clicks
      .join(purchases, expr(
        s"""c_user = p_user AND p_ts >= c_ts
           |AND p_ts <= c_ts + interval $lag""".stripMargin))
      .select(col("click_id"), col("purchase_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("c_ts"))).as("lag_ms")),
      "append", s"graft_ssj_$tag")
      .orderBy("click_id", "purchase_id")
  }

  /** The same windowed aggregation as [[windowedCounts]], delivered
    * through a `foreachBatch` parquet sink instead of the memory sink —
    * the production streaming-write pattern. The sink IS idempotent:
    * each micro-batch overwrites its own `batch-<batchId>` directory, so
    * a retried/re-executed batch replaces its previous output instead of
    * appending duplicates. The result is the read-back of all batch
    * directories. Same batch-equivalence oracle as q31 — the sink must
    * not change the data.
    */
  def windowedCountsToParquet(spark: SparkSession, srcParquet: String,
      window: String = "10 minutes",
      delay: String = "1 hour"): DataFrame =
      Staging.withStreamShufflePartitions(spark) {
    val (events, tag) = Staging.stageSplitAndRead(spark, srcParquet,
      "graft_fbsink_in", chunks = 1)
    val tmp = System.getProperty("java.io.tmpdir")
    val outDir = graft.Scratch.register(s"$tmp/graft_fbsink_out_$tag")
    Staging.foldEach(windowCounts(events, window, delay),
        graft.Scratch.register(s"$tmp/graft_fbsink_ck_$tag")) {
      (batch, batchId) =>
        // overwrite keyed on batchId = idempotence under micro-batch
        // retry (Structured Streaming replays a batch with the same id
        // and the same data after a failure)
        batch.write.mode("overwrite").parquet(s"$outDir/batch-$batchId")
    }
    // a stream whose event-time span closes no window writes no batch
    // (foldEach skips empty batches) → no directory exists; the
    // batch equivalence demands an empty result, not a read failure.
    // Existence is checked through the session's Hadoop filesystem —
    // the SAME resolution the writer used — not java.io.File, which
    // would silently report "empty" for any non-local default FS
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(outPath))
      // per-batch subdirectories are not partition dirs — recurse
      spark.read.option("recursiveFileLookup", "true").parquet(outDir)
        .orderBy("window_start_ms", "event_type")
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "window_start_ms BIGINT, event_type STRING, n_events BIGINT"))
  }

  /** Streaming exact dedup: distinct (user_id, event_type) pairs over
    * the stream via stateful `dropDuplicates` — each key's first arrival
    * passes, the rest are dropped across micro-batches. Projecting to
    * exactly the key columns makes the result deterministic (no
    * arbitrary carried row). State here is O(distinct keys); with event-
    * time bounds, `dropDuplicatesWithinWatermark` caps it for unbounded
    * key spaces.
    */
  def streamDedup(spark: SparkSession, srcParquet: String): DataFrame =
      Staging.withStreamShufflePartitions(spark) {
    val (events, tag) = Staging.stageSplitAndRead(spark, srcParquet,
      "graft_dedup_in", chunks = 1)
    Staging.toMemory(events
      .select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type"),
      "append", s"graft_dedup_$tag")
      .orderBy("user_id", "event_type")
  }

  /** Complete-mode windowed aggregation — the third output mode,
    * closing the append (windowedCounts) / update-style (foreachBatch)
    * / complete surface: every trigger re-emits the ENTIRE result
    * table and the memory sink REPLACES its contents, so the final
    * table equals the batch aggregation over everything seen —
    * including still-open windows, which append mode by contract never
    * shows. This is the live-dashboard / streaming-top-N pattern, and
    * it is also why no watermark is set: complete mode cannot drop
    * state (re-emitting the full table needs all of it), so its state
    * is O(all windows) BY DESIGN — use it only where the group space
    * is bounded (dashboard cardinalities), never for unbounded keys at
    * 100 TB/day; that regime belongs to append + watermark.
    */
  def windowedCountsComplete(spark: SparkSession, srcParquet: String,
      window: String = "10 minutes"): DataFrame =
    windowedToMemory(spark, srcParquet, "graft_complete", window,
      None, "complete", count(lit(1)).as("n_events"))

  /** Update-mode windowed aggregation through a foreachBatch UPSERT —
    * the fourth delivery shape, completing append (windowedCounts) /
    * foreachBatch-append (windowedCountsToParquet) / complete
    * (windowedCountsComplete): each trigger emits only the rows whose
    * aggregate CHANGED in that batch, and the sink merges by key — the
    * KV-store/OLTP-serving pattern (complete re-ships the world;
    * update ships deltas). State is watermark-bounded like append, but
    * results for a window appear (and re-appear, revised) while the
    * window is still OPEN — so the merged table equals the batch
    * group-by over everything, open windows included, which is the
    * equivalence the oracle replays.
    *
    * The upsert is modeled exactly as a KV sink would behave: each
    * micro-batch writes its changed rows tagged with batchId
    * (idempotent per-batch overwrite, the q58 discipline), and the
    * read-back keeps the LATEST batch's value per key via one
    * `max(struct(batch_id, value))` partial-aggregated shuffle — no
    * window, no per-key sort. Runs over [[Staging.foldStaged]]
    * multi-batch staging: with one batch, update-mode semantics are
    * unobservable (every row is trivially "changed once").
    */
  def windowedCountsUpdate(spark: SparkSession, srcParquet: String,
      window: String = "10 minutes", delay: String = "1 hour",
      chunks: Int = 3): DataFrame =
    // foldStaged's 4 shuffle partitions are sized to state (windows ×
    // types, thousands of keys): each micro-batch commits one store per
    // partition, and this query multiplies that by `chunks` batches
    Staging.foldStaged(spark, srcParquet, "upd", chunks) {
      (events, outDir, checkpoint) =>
        Staging.foldEach(windowCounts(events, window, delay), checkpoint,
            "update") { (batch, batchId) =>
          batch.withColumn("__batch_id", lit(batchId))
            .write.mode("overwrite").parquet(s"$outDir/batch-$batchId")
        }
    } { outDir =>
      spark.read.option("recursiveFileLookup", "true").parquet(outDir)
        .groupBy("window_start_ms", "event_type")
        .agg(max(struct(col("__batch_id"), col("n_events")))
          .getField("n_events").as("n_events"))
        .orderBy("window_start_ms", "event_type")
    }

  /** (window_start_ms, event_type, n_events) per `window` under a
    * `delay` watermark: what the two `foreachBatch` sinks
    * ([[windowedCountsToParquet]], [[windowedCountsUpdate]]) write.
    */
  private def windowCounts(events: DataFrame, window: String,
      delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_events"))

  /** LEFT OUTER stream-stream interval join — the semantics
    * [[clickAttribution]]'s inner form cannot express: every click
    * appears, matched purchases as they arrive, and a NULL-padded row
    * for a click once the watermark proves no purchase can still join
    * it (purchases arrive ≤ `lag` after the click, so when the
    * watermark passes c_ts + lag the engine can close the click).
    * That proof-of-absence is what makes outer emission correct at
    * 100 TB/day with bounded state — the row emits exactly when the
    * state for it is reclaimed, never by timeout guesswork.
    *
    * Runs over multi-batch staging so the watermark actually advances
    * mid-stream: clicks whose horizon closes before the FINAL
    * watermark emit their null rows; clicks still inside it at
    * end-of-input stay unemitted (they are still joinable — a resumed
    * run could match them), which is the documented boundary the
    * caller-side oracle must replay.
    */
  def clickAttributionOuter(spark: SparkSession, srcParquet: String,
      lag: String = "10 minutes", delay: String = "30 minutes",
      chunks: Int = 3): DataFrame =
      // the outer join keeps FOUR stores per partition (two per side);
      // at `chunks` batches that is 4·p·chunks commits — size p to the
      // horizon-bounded state, not to batch scan width
      Staging.withStreamShufflePartitions(spark, n = "4") {
    val (events, tag) = Staging.stageSplitAndRead(spark, srcParquet,
      "graft_ssjo_in", chunks)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", delay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", delay)
    Staging.toMemory(clicks
      .join(purchases, expr(
        s"""c_user = p_user AND p_ts >= c_ts
           |AND p_ts <= c_ts + interval $lag""".stripMargin), "leftOuter")
      .select(col("click_id"), col("purchase_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("c_ts"))).as("lag_ms")),
      "append", s"graft_ssjo_$tag")
      .orderBy("click_id", "purchase_id")
  }

  /** Sketch aggregation under streaming state: windowed
    * `approx_count_distinct(user_id)` per event_type with a watermark —
    * the "distinct users per window" question that EXACT distinct
    * cannot answer on a stream (Spark rejects `COUNT(DISTINCT)` in
    * streaming aggregations outright, because exact distinct state is
    * O(keys) per window). The HLL++ sketch is the production answer:
    * per-window state is a fixed-size sketch regardless of how many
    * users a 100 TB/day stream carries, it merges across micro-batches
    * like any partial aggregate, and the watermark drops it when the
    * window closes.
    *
    * Determinism: HLL++ is hash-based, not sampled — for a given
    * (input set, rsd) the estimate is one exact number regardless of
    * arrival order or micro-batch boundaries (merge is a
    * register-wise max). Callers verify it against the batch-side
    * exact distinct (the q102 discipline) — which is precisely the
    * verification [[graft.TrainQueries]] q112 performs.
    */
  def windowedApproxUsers(spark: SparkSession, srcParquet: String,
      window: String = "10 minutes", delay: String = "1 hour",
      rsd: Double = 0.05): DataFrame =
    windowedToMemory(spark, srcParquet, "graft_hllwin", window,
      Some(delay), "append",
      approx_count_distinct(col("user_id"), rsd).as("approx_users"))

  /** Stream-static join (the enrichment form every production stream
    * runs): events joined to a batch dimension table, then the standard
    * watermarked window aggregation per dimension attribute. The static
    * side is broadcast into every micro-batch — the join itself is
    * STATELESS (no state store, no watermark needed on the dim side;
    * only the downstream window aggregation keeps state), which is
    * exactly why this shape scales: a 100 TB/day stream enriched by a
    * dimension costs no more state than the un-enriched aggregation.
    * Inner join: events with no dimension row drop (the oracle
    * replays the same join).
    */
  def streamStaticSegments(spark: SparkSession, srcParquet: String,
      dimParquet: String, window: String = "10 minutes",
      delay: String = "1 hour"): DataFrame =
      Staging.withStreamShufflePartitions(spark) {
    val (events, tag) = Staging.stageSplitAndRead(spark, srcParquet,
      "graft_sst_in", chunks = 1)
    val dim = broadcast(spark.read.parquet(dimParquet)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment")))
    Staging.toMemory(events
      .withWatermark("ts", delay)
      .join(dim, Seq("user_id"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("segment"))
      .agg(count(lit(1)).as("n_events")), "append", s"graft_sst_$tag")
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("segment"), col("n_events"))
      .orderBy("window_start_ms", "segment")
  }
}
