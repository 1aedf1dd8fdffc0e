package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom stateful streaming (SURVEY §2.10 extension): gap-based
  * sessionization over an event stream with
  * `KeyValueGroupedDataset.flatMapGroupsWithState` — per-user state
  * (last event time + running session index) carried across
  * micro-batches.
  *
  * Scale posture: state is O(1) per active user (two longs), not
  * O(events); state for idle users would be dropped with an event-time
  * timeout in a production config. Events inside one micro-batch are
  * sorted per group in memory — bounded by per-user-per-batch volume,
  * the natural partition of a keyed stream.
  */
object StatefulSessions {

  case class Ev(user_id: Long, event_id: Long, ms: Long)
  case class UserState(lastMs: Long, sessionIdx: Long)
  case class SessionEvent(user_id: Long, event_id: Long, ms: Long,
      session_idx: Long)

  /** The per-group transition function: assign 1-based session indexes,
    * opening a new session when the gap exceeds `gapMs`.
    *
    * Cross-batch ordering: events are sorted only *within* one
    * micro-batch — the state machine can't reorder against batches it
    * already emitted. An arrival with `ms < lastMs` (out-of-order
    * across batches: the source split input over multiple files /
    * maxFilesPerTrigger) is MERGED into the user's current session and
    * `lastMs` never rewinds, so the assignment stays deterministic and
    * monotone: a late straggler extends the session it logically
    * belongs near, it can never re-open or renumber a closed one.
    * (With one staged chunk, as [[sessionSummaries]] stages, every
    * event is in batch one and this path never fires.)
    */
  def assign(gapMs: Long)(userId: Long, events: Iterator[Ev],
      state: GroupState[UserState]): Iterator[SessionEvent] = {
    val sorted = events.toSeq.sortBy(e => (e.ms, e.event_id))
    var st = state.getOption.getOrElse(UserState(Long.MinValue, 0L))
    val out = sorted.map { e =>
      val isNew = st.sessionIdx == 0L || e.ms - st.lastMs > gapMs
      st = UserState(math.max(e.ms, st.lastMs),
        if (isNew) st.sessionIdx + 1 else st.sessionIdx)
      SessionEvent(userId, e.event_id, e.ms, st.sessionIdx)
    }
    state.update(st)
    out.iterator
  }

  /** Sessionize a parquet-file event stream to completion
    * ([[Staging.toMemory]]) and return per-session summaries.
    */
  def sessionSummaries(spark: SparkSession, srcParquet: String,
      gapMs: Long): DataFrame =
      Staging.withStreamShufflePartitions(spark) {
    import spark.implicits._
    val (stream, tag) = Staging.stageSplitAndRead(spark, srcParquet,
      "graft_sess_in", chunks = 1)
    val events = stream
      .withColumn("ms", unix_millis(col("ts")))
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ms"))
      .as[Ev]
    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(assign(gapMs))
    Staging.toMemory(sessions.toDF(), "append", s"graft_sess_$tag")
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("ms").as("session_start_ms"), max("ms").as("session_end_ms"))
      .orderBy("user_id", "session_idx")
  }
}
