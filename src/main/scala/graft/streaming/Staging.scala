package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.LongType

/** Every streaming query in the engine starts here. [[stageSplitAndRead]]
  * is the one staging path: it cuts a parquet file into time-ordered
  * chunks in a fresh stream-input directory (file sources watch
  * directories) and opens a schema'd readStream over it, with the
  * corpus' nanos-long `ts` normalized to a microsecond TimestampType
  * exactly as the batch loader does (graft.Tables). One private
  * `drain` is the one run path: [[foldEach]] (a `foreachBatch` fold)
  * and [[toMemory]] (a memory sink) both run on it.
  *
  * The returned tag is unique per *call* (appId + counter), so repeated
  * or concurrent streams in one session get distinct staging dirs and
  * distinct memory-sink query names — a second stream can't clobber the
  * data backing the first call's lazily-consumed result.
  *
  * It also owns the one fold skeleton the versioned-store gates run
  * ([[foldStaged]] around [[foldEach]]); each gate supplies only its
  * fold, its read-back and its empty frame.
  */
object Staging {
  private val counter = new AtomicLong()

  /** Spark's bundled RocksDB state-store provider. The default
    * HDFS-backed store keeps every version of every key IN EXECUTOR
    * MEMORY; at 100 TB/day the state store is the first thing that
    * falls over, and the production answer is the spillable
    * RocksDB-backed store — same semantics, state held off-heap/on-disk
    * with incremental checkpointing. A session selects it through
    * `spark.sql.streaming.stateStore.providerClass`; StagingRocksDbSpec
    * proves the stream-dedup query's rows identical on both stores.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run a streaming query body with `spark.sql.shuffle.partitions`
    * scoped down to `n` (default 8), restoring the previous value after.
    *
    * Why the partition scoping: every stateful streaming operator
    * instantiates one state store PER shuffle partition PER stateful
    * op, and AQE (which would coalesce small batch shuffles) is
    * disabled in stateful workloads — so a batch-sized partition count
    * multiplies fixed state-store cost by 4× measured at sf0.1. In
    * production the partition count is also frozen into the checkpoint
    * at first run, so sizing it to expected state volume (not to batch
    * scan width) is the correct call, made explicit here.
    */
  def withStreamShufflePartitions[T](spark: SparkSession, n: String = "8")(
      f: => T): T = {
    enterScopedConf(spark, n)
    try f finally exitScopedConf(spark)
  }

  /** Per-session refcount for the scoped conf window above. The r16
    * verdict-refresh legs run three streaming gates CONCURRENTLY on
    * one session (guide §2.6); with the naive save/set/restore each
    * gate races the others — interleaved restores can re-save a peer's
    * scoped value as "previous" and leave the session pinned at the
    * streaming partition count for every later batch query. The fix is
    * the classic nested-window rule: only the FIRST entrant saves the
    * session's real values, only the LAST exit restores them;
    * overlapping windows just (re)apply their scoped setting, which is
    * sound because every overlapping user wants the same scaled-down
    * state-store sizing and results never depend on the partition
    * count (the oracle gate proves that across cpu counts).
    */
  private final case class ScopedConf(var depth: Int, saved: String)
  private val scopedConf =
    scala.collection.mutable.Map.empty[SparkSession, ScopedConf]

  private def enterScopedConf(spark: SparkSession, n: String): Unit =
    scopedConf.synchronized {
      val st = scopedConf.getOrElseUpdate(spark,
        ScopedConf(0, spark.conf.get("spark.sql.shuffle.partitions")))
      st.depth += 1
      spark.conf.set("spark.sql.shuffle.partitions", n)
    }

  private def exitScopedConf(spark: SparkSession): Unit =
    scopedConf.synchronized {
      val st = scopedConf(spark)
      st.depth -= 1
      if (st.depth == 0) {
        scopedConf.remove(spark)
        spark.conf.set("spark.sql.shuffle.partitions", st.saved)
      }
    }

  // Split-staging dirs are memoized per (session, source, chunks): the
  // chunked directory is the stream's INPUT — repeated calls (bench
  // trials) must measure the streaming query, not re-shuffle the same
  // rows into the same chunk files through the local FS (the q82
  // arrival-directory discipline). The returned tag stays unique per
  // call so sink names / output dirs never collide across runs.
  private val splitCache =
    scala.collection.mutable.Map.empty[(String, String, Int), String]

  /** The one staging path: split the source parquet into `chunks`
    * time-ordered files (ascending modification times, so the file
    * source's default oldest-first ordering replays them in event-time
    * order) and open a `maxFilesPerTrigger=1` readStream — each chunk
    * becomes its own micro-batch with the watermark ADVANCING between
    * batches. This is what makes update-mode emissions and outer-join
    * null flushes observable at all; `chunks = 1` is the one-batch
    * stream, whose result is the batch answer restricted by the final
    * watermark. One chunk of a single parquet file is that file,
    * copied as is: no sort and no Spark job, so `orderCols` need not
    * be columns of it.
    *
    * The ntile window used to cut chunks is single-task over the
    * STAGING input — test scaffolding at fixture scale, not a query
    * plan (production streams arrive pre-chunked by time).
    */
  def stageSplitAndRead(spark: SparkSession, srcParquet: String,
      prefix: String, chunks: Int,
      orderCols: Seq[String] = Seq("ts", "event_id")): (DataFrame, String) = {
    require(chunks >= 1, s"chunks must be >= 1: $chunks")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val tag = spark.sparkContext.applicationId
      .replaceAll("[^a-zA-Z0-9]", "_") + "_" + counter.incrementAndGet()
    val tmp = System.getProperty("java.io.tmpdir")
    // prefix and ordering are part of the key: the staged dir is NAMED
    // by the first caller's prefix, so distinct prefixes (or chunk
    // orderings) must not silently share it
    val key = (spark.sparkContext.applicationId,
      srcParquet + "#" + prefix + "#" + orderCols.mkString(","), chunks)
    val inDirStr = splitCache.synchronized {
      // drop entries of earlier (stopped) sessions — same discipline as
      // TrainQueries.incrClusterCache: a JVM cycling sessions must not
      // accumulate stale staging registrations for its lifetime
      splitCache.filterInPlace((k, _) =>
        k._1 == spark.sparkContext.applicationId)
      splitCache.getOrElseUpdate(key, {
        val inDir = Paths.get(
          graft.Scratch.register(s"$tmp/${prefix}_split_$tag"))
        Files.createDirectories(inDir)
        val src = Paths.get(srcParquet)
        if (chunks == 1 && Files.isRegularFile(src))
          Files.copy(src, inDir.resolve("chunk-001.parquet"),
            StandardCopyOption.REPLACE_EXISTING)
        else {
          val raw = spark.read.parquet(srcParquet)
          // single-task window over the staging input — test scaffolding
          // at fixture scale (production streams arrive pre-chunked);
          // persist()ed so the per-chunk filters below don't re-run the
          // scan + global sort once per chunk (persist, not
          // localCheckpoint: Dataset.unpersist then actually releases
          // the blocks — a checkpoint's pinned RDD is not reachable
          // through Dataset.rdd, so "unpersisting" it would be a no-op)
          val w = org.apache.spark.sql.expressions.Window
            .orderBy(orderCols.map(col): _*)
          val chunked = raw.withColumn("__c", ntile(chunks).over(w))
            .persist()
          for (i <- 1 to chunks) {
            val chunkDir =
              graft.Scratch.register(s"$tmp/${prefix}_${tag}_c$i")
            chunked.filter(col("__c") === i).drop("__c")
              .coalesce(1).write.mode("overwrite").parquet(chunkDir)
            val ds = Files.newDirectoryStream(Paths.get(chunkDir),
              "part-*.parquet")
            val found = try ds.iterator().next() finally ds.close()
            val dest = inDir.resolve(f"chunk-$i%03d.parquet")
            Files.copy(found, dest, StandardCopyOption.REPLACE_EXISTING)
            Files.setLastModifiedTime(dest,
              java.nio.file.attribute.FileTime
                .fromMillis(1000000000000L + i * 1000L))
          }
          chunked.unpersist(blocking = false)
        }
        inDir.toString
      })
    }
    (schemaRead(spark, inDirStr), tag)
  }

  /** Derive the stream schema from a batch footer read of the staged
    * dir, open a one-file-per-batch readStream, and normalize the
    * corpus' nanos-long `ts` to a microsecond TimestampType exactly as
    * the batch loader (graft.Tables) does — ONE copy of that rule for
    * the streaming side.
    */
  private def schemaRead(spark: SparkSession, dir: String): DataFrame = {
    val batchSchema = spark.read.parquet(dir).schema
    val raw = spark.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    // sources without a ts column (e.g. edge streams) pass through
    if (batchSchema.fieldNames.contains("ts") &&
        batchSchema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** The one run path: start `in` in output `mode` on the sink that
    * `sink` configures, under `Trigger.AvailableNow`, and return once
    * the query has drained its input and stopped.
    */
  private def drain(in: DataFrame, mode: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    sink(in.writeStream.outputMode(mode))
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Drain `in` in output `mode` into the memory table `name` and
    * return that table.
    */
  def toMemory(in: DataFrame, mode: String, name: String): DataFrame = {
    drain(in, mode)(_.format("memory").queryName(name))
    in.sparkSession.table(name)
  }

  /** The one fold skeleton every versioned-store gate runs: drain `in`
    * to completion (output `mode`, append unless given, one job per
    * micro-batch) and call `fold(batch, batchId)` for each NON-EMPTY
    * micro-batch only — a staged split can cut an empty chunk, and a
    * watermark-closing batch can emit nothing.
    *
    * The restart contract, shared by every gate's `runInto`:
    *  - resume: `checkpoint` records the consumed offsets, so a call
    *    against the same checkpoint starts at the first uncommitted
    *    batch — committed batches never fold again, and a rerun with
    *    no new input folds nothing;
    *  - replay: a batch whose attempt failed re-executes with the same
    *    id and data. That is safe because every fold reads its
    *    [[VersionedStore]] state only from versions strictly BELOW its
    *    own `batchId` and overwrites only version `batchId` — the
    *    read-below-own-id / overwrite-own-id rule.
    */
  def foldEach(in: DataFrame, checkpoint: String, mode: String = "append")(
      fold: (DataFrame, Long) => Unit): Unit =
    drain(in, mode)(_
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) fold(batch, batchId)
      }
      .option("checkpointLocation", checkpoint))

  /** A gate's whole run: stage `src` as `chunks` micro-batches
    * (prefix `graft_<name>_in`), register the state root
    * `graft_<name>_state_<tag>` and the checkpoint
    * `graft_<name>_ck_<tag>`, run `into(staged, stateRoot, checkpoint)`
    * (the gate's [[foldEach]] restart surface) and return
    * `result(stateRoot)`, the gate's read-back. Shuffle partitions are
    * scoped to 4 throughout: every fold's joins are batch-sized, so
    * they are sized to state, not to scan width (the q122 discipline).
    */
  def foldStaged[T](spark: SparkSession, src: String, name: String,
      chunks: Int, orderCols: Seq[String] = Seq("ts", "event_id"))(
      into: (DataFrame, String, String) => Unit)(
      result: String => T): T =
    withStreamShufflePartitions(spark, n = "4") {
      val (staged, tag) = stageSplitAndRead(spark, src,
        s"graft_${name}_in", chunks, orderCols)
      val tmp = System.getProperty("java.io.tmpdir")
      val root = graft.Scratch.register(s"$tmp/graft_${name}_state_$tag")
      val ck = graft.Scratch.register(s"$tmp/graft_${name}_ck_$tag")
      into(staged, root, ck)
      result(root)
    }
}
