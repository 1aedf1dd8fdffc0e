package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{NoForkLocalFileSystem, NoForkLocalFs}

/** Shared session configuration for Verify/Bench/tests. */
object Sessions {

  /** A local session with the engine's fixed settings.
    *
    * `file://` resolves to `graft.sources.NoForkLocalFileSystem` (the
    * FileSystem API: every sink, `VersionedStore`) and
    * `graft.sources.NoForkLocalFs` (the FileContext API: streaming
    * checkpoints and state). Without `libhadoop`, Hadoop's own local file
    * system forks a `chmod` process for every file, `.crc` side file and
    * directory a write creates, and a `readlink` for each end of every
    * FileContext rename. JFR `jdk.ProcessStart` counts on a 4-vCPU host
    * (perfbench, seed 1): about 263 `chmod` forks per `sparkify_etl` pass
    * (222 in the songs sink alone), and 172 `chmod` plus 56 `readlink`
    * forks per `corpus_dedup` pass; with these classes, none. File bytes,
    * names, `.crc` files and modes are unchanged (`LocalFsSpec`). Hadoop
    * caches file systems per JVM, so this holds only where no code asked
    * for `file://` with another configuration before the session. Code
    * that builds its own `Configuration` (for a private FileSystem
    * instance on an executor) must start from the session's Hadoop conf,
    * as `AvroIo` and `qBinarySource` do, or it gets the stock classes.
    *
    * File listing always runs on the driver
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold` is
    * `Int.MaxValue`). Above the default threshold of 32 paths, Spark
    * lists with a job of one task per path; every session built here is
    * `local[N]`, so those tasks would only call `getFileStatus` on task
    * threads of the same JVM, against the same file system the driver
    * lists directly. The Sparkify song glob expands to 82 paths in
    * perfbench's `sparkify_etl`, so each ETL pass started an 82-task
    * listing job (0.40 s; 82 of a traced pass's 123 tasks); the driver
    * lists the same paths in about 40 ms. Measured with concurrent
    * sinks (4 vCPU, seeds 141-142): 0 listing jobs, and 53-57 tasks in
    * 17-18 jobs per traced pass instead of 123 tasks in 15 jobs.
    *
    * Generated code is reused across streaming runs and passes.
    * `CodeGenerator` keeps compiled classes in one JVM-wide LRU cache,
    * keyed by (context class loader, code):
    *  - `spark.sql.artifact.isolation.enabled` is `false`. With isolation
    *    on, every job carries its session's artifact state, a task runs
    *    under a class loader kept per session UUID, and
    *    `DataStreamWriter.start()` runs each query in a cloned session
    *    with a new UUID, so each streaming run compiled again every class
    *    the run before it had compiled. Off, the tasks of all sessions
    *    share one loader. The engine never calls `addArtifact`, `addJar`
    *    or `addFile`, so isolation guarded nothing here. Cloned sessions
    *    (streaming runs, `Dataset.cache`) and `newSession()` inherit it.
    *  - `spark.sql.codegen.cache.maxEntries` is 1000, not 100. A
    *    `corpus_dedup` run compiles about 230 distinct classes, and the
    *    cache evicts within four segments of a quarter of its entries
    *    each, so at 100 most of a pass's classes were gone before the
    *    next pass asked for them.
    * Janino compiles per traced `corpus_dedup` pass (perfbench, seed 1,
    * 4 vCPU; the JVM's second and third passes): 157 and 157 with
    * Spark's defaults, 75 and 73 of them in `streaming.neardup_index`;
    * 42 and 2 with both settings (10 and 0 in that step). Isolation off
    * alone still left 63-71 in that step (seed 301). Untraced
    * `pass_s.p50` over 10 paired runs: 15.2 s before, 11.7 s after.
    * A whole `sparkify_etl` run compiles 77 classes either way.
    * `SessionsSpec` checks that a streaming run compiles nothing
    * after the same run and 200 other classes.
    */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NoForkLocalFs].getName)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // bucketed-table writes (q41) go to a per-process scratch
      // warehouse (concurrent-run safe), deleted at JVM exit
      .config("spark.sql.warehouse.dir", Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse_" +
          ProcessHandle.current().pid()))
      // The corpus' events.ts is parquet TIMESTAMP(NANOS), which Spark 4
      // rejects by default; read it as a long (nanos since epoch) and let
      // Tables convert to a microsecond TimestampType.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Read parquet isAdjustedToUTC=false timestamps as session-TZ(UTC)
      // TimestampType, not TIMESTAMP_NTZ — keeps unix_millis()/calendar
      // functions applicable and matches the DuckDB oracle's naive reads.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** Quiesce streaming machinery BEFORE a harness prints its final
    * artifact line and stops the session: the state-store maintenance
    * thread outlives `spark.stop()` and logs a WARN ("SparkEnv not
    * active") at JVM shutdown — AFTER Bench's JSON line, which made the
    * driver's tail parse return `parsed: null` (r12 finding #1). Stop
    * the maintenance task explicitly and pin that logger to ERROR as a
    * belt (a provider unloaded mid-stop can still race one message).
    */
  def quiesceStreaming(): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state.StateStore",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
  }
}
