package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro container-file source/sink — the remaining big-data format
  * beside the engine's parquet (q19), JSON (q40), CSV (q62), ORC
  * (q63) and raw-binary (q82) surfaces. The Spark distribution here
  * ships the Avro CORE jars but not the `spark-avro` datasource
  * module, so this is a minimal honest implementation on the public
  * Avro API (`DataFileWriter`/`DataFileReader`, Apache Avro 1.12):
  * real Avro object container files with a declared record schema,
  * readable by any Avro tool.
  *
  * Scale shape: the WRITE is one file per partition through the
  * Hadoop FileSystem API (works against HDFS/S3A, not just local
  * disk), executor-side, no driver materialization, and COMMITTED,
  * not best-effort: tasks write attempt-unique temp files and
  * claim the canonical part name by rename (so speculative/retried
  * attempts never interleave bytes in one file — the first
  * FAIL-ON-EXISTS rename wins on every FileSystem, losers delete
  * themselves), the job writes into a hidden temp directory that is
  * renamed over the target only after every task succeeded, and a
  * `_SUCCESS` marker is the commit record. The swap itself is
  * two-phase: the previous target renames ASIDE (never deleted)
  * before the new directory renames into place, so even a
  * commit-phase rename failure cannot destroy both copies — the
  * backup restores and the new data survives in the named temp
  * directory. A failed mid-job write therefore leaves the previous
  * target intact, and `read` refuses a directory with no marker
  * instead of silently treating a torn write as complete data.
  *
  * The READ lists the directory on the driver (metadata), then
  * splits every container on its sync markers — each task seeks to
  * the first sync point at/after its byte range start
  * (`DataFileReader.sync`) and decodes blocks until `pastSync(end)`,
  * the avro-mapred input-format discipline — so one 10 GB container
  * becomes ~len/splitBytes parallel tasks, not one. Records decode
  * inside the task and only typed Rows ever leave it.
  *
  * Type surface (all the corpus needs): long, int, double, string,
  * boolean; every field nullable via the standard `["null", T]`
  * union. Unsupported Spark types fail fast at write time.
  */
object AvroIo {

  /** Default read-split size: 32 MiB of container bytes per task. */
  val DefaultSplitBytes: Long = 32L * 1024 * 1024

  /** Avro schema JSON for a Spark schema (nullable union per field). */
  private[sources] def avroSchemaJson(schema: StructType): String = {
    def tpe(dt: DataType): String = dt match {
      case LongType => "\"long\""
      case IntegerType => "\"int\""
      case DoubleType => "\"double\""
      case StringType => "\"string\""
      case BooleanType => "\"boolean\""
      case other =>
        throw new IllegalArgumentException(
          s"AvroIo supports long/int/double/string/boolean, got: $other")
    }
    val fields = schema.fields.map { f =>
      s"""{"name":"${f.name}","type":["null",${tpe(f.dataType)}],"default":null}"""
    }.mkString(",")
    s"""{"type":"record","name":"graft_row","fields":[$fields]}"""
  }

  /** The session's Hadoop conf as a serializable property list —
    * executors rebuild a `Configuration` from it, so `spark.hadoop.*`
    * settings (S3A credentials, endpoints, filesystem impls) reach
    * the tasks exactly as they would through a built-in sink; a bare
    * `new Configuration()` on the executor would silently drop them.
    */
  private[graft] def confProps(conf: Configuration): Array[(String, String)] = {
    val it = conf.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
    buf.toArray
  }

  private[graft] def rebuild(props: Array[(String, String)]): Configuration = {
    val c = new Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Write `df` as a directory of Avro container files, one per
    * partition (`part-NNNNN.avro`), atomically replacing `path`:
    * tasks commit by rename inside a job-unique temp directory, the
    * temp directory replaces the target only on full job success,
    * and `_SUCCESS` marks the commit.
    */
  def write(df: DataFrame, path: String): Unit = {
    val schemaJson = avroSchemaJson(df.schema)
    val names = df.schema.fieldNames
    val props = confProps(df.sparkSession.sparkContext.hadoopConfiguration)
    val target = new HPath(path)
    // Job-unique hidden sibling: atomic-rename distance from the
    // target on any FileSystem with directory rename (HDFS; on S3A
    // the rename is a copy, but the _SUCCESS gate still holds).
    val tmpDir = new HPath(target.getParent,
      s".${target.getName}.__inprogress-${java.util.UUID.randomUUID}")
    val fs0 = FileSystem.get(target.toUri, rebuild(props))
    fs0.mkdirs(tmpDir)
    val tmpDirStr = tmpDir.toString
    try {
      df.rdd.mapPartitionsWithIndex { (idx, it) =>
        val schema = new Schema.Parser().parse(schemaJson)
        val fs = FileSystem.get(java.net.URI.create(tmpDirStr),
          rebuild(props))
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val tmpFile = new HPath(tmpDirStr,
          f"part-$idx%05d-a$attempt.inprogress")
        val out = fs.create(tmpFile, true)
        val writer = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        writer.create(schema, out)
        var n = 0L
        it.foreach { row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < names.length) {
            rec.put(names(i), if (row.isNullAt(i)) null else row.get(i))
            i += 1
          }
          writer.append(rec)
          n += 1
        }
        writer.close()
        // Task commit: first attempt to claim the canonical part name
        // wins. FileContext.rename with default Options.Rename.NONE is
        // fail-on-exists on EVERY FileSystem (the AbstractFileSystem
        // layer checks the destination itself) — FileSystem.rename on
        // RawLocalFileSystem would silently OVERWRITE an existing
        // destination (POSIX rename), letting a slow speculative or
        // zombie attempt replace the already-counted winner. A loser
        // (destination taken) or a zombie outliving job commit (parent
        // directory gone → FileNotFoundException) deletes its own
        // bytes and the committed file is one attempt's complete
        // output.
        val dst = new HPath(tmpDirStr, f"part-$idx%05d.avro")
        val fctx = org.apache.hadoop.fs.FileContext.getFileContext(
          java.net.URI.create(tmpDirStr), rebuild(props))
        try fctx.rename(tmpFile, dst)
        catch { case _: java.io.IOException =>
          try fs.delete(tmpFile, false)
          catch { case _: Throwable => () }
        }
        Iterator.single(n)
      }.count() // materialize the write
      // Marker first (inside tmp) — the swap below moves it into place.
      fs0.create(new HPath(tmpDir, "_SUCCESS"), true).close()
    } catch {
      case e: Throwable =>
        // Job abort BEFORE the commit swap: remove the temp directory,
        // leave the target exactly as it was before the write started.
        try fs0.delete(tmpDir, true)
        catch { case _: Throwable => () }
        throw e
    }
    // Job commit swap. The previous target is moved ASIDE, never
    // deleted, until the new data is in place — so no failure mode
    // destroys both copies: if moving the old target aside fails, the
    // old data is untouched (tmp is dropped, plain abort); if the
    // commit rename then fails (S3A copy-rename, permissions, crash),
    // the backup is restored and tmpDir is KEPT — it holds the only
    // copy of the new data — with its path named in the error.
    val backup = new HPath(target.getParent,
      s".${target.getName}.__replaced-${java.util.UUID.randomUUID}")
    val hadTarget = fs0.exists(target)
    if (hadTarget && !fs0.rename(target, backup)) {
      try fs0.delete(tmpDir, true)
      catch { case _: Throwable => () }
      throw new java.io.IOException(
        s"AvroIo: could not move previous $target aside; " +
          "previous data left untouched, write aborted")
    }
    if (!fs0.rename(tmpDir, target)) {
      val restored = !hadTarget || fs0.rename(backup, target)
      throw new java.io.IOException(
        s"AvroIo: failed to commit $tmpDir over $target; " +
          (if (restored) s"previous data restored at $target, "
           else s"previous data left at $backup, ") +
          s"new data preserved at $tmpDir")
    }
    if (hadTarget) {
      try fs0.delete(backup, true)
      catch { case _: Throwable => () } // stray backup is harmless
    }
  }

  /** Read a committed directory of Avro container files back under
    * the declared Spark `schema` (names matched against the writer
    * schema; the file's own schema decodes, so this also reads
    * third-party Avro). Refuses an uncommitted directory (no
    * `_SUCCESS`) — a torn write must fail loudly, not read as a
    * smaller dataset. Each container is split on sync markers into
    * ~`splitBytes` byte ranges, one task per range.
    */
  def read(spark: SparkSession, path: String, schema: StructType,
      splitBytes: Long = DefaultSplitBytes): DataFrame = {
    require(splitBytes > 0, s"splitBytes must be positive: $splitBytes")
    val props = confProps(spark.sparkContext.hadoopConfiguration)
    val fs = FileSystem.get(java.net.URI.create(path), rebuild(props))
    if (!fs.exists(new HPath(path, "_SUCCESS")))
      throw new java.io.IOException(
        s"AvroIo: $path has no _SUCCESS marker — uncommitted or " +
          "partial write; refusing to read it as complete data")
    val splits = fs.listStatus(new HPath(path)).toSeq
      .filter(_.getPath.getName.endsWith(".avro"))
      .sortBy(_.getPath.toString)
      .flatMap { st =>
        val file = st.getPath.toString
        (0L until math.max(st.getLen, 1L) by splitBytes).map { off =>
          (file, off, math.min(off + splitBytes, st.getLen))
        }
      }
    val names = schema.fieldNames
    val rows = spark.sparkContext
      .parallelize(splits, math.max(splits.size, 1))
      .flatMap { case (file, start, end) =>
        val conf = rebuild(props)
        val reader = new DataFileReader[GenericRecord](
          new FsInput(new HPath(file), conf),
          new GenericDatumReader[GenericRecord]())
        // The avro-mapred split discipline: decode exactly the blocks
        // whose sync boundary lies in [start, end) — sync(start) seeks
        // to the first block at/after start, pastSync(end) stops after
        // the range; together every block lands in exactly one split.
        reader.sync(start)
        // Stream, never materialize: close on exhaustion AND on task
        // completion (covers failure/early-termination paths).
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ =>
            try reader.close() catch { case _: Throwable => () }))
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = reader.hasNext && !reader.pastSync(end)
            if (!h) try reader.close() catch { case _: Throwable => () }
            h
          }
          def next(): Row = {
            val rec = reader.next()
            Row.fromSeq(names.toSeq.map { n =>
              rec.get(n) match {
                case null => null
                case u: org.apache.avro.util.Utf8 => u.toString
                case v => v
              }
            })
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }
}
