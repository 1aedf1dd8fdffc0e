package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Paths, Files => JFiles}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.plans.GraftExtensions

/** The benchmark's engine side: one JVM, one `local[cpus]` session, one
  * client running a closed loop of batch passes.
  *
  *  1. Set up: from JVM start through the session build and the
  *     workload's warm-up passes at the measured scale. The first one
  *     also writes every step's result for the reference checks.
  *  2. Start passes until `--seconds` have passed (at least
  *     `--min-passes` of them). Each pass's step digests
  *     must equal the warm-up's. With `--trace 1` every other pass is
  *     traced: listeners and spans on, scan probes before it.
  *  3. Export what else the reference checks need.
  *
  * Writes `result.json` (raw samples; the caller derives the metrics) and,
  * when traced, `spans.json` into `--work`.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --work DIR
  *   --seconds S --trace 0|1 --cpus C --min-passes P
  *   --input-bytes B
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val cpus = opt("cpus").toInt
    val trace = opt("trace") == "1"
    val wl = Workload(opt("workload"), opt("inputs"), work, opt("input-bytes").toLong)
    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e9

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    def check(name: String, ok: Boolean, detail: => String): Unit = {
      attempted += 1
      if (!ok) failures += s"$name: $detail"
    }

    // -- set-up: JVM start to the end of a warm-up pass at the measured
    // scale; its digests are what every timed pass must reproduce
    val jvmAge = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val spark = session(cpus)
    val baseline = wl.firstPass(spark, s"$work/export").toMap
    graft.ops.Snap.drainTracked()
    for (i <- 1 until wl.warmups) {
      wl.pass(spark, s"w$i", Tracer.off).foreach { case (name, d) =>
        check(s"w$i.$name", baseline.get(name).contains(d),
          s"${d.json} != ${baseline.get(name).map(_.json)}")
      }
      graft.ops.Snap.drainTracked()
    }
    val setup = jvmAge + now
    System.err.println(f"[perfbench] setup $setup%.3fs")

    // -- the closed loop
    val probes = if (trace) Some(new Probes(spark)) else None
    val tracer = if (trace) new Tracer(probes, t0) else Tracer.off
    val passes = mutable.ArrayBuffer.empty[String]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val outRoots = Seq(System.getProperty("java.io.tmpdir"), s"$work/out")
    // passes start until `--seconds` have passed, so the loop measures at
    // least that long and overruns it by less than one pass
    val end = now + opt("seconds").toDouble
    val minPasses = opt("min-passes").toInt
    var k = 0
    while (k < minPasses || now < end) {
      val traced = trace && k % 2 == 0
      val tag = s"p$k"
      tracer.pass = tag
      val scans = if (traced) { probes.get.register(); wl.probes(spark, tracer) }
        else Map.empty[String, Double]
      val at = probes.filter(_ => traced).map(p =>
        (p.snapshot(), p.writes.size, p.planningMs.size, p.batches.size))
      val (la, ticks0) = (Host.loadAvg(), Host.cpuTicks())
      val wall0 = System.currentTimeMillis()
      val cpu0 = Host.cpuSeconds()
      val p0 = now
      val got = try tracer.span("pass")(wl.pass(spark, tag, tracer))
        catch { case t: Throwable =>
          check(tag, ok = false, s"${t.getClass.getSimpleName}: ${t.getMessage}")
          Seq.empty
        }
      val secs = now - p0
      val cpu = Host.cpuSeconds() - cpu0
      System.err.println(f"[perfbench] pass $tag $secs%.3fs")
      val steal = Host.stealPct(ticks0, Host.cpuTicks())
      got.foreach { case (name, d) =>
        check(s"$tag.$name", baseline.get(name).contains(d),
          s"${d.json} != ${baseline.get(name).map(_.json)}")
      }
      graft.ops.Snap.drainTracked()
      val (files, bytes) = outRoots.map(r => Files.tree(new java.io.File(r), wall0))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      passes += s"""{"id":"$tag","s":$secs,"cpu_s":$cpu,"traced":$traced,"files":$files,""" +
        s""""bytes":$bytes,"load1":$la,"steal_pct":$steal}"""
      if (traced) {
        val p = probes.get
        val (e0, nw, np, nb) = at.get
        layerRows += Layers.of(cpus, secs, e0, p, nw, np, nb, tracer, tag, got.toMap) ++
          scans ++ wl.layers(spark)
        p.unregister()
      }
      k += 1
    }

    val heapLive = Host.liveHeapMb()

    val exported = try wl.export(spark, s"$work/export") catch {
      case t: Throwable =>
        check("export", ok = false, s"${t.getClass.getSimpleName}: ${t.getMessage}")
        Map.empty[String, Double]
    }

    val layers = if (layerRows.isEmpty) "{}" else
      layerRows.flatMap(_.keys).distinct.sorted.map { key =>
        val vs = layerRows.flatMap(_.get(key)).sorted
        "\"" + key + "\":" + Json.num(vs(vs.size / 2))
      }.++(exported.toSeq.sorted.map { case (key, v) => "\"" + key + "\":" + Json.num(v) })
        .mkString("{", ",", "}")
    val result =
      s"""{"setup_s":$setup,""" +
      s""""passes":${passes.mkString("[", ",", "]")},""" +
      s""""attempted":$attempted,"failures":${failures.map(f => "\"" + Json.escape(f) + "\"").mkString("[", ",", "]")},""" +
      s""""peak_rss_mb":${Host.peakRssMb()},"heap_live_mb":$heapLive,"layers":$layers,""" +
      s""""stream_batch_s":${probes.map(_.batches.map(_.triggerMs / 1000.0)).getOrElse(Nil).mkString("[", ",", "]")},""" +
      s""""baseline":${baseline.toSeq.sortBy(_._1).map { case (n, d) => "\"" + n + "\":" + d.json }.mkString("{", ",", "}")}}"""
    JFiles.writeString(Paths.get(s"$work/result.json"), result)
    if (trace) JFiles.writeString(Paths.get(s"$work/spans.json"),
      tracer.spans.filter(_ != null).map(Json.span).mkString("[\n", ",\n", "\n]"))
    Sessions.quiesceStreaming()
    spark.stop()
  }

  /** The engine's shared session settings (`Sessions.builder`), with the
    * shuffle width equal to the core count as the engine's own mains use,
    * plus the engine's optimizer extension. */
  def session(cpus: Int): SparkSession = {
    val s = Sessions.builder(s"local[$cpus]", cpus.toString).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(s)
    s
  }
}

/** Per-layer figures of one traced pass from its listener deltas and
  * spans. `at` is the probes' state when the pass started. */
object Layers {
  def of(cpus: Int, wall: Double, at: Exec, p: Probes, nw: Int, np: Int,
      nb: Int, tr: Tracer, tag: String, got: Map[String, Digest]): Map[String, Double] = {
    val e = p.snapshot() - at
    val writes = p.writes.drop(nw)
    val planning = p.planningMs.drop(np).sum / 1000.0
    val batches = p.batches.drop(nb)
    val pipeline = Seq("songs", "artists", "users", "time", "songplays").flatMap { t =>
      val ws = writes.filter(_.table == t)
      Seq(s"pipeline.$t.s" -> ws.map(_.seconds).sum,
        s"pipeline.$t.rows" -> ws.map(_.rows).sum.toDouble,
        s"pipeline.$t.files" -> ws.map(_.files).sum.toDouble,
        s"pipeline.$t.bytes" -> ws.map(_.bytes).sum.toDouble)
    }
    val spans = Seq("functions.textfns", "ops.neardup.sign", "ops.neardup.band",
      "ops.neardup.verify", "ops.clusters", "ops.similarity.topk",
      "expressions.cosine").map(n => s"$n.s" -> tr.seconds(n, tag))
    def rows(n: String) = got.get(n).map(_.rows.toDouble).getOrElse(0.0)
    val adds = batches.map(_.addBatchMs / 1000.0).sorted
    val skews = p.skews.drop(at.skews)
    Map(
      "exec.jobs" -> e.jobs.toDouble, "exec.tasks" -> e.tasks.toDouble,
      "exec.task_busy_s" -> e.busyMs / 1000.0, "exec.cpu_s" -> e.cpuNs / 1e9,
      "exec.gc_s" -> e.gcMs / 1000.0,
      "exec.core_util" -> e.busyMs / 1000.0 / (cpus * wall),
      "exec.max_task_skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "exec.shuffle.write_bytes" -> e.shuffleWrite.toDouble,
      "exec.shuffle.read_bytes" -> e.shuffleRead.toDouble,
      "exec.spill_bytes" -> e.spill.toDouble,
      "plans.planning_s" -> planning, "plans.share" -> planning / wall,
      "trace.pass_s" -> wall,
      "ops.neardup.candidates" -> rows("ops.neardup.candidates"),
      "ops.neardup.pairs" -> rows("ops.neardup.verify"),
      "ops.neardup.useful_ratio" -> (if (rows("ops.neardup.candidates") == 0) 0.0
        else rows("ops.neardup.verify") / rows("ops.neardup.candidates")),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch.s" -> tr.seconds("streaming.neardup_index", tag),
      "streaming.add_batch.s" -> (if (adds.isEmpty) 0.0 else adds(adds.size / 2)),
    ) ++ pipeline ++ spans
  }
}

object Host {
  def loadAvg(): Double =
    try JFiles.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (total, steal) jiffies of the aggregate cpu line of /proc/stat */
  def cpuTicks(): (Long, Long) =
    try {
      val f = JFiles.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 > a._1) (b._2 - a._2) * 100.0 / (b._1 - a._1) else 0.0

  /** CPU time of every thread of this process, in seconds. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Heap still reachable after a full collection, in MiB: what the
    * process retains across passes. */
  def liveHeapMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** The process's peak resident set (VmHWM) in MiB. */
  def peakRssMb(): Double =
    try JFiles.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }
}

object Files {
  /** (files, bytes) of the data files under `root` modified at or after
    * `sinceMs`; hidden and marker files (`.`/`_` prefixed) are skipped. */
  def tree(root: java.io.File, sinceMs: Long = 0L): (Long, Long) =
    if (root.isDirectory) Option(root.listFiles()).toSeq.flatten
      .map(tree(_, sinceMs))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (root.isFile && !root.getName.startsWith(".") &&
        !root.getName.startsWith("_") && root.lastModified() >= sinceMs)
      (1L, root.length())
    else (0L, 0L)
}

object Json {
  def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def span(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"pass":"${s.pass}","name":"${s.name}",""" +
    s""""start":${s.start},"end":${s.end},"jobs":${s.exec.jobs},"tasks":${s.exec.tasks},""" +
    s""""task_busy_s":${s.exec.busyMs / 1000.0},"cpu_s":${s.exec.cpuNs / 1e9},""" +
    s""""gc_s":${s.exec.gcMs / 1000.0},"shuffle_write_bytes":${s.exec.shuffleWrite},""" +
    s""""shuffle_read_bytes":${s.exec.shuffleRead},"spill_bytes":${s.exec.spill}}"""
}
