package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor counters summed over finished tasks and jobs. */
final case class Exec(jobs: Long = 0, tasks: Long = 0, busyMs: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, shuffleWrite: Long = 0,
    shuffleRead: Long = 0, spill: Long = 0, skews: Int = 0) {
  def -(o: Exec): Exec = Exec(jobs - o.jobs, tasks - o.tasks,
    busyMs - o.busyMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, skews)
}

/** One parquet/noop write as reported by its SQL execution. */
final case class Write(table: String, seconds: Double, rows: Long,
    files: Long, bytes: Long)

/** One micro-batch of a streaming query, trigger to commit. */
final case class Batch(triggerMs: Long, addBatchMs: Long, rows: Long)

/** The listeners a traced pass registers: scheduler counters, SQL
  * executions (planning phases and write statistics) and streaming
  * progress. They are added at the start of a traced pass and removed at
  * its end, so untraced passes run with none of them. */
final class Probes(spark: SparkSession) {
  private var exec = Exec()
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  /** max/median task duration of every finished stage with >= 2 tasks */
  val skews = mutable.ArrayBuffer.empty[Double]
  val planningMs = mutable.ArrayBuffer.empty[Long]
  val writes = mutable.ArrayBuffer.empty[Write]
  val batches = mutable.ArrayBuffer.empty[Batch]

  private val sched = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      exec = exec.copy(jobs = exec.jobs + 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += info.duration
      if (m != null) exec = exec.copy(tasks = exec.tasks + 1,
        busyMs = exec.busyMs + info.duration,
        cpuNs = exec.cpuNs + m.executorCpuTime,
        gcMs = exec.gcMs + m.jvmGCTime,
        shuffleWrite = exec.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = exec.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = exec.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
      else exec = exec.copy(tasks = exec.tasks + 1,
        busyMs = exec.busyMs + info.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      stageTasks.remove(k).filter(_.size >= 2).foreach { ds =>
        val s = ds.sorted
        val med = s(s.size / 2).max(1L)
        skews += s.last.toDouble / med
      }
    }
  }

  private val sql = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val ws = Probes.nodes(qe.executedPlan).collect {
        case w: DataWritingCommandExec => w.cmd match {
          case c: InsertIntoHadoopFsRelationCommand =>
            val m = w.metrics
            def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
            Some(Write(c.outputPath.getName, durationNs / 1e9,
              v("numOutputRows"), v("numFiles"), v("numOutputBytes")))
          case _ => None
        }
      }.flatten
      Probes.this.synchronized { planningMs += ms; writes ++= ws }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      if (e.progress.numInputRows > 0) Probes.this.synchronized {
        batches += Batch(ms("triggerExecution"), ms("addBatch"),
          e.progress.numInputRows)
      }
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(sql)
    spark.streams.addListener(streams)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sched)
    spark.listenerManager.unregister(sql)
    spark.streams.removeListener(streams)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Exec = { drain(); synchronized(exec.copy(skews = skews.size)) }
}

object Probes {
  /** Every node of a physical plan, looking through adaptive and
    * command-result wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case other => other +: other.children.flatMap(nodes)
  }
}

/** A timed call into one of the engine's modules. */
final case class Span(id: Int, parent: Int, pass: String, name: String,
    start: Double, end: Double, exec: Exec)

/** Span recorder. Spans live in memory and are written out at exit; an
  * untraced pass uses [[Tracer.off]], which only runs the body. */
class Tracer(probes: Option[Probes], t0: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  var pass: String = ""

  def span[T](name: String)(body: => T): T = probes match {
    case None => body
    case Some(p) =>
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val e0 = p.snapshot()
      val s = (System.nanoTime() - t0) / 1e9
      try body
      finally {
        val e = (System.nanoTime() - t0) / 1e9
        stack.pop()
        spans(id) = Span(id, parent, pass, name, s, e, p.snapshot() - e0)
      }
  }

  def seconds(name: String, pass: String): Double =
    spans.filter(s => s != null && s.name == name && s.pass == pass)
      .map(s => s.end - s.start).sum
}

object Tracer {
  val off = new Tracer(None, 0L)
}
