package graft

/** Runs independent driver-side steps (each submitting its own Spark
  * jobs) at the same time, so their jobs share the cores instead of
  * queueing behind each other's driver-only gaps.
  */
object Parallel {

  /** Runs every task on a thread of its own and returns the results in
    * task order once all of them have finished.
    *
    * The threads are created per call, never pooled: a new thread
    * inherits the caller's Spark local properties (job group,
    * description, scheduler pool) and active session, which Spark keeps
    * in `InheritableThreadLocal`s copied at thread creation. A task's
    * own `setJobDescription` stays on its thread.
    *
    * A failure does not stop the other tasks: every task runs to its
    * end, then the error of the first failing task (in task order) is
    * rethrown with the other tasks' errors attached as suppressed. If
    * the caller is interrupted while waiting, the tasks are interrupted
    * too and the caller's `InterruptedException` is rethrown.
    */
  def all[T](tasks: Seq[() => T]): Seq[T] = {
    val results = new Array[Any](tasks.size)
    val errors = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() =>
        try results(i) = task()
        catch { case e: Throwable => errors(i) = e },
        s"graft-parallel-$i")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        threads.foreach(_.interrupt())
        throw e
    }
    errors.filter(_ != null) match {
      case Array() => results.toSeq.map(_.asInstanceOf[T])
      case Array(first, rest @ _*) =>
        rest.foreach(e => if (e ne first) first.addSuppressed(e))
        throw first
    }
  }
}
