package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch,
  CyclicBarrier, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.JobLog
import org.scalatest.funsuite.AnyFunSuite

class ParallelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("all runs the tasks at the same time and returns results in task order") {
    // each task waits for all three at a barrier: run one after another,
    // the first would time out
    val barrier = new CyclicBarrier(3)
    val tasks = (1 to 3).map(i => () => {
      barrier.await(30, TimeUnit.SECONDS)
      i * 10
    })
    assert(Parallel.all(tasks) === Seq(10, 20, 30))
  }

  test("a failure lets every other task finish, then rethrows it with the " +
      "others suppressed") {
    val failed = new CountDownLatch(1)
    val finished = new ConcurrentLinkedQueue[Int]()
    val threads = new ConcurrentLinkedQueue[Thread]()
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    def task(body: => Int): () => Int = () => {
      threads.add(Thread.currentThread())
      body
    }
    def afterFailure(i: Int): Int = {
      assert(failed.await(30, TimeUnit.SECONDS))
      Thread.sleep(50)
      finished.add(i)
      i
    }
    val e = intercept[IllegalStateException](Parallel.all(Seq(
      task(afterFailure(0)),
      task(try throw first finally failed.countDown()),
      task { afterFailure(2); throw second },
      task(afterFailure(3)))))
    assert(e eq first)
    assert(e.getSuppressed.toSeq === Seq(second))
    assert(finished.asScala.toSet === Set(0, 2, 3))
    assert(threads.size === 4 && threads.asScala.forall(!_.isAlive))
  }

  test("tasks inherit the caller's local properties; their own job " +
      "descriptions stay on their threads") {
    val sc = spark.sparkContext
    val key = "graft.test.parallel"
    sc.setLocalProperty(key, "caller")
    try {
      val (counts, jobs) = JobLog.of(sc)(Parallel.all(Seq(
        () => spark.range(10).collect().length,
        () => {
          sc.setJobDescription("inside a task")
          spark.range(5).collect().length
        })))
      assert(counts === Seq(10, 5))
      assert(jobs.nonEmpty && jobs.forall(_.prop(key).contains("caller")))
      assert(jobs.exists(_.prop("spark.job.description")
        .contains("inside a task")))
      assert(sc.getLocalProperty("spark.job.description") === null)
    } finally sc.setLocalProperty(key, null)
  }
}
