package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.JobLog
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas
import graft.streaming.NearDupIndex

class SessionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a glob over 40 files is listed on the driver: no listing job") {
    val dir = Scratch.register(
      Files.createTempDirectory("graft_listing").toFile.getAbsolutePath)
    for (i <- 0 until 40) {
      val sub = Files.createDirectories(Paths.get(s"$dir/d$i"))
      Files.write(sub.resolve(s"s$i.json"),
        s"""{"song_id": "SO$i", "title": "t$i", "duration": $i.5}"""
          .getBytes("UTF-8"))
    }
    val glob = s"$dir/*/*.json"
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    def listingJobs(): Seq[JobLog.Job] =
      JobLog.of(spark.sparkContext)(
        spark.read.schema(Schemas.song).json(glob))._2

    assert(listingJobs().isEmpty)
    assert(spark.read.schema(Schemas.song).json(glob).count() === 40)
    // the counter does see the job the stock threshold (32) starts
    spark.conf.set(key, "32")
    try assert(listingJobs().map(_.tasks) === Seq(40))
    finally spark.conf.set(key, Int.MaxValue.toString)
  }

  test("a second streaming run reuses the first run's generated code") {
    import spark.implicits._
    val dir = Scratch.register(
      Files.createTempDirectory("graft_codegen").toFile.getAbsolutePath)
    // 20 docs over 10 random texts: doc i + 10 duplicates doc i
    (0L until 20L).map(i =>
        (i, new scala.util.Random(i % 10).alphanumeric.take(60).mkString))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    // classes Janino compiled in this JVM while `body` ran (forked test
    // JVMs run one suite at a time, so no other suite compiles meanwhile)
    def compiled(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def run(): Unit = assert(
      NearDupIndex.run(spark, s"$dir/docs", chunks = 2).count() === 10)

    // never-seen code, one class each, compiled without running a job
    def compileFresh(n: Int): Unit = {
      val nonce = System.nanoTime()
      for (i <- 1 to n) spark.range(1).selectExpr(s"id * ${nonce}L + $i")
        .queryExecution.executedPlan.execute()
    }

    assert(compiled(compileFresh(1)) === 1)
    run()
    // a corpus pass compiles about 200 other classes between two runs
    compileFresh(200)
    assert(compiled(run()) === 0)
    assert(spark.newSession().conf
      .get("spark.sql.artifact.isolation.enabled") === "false")
  }
}
