package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.JobLog
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas

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
}
