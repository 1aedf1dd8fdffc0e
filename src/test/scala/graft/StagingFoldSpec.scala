package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Staging

/** The shared gate skeleton ([[Staging.foldStaged]] /
  * [[Staging.foldEach]]) on its own, with a recording fold instead of
  * a gate: which micro-batches reach the fold, under which ids, and
  * what a restart against the same checkpoint folds. The per-gate
  * restart specs check each fold's state semantics on top of this.
  */
class StagingFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A fold that records (batchId, row count) per call. */
  private def recorder(): (ArrayBuffer[(Long, Long)],
      (DataFrame, Long) => Unit) = {
    val calls = ArrayBuffer.empty[(Long, Long)]
    (calls, (batch, batchId) => calls += ((batchId, batch.count())))
  }

  private def committed(checkpoint: String): Seq[Long] =
    Option(new java.io.File(s"$checkpoint/commits").listFiles()).toSeq
      .flatten.map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).sorted

  test("more chunks than rows: empty micro-batches commit but never " +
      "reach the fold") {
    import spark.implicits._
    val dir = Scratch.register(
      Files.createTempDirectory("graft_foldspec_src").toString)
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/docs")
    val (calls, fold) = recorder()
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    var partitionsInside = ""
    var ck = ""
    val root = Staging.foldStaged(spark, s"$dir/docs", "foldspec",
        chunks = 4, Seq("doc_id")) { (in, _, checkpoint) =>
      partitionsInside = spark.conf.get("spark.sql.shuffle.partitions")
      ck = checkpoint
      Staging.foldEach(in, checkpoint)(fold)
    }(stateRoot => stateRoot)

    // ntile(4) over two rows fills chunks 1 and 2 and leaves 3 and 4
    // empty: four batches commit, only the two non-empty ones fold
    assert(committed(ck) === Seq(0L, 1L, 2L, 3L))
    assert(calls.toSeq === Seq((0L, 1L), (1L, 1L)))
    assert(root.contains("graft_foldspec_state_"), root)
    assert(ck.contains("graft_foldspec_ck_"), ck)
    assert(partitionsInside === "4")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("restart on the same checkpoint: no new files fold nothing, one " +
      "new file folds once under the next batchId") {
    import spark.implicits._
    val root = new java.io.File(Scratch.register(
      Files.createTempDirectory("graft_foldspec_resume").toString))
    val src = new java.io.File(root, "src"); src.mkdirs()
    val ck = s"${root.getAbsolutePath}/ck"

    def writeFile(name: String, ids: Seq[Long]): Unit = {
      val tmp = s"${root.getAbsolutePath}/__stage_$name"
      ids.toDF("doc_id").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, new java.io.File(src, name).toPath)
    }

    def runOnce(): Seq[(Long, Long)] = {
      val (calls, fold) = recorder()
      Staging.foldEach(spark.readStream.schema("doc_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(src.getAbsolutePath), ck)(fold)
      calls.toSeq
    }

    writeFile("f1.parquet", Seq(1L, 2L))
    writeFile("f2.parquet", Seq(3L))
    assert(runOnce() === Seq((0L, 2L), (1L, 1L)))

    assert(runOnce() === Seq.empty)

    writeFile("f3.parquet", Seq(4L, 5L, 6L))
    assert(runOnce() === Seq((2L, 3L)))
    assert(committed(ck) === Seq(0L, 1L, 2L))
  }
}
