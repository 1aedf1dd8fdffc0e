package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.CharLm

/** Streaming statistical quality screening under a STORED char-bigram
  * LM ([[graft.ops.CharLm]]) — the [[ContaminationScreen]] shape with
  * a learned model as the fixed reference artifact instead of a
  * fingerprint table: the model is trained once (a versioned parquet
  * table), and each arriving micro-batch of documents is scored
  * scan-locally against it (metadata-sized model BROADCAST onto the
  * batch's bigram stream) and gated on the exact-integer mean
  * conditional probability. Per-document verdicts append as version
  * `batchId` (docs arrive once, so the appended union IS the corpus
  * answer and the whole screen replays in the oracle). This is the
  * deployed KenLM-filter: model training is an offline job; admission
  * is a per-batch scan whose cost is independent of corpus history.
  */
object LmScreen {

  /** Stream the staged `docsParquet` (columns `doc_id`, `source`,
    * `text`) in `chunks` micro-batches through the screen; returns
    * one verdict row per scoreable document (doc_id, source,
    * n_bigrams, avg_q, admitted 0/1), doc_id-ordered. `model` is the
    * stored (c1, c2, cnt) bigram table; `minAvgQ` the admission
    * threshold on the truncating mean contribution.
    */
  def run(spark: SparkSession, docsParquet: String, model: DataFrame,
      minAvgQ: Long, chunks: Int = 3): DataFrame =
    Staging.foldStaged(spark, docsParquet, "lmscreen", chunks,
        Seq("doc_id"))(runInto(spark, _, model, minAvgQ, _, _)) { root =>
      VersionedStore.readAllBelow(spark, s"$root/verdicts", Long.MaxValue)
        .getOrElse(emptyVerdicts(spark))
        .orderBy("doc_id")
    }

  /** The pipeline against a caller-owned state root
    * (`<root>/verdicts` append store) and checkpoint — the restart
    * surface ([[Staging.foldEach]]): post-restart arrivals are still
    * gated against the stored model.
    */
  def runInto(spark: SparkSession, docs: DataFrame, model: DataFrame,
      minAvgQ: Long, stateRoot: String, checkpoint: String): Unit =
    Staging.foldEach(docs, checkpoint)(
      foldBatch(stateRoot, model, minAvgQ, _, _))

  /** One ingest: score this batch under the stored model, gate on the
    * threshold, append the verdicts as version `batchId`.
    */
  private def foldBatch(stateRoot: String, model: DataFrame,
      minAvgQ: Long, batch: DataFrame, batchId: Long): Unit = {
    // a staged chunk is ONE file → a 1-task scan, and the bigram
    // explode above the scan is CPU-per-byte heavy — widen to core
    // count when the batch arrives narrow (identity on a production
    // many-file micro-batch); the NearDupIndex per-batch discipline
    val wide = graft.ops.Widen.ifFewPartitions(batch)
    val verdicts = CharLm
      .score(wide, "doc_id", "text", model)
      .join(wide.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        col("avg_q"),
        when(col("avg_q") >= minAvgQ, lit(1L)).otherwise(lit(0L))
          .as("admitted"))
    VersionedStore.write(verdicts, s"$stateRoot/verdicts", batchId)
  }

  private def emptyVerdicts(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("doc_id"), lit("").as("source"),
        col("id").as("n_bigrams"), col("id").as("avg_q"),
        col("id").as("admitted"))
}
