package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Classifier

/** Streaming quality admission under the STORED token-vote classifier
  * ([[graft.ops.Classifier]]) — the deployed fastText-filter, and the
  * [[LmScreen]] shape with the trained discriminative model as the
  * reference artifact instead of a generative LM: the vote model is
  * trained offline (q286) and refreshed incrementally (q288); here
  * each arriving micro-batch of documents scores scan-locally against
  * it (metadata-sized model BROADCAST onto the batch's token stream,
  * one doc-keyed partial agg) and is admitted on the vote-sum verdict
  * score > threshold, ties reject — q297 runs the uncalibrated 0
  * default; q303 reads q291's calibration-CHOSEN operating point from
  * its ModelStore artifact. Per-document verdicts append as version
  * `batchId`; docs arrive once, so the appended union IS the batch
  * answer and the whole screen replays in the oracle. Admission cost
  * is per-batch, independent of corpus history — the 100 TB/day
  * ingestion shape.
  */
object ClassifierGate {

  /** Stream the staged `docsParquet` (columns `doc_id`, `text`) in
    * `chunks` micro-batches through the gate; returns one verdict row
    * per document (doc_id, score, admitted), doc_id-ordered. `votes`
    * is the stored (token, vote) model table.
    */
  def run(spark: SparkSession, docsParquet: String, votes: DataFrame,
      chunks: Int = 3, threshold: Long = 0L): DataFrame =
    Staging.foldStaged(spark, docsParquet, "clfgate", chunks,
        Seq("doc_id"))(runInto(spark, _, votes, _, _, threshold)) { root =>
      VersionedStore.readAllBelow(spark, s"$root/verdicts", Long.MaxValue)
        .getOrElse(emptyVerdicts(spark))
        .orderBy("doc_id")
    }

  /** The pipeline against a caller-owned state root and checkpoint —
    * the restart surface ([[Staging.foldEach]]): post-restart arrivals
    * are still gated against the stored model.
    */
  def runInto(spark: SparkSession, docs: DataFrame, votes: DataFrame,
      stateRoot: String, checkpoint: String,
      threshold: Long = 0L): Unit =
    Staging.foldEach(docs, checkpoint) { (batch, batchId) =>
      VersionedStore.write(batchVerdicts(batch, votes, threshold),
        s"$stateRoot/verdicts", batchId)
    }

  /** One batch's verdicts: tokenize scan-locally, score against the
    * broadcast vote model, admit on score > `threshold` — 0 is the
    * uncalibrated tie-reject default (q297); a deployed gate reads the
    * calibration-chosen operating point from the ModelStore artifact
    * instead (q303). Public so specs can assert streamed ≡ batch
    * scoring directly.
    */
  def batchVerdicts(batch: DataFrame, votes: DataFrame,
      threshold: Long = 0L): DataFrame =
    Classifier.scoreTokenVotes(
        batch.withColumn("__toks",
          expr("filter(split(text, ' '), t -> t <> '')")),
        votes, "doc_id", "__toks")
      .select(col("doc_id").cast("long").as("doc_id"), col("score"),
        (col("score") > threshold).as("admitted"))

  private def emptyVerdicts(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("doc_id"), col("id").as("score"),
        lit(false).as("admitted"))
}
