package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Blooms, ParagraphDedup}

/** Streaming benchmark-contamination screening — the STATIC-ARTIFACT
  * member of the deployable-composition family: where
  * [[IncrementalClusters]]/[[NearDupIndex]]/[[BudgetAdmission]]/
  * [[RateMonitor]] fold arriving batches into EVOLVING state, the
  * screen's reference side is a FIXED artifact pair built once from
  * the evaluation set — the exact fingerprint table (parquet) and its
  * Bloom filter (KB-sized bytes, shipped to executors as a task
  * literal). Each micro-batch of arriving documents splits into
  * paragraphs, fingerprints them, pre-filters scan-locally through the
  * Bloom (no shuffle — the overwhelmingly-clean common case never
  * leaves the scan), exact-confirms the few candidates against the
  * stored table (Bloom false positives die here; false negatives don't
  * exist, so exactness is preserved), and APPENDS its per-document
  * verdicts as version `batchId` — the read-below-own-id replay rule,
  * though verdicts are also per-doc disjoint across batches (each doc
  * arrives once), so the appended union IS the batch answer: the
  * whole-corpus screen replayed by the oracle.
  */
object ContaminationScreen {

  /** Stream the staged `docsParquet` (columns `doc_id`, `text`) in
    * `chunks` micro-batches through the screen; returns the verdict
    * rows (doc_id, n_hit_paras) for contaminated documents,
    * doc_id-ordered. `docFilter` restricts which staged rows are
    * screened (the corpus side of the corpus/eval split).
    */
  def run(spark: SparkSession, docsParquet: String, evalPath: String,
      bloom: Array[Byte], docFilter: Column = lit(true),
      parLen: Int = 20, chunks: Int = 3): DataFrame =
    Staging.foldStaged(spark, docsParquet, "contam", chunks,
        Seq("doc_id")) { (docs, root, ck) =>
      runInto(spark, docs.filter(docFilter), evalPath, bloom, root, ck,
        parLen)
    } { root =>
      VersionedStore.readAllBelow(spark, s"$root/verdicts", Long.MaxValue)
        .getOrElse(emptyVerdicts(spark))
        .orderBy("doc_id")
    }

  /** The pipeline against a caller-owned state root
    * (`<root>/verdicts` append store) and checkpoint — the restart
    * surface ([[Staging.foldEach]]).
    */
  def runInto(spark: SparkSession, docs: DataFrame, evalPath: String,
      bloom: Array[Byte], stateRoot: String, checkpoint: String,
      parLen: Int): Unit = {
    require(bloom.nonEmpty, "bloom filter bytes must be non-empty")
    Staging.foldEach(docs, checkpoint)(
      foldBatch(spark, stateRoot, evalPath, bloom, _, _, parLen))
  }

  /** One ingest: this batch's paragraph fingerprints → scan-local
    * Bloom pre-filter → exact confirm against the stored eval table →
    * per-doc hit counts appended as version `batchId`.
    */
  private def foldBatch(spark: SparkSession, stateRoot: String,
      evalPath: String, bloom: Array[Byte], batch: DataFrame,
      batchId: Long, parLen: Int): Unit = {
    val fps = ParagraphDedup
      .paragraphs(batch, "doc_id", "text", parLen)
      .select(col("doc_id"), md5(graft.expressions.UnicodeNormalize.nfc(col("para"))).as("fp"))
      .distinct()
    val verdicts = fps
      .filter(Blooms.mightContain(bloom, col("fp")))
      .join(broadcast(spark.read.parquet(evalPath)), Seq("fp"),
        "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit_paras"))
    VersionedStore.write(verdicts, s"$stateRoot/verdicts", batchId)
  }

  private def emptyVerdicts(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("doc_id"), col("id").as("n_hit_paras"))
}
