package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Contamination

/** Streaming gram-novelty monitoring — the crawl-health dial run LIVE:
  * where the batch audit (q220) asks "how novel was this crawl" after
  * the fact, this scores EVERY arriving micro-batch against the stored
  * corpus gram set as it lands, so a crawler that starts re-fetching
  * old content (novelty collapsing toward 0 bp) is caught batch-by-
  * batch, not at the next audit. Per batch: one scan-local
  * per-doc-distinct gram expansion, one hash anti-join against the
  * stored set (32-byte hashes only), one per-source rollup appended as
  * version `batchId`.
  *
  * Scale shape, stated precisely: the stored gram set is a BUCKETED
  * catalog table on `gh` (built by the q220 fixture,
  * `bucketBy(gh).sortBy(gh)`), and the anti-join is hinted merge, so
  * the plan shuffles ONLY the batch's grams into the history's
  * bucketing — NO history re-shuffle per batch (PlanSpec asserts no
  * Exchange above the bucketed history scan). The history side is
  * still SCANNED per batch (an anti-join must consult it; at larger
  * history-to-batch ratios the next step is partition-pruning the
  * history by a coarse gh prefix carried as a partition column —
  * same probe shape, fewer buckets touched). Contrast
  * [[ContaminationScreen]], whose reference set is KB-sized and
  * simply broadcasts. Batches are disjoint document sets, so the
  * per-batch rows union into the exact per-(batch, source) novelty
  * series the oracle replays.
  */
object NoveltyMonitor {

  /** Stream the staged `docsParquet` (columns `doc_id`, `source`,
    * `text`) in `chunks` micro-batches against the stored gram-hash
    * set in the BUCKETED catalog table `histTable` (column `gh`,
    * bucketed on it); returns one row per (batch_id, source) with
    * gram counts and novelty in basis points, ordered. */
  def run(spark: SparkSession, docsParquet: String, histTable: String,
      docFilter: Column = lit(true), chunks: Int = 3): DataFrame =
    Staging.foldStaged(spark, docsParquet, "novmon", chunks,
        Seq("doc_id")) { (docs, root, ck) =>
      runInto(spark, docs.filter(docFilter), histTable, root, ck)
    } { root =>
      VersionedStore.readAllBelow(spark, s"$root/rates", Long.MaxValue)
        .getOrElse(emptyRates(spark))
        .orderBy("batch_id", "source")
    }

  /** The pipeline against a caller-owned state root (`<root>/rates`
    * append store) and checkpoint — the restart surface
    * ([[Staging.foldEach]]).
    */
  def runInto(spark: SparkSession, docs: DataFrame, histTable: String,
      stateRoot: String, checkpoint: String): Unit =
    Staging.foldEach(docs, checkpoint)(
      foldBatch(spark, stateRoot, histTable, _, _))

  /** Per-doc gram expansion for one batch/split: (source, gh) rows. */
  def gramHashes(batch: DataFrame): DataFrame =
    batch
      .select(col("source"), col("doc_id"),
        split(col("text"), " ").as("__toks"))
      .select(col("source"),
        explode(Contamination.wordGrams("__toks", 3)).as("__g"))
      .select(col("source"), md5(col("__g")).as("gh"))

  /** The ONE novelty probe both the batch audit (q220) and the
    * streaming monitor (q223) run: per-source gram totals plus the
    * anti-join survivors against the bucketed history table. The
    * merge hint pins the sort-merge shape whose history leg reads the
    * bucket layout in place — broadcast would be wrong both ways here
    * (the history is the big side), and the hint keeps the plan
    * assertable rather than stats-dependent.
    *
    * PARTITION PRUNING: the history table is additionally partitioned
    * on the coarse gh prefix `ghp`, and the probe first collects the
    * batch's own distinct prefixes (≤ 16 hex values — metadata-sized,
    * one batch-side job) and filters the history scan to them. A
    * history row in an untouched prefix partition cannot match any
    * probe gram, so the anti-join is unchanged — but the scan now
    * reads only the touched prefixes' buckets. A trickle batch
    * touching 3 of 16 prefixes reads 3/16 of a trillion-gram history;
    * a corpus-sized batch with uniform hashes touches all 16 and
    * legitimately reads everything (an anti-join must consult every
    * partition its probe keys can land in — that bound is inherent,
    * not a layout defect). Histories WITHOUT a ghp column (written
    * before the partition axis existed, or by external callers) take
    * the unpruned scan — same join, no schema requirement. PlanSpec
    * asserts both the pruned scan and the unchanged
    * no-Exchange-above-history shape.
    */
  def noveltyCounts(spark: SparkSession, grams: DataFrame,
      histTable: String): DataFrame = {
    val histRaw = spark.table(histTable)
    // Legacy histories (written before the ghp partition axis, or by
    // external callers of the public run()/noveltyCounts surface) have
    // no ghp column — fall back to the unpruned scan rather than fail
    // at plan time; the anti-join is identical either way, pruning is
    // purely a scan optimization. The probe-side prefix collect only
    // runs when pruning applies (one metadata-sized job saved).
    val hist =
      if (!histRaw.columns.contains("ghp")) histRaw.select("gh")
      else {
        val prefixes = grams
          .select(substring(col("gh"), 1, 1).as("ghp")).distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        histRaw.filter(col("ghp").isin(prefixes: _*)).select("gh")
      }
    val novel = grams
      .join(hist.hint("merge"), Seq("gh"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_novel"))
    grams.groupBy("source")
      .agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("source"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_bp",
        expr("(n_novel * 10000L) div n_grams"))
  }

  private def foldBatch(spark: SparkSession, stateRoot: String,
      histTable: String, batch: DataFrame, batchId: Long): Unit = {
    val rates = noveltyCounts(spark, gramHashes(batch), histTable)
      .select(lit(batchId).as("batch_id"), col("source"),
        col("n_grams"), col("n_novel"), col("novelty_bp"))
    VersionedStore.write(rates, s"$stateRoot/rates", batchId)
  }

  private def emptyRates(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("batch_id"), lit("").as("source"),
        col("id").as("n_grams"), col("id").as("n_novel"),
        col("id").as("novelty_bp"))
}
