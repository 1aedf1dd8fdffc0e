package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ingest-rate state maintenance — the MONITORING member of
  * the deployable-composition family ([[IncrementalClusters]] folds a
  * snapshot labeling, [[NearDupIndex]] appends an index,
  * [[BudgetAdmission]] folds a scalar): each micro-batch of arriving
  * events reduces to its own hourly (event_type, hr, cnt) partial
  * counts — metadata-sized, the E115 partial-aggregate argument — and
  * SUMS them into the stored bucket table, committed as its own
  * version (read strictly below own batchId + overwrite own id = the
  * replay rule). The stored buckets are the SUFFICIENT STATISTIC, not
  * the report: any window formula over hourly counts (the q126
  * exact-integer EWMA, plain moving averages, rate-of-change alerts)
  * is one metadata-sized computation over the folded state, decoupled
  * from ingestion — recomputing yesterday's smoothing after a
  * parameter change costs nothing, because the statistic, not the
  * smoothed curve, is what's stored.
  *
  * Counts are a commutative monoid and an hour may straddle batches
  * (the fold merges, never replaces), so the folded table is
  * bit-identical to one groupBy over the whole stream — which is why
  * the EWMA emitted from it can share the batch oracle verbatim.
  */
object RateMonitor {

  /** Stream the staged `eventsParquet` in `chunks` micro-batches
    * through the fold; returns the final folded hourly buckets
    * (event_type, hr, cnt).
    */
  def run(spark: SparkSession, eventsParquet: String,
      chunks: Int = 3): DataFrame =
    Staging.foldStaged(spark, eventsParquet, "rate", chunks)(
        runInto(spark, _, _, _)) { root =>
      currentBuckets(spark, root).getOrElse(emptyBuckets(spark))
    }

  /** The pipeline against a caller-owned state root (`<root>/buckets`
    * snapshot store) and checkpoint — the restart surface
    * ([[Staging.foldEach]]).
    */
  def runInto(spark: SparkSession, events: DataFrame, stateRoot: String,
      checkpoint: String): Unit =
    Staging.foldEach(events, checkpoint)(foldBatch(spark, stateRoot, _, _))

  /** The latest committed bucket table, if any batch ever folded. */
  def currentBuckets(spark: SparkSession,
      stateRoot: String): Option[DataFrame] =
    VersionedStore.latestBelow(spark, s"$stateRoot/buckets",
        Long.MaxValue)
      .map(p => spark.read.parquet(p))

  /** One ingest: this batch's hourly partials merge (SUM, never
    * replace — an hour can straddle batches) with the stored buckets
    * strictly below this batchId; the merged table commits as version
    * `batchId`.
    */
  private def foldBatch(spark: SparkSession, stateRoot: String,
      batch: DataFrame, batchId: Long): Unit = {
    val partial = batch
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("cnt"))
    val merged = VersionedStore
      .latestBelow(spark, s"$stateRoot/buckets", batchId)
      .map(p => spark.read.parquet(p).unionByName(partial)
        .groupBy("event_type", "hr").agg(sum("cnt").as("cnt")))
      .getOrElse(partial)
    VersionedStore.write(merged, s"$stateRoot/buckets", batchId)
  }

  private def emptyBuckets(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").cast("string").as("event_type"),
        col("id").as("hr"), col("id").as("cnt"))
}
