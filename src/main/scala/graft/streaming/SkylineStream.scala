package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Skyline

/** Streaming incremental Pareto-skyline maintenance (SURVEY §2.11
  * extension) — E168's frontier kept current under arrivals, the
  * second member of the SUFFICIENT-STATISTIC class beside
  * [[Leaderboard]]: dominance is transitive, so skyline(A ∪ B) =
  * skyline(skyline(A) ∪ B) — the stored frontier alone carries the
  * entire history, per-ingest cost is the batch's own sweep plus a
  * frontier-sized merge, and a newly-arrived point that dominates
  * stored frontier members evicts them on the spot.
  *
  * Each micro-batch: the batch's own two-phase partition skyline
  * (scan-local prefix-max sweep, zero shuffle to candidates), merged
  * with the stored frontier through the same sweep over the
  * metadata-sized union, committed as version `batchId` — the
  * batchId-idempotent upsert, so a replayed batch rewrites the same
  * version. State is frontier-sized (worst case the corpus's
  * antichain, in practice tens of points).
  */
object SkylineStream {

  /** Stream the staged `docsParquet` (columns doc_id, text) in
    * `chunks` micro-batches; returns the final (n_tok, uniq_bp)
    * frontier, n_tok-descending. Metrics are the E168 pair: token
    * count and distinct-token share in integer basis points.
    */
  def run(spark: SparkSession, docsParquet: String,
      chunks: Int = 3): DataFrame =
    Staging.foldStaged(spark, docsParquet, "sky", chunks, Seq("doc_id"))(
        runInto(spark, _, _, _)) { root =>
      VersionedStore.latestBelow(spark, s"$root/frontier", Long.MaxValue)
        .map(p => spark.read.parquet(p)
          .select(col("x").as("n_tok"), col("y").as("uniq_bp"))
          .orderBy(col("n_tok").desc))
        .getOrElse(emptyFrontier(spark))
    }

  /** The pipeline against a caller-owned state root
    * (`<root>/frontier` versioned store) and checkpoint — the restart
    * surface ([[Staging.foldEach]]). `docs` needs a `text` column.
    */
  def runInto(spark: SparkSession, docs: DataFrame, stateRoot: String,
      checkpoint: String): Unit =
    Staging.foldEach(docs, checkpoint)(foldBatch(spark, stateRoot, _, _))

  /** One ingest: skyline(batch) merged with the stored frontier via
    * the same sweep, committed as version `batchId`.
    */
  private def foldBatch(spark: SparkSession, stateRoot: String,
      batch: DataFrame, batchId: Long): Unit = {
    val m = batch
      .select(split(col("text"), " ").as("__t"))
      .select(size(col("__t")).cast("long").as("x"),
        expr("(cast(size(array_distinct(__t)) as bigint) * 10000)"
          + " div size(__t)").as("y"))
    val batchFront = Skyline.skyline2d(m, "x", "y")
    val prev = VersionedStore
      .latestBelow(spark, s"$stateRoot/frontier", batchId)
      .map(p => spark.read.parquet(p).select("x", "y"))
      .getOrElse(batchFront.limit(0))
    val merged = Skyline.skyline2d(
      prev.unionByName(batchFront), "x", "y")
    VersionedStore.write(merged, s"$stateRoot/frontier", batchId)
  }

  private def emptyFrontier(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("n_tok", "uniq_bp")
  }
}
