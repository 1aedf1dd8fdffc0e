package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{KMeans, Similarity}

/** Streaming semantic-dedup screen — the batch incremental semantic
  * dedup (q103: arriving vectors vs the stored corpus, cell-blocked)
  * run LIVE, the missing semantic member of the deployable-composition
  * family (lexical LSH index [[NearDupIndex]], tombstones
  * [[TombstoneScreen]], contamination [[ContaminationScreen]], media
  * [[MediaScreen]]): every arriving embedding micro-batch is assigned
  * to the STORED k-means cell model SCAN-LOCALLY ([[KMeans.assignTo]]
  * — centroids are plan literals, no join, no re-clustering), probed
  * against the stored in-cell history vectors with the codegen'd
  * integer dot ([[Similarity.cosine]] — exact arithmetic, the q97/q103
  * determinism contract), and the batch's verdict pairs append as
  * version `batchId` under the [[VersionedStore]] replay rule (a
  * re-executed batch overwrites exactly its own version — recovery
  * never duplicates verdicts).
  *
  * Per-batch cost: one scan-local assignment of the batch + one
  * cell-equi-join against the history (n_batch · cell_width pairs, not
  * n_batch · n_history) — independent of corpus size beyond the
  * one-off stored model, which is exactly what 100 TB/day ingestion
  * needs. Batches are disjoint and each compares only against the
  * STATIC stored history, so the streamed fold is row-identical to
  * the batch incremental form — q276 shares q103's oracle verbatim
  * (the q57/q70 shared-oracle discipline for stream/batch pairs).
  */
object SemanticDedupScreen {

  /** Stream the staged `embParquet` rows matching `batchFilter`
    * (columns `vec_id`, `embedding`) in `chunks` micro-batches against
    * the stored cell model (`centroids`) and in-cell history
    * (`histAssigned`: `hist_id`, `cluster`, `qv`, `qn`); returns the
    * verdict pairs `(new_id, hist_id, cluster, sim)` at `threshold`,
    * ordered — q103's exact shape.
    */
  def run(spark: SparkSession, embParquet: String,
      centroids: Array[Array[Long]], histAssigned: DataFrame,
      batchFilter: Column = lit(true), threshold: Double = 0.3,
      chunks: Int = 3): DataFrame =
    Staging.foldStaged(spark, embParquet, "semdedup", chunks,
        Seq("vec_id")) { (vecs, root, ck) =>
      runInto(spark, vecs.filter(batchFilter), centroids, histAssigned,
        threshold, root, ck)
    } { root =>
      VersionedStore.readAllBelow(spark, s"$root/verdicts", Long.MaxValue)
        .getOrElse(emptyVerdicts(spark))
        .orderBy("new_id", "hist_id")
    }

  /** The pipeline against a caller-owned state root (`<root>/verdicts`
    * append store) and checkpoint — the restart surface
    * ([[Staging.foldEach]]; `SemanticDedupScreenSpec` drives stop →
    * arrivals → restart).
    */
  def runInto(spark: SparkSession, vecs: DataFrame,
      centroids: Array[Array[Long]], histAssigned: DataFrame,
      threshold: Double, stateRoot: String, checkpoint: String): Unit =
    Staging.foldEach(vecs, checkpoint) { (batch, batchId) =>
      VersionedStore.write(
        batchVerdicts(batch, centroids, histAssigned, threshold),
        s"$stateRoot/verdicts", batchId)
    }

  /** One batch's verdict plan: scan-local cell assignment of the batch
    * (centroids as plan literals), then the in-cell exact cosine
    * against the stored history. The BATCH side broadcasts: a
    * micro-batch is small by nature and the history is corpus-sized —
    * broadcasting the batch means the stored history NEVER re-shuffles
    * per batch (each history partition probes the broadcast batch in
    * place), the same no-history-exchange discipline as the bucketed
    * novelty store. Public so the spec can assert exactly that plan
    * shape on the plan that runs.
    */
  def batchVerdicts(batch: DataFrame, centroids: Array[Array[Long]],
      histAssigned: DataFrame, threshold: Double): DataFrame = {
    val b = KMeans
      .assignTo(Similarity.prepare(batch, "embedding"), "vec_id",
        centroids)
      .filter(col("qn") > 0)
      .select(col("vec_id").as("new_id"), col("cluster"),
        col("qv").as("__qva"), col("qn").as("__qna"))
    val h = histAssigned
      .select(col("hist_id"), col("cluster"), col("qv").as("__qvb"),
        col("qn").as("__qnb"))
    broadcast(b).join(h, Seq("cluster"))
      .withColumn("sim", Similarity.cosine(col("__qva"), col("__qvb"),
        col("__qna"), col("__qnb")))
      .filter(col("sim") >= threshold)
      .select(col("new_id"), col("hist_id"), col("cluster"), col("sim"))
  }

  // -------------------------------------------------------------------
  // Growing mode: arrivals EXTEND the probe side
  // -------------------------------------------------------------------

  /** [[run]] with SELF-EXTENDING state — the form a continuously-
    * ingesting pipeline actually deploys: each batch probes the stored
    * history, every EARLIER batch's arrivals (a near-dup between two
    * arrivals an hour apart must not slip through just because
    * neither is "history" yet), AND its own batch's other members
    * (id-ordered, lower id as `other_id` — two co-arriving
    * near-identical vectors are the LIKELIEST form a crawl re-fetch
    * takes, and neither "earlier batches" nor "history" would ever
    * surface the pair). The read-below-own-id rule is now
    * load-bearing twice over: batch i reads the arrivals store at
    * versions < i and appends its own assignments as version i, so a
    * replayed batch sees exactly the predecessor state it saw the
    * first time and rewrites exactly its own two versions — verdicts
    * never duplicate, pairs never flip direction. Per-batch cost is
    * still cell-blocked (batch broadcast, probe side read in place);
    * the probe side grows by arrival volume exactly as the production
    * store would. Output pairs carry `other_id` from EITHER side
    * (hist or an earlier arrival), ordered — the oracle replays the
    * whole fold closed-form from the staging NTILE.
    */
  def runGrowing(spark: SparkSession, embParquet: String,
      centroids: Array[Array[Long]], histAssigned: DataFrame,
      batchFilter: Column = lit(true), threshold: Double = 0.3,
      chunks: Int = 3): DataFrame =
    Staging.foldStaged(spark, embParquet, "semdedupg", chunks,
        Seq("vec_id")) { (vecs, root, ck) =>
      runGrowingInto(spark, vecs.filter(batchFilter), centroids,
        histAssigned, threshold, root, ck)
    } { root =>
      VersionedStore.readAllBelow(spark, s"$root/verdicts", Long.MaxValue)
        .getOrElse(emptyGrowVerdicts(spark))
        .orderBy("new_id", "other_id")
    }

  /** The growing pipeline against a caller-owned state root
    * (`<root>/verdicts` + `<root>/arrivals` append stores) and
    * checkpoint — the restart surface ([[Staging.foldEach]]).
    */
  def runGrowingInto(spark: SparkSession, vecs: DataFrame,
      centroids: Array[Array[Long]], histAssigned: DataFrame,
      threshold: Double, stateRoot: String, checkpoint: String): Unit =
    Staging.foldEach(vecs, checkpoint)(foldGrowingBatch(spark, stateRoot,
      centroids, histAssigned, threshold, _, _))

  private def foldGrowingBatch(spark: SparkSession, stateRoot: String,
      centroids: Array[Array[Long]], histAssigned: DataFrame,
      threshold: Double, batch: DataFrame, batchId: Long): Unit = {
    val b = KMeans
      .assignTo(Similarity.prepare(batch, "embedding"), "vec_id",
        centroids)
      .filter(col("qn") > 0)
      .select(col("vec_id").as("new_id"), col("cluster"),
        col("qv").as("__qva"), col("qn").as("__qna"))
    // probe side: stored history ∪ arrivals of versions < batchId
    // (read-below-own-id — a replayed batch sees the same state)
    val probe = histAssigned
      .select(col("hist_id").as("other_id"), col("cluster"),
        col("qv").as("__qvb"), col("qn").as("__qnb"))
      .unionByName(VersionedStore
        .readAllBelow(spark, s"$stateRoot/arrivals", batchId)
        .map(_.select(col("hist_id").as("other_id"), col("cluster"),
          col("qv").as("__qvb"), col("qn").as("__qnb")))
        .getOrElse(emptyArrivals(spark)))
    // intra-batch pairs: the batch against itself, lower id as the
    // "other" side (a < b emitted once, direction deterministic)
    val bSelf = b.select(col("new_id").as("other_id"), col("cluster"),
      col("__qva").as("__qvb"), col("__qna").as("__qnb"))
    val paired = broadcast(b).join(probe, Seq("cluster"))
      .unionByName(broadcast(b).join(bSelf, Seq("cluster"))
        .filter(col("other_id") < col("new_id")))
    val verdicts = paired
      .withColumn("sim", Similarity.cosine(col("__qva"), col("__qvb"),
        col("__qna"), col("__qnb")))
      .filter(col("sim") >= threshold)
      .select(col("new_id"), col("other_id"), col("cluster"), col("sim"))
    VersionedStore.write(verdicts, s"$stateRoot/verdicts", batchId)
    // append this batch's assignments — the probe side of every
    // LATER batch (same schema as the stored history)
    VersionedStore.write(
      b.select(col("new_id").as("hist_id"), col("cluster"),
        col("__qva").as("qv"), col("__qna").as("qn")),
      s"$stateRoot/arrivals", batchId)
  }

  private def emptyArrivals(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("other_id"), col("id").as("cluster"),
        expr("array(id)").as("__qvb"), col("id").as("__qnb"))

  private def emptyGrowVerdicts(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("new_id"), col("id").as("other_id"),
        col("id").as("cluster"), col("id").cast("double").as("sim"))

  private def emptyVerdicts(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("new_id"), col("id").as("hist_id"),
        col("id").as("cluster"), col("id").cast("double").as("sim"))
}
