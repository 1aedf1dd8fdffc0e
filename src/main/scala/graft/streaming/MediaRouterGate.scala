package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Audio, Multimodal, Video}

/** Streaming mixed-media router gate — the q292 router deployed LIVE
  * at the ingestion edge (the family every screen here eventually
  * grows: drift q282, media blocklist q267, tombstones q255): every
  * arriving micro-batch's binary payloads are magic-byte sniffed,
  * routed to their REAL decoder, and reduced scan-locally to one
  * (format, content-units) row per payload; per batch the per-format
  * inventory appends as a version, and the GATE alerts when the
  * batch's unroutable share exceeds a threshold — a crawler that
  * starts shipping corrupted or unexpected containers (the encoding-
  * rot class on the binary axis) is caught batch-by-batch with the
  * format mix attributed, not at the next audit.
  *
  * Per-batch cost: one payload scan (sniff + decode, per-partition
  * codec instances), one ≤ formats-group partial agg, one broadcast of
  * the 1-row batch total. Payloads never shuffle — only
  * (format, units) rows leave the scan. Rows append as version
  * `batchId` under the [[VersionedStore]] replay rule.
  */
object MediaRouterGate {

  /** Stream the staged `mediaParquet` rows (columns `doc_id`,
    * `payload` binary) in `chunks` micro-batches; returns one row per
    * (batch, format): doc/unit counts plus the batch-level unroutable
    * share and the threshold verdict (repeated per row — the verdict
    * is batch-scoped).
    */
  def run(spark: SparkSession, mediaParquet: String,
      alertUnknownBp: Long, chunks: Int = 3): DataFrame =
    Staging.foldStaged(spark, mediaParquet, "mrouter", chunks,
        Seq("doc_id"))(runInto(spark, _, alertUnknownBp, _, _)) { root =>
      VersionedStore.readAllBelow(spark, s"$root/routes", Long.MaxValue)
        .getOrElse(emptyRoutes(spark))
        .orderBy("batch_id", "format")
    }

  /** The pipeline against a caller-owned state root and checkpoint —
    * the restart surface ([[Staging.foldEach]]).
    */
  def runInto(spark: SparkSession, media: DataFrame, alertUnknownBp: Long,
      stateRoot: String, checkpoint: String): Unit =
    Staging.foldEach(media, checkpoint) { (batch, batchId) =>
      // widen the one-file staged scan under the per-payload
      // sniff+decode (identity on a wide batch)
      VersionedStore.write(
        batchRouted(graft.ops.Widen.ifFewPartitions(batch),
          alertUnknownBp)
          .select(lit(batchId).as("batch_id"), col("format"),
            col("n_docs"), col("sum_units"), col("unknown_bp"),
            col("unknown_alert")),
        s"$stateRoot/routes", batchId)
    }

  /** One batch's routed inventory (sans batch id): sniff + routed
    * decode per payload, per-format counts/units, batch-scoped
    * unroutable share in truncated bp + verdict. Public so specs can
    * assert the arithmetic on planted payloads. Unknown payloads are
    * COUNTED (units 0), never decoded and never fatal — the gate
    * exists to report them; the batch-mode router (q292) errors
    * instead, because there a mis-sniff is a fixture bug.
    */
  def batchRouted(batch: DataFrame, alertUnknownBp: Long): DataFrame = {
    require(alertUnknownBp >= 0, s"bad alert threshold: $alertUnknownBp")
    val spark = batch.sparkSession
    import spark.implicits._
    val routed = batch.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p0) =>
          val p = if (p0 == null) Array.emptyByteArray else p0
          val fmt = Multimodal.sniffFormat(p)
          val units: Long = fmt match {
            case "ppm" =>
              val f = Multimodal.decodePpm(id, p); f.width * f.height
            case "png" =>
              val f = Multimodal.decodePng(id, p); f.width * f.height
            case "jpeg" =>
              val (w, h, _) = Multimodal.imageRaster(id, p)
              w.toLong * h
            case "wav" => Audio.decodeWav(id, p, frame = 100).n_samples
            case "y4m" =>
              val f = Video.decodeY4m(id, p, cutMeanDelta = 48)
              f.n_frames * f.width * f.height
            case _ => 0L
          }
          (id, fmt, units)
        }
      }
      .toDF("doc_id", "format", "units")
    val perFmt = routed.groupBy("format")
      .agg(count(lit(1)).as("n_docs"), sum("units").as("sum_units"))
    val tot = routed.agg(count(lit(1)).as("__n"),
      sum(when(col("format") === "unknown", 1L).otherwise(0L))
        .as("__nu"))
    perFmt.crossJoin(broadcast(tot))
      .select(col("format"), col("n_docs"), col("sum_units"),
        expr("__nu * 10000 div __n").as("unknown_bp"))
      .withColumn("unknown_alert", col("unknown_bp") > alertUnknownBp)
  }

  private def emptyRoutes(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("batch_id"), lit("").as("format"),
        col("id").as("n_docs"), col("id").as("sum_units"),
        col("id").as("unknown_bp"), lit(false).as("unknown_alert"))
}
