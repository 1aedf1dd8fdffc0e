package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Audio

/** Streaming audio-dedup gate — the [[MediaScreen]] shape on the audio
  * axis, completing the modality family's deployable members (rasters:
  * MediaScreen/q267; text: NearDupIndex/q131): every arriving
  * micro-batch of WAV payloads is DECODED through the real chunk walk
  * and fingerprinted on the amplitude envelope
  * ([[Audio.envelopeHash]] — container bytes and sample values are
  * encoder-private across resamplings; the envelope is the audio),
  * then probed against a STORED fingerprint index of the already-
  * ingested corpus via the q294 band layout: 5 bands × 12 bits
  * (resample drift measured 0–1 bits, so the pigeonhole guarantee
  * holds with room), candidates verified at hamming ≤ 8. Matched
  * (arrival, history) pairs append as version `batchId` — the audit
  * trail a re-fetch suppression job reads.
  *
  * RECALL BOUND (documented, not a bug): 5 bands over 60 bits
  * pigeonhole-GUARANTEE candidate generation only for pairs within
  * hamming ≤ 4 (4 flips cannot touch all 5 bands); the ≤ 8 verify is
  * a widened ACCEPT gate — a pair differing 5–8 bits is admitted iff
  * its flips happen to spare one band. For the measured envelope
  * family this is exact in practice (resample drift is 0–1 bits,
  * measured over all 50 k sf1 seeds), and the oracle replays the same
  * band rule, so the gate's contract is "everything within 4 bits,
  * plus band-lucky pairs to 8" — q306 gates at ≤ 4, the bound the
  * layout actually guarantees. Callers needing guaranteed ≤ 8 recall
  * must widen to 9 narrower bands, paying 9/5 the index volume.
  *
  * Scale posture: decode is scan-local (payloads never shuffle — only
  * 16-byte (doc_id, fp) rows leave the scan); the probe is one
  * band-key equi-join of the batch's ~5 rows/doc against the stored
  * band index, read in place from parquet — at 100 TB the index is
  * bucketed by band key (the q131/E217 catalog discipline) so the
  * history side never re-shuffles; per-batch cost is
  * candidate-proportional and independent of history size.
  */
object AudioDedupGate {

  /** Band expansion shared by index build and probe: 12-bit slice
    * value tagged with its band position, one long key.
    */
  private val bandsOf = "transform(sequence(0, 4), " +
    "b -> (shiftright(%s, b * 12) & 4095) * 5 + b)"

  /** Build the stored band index from history fingerprints
    * (columns `hist_id`, `fp`): one row per (band key, fp, hist_id),
    * the fingerprint carried as `hfp` so probes join cleanly, with
    * the df cap applied at BUILD time (the [[VideoDedupGate]] /
    * LandmarkTakedownGate discipline on the envelope axis): a band
    * value carried by more than `maxDf` history rows is degenerate —
    * silent stretches quantize every bin below the mean into ONE
    * value — and is the probe join's skew magnet, so it never enters
    * the index. Appends can still push a band past the cap later —
    * the maintenance job (q323) refreshes [[stopBands]] and probes
    * anti-join it.
    *
    * RECALL UNDER THE CAP (documented erosion, not a bug): the ≤ 4
    * pigeonhole guarantee holds unconditionally only for references
    * whose five bands ALL survive — once a reference's band is
    * capped out, a rendition whose flips land in the surviving bands
    * can slip a candidate. This is the right trade: a band shared by
    * more than `maxDf` references cannot say WHICH reference matched
    * (pairing through it is the quadratic magnet AND a false-match
    * factory — any silent clip "matches" every silent reference), so
    * content identifiable ONLY by degenerate bands is not
    * identifiable on the envelope axis at all; the landmark screen
    * (q319) is the compliance backstop for it. References losing ALL
    * five bands are COUNTED, never silently dropped — q323 reports
    * `unindexed_refs` (fail-loudly discipline: an unfindable
    * takedown reference is an operator alert, in-data provably 0).
    * Note the envelope keyspace is 2¹² per band, so band df grows
    * ~history/4096: at production density the cap is re-measured
    * against the corpus (the q321 sweep), not scaled blindly.
    */
  def buildIndex(histFps: DataFrame, maxDf: Int = 64): DataFrame = {
    // pinned once: the entries frame feeds both the hot-key
    // aggregation and the anti-join probe side — every gated caller
    // maps a full WAV decode into this, which must not run twice
    val entries = histFps.select(col("hist_id"), col("fp").as("hfp"),
        explode(expr(bandsOf.format("fp"))).as("bk"))
      .localCheckpoint()
    entries.join(broadcast(graft.ops.Dedup.hotKeys(entries, "bk",
        maxDf)), Seq("bk"), "left_anti")
      .select("hist_id", "hfp", "bk")
  }

  /** Band keys carried by more than `maxDf` index rows — a degenerate
    * band value (silent audio quantizes every bin below the mean) is
    * the probe join's skew magnet. Tiny by construction; the
    * maintenance-time artifact an append job refreshes (q323) so
    * probes stay candidate-proportional on a grown index.
    */
  def stopBands(index: DataFrame, maxDf: Int): DataFrame =
    graft.ops.Dedup.hotKeys(index, "bk", maxDf)

  /** Stream the staged `mediaParquet` (columns `doc_id`, `payload` —
    * mono WAV bytes) in `chunks` micro-batches against the stored
    * band `index` ([[buildIndex]] layout); returns the matched
    * (doc_id, hist_id, hamming) pairs, ordered.
    */
  def run(spark: SparkSession, mediaParquet: String, index: DataFrame,
      chunks: Int = 3, maxHamming: Int = 8,
      stop: Option[DataFrame] = None): DataFrame =
    Staging.foldStaged(spark, mediaParquet, "audiogate", chunks,
        Seq("doc_id"))(
        runInto(spark, _, index, _, _, maxHamming, stop)) { root =>
      VersionedStore.readAllBelow(spark, s"$root/matches", Long.MaxValue)
        .getOrElse(emptyMatches(spark))
        .orderBy("doc_id", "hist_id")
    }

  /** The pipeline against a caller-owned state root and checkpoint —
    * the restart surface ([[Staging.foldEach]]): post-restart arrivals
    * still probe the same stored index.
    */
  def runInto(spark: SparkSession, media: DataFrame, index: DataFrame,
      stateRoot: String, checkpoint: String,
      maxHamming: Int = 8, stop: Option[DataFrame] = None): Unit =
    Staging.foldEach(media, checkpoint) { (batch, batchId) =>
      VersionedStore.write(
        batchMatches(spark, batch, index, maxHamming, stop),
        s"$stateRoot/matches", batchId)
    }

  /** One batch's matches: decode + fingerprint scan-locally, band
    * probe, hamming verify. Public so specs can assert streamed ≡
    * batch probing directly.
    */
  def batchMatches(spark: SparkSession, batch: DataFrame,
      index: DataFrame, maxHamming: Int = 8,
      stop: Option[DataFrame] = None): DataFrame = {
    // maxHamming: the verify gate. 8 is the dedup default (band-lucky
    // admits past the pigeonhole bound are a recall bonus there); a
    // TAKEDOWN screen passes 4 — the bound the 5-band layout actually
    // guarantees, because a compliance gate must not depend on luck.
    require(maxHamming >= 0 && maxHamming <= 60,
      s"maxHamming out of range: $maxHamming")
    import spark.implicits._
    val fps = batch
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) => (id, Audio.envelopeHash(id,
        if (p == null) Array.emptyByteArray else p)) }
      .toDF("doc_id", "fp")
    val bandRows = fps.select(col("doc_id"), col("fp"),
      explode(expr(bandsOf.format("fp"))).as("bk"))
    // `stop` is the maintenance-time stopBands artifact for indexes
    // grown past the build-time cap through appends — probe rows in a
    // hot band drop BEFORE the index join (batch-side broadcast
    // anti-join; the index-side plan is untouched)
    stop.fold(bandRows)(st =>
        bandRows.join(broadcast(st), Seq("bk"), "left_anti"))
      .join(index, Seq("bk"))
      .filter(expr(s"bit_count(fp ^ hfp) <= $maxHamming"))
      .select(col("doc_id"), col("hist_id"),
        expr("cast(bit_count(fp ^ hfp) as bigint)").as("hamming"))
      .distinct()
  }

  private def emptyMatches(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("doc_id"), col("id").as("hist_id"),
        col("id").as("hamming"))
}
