package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.LongDot
import graft.functions.{QuantizedCentroid, TextFns, TopK}
import graft.ops.{Audio, Video, Bfs, Blooms, Bpe, Cardinality, CharLm, Classifier, Cogrouped, Contamination, Dedup, DedupClusters, DenseId, Drift, Dsir, FreqSketch, FuzzyJoin, GapFill, JoinEstimate, KCenter, KCore, KMeans, Mixing, ModelStore, Multimodal, NearDup, Nested, Packing, PageRank, ParagraphDedup, Paths, Percentiles, PhraseExcise, ProductQuant, Salting, Sampling, Scd, Selection, Sessionize, Sharding, SetSimJoin, Similarity, Skyline, Snm, SpanDedup, TableDiff, TCloseness, Triangles, Winnowing}
import graft.streaming.{BudgetAdmission, EventStream, IncrementalClusters, NearDupIndex, RateMonitor, SemanticDedupScreen, StatefulSessions, VersionedStore}

/** Gated-query surface, MEDIA/STREAMING/REPORTS slice (split from
  * the original single-file TrainQueries): audio/video/image
  * chains, streaming gates, takedown screens, landmark/df-cap
  * tuning, verdict store + report family. See [[TrainQueries]].
  */
private[graft] object TrainQueriesMedia {
  import TrainQueriesCore._
  import TrainQueriesCuration._

  /** Incremental gram-history maintenance (q256): the WRITE side of
    * the q220/q223 bucketed novelty screens — after a crawl is
    * admitted, its novel grams must enter the stored history WITHOUT
    * rewriting it (at 100 TB the history is trillions of rows; a
    * rewrite-per-ingest is a nightly job, an append is a minute). The
    * arriving split's novel grams (the same merge anti-join the
    * probes use) APPEND into the bucketed table as new per-bucket
    * files — the bucket layout is preserved (Spark's bucketed writer
    * routes appended rows to their gh bucket), so every later probe
    * still reads the history exchange-free. Output: before/added/
    * after gram counts plus the re-probe ("recheck_novel", provably 0
    * — the maintained history now contains the arrivals). The query
    * clones the shared fixture into its own table first (order
    * independence: q220/q223 must keep reading the un-maintained
    * history) — like q206, it IS the maintenance demonstration and
    * rebuilds per trial.
    */
  private[graft] def qIncrGramHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tag = (s.sparkContext.applicationId + "_" + dir)
      .replaceAll("[^a-zA-Z0-9]", "_")
    val tbl = s"graft_novhist_incr_$tag"
    s.table(novHistoryTable(s, dir))
      .write.mode("overwrite").format("parquet")
      .partitionBy("ghp")
      .bucketBy(8, "gh").sortBy("gh").saveAsTable(tbl)
    val before = s.table(tbl).count()
    val arriving = graft.streaming.NoveltyMonitor.gramHashes(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0))
      .select("gh").distinct()
      .transform(snap)
    // materialize the novel-gram diff BEFORE appending: the anti-join
    // reads the same catalog table the append writes into, and relying
    // on Spark's planning-time file-list snapshot is fragile under task
    // retries / AQE re-listing (a re-list mid-write could double-read
    // or see its own half-committed output)
    val novel = arriving
      .join(s.table(tbl).hint("merge"), Seq("gh"), "left_anti")
      .transform(snap)
    // append preserves BOTH layout axes: rows route to their ghp
    // partition AND their gh bucket as new per-bucket files
    novel.withColumn("ghp", substring(col("gh"), 1, 1))
      .write.mode("append").format("parquet")
      .partitionBy("ghp")
      .bucketBy(8, "gh").sortBy("gh").saveAsTable(tbl)
    val after = s.table(tbl).count()
    val recheck = arriving
      .join(s.table(tbl).hint("merge"), Seq("gh"), "left_anti").count()
    Seq(("added", after - before), ("after", after), ("before", before),
      ("recheck_novel", recheck))
      .toDF("phase", "n_grams")
      .orderBy("phase")
  }

  /** Per-source curation scorecard (q257) — the capstone table a
    * corpus owner actually reads before a training run: one row per
    * source with volume (docs, tokens), mean heuristic quality in
    * exact bp (the E3 formula, quantized floor(q·10⁴+0.5) so the mean
    * is integer arithmetic), arrival novelty in bp (the q220 bucketed
    * probe, reused verbatim), and within-source verified near-dup
    * pairs (the q25 banded MinHash chain at J ≥ 0.5, both endpoints
    * in the source). Every signal reuses the machinery its dedicated
    * query gates — the scorecard adds two broadcast-joined rollups,
    * nothing new moves at scale.
    */
  private[graft] def qSourceScorecard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = docs
      .withColumn("__toks", expr("filter(split(text, ' '), t -> t <> '')"))
      .withColumn("__q", TextFns.qualityScore("text", "__toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("__toks")).cast("long")).as("n_tokens"),
        sum(expr("cast(floor(__q * 10000.0d + 0.5d) as bigint)"))
          .as("__qsum"))
      .withColumn("mean_quality_bp", expr("__qsum div n_docs"))
    val nov = graft.streaming.NoveltyMonitor.noveltyCounts(s,
        graft.streaming.NoveltyMonitor.gramHashes(
          docs.filter(col("doc_id") % 5 === 0)),
        novHistoryTable(s, dir))
      .select(col("source"), col("novelty_bp"))
    val shingled = docs.withColumn("shingles", TextFns.shingles("text", 5))
      .select("doc_id", "shingles")
    val sigs = NearDup.minHashSigs(shingled, "doc_id", "shingles", 32, "sig")
    val cand = NearDup.candidatePairs(
      NearDup.bandRows(sigs, "doc_id", "sig", 4, 8, 32), "doc_id")
    val verified = NearDup.jaccard(cand, shingled, "doc_id", "shingles")
      .filter(col("jaccard") >= 0.5)
    val dsrc = docs.select(col("doc_id"), col("source"))
    val dp = verified
      .join(dsrc.select(col("doc_id").as("id_a"),
        col("source").as("__sa")), "id_a")
      .join(dsrc.select(col("doc_id").as("id_b"),
        col("source").as("__sb")), "id_b")
      .filter(col("__sa") === col("__sb"))
      .groupBy(col("__sa").as("source"))
      .agg(count(lit(1)).as("n_dup_pairs"))
    base
      .join(nov, Seq("source"), "left")
      .join(dp, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("mean_quality_bp"),
        coalesce(col("novelty_bp"), lit(0L)).as("novelty_bp"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"))
      .orderBy("source")
  }

  /** Bot-rate screen over behavioral logs (q258): human users do not
    * emit 50 events in a minute — training on bot sessions teaches a
    * model bot behavior, so behavioral corpora screen on the maximum
    * short-window event rate per user BEFORE sessionization. The rate
    * is a RANGE-frame window (count over [ms−60000, ms] per user —
    * event-time, not row-count, so burst density is measured even
    * through sparse stretches), then one per-user max and the top-20
    * worst offenders with a fixed superhuman flag (> 30/min). Window
    * partitions by user (bounded per-user history), top-k is
    * TakeOrderedAndProject — no global sort at any size.
    */
  private[graft] def qBotRateScreen(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ms").rangeBetween(-60000L, 0L)
    t(s, dir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("__r", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(col("__r")).as("max_rate_60s"))
      .withColumn("superhuman", col("max_rate_60s") > 30L)
      .orderBy(col("max_rate_60s").desc, col("user_id"))
      .limit(20)
  }

  /** b-bit MinHash estimation audit (q259, the published Li–König
    * one-bit compression): a 32-hash signature stores 256 bytes per
    * document; at 100 TB signature storage IS the dedup index's cost,
    * and b-bit MinHash keeps only the LOW b BITS of each hash — 32×
    * smaller at b = 1 — at the price of random collisions (half of
    * all non-matching hashes agree by chance). The estimator corrects
    * exactly: E[bit match] = (1+J)/2, so Ĵ = 2·(m₁/k) − 1. This audit
    * computes, per banded candidate pair, the full-signature estimate
    * and the 1-bit estimate in exact truncating bp (integers — no
    * cross-engine float risk on either estimator) beside the exact
    * Jaccard, so the precision cost of 32× compression is MEASURED
    * (q51-style: the claim ships with its error, never alone). Same
    * banded chain as q25; only signatures and pair ids shuffle.
    */
  private[graft] def qBbitMinhash(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .transform(graft.ops.Widen.byDocId)
      .withColumn("shingles", TextFns.shingles("text", 5))
      .select("doc_id", "shingles")
      .transform(snap)
    val sigs = NearDup.minHashSigs(docs, "doc_id", "shingles", 32, "sig")
      .transform(snap)
    val cand = NearDup.candidatePairs(
      NearDup.bandRows(sigs, "doc_id", "sig", 4, 8, 32), "doc_id")
    val ests = cand
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("__sa")),
        "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("__sb")),
        "id_b")
      .withColumn("__m32", expr(
        "size(filter(zip_with(__sa, __sb, (x, y) -> x = y), b -> b))"))
      .withColumn("__m1", expr(
        "size(filter(zip_with(__sa, __sb, (x, y) -> x % 2 = y % 2)," +
          " b -> b))"))
      .select(col("id_a"), col("id_b"),
        expr("cast(__m32 * 10000L div 32 as bigint)").as("est32_bp"),
        expr("cast(2L * __m1 * 10000L div 32 - 10000L as bigint)")
          .as("est1_bp"))
    NearDup.jaccard(cand, docs, "doc_id", "shingles")
      .join(ests, Seq("id_a", "id_b"))
      .select("id_a", "id_b", "jaccard", "est32_bp", "est1_bp")
      .orderBy("id_a", "id_b")
  }

  /** Canonicalization-policy audit (q260): when a near-dup pair
    * collapses to one representative, WHICH copy survives is a
    * curation policy — min-id (stable, arbitrary) vs quality-max
    * (keeps the better copy, the CCNet choice). This audit measures
    * how often the two policies disagree on the corpus's own verified
    * pairs (q25's banded chain at J ≥ 0.5): per pair, both endpoint
    * qualities in exact bp (the E3 formula, quantized), the
    * quality-max representative (ties break to min id, so the policy
    * is total), and whether it differs from min-id. Disagreement ≈
    * half on a quality-uncorrelated corpus; strongly-skewed
    * disagreement flags quality-correlated duplication (e.g. the
    * re-crawl is always the truncated copy). Same chain as q25 plus
    * one broadcast-sized quality lookup join.
    */
  private[graft] def qCanonPolicy(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val qual = docs
      .withColumn("__toks", expr("filter(split(text, ' '), t -> t <> '')"))
      .withColumn("__q", TextFns.qualityScore("text", "__toks"))
      .select(col("doc_id"),
        expr("cast(floor(__q * 10000.0d + 0.5d) as bigint)").as("q_bp"))
    val shingled = docs.transform(graft.ops.Widen.byDocId)
      .withColumn("shingles", TextFns.shingles("text", 5))
      .select("doc_id", "shingles")
      .transform(snap)
    val sigs = NearDup.minHashSigs(shingled, "doc_id", "shingles", 32, "sig")
    val cand = NearDup.candidatePairs(
      NearDup.bandRows(sigs, "doc_id", "sig", 4, 8, 32), "doc_id")
    NearDup.jaccard(cand, shingled, "doc_id", "shingles")
      .filter(col("jaccard") >= 0.5)
      .join(qual.select(col("doc_id").as("id_a"), col("q_bp").as("q_a_bp")),
        "id_a")
      .join(qual.select(col("doc_id").as("id_b"), col("q_bp").as("q_b_bp")),
        "id_b")
      .withColumn("rep_quality", expr(
        """case when q_a_bp > q_b_bp then id_a
          |     when q_b_bp > q_a_bp then id_b
          |     else least(id_a, id_b) end""".stripMargin))
      .withColumn("policy_differs",
        col("rep_quality") =!= least(col("id_a"), col("id_b")))
      .select("id_a", "id_b", "q_a_bp", "q_b_bp", "rep_quality",
        "policy_differs")
      .orderBy("id_a", "id_b")
  }

  /** IDF-weighted Jaccard rescoring (q261): plain Jaccard counts a
    * boilerplate shingle ("click here to subscribe") the same as a
    * rare one, so template-heavy corpora over-merge distinct documents
    * that share chrome. The weighted form down-weights each shingle by
    * its corpus document frequency — w(g) = 10⁶ div df(g), exact
    * integers — and rescores every banded candidate pair: wJ =
    * Σ_{g∈A∩B} w / Σ_{g∈A∪B} w in truncating bp beside the unweighted
    * exact J, so pairs held together only by common chrome become
    * visible (wJ ≪ J). Candidates stay banded-bounded (the q25 chain);
    * per-pair scoring is ONE merge walk over the two docs' sorted
    * (gram, weight) arrays
    * ([[graft.expressions.SortedWeightedIntersectSum]] — the q134
    * verification discipline): Σ_{A∩B} w comes out of the walk, and
    * Σ_{A∪B} w = Σ_A w + Σ_B w − Σ_{A∩B} w folds out of per-doc
    * totals, so NO per-pair gram rows ever shuffle — the df table
    * joins per-doc ONCE (corpus-gram-sized, not pair-bounded), and the
    * pair legs carry only the prepacked arrays.
    */
  private[graft] def qWeightedJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .transform(graft.ops.Widen.byDocId)
      .withColumn("shingles", TextFns.shingles("text", 5))
      .select("doc_id", "shingles")
      .transform(snap)
    val grams = docs.select(col("doc_id"), explode(col("shingles")).as("g"))
    val w = grams.groupBy("g").agg(count(lit(1)).as("__df"))
      .withColumn("__w", expr("1000000L div __df"))
    val sigs = NearDup.minHashSigs(docs, "doc_id", "shingles", 32, "sig")
    val cand = NearDup.candidatePairs(
        NearDup.bandRows(sigs, "doc_id", "sig", 4, 8, 32), "doc_id")
      .transform(snap)
    // per-doc sorted gram array, aligned weights, and total weight —
    // packed ONLY for candidate members (broadcast semi-join: the
    // candidate doc set is band-bounded, tiny beside the corpus; a
    // corpus-wide packing measured 1.6× SLOWER than the per-pair
    // shuffle it replaced). sort_array on struct orders by the gram,
    // Spark's binary string order — the walk's contract.
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    val docW = grams
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .join(w.select(col("g"), col("__w")), "g")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("g"), col("__w"))))
          .as("__gw"),
        sum("__w").as("__wsum"))
      .select(col("doc_id"),
        expr("transform(__gw, x -> x.g)").as("__gs"),
        expr("transform(__gw, x -> x.__w)").as("__ws"),
        col("__wsum"))
      .transform(snap)
    val weighted = cand
      .join(docW.select(col("doc_id").as("id_a"), col("__gs").as("__gsa"),
        col("__ws").as("__wsa"), col("__wsum").as("__suma")), "id_a")
      .join(docW.select(col("doc_id").as("id_b"), col("__gs").as("__gsb"),
        col("__wsum").as("__sumb")), "id_b")
      .withColumn("__num", graft.expressions.SortedWeightedIntersectSum
        .sum(col("__gsa"), col("__wsa"), col("__gsb")))
      .withColumn("wjaccard_bp",
        expr("__num * 10000L div (__suma + __sumb - __num)"))
      .select("id_a", "id_b", "wjaccard_bp")
    NearDup.jaccard(cand, docs, "doc_id", "shingles")
      .join(weighted, Seq("id_a", "id_b"))
      .select("id_a", "id_b", "jaccard", "wjaccard_bp")
      .orderBy("id_a", "id_b")
  }

  /** Byte-budget shard planning (q262): training jobs read
    * fixed-budget shards, so the export layout question is "which
    * docs land in which shard when each shard holds ≤ B payload
    * bytes, in corpus order". Assignment is start-offset sharding:
    * shard(d) = floor(start_offset(d) / B) with start offsets from
    * the EXACT distributed running sum ([[Packing.withRunningSum]] —
    * the range-exchange prefix sum, never a single-task window), the
    * same discipline the token-budget selection (E145) and packing
    * (E202) ops use. One prefix sum + one shard rollup; the plan
    * table is shards-sized metadata at any corpus size.
    */
  private[graft] def qByteShardPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val cum = graft.ops.Packing.withRunningSum(docs, "__cum", "n_chars",
      col("doc_id"))
    cum.withColumn("shard", expr("(__cum - n_chars) div 16384L"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("shard_bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard")
  }

  /** Unicode-canonicalization dedup audit (q263,
    * [[graft.expressions.UnicodeNormalize]]): real crawls carry the
    * same text precomposed and decomposed (é as U+00E9 or
    * e + U+0301) — byte-identical to a READER, distinct to a byte-level
    * fingerprint, so NFD twins evade exact dedup, tombstones, and
    * boilerplate removal unless the canonical form normalizes first.
    * This audit PROVES the collapse on planted twins: for every %7 doc,
    * a precomposed variant (a → U+00E0) and its decomposed equivalent
    * (a → a + U+0300) enter as separate documents; grouping by the NFC
    * fingerprint collapses each twin pair into one group whose members
    * still disagree on the PRE-normalization fingerprint (n_raw_fps =
    * 2 — the measured evasion the old chain allowed). Scan-local
    * normalization (JDK UAX #15, already-NFC fast path), one 32-byte-
    * key group-by — the q24 shape; the oracle replays byte-for-byte
    * via DuckDB's `nfc_normalize`.
    */
  private[graft] def qNfcDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"))
    val pre = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      regexp_replace(col("text"), "a", "\u00e0").as("text"))
    val dec = docs.select((col("doc_id") + 2000000L).as("doc_id"),
      regexp_replace(col("text"), "a", "a\u0300").as("text"))
    docs.unionByName(pre).unionByName(dec)
      .select(col("doc_id"), TextFns.fingerprint("text").as("fp"),
        // the pre-normalization (byte-level) fingerprint — kept beside
        // the canonical one to MEASURE what NFC closed
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")
          .cast("binary")).as("raw_fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("raw_fp").as("n_raw_fps"),
        min("doc_id").as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("first_doc")
  }

  /** Real JPEG decode audit (q264, [[Multimodal.decodeJpeg]]): the
    * LOSSY flavor of the q251 javax.imageio seam — JPEG is the format
    * crawls actually carry, and a lossy codec has no cross-engine bit
    * contract (DCT quantization is encoder-private, IDCT rounding
    * decoder-private). So the row ships what IS portable: exact dims
    * (closed-form) and the per-channel tolerance claim
    * |decoded − source| ≤ 24 everywhere (measured max 14, min 7 on
    * this JDK across the full dim/level parameter space — chroma-
    * subsampling-dominated, the real 4:2:0 cost; the contract adds
    * ~10 levels of headroom because IDCT rounding is JDK-vendor-
    * private, so a different vendor could land a few levels higher —
    * 24 stays far below the vacuous 255 bound) against the
    * closed-form gradient raster (the q104 within-eps discipline for
    * approximate ops; the measured error magnitude lives in
    * `JpegSpec`, which also proves the decode is real — lossy,
    * nonzero error — not an input echo). Scan-local encode+decode per
    * task; payloads never shuffle.
    */
  private[graft] def qJpegDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val media = t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId)
      .as[Long]
      .map { id =>
        Multimodal.MediaRecord(id,
          Multimodal.encodeJpeg(id, (16 + ((id / 3) % 3) * 8).toInt,
            (16 + (id % 2) * 8).toInt),
          "jpg")
      }
    Multimodal.decodeJpegFeatures(media, tol = 24).toDF()
      .orderBy("doc_id")
  }

  /** Re-encoded-media dedup proof (q265): the end-to-end property
    * q252 set up — the SAME image re-encoded through a DIFFERENT
    * codec must deduplicate. Per doc, one closed-form gradient raster
    * is encoded losslessly (PNG) and lossily (JPEG), both decoded
    * through the real codecs, both blockhashed on DECODED pixels:
    * the PNG-leg fingerprint is bit-exact against the closed form
    * (lossless decode — the oracle replays it in SQL, the q252
    * discipline), and the JPEG-leg fingerprint lands within 8/60 bits
    * of it (`reencode_dedups` — the pigeonhole-band match the E187
    * near-dup screen keys on; measured distances live in `JpegSpec`).
    * Container bytes differ in EVERY byte across the two legs; the
    * rasters agree within JPEG tolerance — fingerprinting decoded
    * pixels is exactly what makes that visible.
    */
  private[graft] def qReencodeDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val ids = t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId)
      .as[Long]
    def dims(id: Long) =
      ((16 + ((id / 3) % 3) * 8).toInt, (16 + (id % 2) * 8).toInt)
    val png = ids.map { id =>
      val (w, h) = dims(id)
      Multimodal.MediaRecord(id, Multimodal.encodeGradientPng(id, w, h), "png")
    }
    val jpg = ids.map { id =>
      val (w, h) = dims(id)
      Multimodal.MediaRecord(id, Multimodal.encodeJpeg(id, w, h), "jpg")
    }
    val hp = Multimodal.blockHash(Multimodal.toRaster(png)).toDF()
      .select(col("doc_id"), col("fp").as("fp_png"),
        col("n_bytes").as("n_raster_bytes"))
    val hj = Multimodal.blockHash(Multimodal.toRaster(jpg)).toDF()
      .select(col("doc_id"), col("fp").as("__fp_jpg"))
    hp.join(hj, "doc_id")
      .select(col("doc_id"), col("n_raster_bytes"), col("fp_png"),
        (expr("bit_count(fp_png ^ __fp_jpg)") <= 8).as("reencode_dedups"))
      .orderBy("doc_id")
  }

  /** Canonicalization-aware near-dup (q266): the E258 canonical form
    * carried into the MINHASH chain — raw character shingles treat a
    * case-flipped, Unicode-recomposed re-crawl as a DIFFERENT document
    * (every shingle containing the perturbed bytes changes, J ≈ 0),
    * so the q25 screen structurally misses re-crawls that differ only
    * in formatting. Shingling the canonical text (NFC + lower + ws
    * collapse) closes it. Proven on planted twins: per %13 doc, two
    * variants of the same content — one with precomposed é (U+00E9),
    * one UPPER-cased with decomposed E+U+0301 — whose canonical forms
    * are IDENTICAL while their raw forms share almost nothing. The
    * canon-shingle chain verifies each twin pair at J = 1; the exact
    * raw-shingle Jaccard ships beside it in exact bp, measuring what
    * the raw chain would have seen (≈ 0). Same banded cost class as
    * q25 over 1.15× the docs; the raw-J rescoring is pair-bounded.
    */
  private[graft] def qCanonNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 13 === 0)
    // twin A: lower-cased, e → precomposed é; twin B: the SAME
    // abstract text UPPER-cased with the DECOMPOSED e + U+0301 —
    // canonical forms identical, raw bytes disjoint wherever an e/E
    // or any letter sits (explicit escapes: literals recompose)
    val a = planted.select((col("doc_id") + 1000000L).as("doc_id"),
      regexp_replace(lower(col("text")), "e", "\u00e9").as("text"))
    val b = planted.select((col("doc_id") + 2000000L).as("doc_id"),
      upper(regexp_replace(lower(col("text")), "e", "e\u0301")).as("text"))
    val texts = docs.unionByName(a).unionByName(b)
    val corpus = texts
      .transform(graft.ops.Widen.byDocId)
      .withColumn("__canon", regexp_replace(lower(trim(
        graft.expressions.UnicodeNormalize.nfc(col("text")))),
        "\\s+", " "))
      .select(col("doc_id"), TextFns.shingles("__canon", 5)
        .as("canon_shingles"))
      .transform(snap)
    val sigs = NearDup.minHashSigs(corpus, "doc_id", "canon_shingles",
      32, "sig")
    val cand = NearDup.candidatePairs(
      NearDup.bandRows(sigs, "doc_id", "sig", 4, 8, 32), "doc_id")
    val canonJ = NearDup.jaccard(cand,
        corpus.select(col("doc_id"), col("canon_shingles").as("shingles")),
        "doc_id", "shingles")
      .filter(col("jaccard") >= 0.5)
      .withColumnRenamed("jaccard", "jaccard_canon")
      .transform(snap)
    // raw shingles ONLY for verified-pair members (broadcast semi-join
    // — the q261 lesson: corpus-wide array packing loses when the
    // pair set is small, and at any scale the rescore needs exactly
    // the members)
    val members = canonJ
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    val raw = texts
      .join(broadcast(members), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextFns.shingles("text", 5)
        .as("raw_shingles"))
    canonJ
      .join(raw.select(col("doc_id").as("id_a"),
        col("raw_shingles").as("__ra")), "id_a")
      .join(raw.select(col("doc_id").as("id_b"),
        col("raw_shingles").as("__rb")), "id_b")
      .withColumn("jaccard_raw_bp", expr(
        """size(array_intersect(__ra, __rb)) * 10000L
          | div (size(__ra) + size(__rb)
          |      - size(array_intersect(__ra, __rb)))""".stripMargin))
      .select("id_a", "id_b", "jaccard_canon", "jaccard_raw_bp")
      .orderBy("id_a", "id_b")
  }

  /** The q267 media fixture: every %3 doc's gradient raster as a real
    * PNG payload, staged once per (session, dir) — the stored media
    * table a streaming ingest reads.
    */
  private[graft] val mediaFileCache = scala.collection.mutable.Map
    .empty[(String, String), String]

  private[graft] def mediaParquetPath(s: SparkSession, dir: String): String =
    sessionFixture(mediaFileCache, s, dir) {
      import s.implicits._
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val path = graft.Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_media_$tag")
      t(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").cast("long"))
        .transform(graft.ops.Widen.byDocId).as[Long]
        .map { id =>
          (id, Multimodal.encodeGradientPng(id,
            (16 + ((id / 3) % 3) * 8).toInt, (16 + (id % 2) * 8).toInt))
        }
        .toDF("doc_id", "payload")
        .write.mode("overwrite").parquet(path)
      path
    }

  /** Streaming media ingestion gate (q267,
    * [[graft.streaming.MediaScreen]]): the q255 tombstone discipline
    * pointed at BINARY payloads — every arriving micro-batch's media
    * is decoded through the real codec and blockhashed on DECODED
    * pixels, then probed against a known-bad perceptual blocklist
    * (removal-request media, broadcast-sized) at ingestion — a
    * pigeonhole NEAR-match (band join + hamming ≤ 8 verify; exact-fp
    * equality would miss ~38% of re-encodes, see [[MediaScreen]]).
    * Because the fingerprint is computed on rasters, a blocklisted
    * image RE-ENCODED through a different codec still matches (the
    * q265 property, enforced live — spec-proved with an actual JPEG
    * re-encode of blocklisted media). The oracle replays the
    * closed-form gradient blockhash, the staging NTILE, and the
    * identical band + hamming probe.
    */
  private[graft] def qStreamMediaScreen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    // blocklist: removal requests for the %41 media docs — fingerprints
    // computed through the SAME real decode path (request media is
    // media); broadcast-sized by nature
    val blocked = t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 0 && col("doc_id") % 41 === 0)
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId).as[Long]
      .map { id =>
        Multimodal.MediaRecord(id, Multimodal.encodeGradientPng(id,
          (16 + ((id / 3) % 3) * 8).toInt, (16 + (id % 2) * 8).toInt),
          "png")
      }
    val blockedFps = Multimodal.blockHash(Multimodal.toRaster(blocked))
      .toDF().select(col("fp")).transform(snap)
    graft.streaming.MediaScreen.run(s, mediaParquetPath(s, dir),
      blockedFps)
  }

  /** Winnowing pairwise similarity (q268) — the MOSS use of the E208
    * machinery: q214 counts how many documents repeat a fingerprint;
    * this asks WHICH PAIRS share many — the plagiarism/near-copy
    * ranking, with the guarantee that any shared character run ≥
    * L+w−1 (37 chars) contributes to the pair's score. Pairs come
    * from a self-join WITHIN fingerprint groups, df-capped to
    * [2, 50] (the q64 discipline: singleton fingerprints pair with
    * nothing; >50-doc fingerprints are boilerplate mass that belongs
    * to q214's audit, and the cap bounds candidate volume by
    * Σ df² ≤ 50·Σ df — linear in selected fingerprints). Selection is
    * the native scan-local [[graft.expressions.WinnowSelect]] pass;
    * only (gram, id) rows shuffle.
    */
  private[graft] def qWinnowPairs(s: SparkSession, dir: String): DataFrame = {
    val sel = Winnowing.selectedGrams(t(s, dir, "documents"),
      "doc_id", "text", l = 30, w = 8)
    val df = sel.groupBy("gram").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= 50)
    val rare = sel.join(df.select("gram"), "gram").transform(snap)
    rare.select(col("gram"), col("doc_id").as("id_a"))
      .join(rare.select(col("gram"), col("doc_id").as("id_b")), "gram")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_fps"))
      .orderBy(col("n_shared_fps").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  /** Repetition-loop screen (q269): machine-generated and
    * scrape-corrupted text loops — the same token run repeating with
    * a short period — and training on it teaches the loop. The signal
    * is the lag-L token self-match rate: for L in 1..10, the fraction
    * of positions i with t(i) = t(i+L), maxed over lags (ties →
    * smallest lag) in exact bp. A looping document scores near 10⁴ at
    * its period; natural prose sits low (function-word recurrence).
    * Entirely scan-local — one O(tokens · 10) pass per document over
    * a Generate-materialized token array (the CollapseProject-
    * inlining trap: an ALIAS referenced in a HOF lambda re-splits the
    * document per lambda call — `explode(array(...))` pins it once,
    * the q246 lesson). Top-20 worst + the screen flag.
    */
  private[graft] def qRepetitionLoop(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .select(col("doc_id"), explode(expr(
        "array(filter(split(text, ' '), t -> t <> ''))")).as("tk"))
      .filter(size(col("tk")) > 10)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, 10), L -> named_struct(
          |  'lag', cast(L as bigint),
          |  'bp', aggregate(sequence(1, size(tk) - L), 0L,
          |          (a, i) -> a + if(element_at(tk, i) =
          |                           element_at(tk, i + L), 1L, 0L))
          |        * 10000L div cast(size(tk) - L as bigint)))"""
          .stripMargin)).as("r"))
      .groupBy("doc_id")
      .agg(min(struct((-col("r.bp")).as("nbp"), col("r.lag").as("lag")))
        .as("__m"))
      .select(col("doc_id"), (-col("__m.nbp")).as("max_lag_bp"),
        col("__m.lag").as("best_lag"))
      .withColumn("looped", col("max_lag_bp") >= 3000L)
      .orderBy(col("max_lag_bp").desc, col("doc_id"))
      .limit(20)
  }

  /** Vocabulary-growth curve (q270) — the Heaps-law crawl-health
    * audit: a healthy crawl keeps discovering new grams at a
    * power-law rate; a curve that flattens early says the crawler is
    * re-fetching (the batch-level signal q220/q223 monitor, read as a
    * corpus-order CURVE). Per corpus-order decile — the CLOSED-FORM
    * id-range rule decile = id·10 div n + 1 off one metadata count,
    * never an NTILE (a global-order window is one task at any scale) —
    * count the grams whose FIRST occurrence falls in that decile.
    * First-occurrence is one partial-agg min(doc_id) per gram (32-byte
    * hashes only) with the decile derived SCAN-LOCALLY from it; the
    * running cumulative runs on the 10-row curve, metadata-sized by
    * construction. Nothing here outgrows the q220 gram-rollup shape
    * at 100 TB.
    */
  private[graft] def qVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.count()
    // integer division on purpose (Column./ is double division)
    val decileExpr = expr(s"doc_id * 10 div ${n}L + 1")
    val firstSeen = docs
      .select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"),
        explode(Contamination.wordGrams("__toks", 3)).as("__g"))
      .select(col("doc_id"), md5(col("__g")).as("gh"))
      .groupBy("gh").agg(min("doc_id").as("doc_id"))
    val perDecile = firstSeen
      .select(decileExpr.as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_new_grams"))
      .join(docs.select(decileExpr.as("decile"))
          .groupBy("decile").agg(count(lit(1)).as("n_docs")),
        Seq("decile"), "right")
      .select(col("decile"), col("n_docs"),
        coalesce(col("n_new_grams"), lit(0L)).as("n_new_grams"))
    // 10-row curve: the running-sum window is metadata-sized
    perDecile
      .withColumn("cum_grams", sum("n_new_grams").over(
        org.apache.spark.sql.expressions.Window.orderBy("decile")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .orderBy("decile")
  }

  /** Dedup impact report (q271) — the prioritization table a corpus
    * owner reads before choosing which screens to run: per screen, its
    * INDEPENDENT impact on the raw corpus (docs affected, tokens
    * removed, removal share in exact bp of total tokens). Independent
    * on purpose — "what would this screen alone remove" is the number
    * screens are prioritized on; pipeline-order composition is a
    * different question with order-dependent answers. Three screens,
    * each reusing its dedicated query's machinery verbatim:
    * `exact` = non-representatives of NFC-fingerprint groups (q24's
    * key, min-id representative — whole docs); `near_dup` = the larger
    * id of every q25-verified pair at J ≥ 0.5 (the drop-the-re-crawl
    * greedy — whole docs); `paragraph` = dropped duplicate paragraphs
    * inside kept docs (q101's decisions — PARTIAL removal, tokens of
    * the dropped paragraphs only). One corpus scan per leg plus the
    * q25 chain; three 1-row aggregates union into the 3-row report.
    */
  private[graft] def qDedupImpact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = docs.select(col("doc_id"), col("text"),
        expr("cast(size(filter(split(text, ' '), t -> t <> '')) " +
          "as bigint)").as("n_toks"))
      .transform(snap)
    val total = toks.agg(sum("n_toks")).head().getLong(0)
    def row(screen: String, affected: DataFrame) = affected
      .agg(count(lit(1)).as("n_docs_affected"),
        coalesce(sum("__removed"), lit(0L)).as("n_tokens_removed"))
      .select(lit(screen).as("screen"), col("n_docs_affected"),
        col("n_tokens_removed"),
        expr(s"n_tokens_removed * 10000L div ${total}L")
          .as("removed_bp"))
    val fps = toks.select(col("doc_id"), col("n_toks").as("__removed"),
      TextFns.fingerprint("text").as("fp"))
    val exact = fps
      .join(fps.groupBy("fp").agg(min("doc_id").as("__rep")), "fp")
      .filter(col("doc_id") =!= col("__rep"))
    val shingled = docs.transform(graft.ops.Widen.byDocId)
      .withColumn("shingles", TextFns.shingles("text", 5))
      .select("doc_id", "shingles")
      .transform(snap)
    val sigs = NearDup.minHashSigs(shingled, "doc_id", "shingles", 32,
      "sig")
    val cand = NearDup.candidatePairs(
      NearDup.bandRows(sigs, "doc_id", "sig", 4, 8, 32), "doc_id")
    val ndRemoved = NearDup.jaccard(cand, shingled, "doc_id", "shingles")
      .filter(col("jaccard") >= 0.5)
      .select(col("id_b").as("doc_id")).distinct()
      .join(toks.select(col("doc_id"),
        col("n_toks").as("__removed")), "doc_id")
    val paras = ParagraphDedup.paragraphs(docs, "doc_id", "text", 20)
      .withColumn("__pt", expr(
        "cast(size(filter(split(para, ' '), t -> t <> '')) as bigint)"))
    val dropped = ParagraphDedup.decisions(docs, "doc_id", "text", 20)
      .filter(!col("keep"))
      .join(paras, Seq("doc_id", "par_idx"))
      .groupBy("doc_id").agg(sum("__pt").as("__removed"))
    row("exact", exact)
      .unionByName(row("near_dup", ndRemoved))
      .unionByName(row("paragraph", dropped))
      .orderBy("screen")
  }

  /** Decontamination certificate (q272) — the per-eval-document
    * verdict an eval set ships with: each of the three independent
    * contamination screens' signal in ONE row, so "this benchmark is
    * clean against this corpus" is a table, not a claim. Legs, each
    * its dedicated query's machinery verbatim: `n_shared_grams` =
    * the eval doc's distinct word-3-grams present anywhere in the
    * corpus (q53/q220's gram idiom — catches verbatim spans),
    * `n_shared_fps` = its winnowing fingerprints selected anywhere in
    * the corpus (q222 — catches PARTIAL verbatim runs ≥ 37 chars
    * inside paraphrase), `exact_canon_hit` = its NFC canonical
    * fingerprint present verbatim (q242/q263 — catches reformatting
    * and Unicode tricks). `contaminated` ORs the three at the
    * documented thresholds (≥ 5 shared grams, ≥ 1 shared fingerprint,
    * any exact hit). Eval side is benchmark-sized; every leg is a
    * semi-join of hashes/grams against corpus-side distinct sets —
    * the corpus is scanned, never pairwise-compared.
    */
  private[graft] def qDecontamCertificate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalDocs = docs.filter(col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    def grams(df: DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"),
        explode(Contamination.wordGrams("__toks", 3)).as("g"))
    val legA = grams(evalDocs)
      .join(grams(corpus).select("g").distinct(), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
    val legB = Winnowing.selectedGrams(evalDocs, "doc_id", "text", 30, 8)
      .join(Winnowing.selectedGrams(corpus, "doc_id", "text", 30, 8)
        .select("gram").distinct(), Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_fps"))
    val legC = evalDocs
      .select(col("doc_id"), TextFns.fingerprint("text").as("fp"))
      .join(corpus.select(TextFns.fingerprint("text").as("fp"))
        .distinct().withColumn("__h", lit(true)), Seq("fp"), "left")
      .select(col("doc_id"),
        coalesce(col("__h"), lit(false)).as("exact_canon_hit"))
    evalDocs.select("doc_id")
      .join(legA, Seq("doc_id"), "left")
      .join(legB, Seq("doc_id"), "left")
      .join(legC, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"),
        col("exact_canon_hit"))
      .withColumn("contaminated",
        col("n_shared_grams") >= 5L || col("n_shared_fps") >= 1L ||
          col("exact_canon_hit"))
      .orderBy("doc_id")
  }

  /** Semantic contamination screen (q273): the axis the lexical
    * certificate (q272) cannot see — a translated or fully-paraphrased
    * eval item shares no grams, no winnowing fingerprints, and no
    * canonical fingerprint with its source, but its EMBEDDING sits
    * next to it. Per eval vector (%50 split), the exact top-1 cosine
    * against the corpus side (the q28 integer-quantized brute-force —
    * the EXACT baseline, the q51 discipline: approximate indexes are
    * judged against this; at corpus scale the probe side swaps to the
    * IVF/stored-model path, q37/q129) with the flag at ≥ 0.3 (~p99.9
    * of this corpus's pairwise cosine — the qCosineNearDup threshold
    * note). Eval side is benchmark-sized and broadcasts; the corpus
    * is scanned once.
    */
  private[graft] def qSemanticContam(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
    Similarity.bruteForceTopK(
        base.filter(col("vec_id") % 50 =!= 0),
        base.filter(col("vec_id") % 50 === 0), "vec_id", 1)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .withColumn("flagged", col("sim") >= 0.3)
      .orderBy("query_id")
  }

  /** Canonical cluster resolution, quality-max policy APPLIED (q274):
    * q260 AUDITS the policy pairwise; this applies it through the
    * actual dedup clusters — per connected component (the q71/q216 CC
    * over 3-gram-Jaccard pairs, the stored [[fullClusterLabels]]
    * fixture), the member that SURVIVES under quality-max (exact bp,
    * ties to min id — the policy is total) beside the min-id label,
    * with the disagreement flag. This is the table the rewrite job
    * reads: one row per cluster, the kept doc named. One broadcast-
    * scale quality join onto the label table + one argmax aggregate
    * (max over struct(q_bp, −id) — no window); labels are
    * cluster-member-sized, never corpus-sized.
    */
  private[graft] def qCanonResolution(s: SparkSession, dir: String): DataFrame = {
    val qual = t(s, dir, "documents")
      .withColumn("__toks", expr("filter(split(text, ' '), t -> t <> '')"))
      .withColumn("__q", TextFns.qualityScore("text", "__toks"))
      .select(col("doc_id").as("node"),
        expr("cast(floor(__q * 10000.0d + 0.5d) as bigint)").as("q_bp"))
    fullClusterLabels(s, dir)
      .join(qual, "node")
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q_bp"), (-col("node")).as("negid"))).as("__m"))
      .select(col("cluster_rep"), col("n_members"),
        (-col("__m.negid")).as("rep_quality_max"),
        col("__m.q_bp").as("rep_q_bp"))
      .withColumn("policy_differs",
        col("rep_quality_max") =!= col("cluster_rep"))
      .orderBy("cluster_rep")
  }

  private[graft] val semDedupCache = scala.collection.mutable.Map
    .empty[(String, String), (String, String)]

  /** Stored semantic-dedup artifacts for the STREAMING screen (q276):
    * the cell centroids (via [[ModelStore]]) and the history side's
    * cell ASSIGNMENTS (parquet), trained/written once per (session,
    * corpus) from the q103 history split (vec_id % 3 ≠ 0, the exact
    * q103 training set — zero-norm rows included in training, excluded
    * from the stored probe side, mirroring q103's calls). This is the
    * "in production the centroids and history assignments are the
    * stored artifact" shape q103's scaladoc names, made real: the
    * stream's per-batch work LOADS both and re-trains nothing.
    */
  private[graft] def semDedupPaths(s: SparkSession, dir: String): (String, String) =
    sessionFixture(semDedupCache, s, dir) {
      val hist = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
        .filter(col("vec_id") % 3 =!= 0)
      val cs = KMeans.fitCentroids(hist, "vec_id", 8, 2)
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val tmp = System.getProperty("java.io.tmpdir")
      val cPath = graft.Scratch.register(s"$tmp/graft_semdedup_coarse_$tag")
      val hPath = graft.Scratch.register(s"$tmp/graft_semdedup_hist_$tag")
      ModelStore.saveCentroids(s, cPath, cs)
      KMeans.assignTo(hist, "vec_id", cs)
        .filter(col("qn") > 0)
        .select(col("vec_id").as("hist_id"), col("cluster"), col("qv"),
          col("qn"))
        .write.mode("overwrite").parquet(hPath)
      (cPath, hPath)
    }

  /** Streaming semantic-dedup screen (q276,
    * [[graft.streaming.SemanticDedupScreen]]): q103's incremental
    * semantic dedup as the LIVE ingestion gate — arriving embedding
    * micro-batches (vec_id ≡ 0 mod 3, staged in 3 chunks) assigned to
    * the STORED cell model scan-locally, probed against the STORED
    * in-cell history assignments with the codegen'd integer dot,
    * verdicts appended under the versioned-store replay rule.
    * Batches are disjoint and probe only the static history, so the
    * streamed fold is row-identical to q103 — the oracle is SHARED
    * verbatim (the q57/q70 stream≡batch discipline), and
    * `SemanticDedupScreenSpec` drives the stop → arrivals → restart
    * resume plus replay idempotence.
    */
  private[graft] def qStreamSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val (cPath, hPath) = semDedupPaths(s, dir)
    SemanticDedupScreen.run(s, s"$dir/embeddings.parquet",
      ModelStore.loadCentroids(s, cPath), s.read.parquet(hPath),
      batchFilter = col("vec_id") % 3 === 0)
  }

  /** Self-extending streaming semantic dedup (q281,
    * [[SemanticDedupScreen.runGrowing]]): q276 probes a STATIC stored
    * history — the audit shape; a continuously-ingesting pipeline
    * needs the state to GROW, or a near-dup between two arrivals an
    * hour apart slips through because neither is "history" yet (the
    * q128/q130 incremental-fold discipline on the semantic axis).
    * Each micro-batch probes the stored history PLUS every earlier
    * batch's arrivals (read-below-own-id: versions < batchId) PLUS
    * its own batch's other members (lower id as the other side —
    * co-arriving near-dups are the likeliest re-fetch form and no
    * earlier state could surface them), then appends its own cell
    * assignments as version batchId — a replayed batch sees the
    * identical predecessor state and rewrites exactly its own two
    * versions. Batch broadcast, probe side read in place; per-batch
    * cost grows only with arrival volume, exactly as the production
    * store does. The oracle replays the ENTIRE fold closed-form: the
    * staging NTILE defines batch membership, hist rows rank strictly
    * earlier than every arrival, and a pair (a, other) emits iff
    * other's batch < a's, or batches are equal and other's id is
    * lower — so the streamed verdict set equals one SQL join over
    * the ordered inventory.
    */
  private[graft] def qStreamSemanticDedupGrow(s: SparkSession,
      dir: String): DataFrame = {
    val (cPath, hPath) = semDedupPaths(s, dir)
    SemanticDedupScreen.runGrowing(s, s"$dir/embeddings.parquet",
      ModelStore.loadCentroids(s, cPath), s.read.parquet(hPath),
      batchFilter = col("vec_id") % 3 === 0)
  }

  private[graft] val driftGateCache = scala.collection.mutable.Map
    .empty[(String, String), (String, String)]

  /** Stored artifacts for the streaming drift gate (q282): the
    * BASELINE hashed-bucket distribution (trained from the accepted
    * corpus slice doc_id % 5 ≠ 0 on RAW text, persisted as a
    * ≤ 256-row parquet — the model-store shape) and the staged SOURCE
    * with the planted bad crawl: every document in the LAST staging
    * batch (doc_id ≥ ⌈2n/3⌉ — exactly NTILE(3)'s third group over the
    * contiguous 0-based ids, so the plant lands in one whole batch)
    * has its vowels deterministically corrupted — the
    * encoding-rot/spam-flood class a live gate exists to catch, with
    * the token stream pushed onto disjoint hash buckets.
    */
  private[graft] def driftGatePaths(s: SparkSession, dir: String): (String, String) =
    sessionFixture(driftGateCache, s, dir) {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val n = docs.count()
      val boundary = (2L * n + 2L) / 3L
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val tmp = System.getProperty("java.io.tmpdir")
      val srcPath = graft.Scratch.register(s"$tmp/graft_driftsrc_$tag")
      val basePath = graft.Scratch.register(s"$tmp/graft_driftbase_$tag")
      docs.select(col("doc_id"),
          when(col("doc_id") >= boundary,
            regexp_replace(col("text"), "[aeiou]", "0"))
            .otherwise(col("text")).as("text"))
        .coalesce(1).write.mode("overwrite").parquet(srcPath)
      val counts = docs.filter(col("doc_id") % 5 =!= 0)
        .select(explode(expr(
          "filter(split(text, ' '), t -> t <> '')")).as("__w"))
        .select(expr("cast(conv(substring(md5(__w), 1, 8), 16, 10) " +
          "as bigint) % 256").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("__c"))
      counts
        .crossJoin(broadcast(counts.agg(sum("__c").as("__n"))))
        .select(col("bucket"), expr("__c * 1000000 div __n").as("ppm"))
        .coalesce(1).write.mode("overwrite").parquet(basePath)
      (srcPath, basePath)
    }

  /** Streaming distribution-drift gate (q282,
    * [[graft.streaming.DriftGate]]): the q232 vocabulary-drift audit
    * deployed LIVE against a STORED baseline — the last monitoring
    * primitive without a live form (novelty/rate/CUSUM/LM/media/
    * tombstones all gate arrivals already). Arrivals (doc_id % 5 = 0,
    * staged in 3 batches) project onto 256 hashed vocabulary buckets
    * scan-locally; per batch, the exact-integer TV drift in ppm
    * against the stored baseline plus the alert verdict at 150,000
    * ppm. The fixture plants a bad crawl in exactly the LAST batch
    * (vowel corruption — disjoint hash buckets): batches 1–2 sit at
    * the sampling-noise floor (~45–70k ppm, alert false) and batch 3
    * alerts — the gate genuinely separates noise from rot. The
    * oracle replays batch membership via the staging NTILE, the
    * corruption boundary closed-form (⌈2n/3⌉ over contiguous ids),
    * and the whole ppm arithmetic in integers.
    */
  private[graft] def qStreamDriftGate(s: SparkSession, dir: String): DataFrame = {
    val (srcPath, basePath) = driftGatePaths(s, dir)
    graft.streaming.DriftGate.run(s, srcPath,
      s.read.parquet(basePath), buckets = 256, alertPpm = 150000L,
      docFilter = col("doc_id") % 5 === 0)
  }

  /** Semantic contamination at corpus scale (q275): q273's screen
    * re-expressed over the STORED IVF coarse model (q129's artifact —
    * [[annModelPaths]] trains k=8/iters=2 once per session and
    * persists; scoring LOADS the centroids and folds them in as plan
    * literals), with the approximation MEASURED against q273's exact
    * flag set — the q51/q59/q113 discipline: no approximate path
    * ships without its recall number. Corpus vectors assign to their
    * one cell SCAN-LOCALLY ([[KMeans.assignTo]] — centroids are plan
    * literals, no join); each eval vector probes its `nprobe` = 2
    * nearest cells (exact integer L2 against the 8 broadcast cell
    * rows); the fine search is the exact integer cosine top-1 within
    * probed cells only. Probe cost per eval item: nprobe/k of the
    * corpus (~n/4 here) instead of n — at 100 TB the inverted lists
    * are the only thing read. One summary row: eval/flag counts for
    * both paths, `flag_recall` (of the exact screen's flagged items,
    * the share the probed screen also flags — the number that says
    * whether the cheap screen is safe to deploy) and `top1_recall`.
    * The probed top-1 sim is ≤ the exact top-1 sim by construction
    * (subset max), so the probed flag set can only under-flag — recall
    * is the one-sided risk, and both gates recompute it from scratch
    * (the oracle retrains the coarse model in SQL, so stored-model
    * scoring ≡ inline-trained scoring stays proven, the q129 chain).
    * The stored model is the session's corpus-wide artifact
    * ([[annModelPaths]] — deliberately SHARED with q113/q115/q129, the
    * one-registry discipline); eval vectors being in the coarse
    * TRAINING set moves centroids slightly but leaks nothing a screen
    * could exploit — cells carry no labels, and both the corpus
    * assignment and the probe read only geometry. The oracle trains
    * on the identical set, so the comparison is apples-to-apples.
    */
  private[graft] def qSemanticContamIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nprobe = 2
    val prep = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
      .filter(col("qn") > 0).transform(snap)
    val coarse = ModelStore.loadCentroids(s, annModelPaths(s, dir)._1)
    val corpus = KMeans
      .assignTo(prep.filter(col("vec_id") % 50 =!= 0), "vec_id", coarse)
      .select(col("vec_id").as("neighbor_id"), col("cluster").as("cell"),
        col("qv").as("__qvb"), col("qn").as("__qnb"))
    val evalQ = prep.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("qv").as("__qva"),
        col("qn").as("__qna"))
    // the 8 cell rows (64 longs each) — metadata-sized, broadcast
    val cells = coarse.zipWithIndex.toSeq
      .map { case (c, j) => (j.toLong, c.toSeq, c.map(x => x * x).sum) }
      .toDF("cell", "__c", "__cn")
    val wCoarse = Window.partitionBy("query_id")
      .orderBy(col("__d").asc, col("cell").asc)
    val probed = evalQ.crossJoin(broadcast(cells))
      .withColumn("__d", col("__qna")
        - lit(2L) * Similarity.dot(col("__c"), col("__qva")) + col("__cn"))
      .withColumn("__rn", row_number().over(wCoarse))
      .filter(col("__rn") <= nprobe)
      .select("query_id", "__qva", "__qna", "cell")
    val wFine = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val ivfTop1 = probed.join(corpus, Seq("cell"))
      .withColumn("sim", Similarity.cosine(col("__qva"), col("__qvb"),
        col("__qna"), col("__qnb")))
      .withColumn("__rn", row_number().over(wFine))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("neighbor_id").as("ivf_neighbor"),
        col("sim").as("ivf_sim"))
    val exact = Similarity.bruteForceTopK(
        prep.filter(col("vec_id") % 50 =!= 0),
        prep.filter(col("vec_id") % 50 === 0), "vec_id", 1)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    exact.join(ivfTop1, Seq("query_id"), "left")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("sim") >= 0.3, 1L).otherwise(0L))
          .as("n_flagged_exact"),
        sum(when(col("ivf_sim") >= 0.3, 1L).otherwise(0L))
          .as("n_flagged_ivf"),
        sum(when(col("sim") >= 0.3 && col("ivf_sim") >= 0.3, 1L)
          .otherwise(0L)).as("n_flag_hits"),
        sum(when(col("neighbor_id") === col("ivf_neighbor"), 1L)
          .otherwise(0L)).as("n_top1_hits"))
      .select(lit("ivf_semantic").as("method"),
        lit(nprobe.toLong).as("nprobe"), col("n_eval"),
        col("n_flagged_exact"), col("n_flagged_ivf"), col("n_flag_hits"),
        when(col("n_flagged_exact") === 0L, lit(1.0))
          .otherwise(col("n_flag_hits").cast("double")
            / col("n_flagged_exact").cast("double")).as("flag_recall"),
        (col("n_top1_hits").cast("double") / col("n_eval").cast("double"))
          .as("top1_recall"))
  }

  /** Image–caption PAIR curation (q277): the LAION-class multimodal
    * step — (media, caption) is the curation UNIT, and the interesting
    * dup is "same image, different caption": per media doc (%3 split,
    * the q264/q265 corpus), a twin unit carries the SAME raster
    * re-encoded through a DIFFERENT codec (PNG vs JPEG — every
    * container byte differs) and a deterministically REWORDED caption.
    * The pair dedups on the RASTER axis — blockhash of DECODED pixels
    * (q252/q265: the container is encoder-private, the raster is the
    * image), candidates from the q267 band-equality probe (4×15-bit
    * bands; hamming ≤ 8 verify) — while the CAPTION axis disagrees
    * (NFC-canonical fingerprints differ, q263), so a keep decision is
    * forced: the q274 quality-max policy at pair granularity (exact
    * quality bp over the caption, ties to min id). One row per planted
    * pair: the replayable PNG-leg fingerprint (q252 discipline), the
    * band+hamming raster verdict (TRUE is the measured q265 claim —
    * the JPEG leg has no cross-engine bit contract), the canonical
    * caption disagreement, and the kept/dropped resolution — exactly
    * the table a pair-rewrite job reads. Payloads never shuffle: both
    * codecs and the blockhash are scan-local mapPartitions; only
    * (id, fp) rows reach the band join (PlanSpec asserts no Exchange
    * carries a payload column).
    */
  private[graft] def qPairCuration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").cast("long"), col("text"))
    def dims(id: Long) =
      ((16 + ((id / 3) % 3) * 8).toInt, (16 + (id % 2) * 8).toInt)
    val ids = docs.select("doc_id").transform(graft.ops.Widen.byDocId).as[Long]
    val media = ids.map { id =>
      val (w, h) = dims(id)
      Multimodal.MediaRecord(id, Multimodal.encodeGradientPng(id, w, h),
        "png")
    }.unionByName(ids.map { id =>
      val (w, h) = dims(id)
      // twin unit id; the raster seed stays the BASE id — same image
      Multimodal.MediaRecord(id + 1000000L,
        Multimodal.encodeJpeg(id, w, h), "jpg")
    })
    // both band-join branches consume the fingerprints — pin them so
    // the real codecs (PNG encode+decode, JPEG encode+decode) run once
    // per unit, not once per branch
    val fps = Multimodal.blockHash(Multimodal.toRaster(media)).toDF()
      .select(col("doc_id").as("unit_id"), col("fp"))
      .transform(snap)
    // q267's band probe: 15-bit slice value * 4 + band index
    val bandsOf = "transform(sequence(0, 3), " +
      "b -> (shiftright(%s, b * 15) & 32767) * 4 + b)"
    val baseF = fps.filter(col("unit_id") < 1000000L)
      .select(col("unit_id").as("base_id"), col("fp").as("fp_base"),
        explode(expr(bandsOf.format("fp"))).as("bk"))
    val twinF = fps.filter(col("unit_id") >= 1000000L)
      .select((col("unit_id") - 1000000L).as("base_id"),
        col("fp").as("__fpb"), explode(expr(bandsOf.format("fp"))).as("bk"))
    val rasterHits = baseF.join(twinF, Seq("base_id", "bk"))
      .filter(expr("bit_count(fp_base ^ __fpb) <= 8"))
      .select("base_id").dropDuplicates("base_id")
      .withColumn("__hit", lit(true))
    // the replayable PNG-leg fingerprint rides EVERY row (sourced from
    // the fp table, not the hit join — a band+hamming MISS must still
    // carry the fingerprint needed to debug it)
    val baseFp = fps.filter(col("unit_id") < 1000000L)
      .select(col("unit_id").as("base_id"), col("fp").as("fp_base"))
    // reworded twin captions, both policy directions planted: even
    // media get an APPENDED variant (quality rises — twin kept), odd
    // media a TRUNCATED one (quality falls — base kept)
    val caps = docs
      .select(col("doc_id").as("base_id"), col("text").as("cap_a"),
        when(expr("(doc_id div 3) % 2 = 0"),
            concat(col("text"), lit(" alternate caption variant")))
          .otherwise(expr(
            "substring(text, 1, greatest(length(text) div 2, 1))"))
          .as("cap_b"))
      .withColumn("__ta", expr("filter(split(cap_a, ' '), t -> t <> '')"))
      .withColumn("__tb", expr("filter(split(cap_b, ' '), t -> t <> '')"))
      .withColumn("__qa", TextFns.qualityScore("cap_a", "__ta"))
      .withColumn("__qb", TextFns.qualityScore("cap_b", "__tb"))
      .select(col("base_id"),
        TextFns.fingerprint("cap_a").as("__cfa"),
        TextFns.fingerprint("cap_b").as("__cfb"),
        expr("cast(floor(__qa * 10000.0d + 0.5d) as bigint)").as("q_a"),
        expr("cast(floor(__qb * 10000.0d + 0.5d) as bigint)").as("q_b"))
    caps.join(baseFp, Seq("base_id"))
      .join(rasterHits, Seq("base_id"), "left")
      .select(col("base_id"), (col("base_id") + 1000000L).as("twin_id"),
        col("fp_base"), coalesce(col("__hit"), lit(false))
          .as("raster_match"),
        (col("__cfa") =!= col("__cfb")).as("caption_differs"),
        when(col("q_b") > col("q_a"), col("base_id") + 1000000L)
          .otherwise(col("base_id")).as("kept_id"),
        when(col("q_b") > col("q_a"), col("q_b")).otherwise(col("q_a"))
          .as("kept_q_bp"),
        when(col("q_b") > col("q_a"), col("base_id"))
          .otherwise(col("base_id") + 1000000L).as("dropped_id"))
      .orderBy("base_id")
  }

  /** The planted lang-marker corpus for q278 (the q263 planted-twin
    * discipline on the language axis): the raw corpus's `lang` column
    * is INDEPENDENT of its text — every language draws the same shared
    * tech vocabulary, so no token statistic can recover the label
    * (measured: the ≥ 30 %-df vocabulary of every language is
    * identical, all 50 held-out predictions collapse to the tie-break
    * language). The fixture therefore plants a STATISTICAL signal the
    * discovery must genuinely separate: each doc carries 3–4 of its
    * language's 5 marker tokens (marker i present iff
    * (doc_id + i) % 3 ≠ 0 → ~67 % df, ABOVE the q250 threshold) plus
    * occasional markers of the NEXT language as cross-lingual noise
    * (iff (doc_id + 2i) % 7 = 0 → ~14 % df, BELOW it). Training must
    * keep the real markers, reject the noise, and survive the ~30
    * shared high-df tokens that land in every profile (they add the
    * same hit count to every language's score, so the planted markers
    * decide the argmax). Closed-form, replayed verbatim by the oracle.
    */
  private[graft] def langMarkedDocs(s: SparkSession, dir: String): DataFrame = {
    val profiles = TextFns.stopwordProfiles
    def arm(ws: Seq[String]) =
      ws.map(TextFns.sqlLit).mkString("array(", ", ", ")")
    val mk = profiles
      .map { case (l, ws) => s"WHEN '$l' THEN ${arm(ws)}" }
      .mkString("CASE lang ", " ", " END")
    val mk2 = profiles.indices
      .map(i => (profiles(i)._1, profiles((i + 1) % profiles.size)._2))
      .map { case (l, ws) => s"WHEN '$l' THEN ${arm(ws)}" }
      .mkString("CASE lang ", " ", " END")
    t(s, dir, "documents")
      .withColumn("__mk", expr(mk))
      .withColumn("__mk2", expr(mk2))
      .withColumn("text2", expr(
        """concat_ws(' ',
          |  array_join(filter(transform(sequence(0, 4),
          |    i -> CASE WHEN (doc_id + i) % 3 <> 0
          |         THEN element_at(__mk, cast(i + 1 as int)) END),
          |    x -> x is not null), ' '),
          |  array_join(filter(transform(sequence(0, 4),
          |    i -> CASE WHEN (doc_id + i * 2) % 7 = 0
          |         THEN element_at(__mk2, cast(i + 1 as int)) END),
          |    x -> x is not null), ' '),
          |  text)""".stripMargin))
      .select(col("doc_id"), col("lang"), col("text2"))
  }

  private[graft] val langModelCache = scala.collection.mutable.Map
    .empty[(String, String), String]

  /** Stored lang-ID model (q278): per-language token profiles TRAINED
    * from the corpus — the q250 high-df discovery (every token in
    * ≥ 30 % of a language's training documents) run over the marked
    * corpus's training split (doc_id % 10 ≠ 0) — persisted once per
    * (session, corpus) via [[ModelStore.saveTokenProfiles]].
    * Metadata-sized artifact (a stopword list per language; ~35/lang
    * at sf0.01: the 5 planted markers + the shared high-df
    * vocabulary; the 14 %-df noise markers correctly rejected).
    */
  private[graft] def langModelPath(s: SparkSession, dir: String): String =
    sessionFixture(langModelCache, s, dir) {
      val tr = langMarkedDocs(s, dir).filter(col("doc_id") % 10 =!= 0)
      val docTokens = tr.select(col("lang"),
        explode(expr(
          "array_distinct(filter(split(text2, ' '), t -> t <> ''))"))
          .as("token"))
      val perLang = tr.groupBy("lang").agg(count(lit(1)).as("__nd"))
      val prof = docTokens.groupBy("lang", "token")
        .agg(count(lit(1)).as("df"))
        .join(broadcast(perLang), "lang")
        .filter(expr("df * 10000 div __nd >= 3000"))
        .select(col("lang"), col("token"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val path = graft.Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_langprof_$tag")
      ModelStore.saveTokenProfiles(s, path, prof)
      path
    }

  /** Stored-model language-ID (q278): the one remaining
    * hardcoded-knowledge operator closed — where q22 scores against
    * the BUILT-IN bootstrap profiles ([[TextFns.stopwordProfiles]]),
    * this runs the full train → store → score chain (the q211/q212
    * discipline) over the planted-marker corpus ([[langMarkedDocs]]):
    * per-language token profiles are TRAINED from the corpus's own
    * high-df vocabulary (q250's discovery, training split
    * doc_id % 10 ≠ 0), PERSISTED as a parquet model table, then
    * LOADED (metadata-sized) and folded into the scoring plan as
    * literals — held-out documents (doc_id % 10 = 0) score
    * scan-locally, O(tokens × languages) per row, no shuffle, no
    * state. The noisy statistics are genuinely separated: 50/50
    * held-out documents correct at sf0.01 despite the ~14 %-df
    * cross-lingual noise markers and the all-language shared
    * vocabulary. Argmax ties break by language order; a document
    * hitting no profile falls back to 'und' (`StoredLangIdSpec`
    * plants an unseen language). The oracle re-derives the profiles
    * from the training split in SQL and re-scores the held-out split,
    * so a green row proves stored-model scoring ≡ inline-trained
    * scoring through the parquet roundtrip — the q129 chain on the
    * text axis.
    */
  private[graft] def qStoredLangId(s: SparkSession, dir: String): DataFrame = {
    val profiles = ModelStore.loadTokenProfiles(s, langModelPath(s, dir))
    val test = langMarkedDocs(s, dir).filter(col("doc_id") % 10 === 0)
      .withColumn("__toks", expr("filter(split(text2, ' '), t -> t <> '')"))
    TextFns.withLanguageIdFrom(test, profiles, "__toks", "pred_lang")
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        (col("lang") === col("pred_lang")).as("correct"))
      .orderBy("doc_id")
  }

  /** t-closeness audit with the generalization walk (q279,
    * [[graft.ops.TCloseness]]): completes the release-governance trio
    * — k-anonymity (q227) bounds group SIZE, l-diversity (q240)
    * bounds sensitive VARIETY, and neither catches a group that is
    * large and diverse but SKEWED (90 % of one group in the top
    * account band vs 30 % corpus-wide shifts an attacker's belief by
    * membership alone — the homogeneity-blind class; at sf0.01, 28 of
    * the 125 L0 groups pass l = 3 yet fail t = 0.1, reported in the
    * `n_ldiv_ok_t_fail` column). Distance is the exact-integer
    * ordered-band EMD (prefix |Δ| sums in pure int64 — no floats, no
    * engine divergence) between each QI group's sensitive-band
    * distribution and the corpus-wide one, over the q240 bands
    * (debt < mid < high). The q227 Samarati walk applies: per rung
    * L0 (nation, segment) → L1 (region, segment) → L2 (region), the
    * group count, t-failures at t = 0.1 (1000 bp), the l-diverse-but-
    * t-far count, and the worst distance — coarsening pulls every
    * group toward the corpus distribution, and the walk shows where
    * the release becomes t-safe. One broadcast dim join + one
    * partial-agg rollup per rung; only (QI, band-count) rows shuffle.
    */
  private[graft] def qTCloseness(s: SparkSession, dir: String): DataFrame = {
    val tBp = 1000L
    val joined = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
    val band = expr("""case
      | when cast(c_acctbal as decimal(18,2)) < 0 then 0
      | when cast(c_acctbal as decimal(18,2)) < 5000 then 1
      | else 2 end""".stripMargin)
    def level(lvl: Long, qi: String,
        keys: Seq[(String, Column)]): DataFrame =
      TCloseness.audit(joined, keys, band, 3, tBp)
        .agg(count(lit(1)).as("n_groups"),
          sum(when(!col("t_ok"), 1L).otherwise(0L)).as("n_t_fail"),
          sum(when(col("l_distinct") >= 3 && !col("t_ok"), 1L)
            .otherwise(0L)).as("n_ldiv_ok_t_fail"),
          max("emd_bp").as("max_emd_bp"))
        .select(lit(lvl).as("level"), lit(qi).as("qi"), col("n_groups"),
          col("n_t_fail"), col("n_ldiv_ok_t_fail"), col("max_emd_bp"))
    level(0L, "nation,segment",
        Seq("nationkey" -> col("c_nationkey"),
          "segment" -> col("c_mktsegment")))
      .unionByName(level(1L, "region,segment",
        Seq("regionkey" -> col("n_regionkey"),
          "segment" -> col("c_mktsegment"))))
      .unionByName(level(2L, "region",
        Seq("regionkey" -> col("n_regionkey"))))
      .orderBy("level")
  }

  /** Corpus-wide raster dedup clusters with the quality-max keep
    * (q280): the PRODUCTION form of q277's per-pair decision — q277
    * proves the re-encode/reword mechanics on aligned planted twins;
    * this clusters the WHOLE media corpus on the raster axis and
    * applies the keep policy through the clusters (q274's shape at
    * media granularity). The scale discipline is exact-before-near:
    * identical decoded-raster fingerprints collapse FIRST (one
    * 8-byte-key distinct — the step that removes the bulk: 16,667
    * docs → 22 distinct fps at sf1), and the band+hamming near-dup
    * machinery (q267's probe) then runs over the DISTINCT fingerprints
    * only — a metadata-sized set, so the band self-join and the CC
    * that follows cost nothing at any corpus size (contrast the naive
    * doc-level band self-join, whose identical-fp cliques alone would
    * be ~n²/22 pairs). Components label the fp graph
    * ([[DedupClusters.connectedComponents]], min-fp representative;
    * singleton fps keep themselves), docs map to their fp's cluster,
    * and per cluster the quality-max caption survives (exact bp, ties
    * to min doc_id — the q274 total policy). One row per cluster:
    * rep, doc/fp counts, kept doc. Fingerprints come from the REAL
    * PNG decode (lossless — the oracle replays them closed-form, the
    * q252 discipline); payloads never shuffle.
    */
  private[graft] def qRasterClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").cast("long"), col("text"))
    def dims(id: Long) =
      ((16 + ((id / 3) % 3) * 8).toInt, (16 + (id % 2) * 8).toInt)
    val media = docs.select("doc_id").transform(graft.ops.Widen.byDocId).as[Long].map { id =>
      val (w, h) = dims(id)
      Multimodal.MediaRecord(id, Multimodal.encodeGradientPng(id, w, h),
        "png")
    }
    // fan-out: the doc→fp map feeds both the distinct-fp graph and the
    // final cluster mapping — decode once
    val fps = Multimodal.blockHash(Multimodal.toRaster(media)).toDF()
      .select(col("doc_id"), col("fp")).transform(snap)
    val dfps = fps.select("fp").distinct()
    val bandsOf = "transform(sequence(0, 3), " +
      "b -> (shiftright(%s, b * 15) & 32767) * 4 + b)"
    val a = dfps.select(col("fp").as("fa"),
      explode(expr(bandsOf.format("fp"))).as("bk"))
    val b = dfps.select(col("fp").as("fb"),
      explode(expr(bandsOf.format("fp"))).as("bk"))
    val edges = a.join(b, Seq("bk"))
      .filter(col("fa") < col("fb"))
      .filter(expr("bit_count(fa ^ fb) <= 8"))
      .select("fa", "fb").distinct()
    val labels = DedupClusters.connectedComponents(edges, "fa", "fb")
      .withColumnRenamed("node", "fp")
    val qual = docs
      .withColumn("__toks", expr("filter(split(text, ' '), t -> t <> '')"))
      .withColumn("__q", TextFns.qualityScore("text", "__toks"))
      .select(col("doc_id"),
        expr("cast(floor(__q * 10000.0d + 0.5d) as bigint)").as("q_bp"))
    fps.join(qual, "doc_id")
      .join(labels, Seq("fp"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col("fp")))
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("fp").as("n_fps"),
        max(struct(col("q_bp"), (-col("doc_id")).as("negid"))).as("__m"))
      .select(col("cluster_rep"), col("n_docs"), col("n_fps"),
        (-col("__m.negid")).as("kept_doc"), col("__m.q_bp").as("kept_q_bp"))
      .orderBy("cluster_rep")
  }

  /** Real audio decode + frame features (q283, [[graft.ops.Audio]]):
    * every document becomes a genuine RIFF/WAVE PCM16 file — varied
    * sample counts 400 + (id%7)·100 + (id%53) so partial final frames
    * are exercised, varied sample rates so the fmt chunk is actually
    * READ, a LIST metadata chunk on every 5th doc so the chunk walk is
    * exercised — and the real decoder extracts amplitude mass, peak,
    * zero-crossings, and the per-frame energy argmax (100-sample
    * frames — the audio form of frame-sampling: a clip of any length
    * reduces to ONE typed row inside the scan, payloads never shuffle).
    * The oracle recomputes every decoded number from the closed-form
    * sawtooth, so green means the PCM/chunk decode is RIGHT — the
    * PPM/PNG lossless-codec discipline (E200/E246) on the audio axis.
    */
  private[graft] def qWavDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val media = t(s, dir, "documents")
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId)
      .as[Long]
      .map { id =>
        val n = (400 + (id % 7) * 100 + (id % 53)).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        Multimodal.MediaRecord(id,
          Audio.encodeWav(id, n, rate, junkChunk = id % 5 == 0), "wav")
      }
    Audio.decodeWavFeatures(media, frame = 100).toDF().orderBy("doc_id")
  }

  /** Real video decode + scene-change detection (q284,
    * [[graft.ops.Video]]): every document becomes a genuine YUV4MPEG2
    * clip — varied dims/frame counts, a planted scene cut at frame
    * ⌊n/2⌋ on 3 of 4 docs (every 4th is single-scene, so the no-cut
    * path is exercised too) — and the real decoder (ASCII tagged
    * header, C444 plane layout, per-frame FRAME markers) reduces the
    * per-frame luma series, the brightest-frame argmax, and the
    * division-free mean-luma cut rule |ΔYsum| > 48·w·h in ONE
    * scan-local pass: any clip length emits one typed row, payloads
    * never shuffle. Y4M is uncompressed, so decoded planes are the
    * cross-engine contract — the oracle recomputes every byte from the
    * closed-form plane rule and replays the cut rule with LAG.
    */
  private[graft] def qY4mScenes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val media = t(s, dir, "documents")
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId)
      .as[Long]
      .map { id =>
        val (w, h) = ((4 + id % 3).toInt, (3 + id % 2).toInt)
        val nf = (6 + id % 5).toInt
        val cut = if (id % 4 == 0) -1 else nf / 2
        Multimodal.MediaRecord(id, Video.encodeY4m(id, w, h, nf, cut),
          "y4m")
      }
    Video.decodeY4mFeatures(media, cutMeanDelta = 48).toDF()
      .orderBy("doc_id")
  }

  /** Markup extraction — the crawl→text step (q285,
    * [[TextFns.stripMarkup]]): every document renders as a
    * deterministic HTML page (DOCTYPE + comment + head with title and
    * style + body script + the text with every len%3==0 word
    * bold-wrapped and every len%4==0 word followed by an `&#32;`
    * entity), and the extraction chain — comments, head, script/style
    * WITH content, tags, entity decode, whitespace collapse — must
    * recover the original text EXACTLY. Every 10th doc plants leaked
    * boilerplate (a footer inside body), which tag-stripping correctly
    * KEEPS as text — those docs report clean = false, proving the
    * equality check is live. Both the page construction and the
    * extraction are pure codegen column expressions (transform +
    * ordered regexp_replace chain, no UDF); the oracle replays both
    * verbatim.
    */
  private[graft] def qHtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val rendered = expr(
      """array_join(transform(split(text, ' '), w -> concat(
        |  CASE WHEN length(w) % 3 = 0 THEN concat('<b>', w, '</b>')
        |    ELSE w END,
        |  CASE WHEN length(w) % 4 = 0 THEN '&#32;' ELSE ' ' END)), '')"""
        .stripMargin)
    val html = concat(
      lit("<!DOCTYPE html><html><!-- graft crawler snapshot -->" +
        "<head><title>doc "),
      col("doc_id").cast("string"),
      lit("</title><style>p { color: #222; }</style></head>" +
        "<body><script>var doc = "),
      col("doc_id").cast("string"),
      lit(";</script><p>"), rendered, lit("</p>"),
      when(col("doc_id") % 10 === 0,
        lit("<footer>copyright 2026 example corp</footer>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .withColumn("html", html)
      .withColumn("extracted", TextFns.stripMarkup(col("html")))
      .select(col("doc_id"),
        length(col("html")).cast("long").as("html_len"),
        length(col("extracted")).cast("long").as("extracted_len"),
        expr("cast((length(html) - length(replace(html, '<b>', ''))) " +
          "div 3 as bigint)").as("n_bold"),
        expr("cast(cast(length(html) - length(extracted) as bigint) " +
          "* 10000 div length(html) as bigint)").as("markup_bp"),
        (col("extracted") === col("text")).as("clean"))
      .orderBy("doc_id")
  }

  /** The planted quality-labeled corpus for q286 (the q278 planted-
    * marker discipline on the quality axis): label = good iff
    * doc_id % 3 ≠ 0 (a realistic 2:1 imbalance — the smoothed-ratio
    * normalization is exercised, a raw-count vote would skew good);
    * each doc carries 3–4 of its class's 5 marker tokens (present iff
    * (doc_id + i) % 3 ≠ 0) plus occasional markers of the OTHER class
    * as noise (iff (doc_id + 2i) % 7 = 0, ~14 %) under the shared
    * corpus vocabulary that lands in BOTH classes at near-equal rates
    * (and so must earn no vote). Closed-form, replayed verbatim by the
    * oracle.
    */
  private[graft] def qualityMarkedDocs(s: SparkSession, dir: String): DataFrame = {
    val good = Seq("citation", "reference", "paragraph", "summary",
      "bibliography")
    val bad = Seq("cheap", "click", "winner", "casino", "pills")
    def arm(ws: Seq[String]) =
      ws.map(TextFns.sqlLit).mkString("array(", ", ", ")")
    val own = s"CASE WHEN doc_id % 3 <> 0 THEN ${arm(good)} " +
      s"ELSE ${arm(bad)} END"
    val other = s"CASE WHEN doc_id % 3 <> 0 THEN ${arm(bad)} " +
      s"ELSE ${arm(good)} END"
    t(s, dir, "documents")
      .withColumn("label_good", col("doc_id") % 3 =!= 0)
      .withColumn("__toks", expr(
        s"""filter(concat(
           |  filter(transform(sequence(0, 4),
           |    i -> CASE WHEN (doc_id + i) % 3 <> 0
           |         THEN element_at($own, cast(i + 1 as int)) END),
           |    x -> x is not null),
           |  filter(transform(sequence(0, 4),
           |    i -> CASE WHEN (doc_id + i * 2) % 7 = 0
           |         THEN element_at($other, cast(i + 1 as int)) END),
           |    x -> x is not null),
           |  split(text, ' ')), t -> t <> '')""".stripMargin))
      .select(col("doc_id").cast("long").as("doc_id"), col("label_good"),
        col("__toks"))
  }

  private[graft] val qualityModelCache = scala.collection.mutable.Map
    .empty[(String, String), String]

  /** Stored quality-classifier model (q286): token votes TRAINED on
    * the labeled split (doc_id % 10 ≠ 0) via
    * [[Classifier.trainTokenVotes]] and persisted once per (session,
    * corpus) — the artifact a 100 TB scoring pass broadcasts.
    */
  private[graft] def qualityModelPath(s: SparkSession, dir: String): String =
    sessionFixture(qualityModelCache, s, dir) {
      val tr = qualityMarkedDocs(s, dir).filter(col("doc_id") % 10 =!= 0)
      val votes = Classifier.trainTokenVotes(tr, "__toks", "label_good")
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val path = graft.Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_qclf_$tag")
      votes.coalesce(1).write.mode("overwrite").parquet(path)
      path
    }

  /** Trained quality classifier (q286, [[graft.ops.Classifier]]): the
    * CCNet/fastText-class seed-labeled quality filter as a full
    * train → store → score chain — exact-integer Naive-Bayes token
    * votes (Laplace-smoothed class-conditional rates compared
    * cross-multiplied, ±1 only at ≥ 2× imbalance, the shared
    * vocabulary earning NO vote and leaving the model — what keeps the
    * stored artifact metadata-sized), persisted as a parquet model
    * table, then BROADCAST onto the held-out scan (doc_id % 10 = 0):
    * explode + broadcast lookup + one doc-keyed partial agg. Verdict =
    * vote sum > 0, ties reject. 50/50 held-out docs correct at sf0.01
    * despite the 2:1 class imbalance and the ~14 % cross-class noise
    * markers. The oracle retrains in SQL from the same closed-form
    * plants, so green proves stored ≡ inline through the parquet
    * roundtrip (the q278 discipline on the quality axis).
    */
  private[graft] def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val votes = s.read.parquet(qualityModelPath(s, dir))
    val test = qualityMarkedDocs(s, dir).filter(col("doc_id") % 10 === 0)
    Classifier.scoreTokenVotes(test, votes, "doc_id", "__toks")
      .join(test.select("doc_id", "label_good"), "doc_id")
      .select(col("doc_id"), col("label_good"), col("score"),
        col("pred_pos").as("pred_good"),
        (col("pred_pos") === col("label_good")).as("correct"))
      .orderBy("doc_id")
  }

  private[graft] val qualityCountsCache = scala.collection.mutable.Map
    .empty[(String, String), String]

  /** Stored classifier SUFFICIENT STATISTICS for q288: the per-token
    * class-conditional counts table trained on the BASE split
    * (doc_id % 10 ∉ {0, 1}) and persisted once per (session, corpus) —
    * the artifact an incremental refresh merges into, never re-scanning
    * the base corpus.
    */
  private[graft] def qualityCountsPath(s: SparkSession, dir: String): String =
    sessionFixture(qualityCountsCache, s, dir) {
      val base = qualityMarkedDocs(s, dir)
        .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 1)
      val counts = Classifier.tokenCounts(base, "__toks", "label_good")
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val path = graft.Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_qcnt_$tag")
      counts.coalesce(1).write.mode("overwrite").parquet(path)
      path
    }

  /** Incremental classifier refresh (q288, [[Classifier.mergeCounts]]):
    * the E53/E115 incremental-maintenance axis applied to the q286
    * quality model — the model's sufficient statistics (per-token
    * class counts) are ADDITIVE, so an arriving labeled batch
    * (doc_id % 10 = 1) refreshes the STORED base counts (trained on
    * doc_id % 10 ∉ {0, 1}, parquet) with one batch-sized count pass +
    * one token-keyed merge, and the re-derived votes are IDENTICAL to
    * a from-scratch retrain over the union — q288 therefore SHARES
    * q286's oracle verbatim (the q103/q276 stream≡batch shared-oracle
    * discipline): same held-out verdicts, provably, without re-scanning
    * the base corpus. This is how a production quality gate absorbs
    * weekly labeling batches at 100 TB — refresh cost scales with the
    * batch, not the corpus.
    */
  private[graft] def qIncrClassifier(s: SparkSession, dir: String): DataFrame = {
    val stored = s.read.parquet(qualityCountsPath(s, dir))
    val arriving = qualityMarkedDocs(s, dir)
      .filter(col("doc_id") % 10 === 1)
    val merged = Classifier.mergeCounts(stored,
      Classifier.tokenCounts(arriving, "__toks", "label_good"))
    val votes = Classifier.votesFromCounts(merged)
    val test = qualityMarkedDocs(s, dir).filter(col("doc_id") % 10 === 0)
    Classifier.scoreTokenVotes(test, votes, "doc_id", "__toks")
      .join(test.select("doc_id", "label_good"), "doc_id")
      .select(col("doc_id"), col("label_good"), col("score"),
        col("pred_pos").as("pred_good"),
        (col("pred_pos") === col("label_good")).as("correct"))
      .orderBy("doc_id")
  }

  /** Mixed-media router (q292, [[Multimodal.sniffFormat]]): real
    * crawls arrive format-MIXED with lying Content-Type headers — the
    * step before any codec is magic-byte sniffing and routing to the
    * right decoder. The fixture interleaves all five real containers
    * this engine decodes (P6 ⁄ PNG ⁄ JPEG ⁄ WAV ⁄ Y4M by doc_id % 5);
    * each payload is sniffed, routed to ITS codec, and reduced to one
    * typed row: detected format + content units (pixels for rasters,
    * samples for audio, luma-pixels for video) — all from the REAL
    * decoders' parsed structure, closed-form replayable (JPEG dims are
    * exact container structure even though pixels are lossy — the
    * q264 rule). One mapPartitions pass, every codec instantiated per
    * partition, payloads never shuffle. A payload failing its sniff
    * would route to "unknown" and a loud decode failure — sniff-then-
    * decode never guesses.
    */
  private[graft] def qMediaRouter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents")
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId)
      .as[Long]
      .map { id =>
        val payload = (id % 5) match {
          case 0 => Multimodal.encodePpm(id, (4 + id % 5).toInt,
            (3 + id % 4).toInt)
          case 1 => Multimodal.encodeGradientPng(id, (8 + id % 5).toInt,
            (6 + id % 3).toInt)
          case 2 => Multimodal.encodeJpeg(id, (8 + id % 5).toInt,
            (6 + id % 3).toInt)
          case 3 => Audio.encodeWav(id, (400 + id % 53).toInt, 8000)
          case _ => Video.encodeY4m(id, (4 + id % 3).toInt,
            (3 + id % 2).toInt, (6 + id % 5).toInt, -1)
        }
        Multimodal.MediaRecord(id, payload, "mixed")
      }
    media.mapPartitions { it =>
      it.map { r =>
        val p = if (r.payload == null) Array.emptyByteArray else r.payload
        val fmt = Multimodal.sniffFormat(p)
        val units: Long = fmt match {
          case "ppm" =>
            val f = Multimodal.decodePpm(r.doc_id, p); f.width * f.height
          case "png" =>
            val f = Multimodal.decodePng(r.doc_id, p); f.width * f.height
          case "jpeg" =>
            val (w, h, _) = Multimodal.imageRaster(r.doc_id, p)
            w.toLong * h
          case "wav" =>
            Audio.decodeWav(r.doc_id, p, frame = 100).n_samples
          case "y4m" =>
            val f = Video.decodeY4m(r.doc_id, p, cutMeanDelta = 48)
            f.n_frames * f.width * f.height
          case other => sys.error(s"doc ${r.doc_id}: unroutable $other")
        }
        (r.doc_id, fmt, units)
      }
    }.toDF("doc_id", "format", "content_units").orderBy("doc_id")
  }

  /** Corpus-wide audio dedup clusters (q294): q290 PROVES the pairwise
    * resample property; this runs the production screen — the q280
    * exact-before-near discipline on the audio axis, closing E287's
    * "slots into the band+hamming machinery" claim with code. The
    * fixture plants real duplicate groups: docs sharing doc_id/5 carry
    * the SAME recording ([[Audio.modulatedSample]], seed = id/5),
    * half of them naively 2×-downsampled (id % 2), so each group holds
    * at most two distinct envelope fingerprints 0–1 bits apart, while
    * distinct recordings never come near the gate (measured over ALL
    * 10,000 sf1 seeds: zero cross-seed fp pairs within hamming 8, the
    * closest at 9 — the r13 generator's 56-periodic gain arithmetic
    * that collapsed seed-congruent recordings into giant clusters is
    * gone, see [[Audio.modulatedSample]]). Identical fps collapse
    * FIRST (one
    * 8-byte-key distinct), the band self-join runs over DISTINCT fps
    * only — 5×12-bit bands (≤ 4 flips over 5 bands pigeonholes ≥ 1
    * intact band, so every true resample pair IS a candidate; the
    * 4×15 layout q267 uses guarantees only ≤ 3) — hamming ≤ 8 verify,
    * q71's CC over the fp graph, and the q274 quality-max keep applies
    * through the clusters at doc granularity. Oracle replays fps
    * closed-form + the recursive closure.
    */
  private[graft] def qAudioClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val fps = docs.select("doc_id").transform(graft.ops.Widen.byDocId).as[Long].map { id =>
      val seed = id / 5
      val n = (2000 + (seed % 7) * 500 + (seed % 53)).toInt
      val step = (1 + id % 2).toInt
      val samples = Array.tabulate(if (step == 1) n else n / 2)(k =>
        Audio.modulatedSample(seed, step.toLong * k, n.toLong))
      (id, Audio.envelopeHash(id,
        Audio.encodeWavSamples(samples, 16000 / step)))
    }.toDF("doc_id", "fp").transform(snap)
    val dfps = fps.select("fp").distinct()
    val bandsOf = "transform(sequence(0, 4), " +
      "b -> (shiftright(%s, b * 12) & 4095) * 5 + b)"
    val a = dfps.select(col("fp").as("fa"),
      explode(expr(bandsOf.format("fp"))).as("bk"))
    val b = dfps.select(col("fp").as("fb"),
      explode(expr(bandsOf.format("fp"))).as("bk"))
    val edges = a.join(b, Seq("bk"))
      .filter(col("fa") < col("fb"))
      .filter(expr("bit_count(fa ^ fb) <= 8"))
      .select("fa", "fb").distinct()
    val labels = DedupClusters.connectedComponents(edges, "fa", "fb")
      .withColumnRenamed("node", "fp")
    val qual = docs
      .withColumn("__toks", expr("filter(split(text, ' '), t -> t <> '')"))
      .withColumn("__q", TextFns.qualityScore("text", "__toks"))
      .select(col("doc_id"),
        expr("cast(floor(__q * 10000.0d + 0.5d) as bigint)").as("q_bp"))
    fps.join(qual, "doc_id")
      .join(labels, Seq("fp"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col("fp")))
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("fp").as("n_fps"),
        max(struct(col("q_bp"), (-col("doc_id")).as("negid"))).as("__m"))
      .select(col("cluster_rep"), col("n_docs"), col("n_fps"),
        (-col("__m.negid")).as("kept_doc"), col("__m.q_bp").as("kept_q_bp"))
      .orderBy("cluster_rep")
  }

  /** Scene-segmented keyframe extraction (q295, [[Video.frameLumas]]):
    * the thumbnail/representative-frame job every video corpus runs —
    * per clip the decoded per-frame luma series (the 1→N frame-sample
    * expansion, scan-local) segments into SCENES at the q284 cut rule
    * (|ΔYsum| > 48·w·h via LAG + running cut count) and each scene
    * elects its keyframe: the brightest frame (argmax Y-sum, ties →
    * earliest — a real pipeline swaps in sharpness or a learned
    * score; the election machinery is identical). One row per scene:
    * bounds, size, keyframe, its luma. Windows partition by doc —
    * per-clip state only, never corpus-wide. Oracle replays the luma
    * series closed-form and the same two windows.
    */
  private[graft] def qVideoKeyframes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val media = t(s, dir, "documents")
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId)
      .as[Long]
      .map { id =>
        val (w, h) = ((4 + id % 3).toInt, (3 + id % 2).toInt)
        val nf = (6 + id % 5).toInt
        val cut = if (id % 4 == 0) -1 else nf / 2
        Multimodal.MediaRecord(id, Video.encodeY4m(id, w, h, nf, cut),
          "y4m")
      }
    val perFrame = Video.frameLumas(media).toDF()
    val byFrame = Window.partitionBy("doc_id").orderBy("frame")
    val scenes = perFrame
      .withColumn("__prev", lag("y_sum", 1).over(byFrame))
      .withColumn("__cut",
        when(col("__prev").isNotNull &&
          abs(col("y_sum") - col("__prev")) >
            lit(48L) * col("width") * col("height"), 1L).otherwise(0L))
      .withColumn("scene", sum("__cut").over(
        byFrame.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    scenes.groupBy("doc_id", "scene")
      .agg(min("frame").as("start_frame"), max("frame").as("end_frame"),
        count(lit(1)).as("n_frames"),
        max(struct(col("y_sum"), (-col("frame")).as("negf"))).as("__m"))
      .select(col("doc_id"), col("scene"), col("start_frame"),
        col("end_frame"), col("n_frames"),
        (-col("__m.negf")).as("keyframe"),
        col("__m.y_sum").as("key_y_sum"))
      .orderBy("doc_id", "scene")
  }

  /** Grand decontamination certificate (q296): the q272 lexical
    * certificate EXTENDED with the semantic axis it admits it cannot
    * see — per eval document ALL FOUR screens in one row: shared
    * word-3-grams (verbatim spans), shared winnowing fingerprints
    * (partial verbatim ≥ 37 chars inside paraphrase), the NFC
    * canonical hit (reformatting/Unicode tricks), and q273's exact
    * embedding-top-1 flag (full paraphrase/translation — the axis no
    * lexical screen reaches), plus the OR verdict. The semantic leg is
    * honest about coverage: eval docs without an embedding row carry
    * `semantic_screened = false` (at sf0.1 the embeddings table covers
    * 2 of 5 k docs — a real corpus has exactly this partial-coverage
    * shape, and a certificate that silently skipped the unscreened
    * docs would overclaim). Every leg reuses its proven machinery
    * verbatim; one benchmark-sized left join stitches them.
    */
  private[graft] def qFullCertificate(s: SparkSession, dir: String): DataFrame = {
    val lex = qDecontamCertificate(s, dir)
      .withColumnRenamed("contaminated", "lexical_contaminated")
    val sem = qSemanticContam(s, dir)
      .select(col("query_id").as("doc_id"),
        col("sim").as("semantic_sim"), col("flagged").as("__sh"))
    lex.join(sem, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shared_grams"), col("n_shared_fps"),
        col("exact_canon_hit"), col("lexical_contaminated"),
        col("semantic_sim"),
        coalesce(col("__sh"), lit(false)).as("semantic_hit"),
        col("semantic_sim").isNotNull.as("semantic_screened"),
        (col("lexical_contaminated") || coalesce(col("__sh"), lit(false)))
          .as("contaminated"))
      .orderBy("doc_id")
  }

  /** Stereo WAV decode + channel-balance audit (q298,
    * [[Audio.decodeWavStereo]]): real crawls carry STEREO audio, and
    * interleaved L/R frames with blockAlign 4 are exactly the layout a
    * mono-only reader mis-parses silently — so the stereo path earns
    * its own gate through the SHARED chunk walk (channel policy is the
    * caller's; mono readers reject stereo loudly and vice versa,
    * `WavCodecSpec`). Left = the sawtooth, right = half-period
    * phase-shifted; the decoder de-interleaves in one pass and reports
    * per-channel amplitude mass/peaks plus the exact truncated-bp
    * left-share balance (the broken-capture imbalance signal). Oracle
    * replays both channels closed-form.
    */
  private[graft] def qWavStereo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val media = t(s, dir, "documents")
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId)
      .as[Long]
      .map { id =>
        val n = (300 + id % 47).toInt
        Multimodal.MediaRecord(id,
          Audio.encodeWavStereo(id, n, (22050 + (id % 2) * 22050).toInt),
          "wav")
      }
    media.mapPartitions(_.map(r => Audio.decodeWavStereo(r.doc_id,
        r.payload)))
      .toDF().orderBy("doc_id")
  }

  /** Stereo-downmix dedup (q299, [[Audio.downmixToMono]]): the
    * distribution case q290's resample leg doesn't cover — the SAME
    * mono master shipped as a STEREO render (here the common
    * fake-stereo form: right = attenuated left, L/2 truncating) must
    * deduplicate against the master, and the route back into the
    * mono-only envelope chain is the downmix the [[Audio.envelopeHash]]
    * contract points at: (L + R)/2 truncating per frame through the
    * real stereo parse, re-encoded as a valid mono wav, fingerprinted.
    * Measured: downmix lands 0 envelope bits from the master
    * (attenuation cancels in the scale-invariant bit rule; the gapped
    * gain alphabet keeps every bin ≥ 20 % from the threshold, so the
    * truncation noise never flips one) while different recordings sit
    * ≥ 14 — the same 8-bit gate separates. Every sample closed-form both legs
    * (truncating integer divisions mirror in DuckDB `//`), so the
    * oracle replays BOTH fingerprints bit-exactly; payloads never
    * shuffle.
    */
  private[graft] def qStereoDownmixDedup(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val fps = t(s, dir, "documents")
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId)
      .as[Long]
      .map { id =>
        val n = (2000 + (id % 7) * 500 + (id % 53)).toInt
        val master = Array.tabulate(n)(j =>
          Audio.modulatedSample(id, j.toLong, n.toLong))
        val stereo = Audio.encodeWavStereoSamples(master,
          master.map(_ / 2), 16000)
        (id,
          Audio.envelopeHash(id, Audio.encodeWavSamples(master, 16000)),
          Audio.envelopeHash(id, Audio.downmixToMono(id, stereo)))
      }
      .toDF("doc_id", "fp_master", "fp_downmix")
    val ctrl = fps.select((col("doc_id") - 1).as("doc_id"),
      col("fp_master").as("fp_ctrl"))
    fps.join(ctrl, "doc_id")
      .withColumn("hamming",
        expr("cast(bit_count(fp_master ^ fp_downmix) as bigint)"))
      .withColumn("control_hamming",
        expr("cast(bit_count(fp_downmix ^ fp_ctrl) as bigint)"))
      .select(col("doc_id"), col("fp_master"), col("fp_downmix"),
        col("hamming"), (col("hamming") <= 8).as("is_dup"),
        col("control_hamming"),
        (col("control_hamming") > 8).as("separated"))
      .orderBy("doc_id")
  }

  /** Cross-video near-dup clusters (q300,
    * [[Video.sceneKeyframeHashes]]): the missing modality member —
    * rasters cluster through q280 and audio through q294, and the most
    * common video dup in a crawl is a re-encoded or trimmed copy of
    * the same clip. The clip fingerprint composes the two proven
    * pieces in ONE decode pass: q295's scene segmentation + keyframe
    * election and q252's raster blockhash applied to the elected
    * keyframe (8×8 block-vs-frame-mean over the DECODED Y plane,
    * division-free) — so a clip reduces to a handful of 64-bit
    * keyframe hashes and payloads never shuffle. The fixture plants
    * both production dup forms per doc_id/4 group: a 2× PIXEL-
    * DUPLICATION upscale (the exact closed-form re-encode — every
    * container byte, plane length and y_sum differs, but blocks scale
    * uniformly so every keyframe hash is IDENTICAL) and a first-scene
    * TRIM (every surviving scene's keyframe hash survives), plus an
    * unrelated control clip. Content bits are xor-shift-hashed per
    * (clip, scene, block) ([[Video.sceneBlockBit]] — the
    * [[Audio.modulatedSample]] entropy discipline), so each keyframe
    * hash carries 64 iid bits and distinct clips never collide by
    * birthday at corpus scale. Candidates come from one EXACT
    * hash-equality self-join (no banding needed — the dup forms
    * preserve hashes bit-for-bit), verified at ≥ 2 matching keyframes
    * (a trimmed copy keeps ≥ 2 of its 3–5 scenes; one shared hash is
    * the chance-collision guard), then q71's CC over doc pairs and the
    * q274 quality-max keep. The candidate join runs under
    * [[graft.ops.VideoNearDup]]'s full scale discipline — identical
    * hash multisets collapse to one representative BEFORE pairing (the
    * q294 exact-before-near rule: a million re-uploads cost one
    * representative, not a quadratic join) and hashes above the df cap
    * are excluded from pairing (the E50/maxDf boilerplate rule — a
    * black-frame keyframe cannot explode the join); both are
    * semantics-preserving here (equivalence argument at
    * [[graft.ops.VideoNearDup]]; the fixture's iid hashes keep in-data
    * df ≤ 2), so the oracle replays the UNCOLLAPSED ≥ 2 pair rule
    * verbatim and `VideoScaleSpec` measures the group-linear candidate
    * volume on planted giant-group/degenerate-hash corpora.
    */
  private[graft] def qVideoClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val media = docs.select("doc_id").transform(graft.ops.Widen.byDocId).as[Long].map { id =>
      val seed = id / 4
      val r = id % 4
      val seedKey = if (r == 3) 2 * seed + 1 else 2 * seed
      val nScenes = (3 + seed % 3).toInt
      val (w, h) = if (r == 1) (32, 16) else (16, 8)
      val (ns, off) = if (r == 2) (nScenes - 1, 1L) else (nScenes, 0L)
      Multimodal.MediaRecord(id,
        Video.encodeY4mBlockScenes(seedKey, w, h, ns, 4, off), "y4m")
    }
    val kfs = Video.keyframeHashes(media, 48).toDF().transform(snap)
    val qual = docs
      .withColumn("__toks", expr("filter(split(text, ' '), t -> t <> '')"))
      .withColumn("__q", TextFns.qualityScore("text", "__toks"))
      .select(col("doc_id"),
        expr("cast(floor(__q * 10000.0d + 0.5d) as bigint)").as("q_bp"))
    val docLab = graft.ops.VideoNearDup.clusterLabels(
      kfs.select("doc_id", "kf_hash"), maxDf = storedMaxDf(s, dir))
    val nkf = kfs.join(docLab, "doc_id")
      .groupBy("cluster_rep")
      .agg(countDistinct("kf_hash").as("n_kf_hashes"))
    docLab.join(qual, "doc_id")
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("q_bp"), (-col("doc_id")).as("negid"))).as("__m"))
      .join(nkf, "cluster_rep")
      .select(col("cluster_rep"), col("n_docs"), col("n_kf_hashes"),
        (-col("__m.negid")).as("kept_doc"), col("__m.q_bp").as("kept_q_bp"))
      .orderBy("cluster_rep")
  }

  /** Shift-robust audio landmark fingerprint, pairwise margins (q301,
    * [[Audio.landmarkHashes]]): the envelope fingerprint (q290) is
    * position-RELATIVE — robust to resampling, provably blind to time
    * SHIFTS (a leading-silence pad moves every bin;
    * `AudioLandmarkSpec` carries the measured envelope-miss proof).
    * The public Shazam-style fix is landmark-PAIR hashing, here in
    * exact integers with zero quantization jitter: onset edges in the
    * DECODED samples anchor the hash (|s| crossing the threshold
    * upward — no frames, no windows, so a pad/trim shifts every onset
    * by exactly the pad length), and each hash packs two consecutive
    * inter-onset deltas plus two truncated amplitude ratios. Per doc
    * the click-train master ([[Audio.clickTrain]], the transient-rich
    * signal landmark systems are built for) meets its three twins
    * through the REAL codec: a (n/3)-sample leading-silence pad
    * (every hash survives bit-for-bit), a content trim at
    * first-onset+5 — an ARBITRARY unaligned offset, derived from the
    * decoded data, killing the first landmark (every interior hash
    * survives), and an unrelated control (hashes carry ~21 bits of
    * hashed delta + ratio entropy ×2 each — measured zero shared).
    * The shared-hash vote is the dup rule the cluster chain (q302)
    * runs on — since r15 at the STORED q314-tuned operating point
    * (the flags here report margins at the legacy 3-vote floor, the
    * weakest gate any tuned point strengthens). Every click is closed-form, so the oracle
    * replays the landmark sets WITHOUT per-sample expansion — oracle
    * cost scales with clicks (~20/doc), not samples.
    */
  private[graft] def qAudioLandmarks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId).as[Long]
      .map { id =>
        val n = (4000 + (id % 7) * 500 + id % 53).toInt
        def hashSet(samples: Array[Int]): Set[Long] =
          Audio.landmarkHashes(id,
            Audio.encodeWavSamples(samples, 16000)).toSet
        val master = Audio.clickTrain(2 * id, n)
        val mw = Audio.encodeWavSamples(master, 16000)
        val on = Audio.onsets(id, mw, 256)
        val mh = Audio.landmarkHashes(id, mw).toSet
        val ph = hashSet(Array.fill(n / 3)(0) ++ master)
        val th = hashSet(master.drop(on.head.pos.toInt + 5))
        val ch = hashSet(Audio.clickTrain(2 * id + 1, n))
        (id, on.length.toLong, mh.size.toLong,
          (mh & ph).size.toLong, (mh & th).size.toLong,
          (mh & ch).size.toLong)
      }
      .toDF("doc_id", "n_onsets", "n_hashes", "pad_shared",
        "trim_shared", "ctrl_shared")
      .withColumn("pad_dup", col("pad_shared") >= 3)
      .withColumn("trim_dup", col("trim_shared") >= 3)
      .withColumn("ctrl_separated", col("ctrl_shared") < 3)
      .orderBy("doc_id")
  }

  private[graft] val lmSharedCache = scala.collection.mutable.Map
    .empty[(String, String), (DataFrame, DataFrame)]

  /** The labeled landmark calibration sweep, checkpointed ONCE per
    * session: both the stored operating point ([[landmarkOpPath]])
    * and the published tuning table (q314) read it, so the
    * deliberately-flooded q=6 candidate join is materialized a single
    * time however many consumers run.
    */
  private[graft] def lmLabeledShared(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    sessionFixture(lmSharedCache, s, dir) {
      // fixture discipline: RAW eager localCheckpoint, never
      // Snap.tracked — the sweep's own tracked checkpoint is drained
      // after the first consuming query's action, and these frames
      // must survive it for the session's later consumers
      val (pos, neg) = graft.ops.LandmarkTuning.labeledShared(s)
      (pos.localCheckpoint(), neg.localCheckpoint())
    }

  private[graft] val landmarkOpCache = scala.collection.mutable.Map
    .empty[(String, String), String]

  /** The STORED landmark operating point (q314,
    * [[graft.ops.LandmarkTuning]]): the tuning table is built over the
    * fixed 256-group labeled calibration sample, the
    * (delta-quantization, vote-threshold) choice applied by rule
    * (smallest viable quantization, equal-margin threshold), and the
    * result persisted via [[graft.ops.ModelStore.saveLandmarkPoint]] —
    * the artifact q302 and q306's landmark leg admit at.
    */
  private[graft] def landmarkOpPath(s: SparkSession, dir: String): String =
    sessionFixture(landmarkOpCache, s, dir) {
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val path = graft.Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_lmop_$tag")
      val (pos, neg) = lmLabeledShared(s, dir)
      val st = graft.ops.LandmarkTuning.stats(pos, neg)
        .collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2)))
        .toSeq
      val (qStar, tStar) = graft.ops.LandmarkTuning.choose(st)
      val capStar = lmCapTable(s, dir)
        .filter(col("chosen")).head().getLong(0)
      // at the chosen cell recall and precision are full BY the
      // viability construction (t* <= minPos, t* > maxNeg)
      graft.ops.ModelStore.saveLandmarkPoint(s, path, tStar, qStar,
        capStar, 10000L, 10000L)
      path
    }

  private[graft] val lmCapTableCache = scala.collection.mutable.Map
    .empty[(String, String), DataFrame]

  /** The measured df-cap sweep (q321,
    * [[graft.ops.LandmarkTuning.capTable]]) at the chosen (q*, t*),
    * checkpointed once per session: both the stored operating point
    * ([[landmarkOpPath]] persists the chosen cap as `max_df`) and the
    * published table (q321) read it.
    */
  private[graft] def lmCapTable(s: SparkSession, dir: String): DataFrame =
    sessionFixture(lmCapTableCache, s, dir) {
      val (pos, neg) = lmLabeledShared(s, dir)
      val st = graft.ops.LandmarkTuning.stats(pos, neg)
        .collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2)))
        .toSeq
      val (qStar, tStar) = graft.ops.LandmarkTuning.choose(st)
      // fixture discipline: raw eager localCheckpoint (see
      // lmLabeledShared)
      graft.ops.LandmarkTuning.capTable(s, qStar, tStar)
        .localCheckpoint()
    }

  /** Boilerplate df-cap tuning table (q321,
    * [[graft.ops.LandmarkTuning.capTable]]): the q314 discipline on
    * the LAST unmeasured knob — the pairing-join df cap. One row per
    * swept power-of-two cap with the hashes it would exclude, the
    * positive/negative pairs the stored t* vote still admits after
    * exclusion, exact truncated-bp recall, the sample's measured max
    * df, and the chosen flag ([[graft.ops.LandmarkTuning.chooseCap]]:
    * smallest grid cap at ≥ 16× the sample's max df, required to sit
    * at or above the measured full-recall floor). The chosen cap is
    * persisted as `max_df` beside (q*, t*) in the landmark operating
    * point and EVERY pairing-join cap consumer reads it — q300's
    * video chain, q302/q306's landmark and envelope legs, the
    * keyframe/landmark gate and blocklist builds — never a bare
    * constant. The oracle replays the sample, the per-hash df, the
    * capped vote sweep, and the choice rule.
    */
  private[graft] def qDfCapTuning(s: SparkSession, dir: String): DataFrame =
    lmCapTable(s, dir)

  /** The stored q321-measured pairing df cap — the single value every
    * boilerplate-cap consumer (video keyframe chain and gate builds,
    * audio landmark/envelope legs, takedown blocklist builds) reads
    * from the landmark operating-point artifact.
    */
  private[graft] def storedMaxDf(s: SparkSession, dir: String): Int =
    graft.ops.ModelStore
      .loadLandmarkPoint(s, landmarkOpPath(s, dir))._3.toInt

  /** Landmark operating-point tuning table (q314,
    * [[graft.ops.LandmarkTuning]]): the measured
    * (delta-quantization, vote-threshold) → {admitted twins, admitted
    * chance pairs, recall, precision} sweep over the fixed 256-group
    * calibration sample — the q192 (b,r)-table discipline on the
    * landmark axis, closing the r14 gap where q302 admitted at a
    * hardcoded ≥ 3 while its sf1 run measured a real chance tail. The
    * sample is generated from the group INDEX (not the corpus), so
    * the table and the stored choice are identical at every scale;
    * the coarsest quantization level deliberately floods the
    * candidate join (deltas quantize to a handful of values) so the
    * precision cliff is MEASURED, not asserted. The oracle replays
    * the sample's clicks closed-form, all four quantization levels,
    * the candidate join, and both admitted counts.
    */
  private[graft] def qLandmarkTuning(s: SparkSession, dir: String): DataFrame = {
    val (pos, neg) = lmLabeledShared(s, dir)
    graft.ops.LandmarkTuning.tableFrom(s, pos, neg)
  }

  /** Shift-robust audio dedup clusters (q302): q301's landmark
    * fingerprint routed through the production cluster chain — the
    * q294/q300 shape with landmark-vote edges: per doc_id/4 group the
    * master, its silence-padded copy and its trimmed copy (both
    * invisible to the envelope path by construction) plus an
    * unrelated control; per-doc DISTINCT hash rows leave the scan
    * (payloads never shuffle), one hash-equality self-join votes
    * pairs, edges at ≥ 3 shared hashes, q71's CC, q274 quality-max
    * keep. Landmark edges UNION q294's envelope band edges in one
    * line when both fingerprint families run on the same corpus —
    * the screens compose because both reduce to doc-pair edge sets.
    */
  private[graft] def qLandmarkClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    // the vote threshold, delta quantization, and pairing df cap are
    // the STORED q314/q321-tuned operating point (the q303 discipline
    // on every knob: serving reads the calibration artifact, never a
    // hardcoded 3 or a bare 64)
    val (voteT, deltaQ, maxDf, _, _) = graft.ops.ModelStore
      .loadLandmarkPoint(s, landmarkOpPath(s, dir))
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val hashes = docs.select("doc_id").transform(graft.ops.Widen.byDocId).as[Long].flatMap { id =>
      val g = id / 4
      val r = id % 4
      val n = (4000 + (g % 7) * 500 + g % 53).toInt
      val sk = if (r == 3) 2 * g + 1 else 2 * g
      // the shared rendition generator — the SAME forms the stored
      // operating point was tuned on (Audio.clickRendition)
      val samples = Audio.clickRendition(sk, n,
        if (r == 3) 0L else r)
      Audio.landmarkHashes(id, Audio.encodeWavSamples(samples, 16000),
          256, deltaQ.toInt)
        .distinct.map(h => (id, h))
    }.toDF("doc_id", "lm_hash").transform(snap)
    // pairing goes through the STORED df cap (AudioNearDup: one
    // window filter on the self-join's own shuffle); in-data df stays
    // provably under the cap at every gated scale (measured max 18 at
    // sf1), so the oracle replays the uncapped vote rule verbatim —
    // reporting below (doc membership, per-cluster hash counts) stays
    // on the uncapped frame
    val edges = graft.ops.AudioNearDup.voteEdges(
      hashes.select(col("doc_id"), col("lm_hash").as("h")),
      voteT, maxDf.toInt)
    val labels = DedupClusters.connectedComponents(edges, "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    val qual = docs
      .withColumn("__toks", expr("filter(split(text, ' '), t -> t <> '')"))
      .withColumn("__q", TextFns.qualityScore("text", "__toks"))
      .select(col("doc_id"),
        expr("cast(floor(__q * 10000.0d + 0.5d) as bigint)").as("q_bp"))
    val docLab = hashes.select("doc_id").distinct()
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"),
        col("doc_id")))
    val nlm = hashes.join(docLab, "doc_id")
      .groupBy("cluster_rep")
      .agg(countDistinct("lm_hash").as("n_lm_hashes"))
    docLab.join(qual, "doc_id")
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("q_bp"), (-col("doc_id")).as("negid"))).as("__m"))
      .join(nlm, "cluster_rep")
      .select(col("cluster_rep"), col("n_docs"), col("n_lm_hashes"),
        (-col("__m.negid")).as("kept_doc"), col("__m.q_bp").as("kept_q_bp"))
      .orderBy("cluster_rep")
  }

  /** Union dedup clusters — envelope ∪ landmark (q306): the two audio
    * fingerprint families COMPOSED, proving E299's one-line-union
    * claim as code. The fixture plants, per doc_id/4 group, the two
    * production dup forms that each family catches and the OTHER
    * provably misses: a 2× RESAMPLE (envelope drift ≤ 1 bit — the
    * hybrid recording, [[Audio.hybridTrain]] — while landmark deltas
    * halve: zero shared hashes) and a content TRIM at first-onset+3,
    * an arbitrary unaligned offset derived from decoded data (every
    * interior landmark hash survives, ≥ 9 shared, while the envelope
    * support shifts ≥ 11 bits), plus an unrelated control. One decode
    * pass emits BOTH fingerprints (payloads never shuffle); envelope
    * edges come from the 5×12 band probe verified at hamming ≤ 4 (the
    * gate follows the MEASURED drift: ≤ 1 here, and ≤ 4 pigeonholes
    * ≥ 1 intact band — at this gate the 12,500-group sf1 space has
    * ZERO cross-group candidates, where the q294 ≤ 8 gate would admit
    * 3), landmark edges from the q302 vote rule at the STORED q314
    * operating point, and their UNION
    * feeds one CC — the trio clusters, and `UnionClustersSpec` proves
    * each single-family edge set leaves its blind twin out. Oracle
    * replays the envelope bins WITHOUT a sample×click join (background
    * mass per bin + one correction row per click — exact), the
    * landmark sets from click rows, both edge rules, and the closure.
    */
  private[graft] def qUnionClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    // the landmark leg admits at the STORED q314 operating point,
    // exactly like q302 (the envelope leg's <= 4 gate follows its own
    // measured drift and is not landmark-tunable); BOTH legs' pairing
    // joins ride the stored q321 df cap
    val (voteT, deltaQ, maxDf, _, _) = graft.ops.ModelStore
      .loadLandmarkPoint(s, landmarkOpPath(s, dir))
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val feats = docs.select("doc_id").transform(graft.ops.Widen.byDocId).as[Long].map { id =>
      val g = id / 4
      val r = id % 4
      val n = (4000 + (g % 7) * 500 + g % 53).toInt
      val master = Audio.hybridTrain(if (r == 3) 2 * g + 1 else 2 * g, n)
      val samples = r match {
        case 1L => Array.tabulate(n / 2)(k => master(2 * k))
        case 2L =>
          val mw = Audio.encodeWavSamples(master, 16000)
          master.drop(Audio.onsets(id, mw, 256).head.pos.toInt + 3)
        case _ => master
      }
      val wav = Audio.encodeWavSamples(samples,
        if (r == 1L) 8000 else 16000)
      (id, Audio.envelopeHash(id, wav),
        Audio.landmarkHashes(id, wav, 256, deltaQ.toInt).distinct)
    }.toDF("doc_id", "fp", "lm_hashes").transform(snap)
    val bandsOf = "transform(sequence(0, 4), " +
      "b -> (shiftright(%s, b * 12) & 4095) * 5 + b)"
    // both candidate joins ride the stored df cap (a degenerate band
    // value — silent audio quantizing every bin below the mean — is
    // the envelope leg's magnet exactly as a shared beat pattern is
    // the landmark leg's); in-data dfs stay provably under the cap at
    // every gated scale (measured max: bands 33, hashes 8 at sf1), so
    // the oracle replays both uncapped rules verbatim
    val envEdges = graft.ops.AudioNearDup.bandCandidates(
        feats.select(col("doc_id"), col("fp"),
          explode(expr(bandsOf.format("fp"))).as("bk")),
        maxDf.toInt)
      .filter(expr("bit_count(fa ^ fb) <= 4"))
      .select("id_a", "id_b").distinct()
    val lmEdges = graft.ops.AudioNearDup.voteEdges(
      feats.select(col("doc_id"), explode(col("lm_hashes")).as("h")),
      voteT, maxDf.toInt)
    val edges = envEdges.union(lmEdges).distinct()
    val labels = DedupClusters.connectedComponents(edges, "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    val qual = docs
      .withColumn("__toks", expr("filter(split(text, ' '), t -> t <> '')"))
      .withColumn("__q", TextFns.qualityScore("text", "__toks"))
      .select(col("doc_id"),
        expr("cast(floor(__q * 10000.0d + 0.5d) as bigint)").as("q_bp"))
    feats.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"),
        col("doc_id")))
      .join(qual, "doc_id")
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("q_bp"), (-col("doc_id")).as("negid"))).as("__m"))
      .select(col("cluster_rep"), col("n_docs"),
        (-col("__m.negid")).as("kept_doc"), col("__m.q_bp").as("kept_q_bp"))
      .orderBy("cluster_rep")
  }

  private[graft] val videoGateCache = scala.collection.mutable.Map
    .empty[(String, String), (String, String)]

  /** Staged arrivals + stored keyframe-hash index for the streaming
    * video-dedup gate (q307). Groups of doc_id/3: members ≡ 1, 2 mod 3
    * are HISTORY — the master clip and its 2× pixel-duplication
    * upscale (identical keyframe hashes: identical-entry handling
    * exercised) — and members ≡ 0 arrive as the first-scene TRIM of
    * the group clip, except every fifth group's arrival is a NOVEL
    * clip that must match nothing.
    */
  private[graft] def videoGatePaths(s: SparkSession,
      dir: String): (String, String) =
    sessionFixture(videoGateCache, s, dir) {
      import s.implicits._
      implicit val sp: SparkSession = s
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val tmp = System.getProperty("java.io.tmpdir")
      val srcPath = graft.Scratch.register(s"$tmp/graft_vgate_src_$tag")
      val idxPath = graft.Scratch.register(s"$tmp/graft_vgate_idx_$tag")
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long"))
        .transform(graft.ops.Widen.byDocId).as[Long]
      docs.filter((id: Long) => id % 3 == 0)
        .map { id =>
          val g = id / 3
          val sk = if (g % 5 == 0) 2 * g + 1 else 2 * g
          val ns = (3 + g % 3).toInt
          val (nsr, off) =
            if (g % 5 == 0) (ns, 0L) else (ns - 1, 1L) // novel vs trim
          (id, Video.encodeY4mBlockScenes(sk, 16, 8, nsr, 4, off))
        }
        .toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(srcPath)
      val histMedia = docs.filter((id: Long) => id % 3 != 0)
        .map { id =>
          val g = id / 3
          val (w, h) = if (id % 3 == 1) (16, 8) else (32, 16)
          Multimodal.MediaRecord(id,
            Video.encodeY4mBlockScenes(2 * g, w, h, (3 + g % 3).toInt,
              4, 0L), "y4m")
        }
      graft.streaming.VideoDedupGate.buildIndex(
          Video.keyframeHashes(histMedia, 48).toDF()
            .select(col("doc_id").as("hist_id"), col("kf_hash")),
          maxDf = storedMaxDf(s, dir))
        .write.mode("overwrite").parquet(idxPath)
      (srcPath, idxPath)
    }

  /** Streaming video-dedup gate (q307,
    * [[graft.streaming.VideoDedupGate]]): the live-ingestion trio
    * completed — rasters (q267), audio (q304), and now VIDEO: arriving
    * clips decode, segment, elect and blockhash keyframes in one
    * scan-local pass, then probe the STORED keyframe-hash index by
    * exact equality with the q300 ≥ 2-vote verify; matched
    * (arrival, history, n_shared) verdicts append under the replay
    * rule. Fixture: each id/3 group's arrival is the first-scene TRIM
    * of the group clip held twice in history (master + its 2×
    * upscale — identical hash entries exercised); every fifth group's
    * arrival is novel. Oracle replays hashes closed-form + the same
    * vote; `VideoDedupGateSpec` drives restart-resume.
    */
  private[graft] def qStreamVideoDedup(s: SparkSession, dir: String): DataFrame = {
    val (src, idx) = videoGatePaths(s, dir)
    graft.streaming.VideoDedupGate.run(s, src, s.read.parquet(idx))
  }

  /** The q308/q309 per-doc recording: silence-only every 7th doc, a
    * wall-of-sound every 11th (not 7th), hashed speech bursts
    * otherwise ([[Audio.burstTrain]]).
    */
  private[graft] def speechSamples(id: Long, n: Int): Array[Int] =
    if (id % 7 == 0)
      Array.tabulate(n)(j => (((id * 31 + 997 * j) % 81) - 40).toInt)
    else if (id % 11 == 0)
      Array.tabulate(n)(j => if (j % 2 == 0) 1000 else -1000)
    else Audio.burstTrain(id, n)

  /** Utterance segmentation / VAD stats (q308, [[Audio.utterances]]):
    * speech corpora are curated at the UTTERANCE level, and the first
    * pass over every recording is the energy-gate VAD — maximal runs
    * of |s| ≥ threshold in the DECODED samples, one scan-local pass
    * (payloads never shuffle; a 10-minute recording emits one row).
    * Per doc: utterance count, speech mass, the exact truncated-bp
    * speech ratio, and the longest utterance with its position (ties →
    * earliest — the clip a transcription job reads first). The fixture
    * plants the two degenerate classes every real crawl contains —
    * silence-only (no utterances) and wall-of-sound (one utterance
    * spanning the recording) — beside hashed burst trains; all
    * closed-form, so the oracle replays from ~12 burst rows per doc,
    * never samples.
    */
  private[graft] def qUtteranceStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId).as[Long]
      .map { id =>
        val n = (4000 + (id % 7) * 500 + id % 53).toInt
        val us = Audio.utterances(id,
          Audio.encodeWavSamples(speechSamples(id, n), 16000), 256)
        val longest = if (us.isEmpty) null
          else us.maxBy(u => (u.len, -u.start))
        (id, us.length.toLong, us.map(_.len).sum,
          us.map(_.len).sum * 10000 / n,
          if (longest == null) 0L else longest.len,
          if (longest == null) -1L else longest.start)
      }
      .toDF("doc_id", "n_utterances", "speech_samples", "speech_bp",
        "longest_len", "longest_start")
      .orderBy("doc_id")
  }

  /** Speech-quality admission screen (q309): the Gopher-style quality
    * gate on the AUDIO axis — q308's VAD stats thresholded into a
    * keep/drop verdict with named reasons: enough utterances
    * (≥ 3 — single-blob audio is usually not speech), a speech ratio
    * inside the usable band (2,000–9,000 bp — silence-padded and
    * wall-of-sound recordings both fail), and no utterance longer
    * than 1,200 samples (the no-segmentation-possible guard). The
    * planted degenerate classes drop for exactly their reason;
    * hashed burst docs all keep (ratio ~52 %, utterances 6–12,
    * longest ≤ 499 — measured by construction). Reasons are columns,
    * not a boolean — the table a curation dashboard reads.
    */
  private[graft] def qSpeechQualityScreen(s: SparkSession,
      dir: String): DataFrame =
    qUtteranceStats(s, dir)
      .withColumn("enough_utterances", col("n_utterances") >= 3)
      .withColumn("ratio_in_band",
        col("speech_bp") >= 2000 && col("speech_bp") <= 9000)
      .withColumn("segmentable", col("longest_len") <= 1200)
      .withColumn("kept", col("enough_utterances") &&
        col("ratio_in_band") && col("segmentable"))
      .select(col("doc_id"), col("n_utterances"), col("speech_bp"),
        col("longest_len"), col("enough_utterances"),
        col("ratio_in_band"), col("segmentable"), col("kept"))
      .orderBy("doc_id")

  /** Pad-robust envelope dedup via silence-trim normalization (q310,
    * [[Audio.envelopeHashTrimmed]]): the PRODUCTION answer to padded
    * copies inside the envelope family itself — the fingerprint is
    * computed over the signal SUPPORT (first..last sample at
    * |s| ≥ 16), so leading/trailing silence moves nothing. Per doc the
    * hybrid master meets a twin padded with n/3 leading + n/5 trailing
    * zeros and an unrelated control; the trimmed fingerprints land 0
    * bits apart (is_dup at the 8-bit gate) while the RAW envelope
    * carries its own miss in-data (raw_hamming ≥ 15 — the documented
    * q290 shift-blindness, here as a column), and controls stay ≥ 18.
    * Together with q301/q306 the pad story is closed twice over:
    * silence pads fall to trim normalization OR landmark voting;
    * content trims to landmark voting alone. Oracle recomputes the
    * support bounds and both binnings from the background-plus-click
    * closed form (the padded leg's sample rows are the master's
    * shifted — zeros contribute nothing — so one per-sample table
    * serves all four fingerprints).
    */
  private[graft] def qPadRobustDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId).as[Long]
      .map { id =>
        val n = (4000 + (id % 7) * 500 + id % 53).toInt
        val master = Audio.hybridTrain(2 * id, n)
        val padded =
          Array.fill(n / 3)(0) ++ master ++ Array.fill(n / 5)(0)
        val ctrl = Audio.hybridTrain(2 * id + 1, n)
        val (mw, pw, cw) = (Audio.encodeWavSamples(master, 16000),
          Audio.encodeWavSamples(padded, 16000),
          Audio.encodeWavSamples(ctrl, 16000))
        (id, Audio.envelopeHashTrimmed(id, mw),
          Audio.envelopeHashTrimmed(id, pw),
          java.lang.Long.bitCount(
            Audio.envelopeHash(id, mw) ^ Audio.envelopeHash(id, pw))
            .toLong,
          Audio.envelopeHashTrimmed(id, cw))
      }
      .toDF("doc_id", "fp_trim_master", "fp_trim_padded",
        "raw_hamming", "__fp_ctrl")
      .withColumn("trim_hamming",
        expr("cast(bit_count(fp_trim_master ^ fp_trim_padded) as bigint)"))
      .withColumn("is_dup", col("trim_hamming") <= 8)
      .withColumn("raw_missed", col("raw_hamming") > 8)
      .withColumn("control_hamming",
        expr("cast(bit_count(fp_trim_master ^ __fp_ctrl) as bigint)"))
      .withColumn("separated", col("control_hamming") > 8)
      .select("doc_id", "fp_trim_master", "fp_trim_padded",
        "trim_hamming", "is_dup", "raw_hamming", "raw_missed",
        "control_hamming", "separated")
      .orderBy("doc_id")
  }

  /** Incremental keyframe-index maintenance (q311): the WRITE side of
    * the q307 video gate — the q256 bucketed-history discipline on the
    * video axis. The stored keyframe-hash index lives as a
    * hash-BUCKETED catalog table (probes join exchange-free —
    * `VideoIndexSpec` asserts no Exchange on the index side); after a
    * batch of clips is admitted, their (clip, keyframe-hash) entries
    * APPEND as new per-bucket files (the bucket layout is preserved,
    * never rewritten — at 100 TB the index is billions of rows and a
    * rewrite-per-ingest is a nightly job). Output: entry counts
    * before/added/after, `novel_hashes` (hash VALUES the index had
    * never seen — the trimmed re-fetches contribute zero, only the
    * genuinely novel clips add vocabulary), and the maintenance
    * guarantee `recheck_unmatched` = 0: re-probing the admitted batch
    * through the q307 ≥ 2-vote gate now matches every clip (each at
    * least self-matches on all its scenes), which is exactly the
    * re-fetch suppression the index exists for. Like q256 the query
    * IS the maintenance demonstration and rebuilds its table per run.
    */
  private[graft] def qIncrKeyframeIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val tag = (s.sparkContext.applicationId + "_" + dir)
      .replaceAll("[^a-zA-Z0-9]", "_")
    val tbl = s"graft_kfidx_incr_$tag"
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId).as[Long]
    val histMedia = docs.filter((id: Long) => id % 3 != 0)
      .map { id =>
        val g = id / 3
        val (w, h) = if (id % 3 == 1) (16, 8) else (32, 16)
        Multimodal.MediaRecord(id,
          Video.encodeY4mBlockScenes(2 * g, w, h, (3 + g % 3).toInt,
            4, 0L), "y4m")
      }
    Video.keyframeHashes(histMedia, 48).toDF()
      .select(col("doc_id").as("hist_id"), col("kf_hash")).distinct()
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "kf_hash").sortBy("kf_hash").saveAsTable(tbl)
    val before = s.table(tbl).count()
    val oldHashes = s.table(tbl).select("kf_hash").distinct()
      .transform(snap)
    val arrMedia = docs.filter((id: Long) => id % 3 == 0)
      .map { id =>
        val g = id / 3
        val sk = if (g % 5 == 0) 2 * g + 1 else 2 * g
        val ns = (3 + g % 3).toInt
        val (nsr, off) = if (g % 5 == 0) (ns, 0L) else (ns - 1, 1L)
        Multimodal.MediaRecord(id,
          Video.encodeY4mBlockScenes(sk, 16, 8, nsr, 4, off), "y4m")
      }
    val arriving = Video.keyframeHashes(arrMedia, 48).toDF()
      .select(col("doc_id").as("hist_id"), col("kf_hash")).distinct()
      .transform(snap)
    val novelHashes = arriving.select("kf_hash").distinct()
      .join(oldHashes, Seq("kf_hash"), "left_anti").count()
    // append routes each entry to its kf_hash bucket as new
    // per-bucket files — layout preserved, probes stay exchange-free
    arriving.write.mode("append").format("parquet")
      .bucketBy(8, "kf_hash").sortBy("kf_hash").saveAsTable(tbl)
    // before/after are metadata-only parquet counts (footer row
    // counts) — the post-append read IS the maintenance guarantee
    val after = s.table(tbl).count()
    // appends can push a hash past the build-time df cap, so the
    // maintenance job refreshes the stop-hash artifact HERE (one
    // exchange-free agg on the bucket layout) and every probe
    // anti-joins against it instead of ever scanning the index
    val stop = graft.streaming.VideoDedupGate
      .stopHashes(s.table(tbl), maxDf = storedMaxDf(s, dir))
      .transform(snap)
    val nStop = stop.count()
    val matched = graft.streaming.VideoDedupGate.batchMatches(s,
        arrMedia.map(r => (r.doc_id, r.payload))
          .toDF("doc_id", "payload"),
        s.table(tbl), stop = Some(stop))
      .select("doc_id").distinct()
    val recheck = arriving.select(col("hist_id").as("doc_id")).distinct()
      .join(matched, Seq("doc_id"), "left_anti").count()
    Seq(("added_entries", after - before), ("after_entries", after),
      ("before_entries", before), ("novel_hashes", novelHashes),
      ("recheck_unmatched", recheck), ("stop_hashes", nStop))
      .toDF("phase", "n")
      .orderBy("phase")
  }

  /** Incremental envelope band-index maintenance (q323): the q311
    * discipline on the audio ENVELOPE axis — the takedown band index
    * (q315's blocklist) was build-once, but a production blocklist
    * grows daily. A second wave of deletion requests (every ninth
    * group shifted by three: g % 9 = 3) appends bucket-preservingly
    * to the bk-bucketed catalog table (each entry routes to its band
    * bucket as new per-bucket files — probes stay exchange-free), the
    * maintenance job refreshes the stop-band artifact at the stored
    * q321 df cap (appends can push a degenerate band past the
    * build-time bound), and the full arrival corpus re-probes the
    * grown index through the batch gate with the stop anti-join:
    * both waves' protected renditions block at the pigeonhole ≤ 4.
    * Oracle replays both reference waves' fingerprints closed-form
    * (the q315 kv chain), the band rule, the df-cap choice, and every
    * count.
    */
  private[graft] def qIncrBandIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val maxDf = storedMaxDf(s, dir)
    val tag = (s.sparkContext.applicationId + "_" + dir)
      .replaceAll("[^a-zA-Z0-9]", "_")
    val tbl = s"graft_bandidx_incr_$tag"
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId).as[Long]
    def refs(res: Long) = docs.map(_ / 3).distinct()
      .filter((g: Long) => g % 9 == res)
      .map { g =>
        val n = (2000 + (g % 7) * 500 + g % 53).toInt
        (g, Audio.envelopeHash(g, Audio.encodeWavSamples(
          Array.tabulate(n)(j =>
            Audio.modulatedSample(2 * g, j.toLong, n.toLong)), 16000)))
      }
      .toDF("hist_id", "fp")
    graft.streaming.AudioDedupGate.buildIndex(refs(0), maxDf)
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "bk").sortBy("bk").saveAsTable(tbl)
    val before = s.table(tbl).count()
    val oldBands = s.table(tbl).select("bk").distinct().transform(snap)
    val arriving = graft.streaming.AudioDedupGate
      .buildIndex(refs(3), maxDf).transform(snap)
    val novel = arriving.select("bk").distinct()
      .join(oldBands, Seq("bk"), "left_anti").count()
    arriving.write.mode("append").format("parquet")
      .bucketBy(8, "bk").sortBy("bk").saveAsTable(tbl)
    val after = s.table(tbl).count()
    val stop = graft.streaming.AudioDedupGate
      .stopBands(s.table(tbl), maxDf).transform(snap)
    val nStop = stop.count()
    // fail-loudly visibility: a reference whose every band was capped
    // out at build is unfindable on this axis — counted, never
    // silently dropped (in-data provably 0 at every gated scale)
    val nRefs = docs.map(_ / 3).distinct()
      .filter((g: Long) => g % 9 == 0 || g % 9 == 3).count()
    val unindexed =
      nRefs - s.table(tbl).select("hist_id").distinct().count()
    val (srcPath, _) = audioTakedownPaths(s, dir)
    val matched = graft.streaming.AudioDedupGate.batchMatches(s,
        s.read.parquet(srcPath), s.table(tbl), maxHamming = 4,
        stop = Some(stop))
      .select("doc_id").distinct().transform(snap)
    val blocked = matched.count()
    val recheck = docs.toDF("doc_id")
      .filter(expr("doc_id div 3 % 9 = 0 or doc_id div 3 % 9 = 3"))
      .join(matched, Seq("doc_id"), "left_anti").count()
    Seq(("added_entries", after - before), ("after_entries", after),
      ("before_entries", before), ("blocked_arrivals", blocked),
      ("novel_bands", novel), ("recheck_unmatched", recheck),
      ("stop_bands", nStop), ("unindexed_refs", unindexed))
      .toDF("phase", "n")
      .orderBy("phase")
  }

  /** Incremental landmark blocklist maintenance (q324): q323's
    * sibling on the shift-robust axis — the q319 blocklist grows by
    * the same second request wave (g % 9 = 3), appended
    * bucket-preservingly to the h-bucketed catalog table, the
    * stop-hash artifact refreshed at the stored q321 cap (a beat
    * pattern can cross the df bound only through appends — build-time
    * capping alone cannot see it), and the full arrival corpus
    * re-probes through the batch gate at the stored (q*, t*): both
    * waves' master, padded AND trimmed arrivals block. Oracle replays
    * both waves' click trains closed-form (the q319 window chain),
    * the vote rule at the derived (q*, t*), the df-cap choice, and
    * every count.
    */
  private[graft] def qIncrLandmarkIndex(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val (voteT, deltaQ, maxDfL, _, _) = graft.ops.ModelStore
      .loadLandmarkPoint(s, landmarkOpPath(s, dir))
    val maxDf = maxDfL.toInt
    val tag = (s.sparkContext.applicationId + "_" + dir)
      .replaceAll("[^a-zA-Z0-9]", "_")
    val tbl = s"graft_lmidx_incr_$tag"
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId).as[Long]
    def refs(res: Long) = docs.map(_ / 3).distinct()
      .filter((g: Long) => g % 9 == res)
      .flatMap { g =>
        val n = (4000 + (g % 7) * 500 + g % 53).toInt
        Audio.landmarkHashes(g,
            Audio.encodeWavSamples(Audio.clickTrain(2 * g, n), 16000),
            256, deltaQ.toInt)
          .distinct.map(h => (g, h))
      }
      .toDF("takedown_id", "h")
    graft.streaming.LandmarkTakedownGate.buildIndex(refs(0), maxDf)
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "h").sortBy("h").saveAsTable(tbl)
    val before = s.table(tbl).count()
    val oldHashes = s.table(tbl).select("h").distinct().transform(snap)
    val arriving = graft.streaming.LandmarkTakedownGate
      .buildIndex(refs(3), maxDf).transform(snap)
    val novel = arriving.select("h").distinct()
      .join(oldHashes, Seq("h"), "left_anti").count()
    arriving.write.mode("append").format("parquet")
      .bucketBy(8, "h").sortBy("h").saveAsTable(tbl)
    val after = s.table(tbl).count()
    val stop = graft.streaming.LandmarkTakedownGate
      .stopHashes(s.table(tbl), maxDf).transform(snap)
    val nStop = stop.count()
    val (srcPath, _) = lmTakedownPaths(s, dir)
    val matched = graft.streaming.LandmarkTakedownGate.batchMatches(s,
        s.read.parquet(srcPath), s.table(tbl), voteT, deltaQ.toInt,
        stop = Some(stop))
      .select("doc_id").distinct().transform(snap)
    val blocked = matched.count()
    val recheck = docs.toDF("doc_id")
      .filter(expr("doc_id div 3 % 9 = 0 or doc_id div 3 % 9 = 3"))
      .join(matched, Seq("doc_id"), "left_anti").count()
    Seq(("added_entries", after - before), ("after_entries", after),
      ("before_entries", before), ("blocked_arrivals", blocked),
      ("novel_hashes", novel), ("recheck_unmatched", recheck),
      ("stop_hashes", nStop))
      .toDF("phase", "n")
      .orderBy("phase")
  }

  /** Channel-turn diarization (q312, [[Audio.channelTurns]]): the
    * interview/call-center convention made an operator — each speaker
    * sits on one STEREO channel, so speaker turns are CHANNEL turns,
    * and the diarization a transcript-alignment job needs is one
    * decode pass: utterances at max(|L|, |R|) ≥ 256 (the q308 VAD rule
    * lifted to stereo through the real interleaved-frame parse, q298),
    * each attributed to the channel with the larger amplitude mass.
    * Per doc: utterance count, per-channel counts, speaker TURNS
    * (adjacent attribution changes — the conversational-structure
    * signal a dialogue-data curator filters on), and the two-speaker
    * flag. Fixture: hashed stereo burst trains
    * ([[Audio.stereoBurstTrain]] — each burst on a hashed channel, the
    * silent channel keeping its noise floor); every 13th doc is a
    * MONOLOGUE (all bursts forced left — a one-speaker recording that
    * must report zero turns). Closed-form per burst, so the oracle
    * replays ~12 rows per doc, never samples.
    */
  private[graft] def qChannelDiarization(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId).as[Long]
      .map { id =>
        val n = (4000 + (id % 7) * 500 + id % 53).toInt
        val (l, r) = Audio.stereoBurstTrain(id, n)
        val lr = if (id % 13 == 0) { // monologue: everything left
          val lm = l.clone()
          var j = 0
          while (j < n) {
            if (math.abs(r(j)) > math.abs(lm(j))) lm(j) = r(j)
            j += 1
          }
          (lm, Array.tabulate(n)(j =>
            (((id * 31 + 997 * j + 40) % 81) - 40).toInt))
        } else (l, r)
        val us = Audio.channelTurns(id,
          Audio.encodeWavStereoSamples(lr._1, lr._2, 16000), 256)
        val turns = us.sliding(2).count {
          case Seq(a, b) => a.channel != b.channel
          case _ => false
        }
        (id, us.length.toLong, turns.toLong,
          us.count(_.channel == 0).toLong,
          us.count(_.channel == 1).toLong)
      }
      .toDF("doc_id", "n_utterances", "n_turns", "left_utts",
        "right_utts")
      .withColumn("two_speakers",
        col("left_utts") >= 1 && col("right_utts") >= 1)
      .orderBy("doc_id")
  }

  /** Media dedup impact report (q313): the q271 corpus-owner table on
    * the MODALITY axes — per media family (raster q280, audio q294,
    * video q300) one row: items, clusters, duplicate items removed
    * under min-cluster keep, the exact truncated-bp dup rate, and the
    * largest cluster (the skew signal a rewrite planner reads). Each
    * leg reads the STORED verdict table the q322 maintenance job
    * derives from its gated cluster query — report cost is the scan
    * of three latest-version partitions plus metadata-sized
    * aggregates — and the oracle composes the three cluster oracles
    * as subqueries, so green means stored chains and roll-up agree
    * cross-engine.
    */
  private[graft] def clusterImpactLeg(name: String, df: DataFrame) = df
    .agg(sum("n_docs").as("n_items"),
      count(lit(1)).as("n_clusters"),
      (sum("n_docs") - count(lit(1))).as("n_dup_items"),
      expr("(sum(n_docs) - count(1)) * 10000 div sum(n_docs)")
        .as("dup_rate_bp"),
      max("n_docs").as("max_cluster"))
    .withColumn("modality", lit(name))
    .select("modality", "n_items", "n_clusters", "n_dup_items",
      "dup_rate_bp", "max_cluster")

  private[graft] val verdictStoreCache = scala.collection.mutable.Map
    .empty[(String, String), String]

  /** The screen/cluster verdict tables the verdict store persists
    * (q322) and the gated chains that derive them — the legs the
    * report family (q313/q318/q320) READS instead of re-deriving.
    * At 100 TB a compliance/dedup report is a dashboard over STORED
    * verdict tables maintained by scheduled jobs, never a re-run of
    * three full screens per page load.
    */
  private[graft] def verdictLegs(s: SparkSession,
      dir: String): Seq[(String, () => DataFrame)] = Seq(
    "audio_clusters" -> (() => qAudioClusters(s, dir)),
    "audio_takedown" -> (() => qAudioTakedown(s, dir)),
    "landmark_takedown" -> (() => qLandmarkTakedown(s, dir)),
    "raster_clusters" -> (() => qRasterClusters(s, dir)),
    "text_clusters" -> (() => textClusterSizes(s, dir)),
    "video_clusters" -> (() => qVideoClusters(s, dir)),
    "video_takedown" -> (() => qVideoTakedown(s, dir)))

  /** One verdict-store maintenance pass (the q311 artifact
    * discipline): every leg re-derives and APPENDS under the next
    * version — each version its own partition directory, so readers
    * partition-prune to the latest files and history stays auditable
    * (a compliance store never rewrites old verdicts). Returns the
    * per-table row-count summary.
    *
    * The seven legs are INDEPENDENT jobs (disjoint state paths,
    * disjoint chains), so they run at the same time, one driver thread
    * per leg (`graft.Parallel.all`; guide §2.6 — overlap independent
    * jobs): each leg's stage tail back-fills cores the others free,
    * instead of 7 × (stage tail + commit) strictly in sequence. The
    * width is the LEG COUNT
    * (all independent jobs in flight): measured r17 at idle
    * sf0.1/32 cores, width 7 runs q322 in 4.69 s vs 7.39 s at the r16
    * width of 4 — once the r17 local-CC fast path shortened each leg,
    * every leg became driver-pace-bound and full overlap wins. The
    * width is a property of the leg count, not the cluster, so it
    * holds on a real cluster too (FIFO scheduling back-fills exactly
    * as the guide describes).
    * Determinism is untouched: per-table version numbering and row
    * content never depend on cross-leg ordering, and the summary is
    * sorted. Job descriptions are thread-local, so the UI labels each
    * leg correctly.
    *
    * Scoped-conf interaction (r16's `Staging.withStreamShufflePartitions`
    * refcount): legs that stage a stream scope the session's shuffle
    * partitions down for their window; a BATCH leg planned during a
    * concurrent refresh may therefore plan at the streaming width.
    * Sound (oracle-proven) and bounded — AQE re-sizes the actual
    * partitions by bytes either way — but it is why the width
    * stays small rather than leg-count-wide. Width A/B is recorded in
    * BASELINE.md (r17): 4 measured against 7 at idle sf0.1/32 cores.
    */
  private[graft] def refreshVerdicts(s: SparkSession, dir: String,
      root: String): DataFrame = {
    import s.implicits._
    graft.Parallel.all(verdictLegs(s, dir).map { case (name, build) =>
      () => {
        s.sparkContext.setJobDescription(s"verdict refresh: $name")
        val path = s"$root/$name"
        val next =
          if (!new java.io.File(path).exists()) 0L
          else s.read.parquet(path)
            .agg(max(col("version").cast("long"))).head().getLong(0) + 1
        build().withColumn("version", lit(next))
          .write.mode("append").partitionBy("version").parquet(path)
        // metadata-only count of the freshly written partition
        val n = s.read.parquet(path)
          .filter(col("version").cast("long") === next).count()
        (name, n)
      }
    }).toDF("table_name", "n_rows").orderBy("table_name")
  }

  /** The stored verdict root, built once per session (version 0).
    * The initial refresh runs OUTSIDE the fixture lock: its legs
    * resolve their own session fixtures from their own threads, which
    * would deadlock against a build-holding-the-lock caller (the
    * lock-holder would be waiting on threads that are waiting on the
    * lock). Queries invoke this from the single harness thread, so
    * the unlocked window cannot double-build in any shipped path;
    * if two threads ever did race it, getOrElseUpdate keeps the
    * first root and the loser's scratch dir is reclaimed at exit.
    */
  private[graft] def verdictStoreRoot(s: SparkSession, dir: String): String = {
    val key = (s.sparkContext.applicationId, dir)
    val cached = fixtureLock.synchronized {
      verdictStoreCache.filterInPlace((k, _) => k._1 == key._1)
      verdictStoreCache.get(key)
    }
    cached.getOrElse {
      val tag = (key._1 + "_" + dir).replaceAll("[^a-zA-Z0-9]", "_")
      val root = graft.Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_verdicts_$tag")
      refreshVerdicts(s, dir, root).collect()
      fixtureLock.synchronized {
        verdictStoreCache.getOrElseUpdate(key, root)
      }
    }
  }

  /** Latest-version read of a stored verdict table — the max-version
    * filter prunes the scan to the newest partition's files.
    */
  private[graft] def readVerdict(s: SparkSession, root: String,
      name: String): DataFrame = {
    val path = s"$root/$name"
    val v = s.read.parquet(path)
      .agg(max(col("version").cast("long"))).head().getLong(0)
    s.read.parquet(path)
      .filter(col("version").cast("long") === v).drop("version")
  }

  /** Verdict-store refresh (q322): the maintenance job that re-derives
    * every screen/cluster verdict table and appends the next version
    * (each version a partition — auditable history, partition-pruned
    * latest reads). The report family (q313/q318/q320) reads the
    * stored tables this job maintains, so report cost is scan cost.
    * The oracle composes the seven leg oracles as COUNT subqueries —
    * green means every stored table carries exactly the rows its live
    * chain derives.
    */
  private[graft] def qVerdictRefresh(s: SparkSession, dir: String): DataFrame =
    refreshVerdicts(s, dir, verdictStoreRoot(s, dir))

  /** Verdict-store retention (q325): the storage-reclamation half of
    * the versioned verdict store — an append-only compliance store
    * grows one full copy of every table per refresh, and production
    * retention drops versions past the audit window as a partition-
    * directory delete (a metadata-only operation at 100 TB: no data
    * rewrite, the retained partitions' files are untouched). Keeps
    * the LATEST version of each table, drops all older version
    * partitions, and reports the retained per-table row counts — the
    * same numbers the refresh job reports, so the oracle is q322's
    * verbatim (the cheapest-green-gate discipline): green means the
    * vacuum retained exactly the rows the live chains derive.
    * Version numbering keeps monotonic after a vacuum (next = max
    * retained + 1), and `VerdictStoreSpec` proves old partitions are
    * gone from disk while the dashboards stay row-identical.
    */
  private[graft] def qVerdictRetention(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val root = verdictStoreRoot(s, dir)
    verdictLegs(s, dir).map { case (name, _) =>
      val path = s"$root/$name"
      val latest = s.read.parquet(path)
        .agg(max(col("version").cast("long"))).head().getLong(0)
      new java.io.File(path).listFiles()
        .filter(f => f.isDirectory &&
          f.getName.startsWith("version=") &&
          f.getName.stripPrefix("version=").toLong < latest)
        .foreach { old =>
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete()
          }
          rm(old)
        }
      val n = s.read.parquet(path)
        .filter(col("version").cast("long") === latest).count()
      (name, n)
    }.toDF("table_name", "n_rows").orderBy("table_name")
  }

  private[graft] def qMediaDedupReport(s: SparkSession, dir: String): DataFrame = {
    val root = verdictStoreRoot(s, dir)
    clusterImpactLeg("audio", readVerdict(s, root, "audio_clusters"))
      .unionAll(clusterImpactLeg("raster",
        readVerdict(s, root, "raster_clusters")))
      .unionAll(clusterImpactLeg("video",
        readVerdict(s, root, "video_clusters")))
      .orderBy("modality")
  }

  /** The TEXT axis cluster table for the corpus roll-up (q318): q71's
    * near-dup closure (the shared dedupPairs edges — 3-gram Jaccard
    * ≥ 0.5, df-capped) totalized over EVERY document (singletons count
    * as their own cluster, exactly like the media cluster chains), one
    * row per cluster.
    */
  private[graft] def textClusterSizes(s: SparkSession, dir: String): DataFrame = {
    val labels = DedupClusters
      .connectedComponents(dedupPairs(s, dir), "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"),
        col("doc_id")))
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Corpus dedup impact report, all four modalities (q318): the
    * q313 roll-up completed with the TEXT axis — one corpus-owner
    * table, per modality: items, clusters, removable duplicates under
    * min-cluster keep, exact truncated-bp dup rate, and the largest
    * cluster (the skew signal a rewrite planner reads). Each leg
    * reads the STORED verdict table the q322 job maintains from its
    * gated chain (q294/q280/q300 clusters, q71's closure totalized
    * over every document for text); the report itself adds four
    * metadata-sized aggregates over latest-version partition scans —
    * nothing re-derives at read time.
    * The oracle composes the three modality cluster oracles AND
    * the q71 closure as subqueries, so green means all four chains and
    * the aggregation agree cross-engine.
    */
  private[graft] def qCorpusDedupReport(s: SparkSession, dir: String): DataFrame = {
    val root = verdictStoreRoot(s, dir)
    clusterImpactLeg("audio", readVerdict(s, root, "audio_clusters"))
      .unionAll(clusterImpactLeg("raster",
        readVerdict(s, root, "raster_clusters")))
      .unionAll(clusterImpactLeg("text",
        readVerdict(s, root, "text_clusters")))
      .unionAll(clusterImpactLeg("video",
        readVerdict(s, root, "video_clusters")))
      .orderBy("modality")
  }

  private[graft] val clfGateCache = scala.collection.mutable.Map
    .empty[(String, String), String]

  /** Staged arrivals for the streaming classifier gate (q297): the
    * held-out marked docs (doc_id % 10 = 0) with their planted-token
    * text joined back to a string — the ingest stream ships text, the
    * gate tokenizes scan-locally.
    */
  private[graft] def clfGateSrcPath(s: SparkSession, dir: String): String =
    sessionFixture(clfGateCache, s, dir) {
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val path = graft.Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_clfgatesrc_$tag")
      qualityMarkedDocs(s, dir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          expr("array_join(__toks, ' ')").as("text"))
        .coalesce(1).write.mode("overwrite").parquet(path)
      path
    }

  /** Streaming quality admission (q297,
    * [[graft.streaming.ClassifierGate]]): the trained classifier
    * family's live member — q286 trains and stores, q288 refreshes
    * incrementally, q291 calibrates the operating point, and THIS is
    * what production actually runs: arriving documents (the held-out
    * split, staged in 3 batches) score per batch against the stored
    * broadcast vote model and admit on the calibrated score > 0
    * verdict, appending under the versioned-store replay rule. Docs
    * arrive once and the model is static, so the streamed union is
    * row-identical to batch scoring — the oracle is q286's retrain
    * projected to (doc_id, score, admitted), the q103/q276
    * stream≡batch shared-oracle discipline.
    */
  private[graft] def qStreamClassifierGate(s: SparkSession,
      dir: String): DataFrame =
    graft.streaming.ClassifierGate.run(s, clfGateSrcPath(s, dir),
      s.read.parquet(qualityModelPath(s, dir)))

  private[graft] val opPointCache = scala.collection.mutable.Map
    .empty[(String, String), String]

  /** Stored operating point for q303: q291's calibration sweep run
    * once per (session, corpus), the q291-discipline choice applied —
    * max F1 among thresholds at precision ≥ 9,500 bp, ties to the
    * smallest threshold — and persisted through [[ModelStore]] like
    * any other model artifact.
    */
  private[graft] def calibratedOpPath(s: SparkSession, dir: String): String =
    sessionFixture(opPointCache, s, dir) {
      val (thr, p, r) = Classifier.chooseOperatingPoint(
        qClassifierCalibration(s, dir), minPrecisionBp = 9500L)
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val path = graft.Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_qop_$tag")
      ModelStore.saveOperatingPoint(s, path, thr, p, r)
      path
    }

  /** Calibrated streaming admission (q303): q297 closes the loop the
    * r13 verdict called out as dangling — q291 computes the full
    * threshold → precision/recall table, but the deployed gate
    * admitted at the hardcoded score > 0 default. Here the OPERATING
    * POINT is a first-class stored artifact: the calibration sweep
    * runs once, [[Classifier.chooseOperatingPoint]] picks max-F1
    * subject to precision ≥ 9,500 bp (ties → smallest threshold, the
    * recall-friendly side), [[ModelStore.saveOperatingPoint]] persists
    * (threshold, precision_bp, recall_bp), and the LIVE gate reads the
    * threshold back and admits at score > threshold — the ModelStore
    * discipline applied to the cutoff exactly as q129 applies it to
    * centroids. Output carries the applied threshold beside every
    * verdict (the audit row a compliance review reads). The oracle
    * re-derives scores from the shared retrain CTEs, REPLAYS the
    * sweep + the choice rule in SQL, and gates at its own chosen
    * threshold — green proves the stored roundtrip AND the choice
    * agree across engines. `CalibratedGateSpec` proves a DIFFERENT
    * stored threshold changes admissions.
    */
  private[graft] def qCalibratedGate(s: SparkSession, dir: String): DataFrame = {
    val (thr, _, _) =
      ModelStore.loadOperatingPoint(s, calibratedOpPath(s, dir))
    graft.streaming.ClassifierGate.run(s, clfGateSrcPath(s, dir),
        s.read.parquet(qualityModelPath(s, dir)), threshold = thr)
      .withColumn("threshold", lit(thr))
      .select(col("doc_id"), col("score"), col("threshold"),
        col("admitted"))
  }

  /** Video-caption pair alignment (q305): q287's CLIP-score keep/drop
    * screen lifted to the VIDEO level — the (video, caption) pair gets
    * the curation-unit treatment (image, caption) pairs already have
    * (q277/q287), with the video represented by its DECODED keyframes:
    * clips decode through the real Y4M path, scenes segment and elect
    * keyframes in one pass ([[Video.sceneKeyframeHashes]] — payloads
    * never shuffle), each keyframe links to its embedding row
    * (vec 7u+scene — the per-frame CLIP-embedding table a production
    * pipeline materializes), and the video-level alignment is the MAX
    * over keyframes of the keyframe↔caption cosine — the standard
    * best-frame CLIP scoring rule: a caption is kept if SOME scene
    * shows what it describes. Aligned fixtures carry the caption of
    * one of their own scenes (alignment 1.0); every 13th video's
    * caption is swapped with the next video's (the q287 plant) and
    * drops at the 0.9 gate since no scene reaches it (cross-vector
    * cosine ≤ ~0.65 measured family-wide). Output carries the elected
    * best scene + keyframe beside the verdict — the row a pair-rewrite
    * job reads. One metadata-sized max(vec_id) anchors the video count
    * (the q129 model-load class); the oracle replays the election
    * closed-form and the same max-cosine rule via native list dots.
    */
  private[graft] def qVideoCaptionAlign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val emb = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
      .filter(col("qn") > 0)
      .select(col("vec_id").cast("long").as("vec_id"), col("qv"),
        col("qn"))
      .transform(snap)
    val maxv = t(s, dir, "embeddings")
      .agg(max(col("vec_id").cast("long"))).head().getLong(0)
    val nVids = (maxv - 6) / 7 + 1
    val media = s.range(nVids).as[Long].map { u =>
      Multimodal.MediaRecord(u,
        Video.encodeY4mBlockScenes(u, 16, 8, (3 + u % 3).toInt, 4, 0L),
        "y4m")
    }
    val kfs = Video.keyframeHashes(media, 48).toDF()
      .select(col("doc_id").as("video_id"), col("scene"),
        col("keyframe"))
    val kemb = emb.select(col("vec_id").as("__kv"),
      col("qv").as("__qvk"), col("qn").as("__qnk"))
    val cemb = emb.select(col("vec_id").as("cap_src"),
      col("qv").as("__qvc"), col("qn").as("__qnc"))
    val caps = s.range(nVids).toDF("video_id")
      .withColumn("__u2", (col("video_id") + 1) % nVids)
      .withColumn("cap_src",
        when(col("video_id") % 13 === 0,
          col("__u2") * 7 + col("__u2") % (lit(3) + col("__u2") % 3))
          .otherwise(col("video_id") * 7
            + col("video_id") % (lit(3) + col("video_id") % 3)))
      .select("video_id", "cap_src")
    kfs.join(caps, "video_id")
      .withColumn("__kv", col("video_id") * 7 + col("scene"))
      .join(kemb, "__kv")
      .join(cemb, "cap_src")
      .withColumn("__sim", Similarity.cosine(col("__qvk"), col("__qvc"),
        col("__qnk"), col("__qnc")))
      .groupBy("video_id", "cap_src")
      .agg(count(lit(1)).as("n_scenes"),
        max(struct(col("__sim").as("sim"), (-col("scene")).as("negs"),
          (-col("keyframe")).as("negk"))).as("__m"))
      .select(col("video_id"), col("n_scenes"), col("cap_src"),
        (col("video_id") % 13 === 0).as("swapped"),
        (-col("__m.negs")).as("best_scene"),
        (-col("__m.negk")).as("best_keyframe"),
        col("__m.sim").as("alignment"),
        (col("__m.sim") >= 0.9).as("kept"))
      .orderBy("video_id")
  }

  private[graft] val audioGateCache = scala.collection.mutable.Map
    .empty[(String, String), (String, String)]

  /** Staged arrivals + stored fingerprint index for the streaming
    * audio-dedup gate (q304). Groups of doc_id/3: members ≡ 1, 2 mod 3
    * are HISTORY (full-rate renders of the group recording,
    * fingerprinted once and stored as the band index — the ingested
    * corpus); members ≡ 0 arrive as the 2×-downsampled rendition of
    * the SAME recording (the classic re-fetch form), except every
    * fifth group's arrival is a NOVEL recording (the odd seed-key
    * namespace) that must match nothing.
    */
  private[graft] def audioGatePaths(s: SparkSession,
      dir: String): (String, String) =
    sessionFixture(audioGateCache, s, dir) {
      import s.implicits._
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val tmp = System.getProperty("java.io.tmpdir")
      val srcPath = graft.Scratch.register(s"$tmp/graft_audiogate_src_$tag")
      val idxPath = graft.Scratch.register(s"$tmp/graft_audiogate_idx_$tag")
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long"))
        .transform(graft.ops.Widen.byDocId).as[Long]
      docs.filter((id: Long) => id % 3 == 0)
        .map { id =>
          val g = id / 3
          val sk = if (g % 5 == 0) 2 * g + 1 else 2 * g
          val n = (2000 + (g % 7) * 500 + g % 53).toInt
          (id, Audio.encodeWavSamples(Array.tabulate(n / 2)(k =>
            Audio.modulatedSample(sk, 2L * k, n.toLong)), 8000))
        }
        .toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(srcPath)
      val hist = docs.filter((id: Long) => id % 3 != 0)
        .map { id =>
          val g = id / 3
          val n = (2000 + (g % 7) * 500 + g % 53).toInt
          (id, Audio.envelopeHash(id, Audio.encodeWavSamples(
            Array.tabulate(n)(j =>
              Audio.modulatedSample(2 * g, j.toLong, n.toLong)), 16000)))
        }
        .toDF("hist_id", "fp")
      graft.streaming.AudioDedupGate.buildIndex(hist,
          maxDf = storedMaxDf(s, dir))
        .write.mode("overwrite").parquet(idxPath)
      (srcPath, idxPath)
    }

  /** Streaming audio-dedup gate (q304,
    * [[graft.streaming.AudioDedupGate]]): the deployable member the
    * modality family still lacked — rasters have the q267 blocklist
    * screen and text the q131 LSH index; here arriving AUDIO
    * micro-batches decode through the real chunk walk, fingerprint on
    * the amplitude envelope scan-locally (payloads never shuffle), and
    * probe the STORED band index of the already-ingested corpus (5×12
    * bands, hamming ≤ 8 verify — the q294 layout, safe at the measured
    * 0–1-bit resample drift), matched (arrival, history) pairs
    * appending under the versioned-store replay rule. Fixture: each
    * doc_id/3 group's arrival is the 2×-downsampled re-fetch of the
    * group recording held twice in history (identical-fp handling
    * exercised), except every fifth group's arrival is NOVEL and must
    * match nothing (cross-seed fps sit ≥ 9 bits — measured). The
    * oracle replays both legs' fingerprints per-sample closed-form and
    * the SAME band+verify rule; `AudioDedupGateSpec` drives the
    * restart-resume contract.
    */
  private[graft] def qStreamAudioDedup(s: SparkSession, dir: String): DataFrame = {
    val (src, idx) = audioGatePaths(s, dir)
    graft.streaming.AudioDedupGate.run(s, src, s.read.parquet(idx))
  }

  private[graft] val audioTakedownCache = scala.collection.mutable.Map
    .empty[(String, String), (String, String)]

  /** Staged arrivals + stored TAKEDOWN band index for the audio
    * deletion-compliance screen (q315). The blocklist carries the
    * rightsholder's reference fingerprints — every ninth recording
    * group (doc_id/3) is protected, fingerprinted once from the
    * full-rate reference copy. Arrivals are renditions of their
    * group's recording: full-rate or naively 2×-downsampled
    * (odd doc_ids — the re-encode a takedown screen must still catch).
    */
  private[graft] def audioTakedownPaths(s: SparkSession,
      dir: String): (String, String) =
    sessionFixture(audioTakedownCache, s, dir) {
      import s.implicits._
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val tmp = System.getProperty("java.io.tmpdir")
      val srcPath = graft.Scratch.register(s"$tmp/graft_atd_src_$tag")
      val idxPath = graft.Scratch.register(s"$tmp/graft_atd_idx_$tag")
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long"))
        .transform(graft.ops.Widen.byDocId).as[Long]
      docs.map { id =>
          val g = id / 3
          val n = (2000 + (g % 7) * 500 + g % 53).toInt
          val step = (1 + id % 2).toInt
          (id, Audio.encodeWavSamples(Array.tabulate(n / step)(k =>
            Audio.modulatedSample(2 * g, step.toLong * k, n.toLong)),
            16000 / step))
        }
        .toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(srcPath)
      val blocklist = docs.map(_ / 3).distinct()
        .filter((g: Long) => g % 9 == 0)
        .map { g =>
          val n = (2000 + (g % 7) * 500 + g % 53).toInt
          (g, Audio.envelopeHash(g, Audio.encodeWavSamples(
            Array.tabulate(n)(j =>
              Audio.modulatedSample(2 * g, j.toLong, n.toLong)), 16000)))
        }
        .toDF("hist_id", "fp")
      graft.streaming.AudioDedupGate.buildIndex(blocklist,
          maxDf = storedMaxDf(s, dir))
        .write.mode("overwrite").parquet(idxPath)
      (srcPath, idxPath)
    }

  /** Streaming audio takedown screen (q315,
    * [[graft.streaming.AudioDedupGate]] pointed at a BLOCKLIST): the
    * deletion-compliance member the media axes lacked — text has
    * tombstones batch + live (q248/q255) and rasters the q267
    * blocklist, but real takedown traffic is mostly MEDIA (copyright),
    * and a deletion request arrives as the rightsholder's reference
    * FINGERPRINT, not a document id. Arriving audio decodes and
    * fingerprints scan-locally, probes the stored takedown band index,
    * and blocked (arrival, takedown_id, hamming) verdicts append per
    * batch — the audit trail a compliance job replays. The verify gate
    * is hamming ≤ 4, NOT the dedup default 8: that is the bound the
    * 5×12 band layout pigeonhole-guarantees, and a compliance screen
    * must not depend on band luck (the q306 discipline; resample
    * drift is measured 0–1 bits, so protected renditions sit well
    * inside). Fixture: every ninth recording group is protected; its
    * full-rate and 2×-downsampled arrivals must both block, everything
    * else must pass (cross-seed fingerprints sit ≥ 9 bits — measured).
    * Oracle replays arrival AND reference fingerprints closed-form
    * plus the exact band + ≤ 4 rule; `MediaTakedownSpec` drives
    * restart-resume and the ≤ 4-vs-≤ 8 gate difference.
    */
  private[graft] def qAudioTakedown(s: SparkSession, dir: String): DataFrame = {
    val (src, idx) = audioTakedownPaths(s, dir)
    graft.streaming.AudioDedupGate.run(s, src, s.read.parquet(idx),
      maxHamming = 4)
  }

  private[graft] val videoTakedownCache = scala.collection.mutable.Map
    .empty[(String, String), (String, String)]

  /** Staged arrivals + stored TAKEDOWN keyframe index for the video
    * deletion-compliance screen (q316): every ninth clip group
    * (doc_id/3) is protected — its reference clip's keyframe hashes
    * are the blocklist entries. Arrivals are renditions of the group
    * clip: the 2× pixel-duplication upscale (identical hashes), a
    * first-scene trim, or the reference resolution itself.
    */
  private[graft] def videoTakedownPaths(s: SparkSession,
      dir: String): (String, String) =
    sessionFixture(videoTakedownCache, s, dir) {
      import s.implicits._
      implicit val sp: SparkSession = s
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val tmp = System.getProperty("java.io.tmpdir")
      val srcPath = graft.Scratch.register(s"$tmp/graft_vtd_src_$tag")
      val idxPath = graft.Scratch.register(s"$tmp/graft_vtd_idx_$tag")
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long"))
        .transform(graft.ops.Widen.byDocId).as[Long]
      docs.map { id =>
          val g = id / 3
          val ns = (3 + g % 3).toInt
          val payload = (id % 3) match {
            case 0L => Video.encodeY4mBlockScenes(2 * g, 32, 16, ns, 4, 0L)
            case 1L => Video.encodeY4mBlockScenes(2 * g, 16, 8, ns - 1,
              4, 1L)
            case _ => Video.encodeY4mBlockScenes(2 * g, 16, 8, ns, 4, 0L)
          }
          (id, payload)
        }
        .toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(srcPath)
      val refMedia = docs.map(_ / 3).distinct()
        .filter((g: Long) => g % 9 == 0)
        .map(g => Multimodal.MediaRecord(g,
          Video.encodeY4mBlockScenes(2 * g, 16, 8, (3 + g % 3).toInt,
            4, 0L), "y4m"))
      graft.streaming.VideoDedupGate.buildIndex(
          Video.keyframeHashes(refMedia, 48).toDF()
            .select(col("doc_id").as("hist_id"), col("kf_hash")),
          maxDf = storedMaxDf(s, dir))
        .write.mode("overwrite").parquet(idxPath)
      (srcPath, idxPath)
    }

  /** Streaming video takedown screen (q316,
    * [[graft.streaming.VideoDedupGate]] pointed at a BLOCKLIST): the
    * q315 compliance pattern on the video axis — deletion requests
    * carry the reference clip's keyframe-hash set, arrivals probe it
    * by exact hash equality with the ≥ 2-matching-keyframes vote
    * (re-encodes preserve hashes bit-for-bit, trims preserve every
    * surviving scene's, one shared hash is the chance guard), and
    * blocked (arrival, takedown_id, n_shared) verdicts append per
    * batch. The stored index went through the build-time df cap, so a
    * degenerate keyframe in a reference clip cannot explode the probe.
    * Fixture: every ninth clip group is protected; its upscale, trim,
    * and same-resolution arrivals must all block, everything else
    * passes. Oracle replays hashes closed-form + the vote;
    * `MediaTakedownSpec` drives restart-resume.
    */
  private[graft] def qVideoTakedown(s: SparkSession, dir: String): DataFrame = {
    val (src, idx) = videoTakedownPaths(s, dir)
    graft.streaming.VideoDedupGate.run(s, src, s.read.parquet(idx))
  }

  private[graft] val lmTakedownCache = scala.collection.mutable.Map
    .empty[(String, String), (String, String)]

  /** Staged arrivals + stored LANDMARK blocklist for the shift-robust
    * audio takedown screen (q319). Every ninth click-train group
    * (doc_id/3) is protected — its reference landmark hash set (at
    * the STORED delta quantization) is the blocklist. Arrivals are
    * the three rendition forms per group: the master itself, a
    * leading-silence pad, and a content trim at first-onset+5 — the
    * two evasions the envelope takedown (q315) is provably blind to.
    */
  private[graft] def lmTakedownPaths(s: SparkSession,
      dir: String): (String, String) =
    sessionFixture(lmTakedownCache, s, dir) {
      import s.implicits._
      val (_, deltaQ, maxDf, _, _) = graft.ops.ModelStore
        .loadLandmarkPoint(s, landmarkOpPath(s, dir))
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val tmp = System.getProperty("java.io.tmpdir")
      val srcPath = graft.Scratch.register(s"$tmp/graft_lmtd_src_$tag")
      val idxPath = graft.Scratch.register(s"$tmp/graft_lmtd_idx_$tag")
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long"))
        .transform(graft.ops.Widen.byDocId).as[Long]
      docs.map { id =>
          val g = id / 3
          val n = (4000 + (g % 7) * 500 + g % 53).toInt
          (id, Audio.encodeWavSamples(
            Audio.clickRendition(2 * g, n, id % 3), 16000))
        }
        .toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(srcPath)
      val refs = docs.map(_ / 3).distinct()
        .filter((g: Long) => g % 9 == 0)
        .flatMap { g =>
          val n = (4000 + (g % 7) * 500 + g % 53).toInt
          Audio.landmarkHashes(g,
              Audio.encodeWavSamples(Audio.clickTrain(2 * g, n), 16000),
              256, deltaQ.toInt)
            .distinct.map(h => (g, h))
        }
        .toDF("takedown_id", "h")
      graft.streaming.LandmarkTakedownGate.buildIndex(refs,
          maxDf.toInt)
        .write.mode("overwrite").parquet(idxPath)
      (srcPath, idxPath)
    }

  /** Streaming landmark takedown screen (q319,
    * [[graft.streaming.LandmarkTakedownGate]]): the SHIFT-ROBUST half
    * of audio deletion compliance, closing the evasion q315 is
    * provably blind to — the envelope fingerprint is
    * position-relative, so a leading-silence pad or a content trim
    * moves every bin (q301 carries the ≥ 14-bit measured miss) while
    * every interior landmark hash survives bit-for-bit. Deletion
    * requests carry the reference recording's landmark hash set;
    * arrivals decode and hash scan-locally and block at ≥ t* shared
    * hashes, where BOTH knobs (vote threshold, delta quantization)
    * come from the stored q314 operating point — the takedown gate
    * serves the same calibration artifact as the dedup chain, so one
    * measured tuning governs every landmark consumer. Fixture: every
    * ninth group protected; its master, padded, and trimmed arrivals
    * all block (trim keeps ≥ 8 interior hashes ≥ t* = 6 — measured
    * corpus-wide at both scales), everything else passes (cross-seed
    * overlap ≤ 1). Oracle replays clicks per GROUP closed-form, the
    * per-rendition hash windows, the lmop choice, and the vote;
    * `LandmarkTakedownSpec` proves the trimmed re-upload blocks here
    * and provably does NOT block through the envelope screen, plus
    * restart-resume.
    */
  private[graft] def qLandmarkTakedown(s: SparkSession, dir: String): DataFrame = {
    val (voteT, deltaQ, _, _, _) = graft.ops.ModelStore
      .loadLandmarkPoint(s, landmarkOpPath(s, dir))
    val (src, idx) = lmTakedownPaths(s, dir)
    graft.streaming.LandmarkTakedownGate.run(s, src,
      s.read.parquet(idx), voteT, deltaQ.toInt)
  }

  /** Takedown compliance report (q320): the corpus-owner dashboard
    * over the three media takedown screens — per axis
    * (audio envelope q315, audio landmark q319, video keyframes q316)
    * one row: requests on the blocklist, arrivals screened, arrivals
    * BLOCKED (distinct), requests that hit at least once, and the
    * exact truncated-bp block rate. Each leg reads the STORED verdict
    * table the q322 maintenance job derives from its gated screen
    * (the q313/q318 stored-leg discipline — the report is three
    * latest-version partition scans plus metadata-sized aggregates;
    * the corpus scalars fold in as one broadcast single-row
    * aggregate), and the oracle composes the three takedown oracles
    * as derived-table subqueries plus two closed-form corpus counts —
    * zero report-specific replay logic.
    */
  private[graft] def qTakedownReport(s: SparkSession, dir: String): DataFrame = {
    val root = verdictStoreRoot(s, dir)
    // the two corpus scalars fold into the frame as ONE broadcast
    // single-row aggregate — no driver-side count() actions
    val corpus = broadcast(t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"))
      .agg(count(lit(1)).as("n_arrivals"),
        countDistinct(when(expr("doc_id div 3 % 9") === 0,
          expr("doc_id div 3"))).as("n_requests")))
    def leg(axis: String, name: String, reqCol: String) =
      readVerdict(s, root, name)
        .agg(countDistinct("doc_id").as("n_blocked"),
          countDistinct(reqCol).as("n_hit_requests"))
        .crossJoin(corpus)
        .select(lit(axis).as("axis"), col("n_requests"),
          col("n_arrivals"), col("n_blocked"), col("n_hit_requests"),
          expr("n_blocked * 10000L div n_arrivals")
            .as("block_rate_bp"))
    leg("audio_envelope", "audio_takedown", "hist_id")
      .unionAll(leg("audio_landmark", "landmark_takedown",
        "takedown_id"))
      .unionAll(leg("video_keyframes", "video_takedown", "hist_id"))
      .orderBy("axis")
  }

  /** The q317 transcript a correct ASR pass would produce for the
    * burst recording of `seed`: one line per utterance, duration/25
    * + 1 tokens per line — token counts carry the utterance DURATIONS
    * so alignment can verify structure, not just counts.
    */
  private[graft] def transcriptText(seed: Long, n: Int): String =
    Audio.utterances(seed,
        Audio.encodeWavSamples(Audio.burstTrain(seed, n), 16000), 256)
      .map(u => Seq.fill((u.len / 25 + 1).toInt)("tok").mkString(" "))
      .mkString("\n")

  /** Audio↔transcript pair alignment (q317): the keep/drop pair
    * screen that exists on the image (q277/q287) and video (q305)
    * axes, built for SPEECH corpora — the (audio, transcript) pair is
    * the curation unit of every ASR training set, and the standard
    * cheap alignment check is STRUCTURAL: the transcript's utterance
    * segmentation must agree with the audio's measured VAD stats
    * (q308's operator). Per pair the audio decodes through the real
    * codec and segments utterances (scan-local — payloads never
    * shuffle, only the stat row leaves the scan), the transcript
    * genuinely parses (line split + token count per line), and the
    * pair keeps iff utterance count matches line count AND every
    * utterance's duration-implied token count matches its line
    * (token_gap = Σ |tokens_i − (dur_i/25 + 1)| over the zip = 0).
    * Every 13th pair carries the NEXT recording's transcript (the
    * q305 plant — the classic off-by-one pairing bug in a crawl
    * manifest) and must drop. Both sides are closed-form, so the
    * oracle replays ~15 burst rows per doc for BOTH the audio and the
    * transcript source, never samples or strings.
    */
  private[graft] def qAudioTranscriptAlign(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId).as[Long]
      .map { id =>
        val n = (4000 + (id % 7) * 500 + id % 53).toInt
        val us = Audio.utterances(id,
          Audio.encodeWavSamples(Audio.burstTrain(id, n), 16000), 256)
        val src = if (id % 13 == 0) id + 1 else id
        val nSrc = (4000 + (src % 7) * 500 + src % 53).toInt
        val lines = transcriptText(src, nSrc).split("\n")
          .filter(_.nonEmpty)
        val lineToks = lines.map(_.split(" ").count(_.nonEmpty).toLong)
        val expToks = us.map(_.len / 25 + 1)
        val gap = lineToks.zip(expToks)
          .map { case (a, b) => math.abs(a - b) }.sum
        (id, us.length.toLong, lines.length.toLong, lineToks.sum,
          id % 13 == 0, gap)
      }
      .toDF("doc_id", "n_utterances", "n_lines", "n_tokens",
        "swapped", "token_gap")
      .withColumn("count_match", col("n_lines") === col("n_utterances"))
      .withColumn("aligned",
        col("count_match") && col("token_gap") === 0)
      .withColumn("kept", col("aligned"))
      .orderBy("doc_id")
  }

  private[graft] val mediaRouterCache = scala.collection.mutable.Map
    .empty[(String, String), String]

  /** Staged mixed-media source for the streaming router gate (q293):
    * the q292 five-format interleave carried as REAL binary payloads
    * in the staged parquet (the ingest stream ships payloads), with
    * the planted corruption in exactly the LAST staging batch — every
    * 7th doc past ⌈2n/3⌉ gets its first magic byte bit-flipped, the
    * container-rot class a live router gate exists to catch (every
    * flip lands outside all five magics, spec-checked per format).
    */
  private[graft] def mediaRouterSrcPath(s: SparkSession, dir: String): String =
    sessionFixture(mediaRouterCache, s, dir) {
      import s.implicits._
      val n = t(s, dir, "documents").count()
      val boundary = (2L * n + 2L) / 3L
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val path = graft.Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_mroutersrc_$tag")
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"))
        .transform(graft.ops.Widen.byDocId)
        .as[Long]
        .map { id =>
          val payload = (id % 5) match {
            case 0 => Multimodal.encodePpm(id, (4 + id % 5).toInt,
              (3 + id % 4).toInt)
            case 1 => Multimodal.encodeGradientPng(id,
              (8 + id % 5).toInt, (6 + id % 3).toInt)
            case 2 => Multimodal.encodeJpeg(id, (8 + id % 5).toInt,
              (6 + id % 3).toInt)
            case 3 => Audio.encodeWav(id, (400 + id % 53).toInt, 8000)
            case _ => Video.encodeY4m(id, (4 + id % 3).toInt,
              (3 + id % 2).toInt, (6 + id % 5).toInt, -1)
          }
          if (id >= boundary && id % 7 == 0)
            payload(0) = (payload(0) ^ 0x01).toByte
          (id, payload)
        }
        .toDF("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(path)
      path
    }

  /** Streaming mixed-media router gate (q293,
    * [[graft.streaming.MediaRouterGate]]): the q292 router deployed
    * LIVE — arriving binary payloads (all five real containers
    * interleaved, staged in 3 batches) sniff, route to their real
    * decoder, and reduce scan-locally; per batch the per-format
    * inventory (docs + content units) appends as a version, with the
    * batch's unroutable share in bp and the alert at > 100 bp. The
    * fixture plants container rot (first-magic-byte bit flips) in
    * exactly the last batch: batches 1–2 route everything (unknown_bp
    * 0, no alert) and batch 3 alerts at ~1400 bp with the corrupted
    * docs attributed to 'unknown' rows — never decoded, never fatal.
    * Oracle replays batch membership via the staging NTILE, the
    * corruption boundary closed-form, and every routed unit from the
    * per-format fixture dims.
    */
  private[graft] def qStreamMediaRouter(s: SparkSession, dir: String): DataFrame =
    graft.streaming.MediaRouterGate.run(s, mediaRouterSrcPath(s, dir),
      alertUnknownBp = 100L)

  /** Classifier calibration sweep (q291): no gate ships with a
    * hardcoded operating point — the threshold is CHOSEN from this
    * table (the q192 (b,r)-tuning discipline on the classifier axis):
    * per integer threshold t ∈ [−2, 2] the held-out confusion counts
    * for verdict = score > t, with precision/recall in exact truncated
    * bp. Scoring happens ONCE (the stored q286 model, broadcast); the
    * 5-row threshold table joins onto the scored docs and one partial
    * agg produces the sweep — sweeping costs one extra metadata-sized
    * join, never a rescore. The oracle re-derives the scores from the
    * shared retrain CTEs and replays the same sweep.
    */
  private[graft] def qClassifierCalibration(s: SparkSession,
      dir: String): DataFrame = {
    val votes = s.read.parquet(qualityModelPath(s, dir))
    val test = qualityMarkedDocs(s, dir).filter(col("doc_id") % 10 === 0)
    val scored = Classifier.scoreTokenVotes(test, votes, "doc_id",
        "__toks")
      .join(test.select("doc_id", "label_good"), "doc_id")
    val th = s.range(-2, 3).select(col("id").as("threshold"))
    scored.crossJoin(broadcast(th)) // 5 literal rows — a sweep, not a blowup
      .withColumn("__pred", col("score") > col("threshold"))
      .groupBy("threshold")
      .agg(
        sum(when(col("__pred") && col("label_good"), 1L).otherwise(0L))
          .as("n_tp"),
        sum(when(col("__pred") && !col("label_good"), 1L).otherwise(0L))
          .as("n_fp"),
        sum(when(!col("__pred") && col("label_good"), 1L).otherwise(0L))
          .as("n_fn"),
        sum(when(!col("__pred") && !col("label_good"), 1L).otherwise(0L))
          .as("n_tn"))
      .select(col("threshold"), col("n_tp"), col("n_fp"), col("n_fn"),
        col("n_tn"),
        expr("case when n_tp + n_fp = 0 then null " +
          "else n_tp * 10000 div (n_tp + n_fp) end").as("precision_bp"),
        expr("case when n_tp + n_fn = 0 then null " +
          "else n_tp * 10000 div (n_tp + n_fn) end").as("recall_bp"))
      .orderBy("threshold")
  }

  /** Embedding dimension-truncation recall (q289, the matryoshka
    * budget table): serving infrastructure routinely truncates stored
    * embeddings to a prefix of their dimensions (matryoshka
    * representation learning made it standard practice) — this is the
    * MEASURED-claim table for that approximation (the q51/q59/q275
    * discipline on the dimension axis): per budget d ∈ {16, 32, 64},
    * exact integer-cosine top-3 over the FIRST d dims (scan-local
    * `slice`, the q273 eval/corpus split) against the full-width
    * top-3 as truth, recall = shared/(3·n_q). Truncation is free at
    * scan time (column pruning of a fixed-width slice); the candidate
    * work drops linearly with d — the table tells a corpus owner what
    * that buys and costs. Zero-norm truncated vectors are excluded per
    * budget (the q28 rule — n_q is a per-budget column for exactly
    * this reason). One union-tagged plan, no driver-side loops; the
    * oracle replays all three budgets from the shared quantization CTE
    * restricted to i ≤ d.
    */
  private[graft] def qDimTruncation(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    def top3(dims: Int): DataFrame = {
      val p = Similarity.prepare(
          emb.withColumn("__e", expr(s"slice(embedding, 1, $dims)")),
          "__e")
        .select(col("vec_id"), col("qv"), col("qn"))
      Similarity.bruteForceTopK(
          p.filter(col("vec_id") % 50 =!= 0),
          p.filter(col("vec_id") % 50 === 0), "vec_id", 3)
        .select(lit(dims.toLong).as("dims"), col("query_id"),
          col("neighbor_id"))
    }
    val tagged = top3(16).union(top3(32)).union(top3(64))
    val exact = top3(64).select("query_id", "neighbor_id")
    val nq = tagged.groupBy("dims")
      .agg(countDistinct("query_id").as("n_q"))
    val hits = tagged
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("dims").agg(count(lit(1)).as("n_hits"))
    nq.join(hits, Seq("dims"), "left")
      .select(col("dims"), col("n_q"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          (lit(3.0) * col("n_q").cast("double"))).as("recall"))
      .orderBy("dims")
  }

  /** Resample-robust audio near-dup (q290, [[Audio.envelopeHash]]):
    * the q265 re-encoded-media proof on the TIME axis — the same
    * recording distributed at two sample rates must deduplicate, and
    * sample-level or byte-level fingerprints cannot see it (every
    * sample value and every container byte differs; the envelope is
    * the audio). Per doc the amplitude-modulated closed-form recording
    * ([[Audio.modulatedSample]], 2,000–5,000 samples) encodes at full
    * rate AND naively 2×-downsampled (every 2nd sample, half the
    * rate); both decode through the real chunk walk and fingerprint on
    * the position-relative 60-bin amplitude envelope. Measured over
    * ALL 50,000 sf1 seeds: the two legs land 0 bits apart (the gapped
    * gain alphabet — [[Audio.modulatedSample]]) while adjacent-seed
    * controls sit ≥ 14 apart and the closest pair ANYWHERE in the
    * 2×10⁸ cross-seed space sits at 9 (the next-doc control column
    * carries the proof in-data) — the 8-bit gate separates on BOTH
    * sides at full corpus scale, so this fingerprint slots straight
    * into the q193/q267 band+hamming machinery. PCM is lossless and the
    * recording closed-form, so the oracle replays BOTH fingerprints
    * bit-exactly. Payloads never shuffle; only (id, fp) rows leave the
    * scan.
    */
  private[graft] def qAudioNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fps = t(s, dir, "documents")
      .select(col("doc_id").cast("long"))
      .transform(graft.ops.Widen.byDocId)
      .as[Long]
      .map { id =>
        val n = (2000 + (id % 7) * 500 + (id % 53)).toInt
        val full = Array.tabulate(n)(j =>
          Audio.modulatedSample(id, j.toLong, n.toLong))
        val half = Array.tabulate(n / 2)(k =>
          Audio.modulatedSample(id, 2L * k, n.toLong))
        (id,
          Audio.envelopeHash(id, Audio.encodeWavSamples(full, 16000)),
          Audio.envelopeHash(id, Audio.encodeWavSamples(half, 8000)))
      }
      .toDF("doc_id", "fp_full", "fp_half")
    val ctrl = fps.select((col("doc_id") - 1).as("doc_id"),
      col("fp_full").as("fp_ctrl"))
    fps.join(ctrl, "doc_id") // inner: the max id has no next-doc control
      .withColumn("hamming",
        expr("cast(bit_count(fp_full ^ fp_half) as bigint)"))
      .withColumn("control_hamming",
        expr("cast(bit_count(fp_full ^ fp_ctrl) as bigint)"))
      .select(col("doc_id"), col("fp_full"), col("fp_half"),
        col("hamming"), (col("hamming") <= 8).as("is_dup"),
        col("control_hamming"),
        (col("control_hamming") > 8).as("separated"))
      .orderBy("doc_id")
  }

  /** Cross-modal pair alignment — the CLIP-score filter (q287): the
    * LAION-class step AFTER pair dedup (q277 dedups the pairs, this
    * screens whether image and caption BELONG together): per (image,
    * caption) pair the integer-quantized cosine between the two
    * modality embeddings, keep at ≥ 0.9 — a mislabeled pair (crawler
    * attached the wrong alt-text) scores at the corpus's random-pair
    * cosine level (~p99.9 ≈ 0.3, the q273 threshold note) and drops.
    * The fixture plants the mislabeling: every 13th pair's caption
    * embedding comes from the NEXT document (closed-form, inner-join
    * dropping the edge), aligned pairs carry their own. One 1:1 hash
    * join materializes the fixture's caption side (a production pairs
    * table carries both embedding columns already — zero joins there);
    * the cosine is the codegen'd [[graft.expressions.LongDot]] per
    * pair, zero-norm vectors excluded on both sides (no cosine
    * direction — the q28 rule). Oracle replays the exact quantized
    * arithmetic.
    */
  private[graft] def qPairAlignment(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
      .filter(col("qn") > 0)
      .select(col("vec_id").cast("long").as("vec_id"), col("qv"),
        col("qn"))
    val img = base
      .select(col("vec_id").as("pair_id"), col("qv").as("__qvi"),
        col("qn").as("__qni"))
      .withColumn("cap_src",
        when(col("pair_id") % 13 === 0, col("pair_id") + 1)
          .otherwise(col("pair_id")))
    val cap = base.select(col("vec_id").as("cap_src"),
      col("qv").as("__qvc"), col("qn").as("__qnc"))
    img.join(cap, "cap_src")
      .withColumn("alignment", Similarity.cosine(col("__qvi"),
        col("__qvc"), col("__qni"), col("__qnc")))
      .select(col("pair_id"), col("cap_src"),
        (col("cap_src") =!= col("pair_id")).as("swapped"),
        col("alignment"), (col("alignment") >= 0.9).as("kept"))
      .orderBy("pair_id")
  }

}
