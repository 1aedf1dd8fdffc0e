package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.LongDot
import graft.functions.{QuantizedCentroid, TextFns, TopK}
import graft.ops.{Audio, Video, Bfs, Blooms, Bpe, Cardinality, CharLm, Classifier, Cogrouped, Contamination, Dedup, DedupClusters, DenseId, Drift, Dsir, FreqSketch, FuzzyJoin, GapFill, JoinEstimate, KCenter, KCore, KMeans, Mixing, ModelStore, Multimodal, NearDup, Nested, Packing, PageRank, ParagraphDedup, Paths, Percentiles, PhraseExcise, ProductQuant, Salting, Sampling, Scd, Selection, Sessionize, Sharding, SetSimJoin, Similarity, Skyline, Snm, SpanDedup, TableDiff, TCloseness, Triangles, Winnowing}
import graft.streaming.{BudgetAdmission, EventStream, IncrementalClusters, NearDupIndex, RateMonitor, SemanticDedupScreen, StatefulSessions, VersionedStore}

/** Gated-query surface, CORE slice (split from the original single-
  * file TrainQueries by operator family): reference parity, text
  * analysis, exact/near dedup, ANN, sampling/splits, plus the
  * shared fixture helpers (t/snap/sessionFixture). Registration
  * maps live in [[TrainQueries]]; oracle SQL in TrainOracles1-3.
  */
private[graft] object TrainQueriesCore {
  import TrainQueriesCuration._
  import TrainQueriesMedia._


  private[graft] def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Tracked one-shot checkpoint ([[graft.ops.Snap.tracked]]): every
    * `localCheckpoint` inside a QUERY BODY routes through here so the
    * harness (Bench per trial, Verify per dump) releases the pinned
    * blocks deterministically once the query's action completes —
    * 263 queries × (warmup + 3 trials) otherwise accumulate stale
    * blocks until a driver GC lets the ContextCleaner catch up.
    * Session-fixture builders keep raw `localCheckpoint()`: their
    * state must survive the invoking query.
    */
  private[graft] def snap(df: DataFrame): DataFrame = graft.ops.Snap.tracked(df)

  /** Session-scoped fixture memoization — the shared discipline for
    * every stored-artifact input (q82 staging, q128 history labels,
    * the ANN model tables, the q130 edge file): build once per
    * (session, corpus dir), drop entries of stopped sessions so a JVM
    * cycling sessions cannot retain dead state for its lifetime.
    * Queries whose INPUT is a production-stored artifact read it from
    * here instead of rebuilding it per bench trial — trials then
    * measure the operator, not fixture construction.
    *
    * All fixture caches share ONE lock ([[fixtureLock]]) rather than
    * locking each cache object: fixture builders nest (the landmark
    * operating point builds on the shared calibration sweep, the
    * verdict legs read several fixtures each), and with per-cache
    * locks two concurrent query threads — the r16 verdict-refresh
    * legs run in a small pool (guide §2.6) — could acquire two cache
    * locks in opposite orders and deadlock. One re-entrant monitor
    * makes nested builds safe by construction; builds are
    * once-per-session, so global serialization of builds costs
    * nothing in steady state.
    */
  private[graft] val fixtureLock = new Object

  private[graft] def sessionFixture[T](
      cache: scala.collection.mutable.Map[(String, String), T],
      s: SparkSession, dir: String)(build: => T): T =
    fixtureLock.synchronized {
      cache.filterInPlace((k, _) =>
        k._1 == s.sparkContext.applicationId)
      cache.getOrElseUpdate((s.sparkContext.applicationId, dir), build)
    }

  /** The near-dup edge set at the q64/q71 parameters (3-gram Jaccard
    * ≥ 0.5, df-capped) — the shared clustering input consumed by
    * q107's representative selection, q128's incremental fold, and
    * q130's streaming fold (q71 itself recomputes it inline: it IS
    * the full-pipeline demonstration).
    */
  private[graft] val pairsCache = scala.collection.mutable.Map
    .empty[(String, String), DataFrame]

  private[graft] def dedupPairs(s: SparkSession, dir: String): DataFrame =
    sessionFixture(pairsCache, s, dir) {
      NearDup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, minJaccard = 0.5, maxDf = 100L)
        .select("id_a", "id_b")
        .localCheckpoint()
    }

  /** Full-corpus component labels over [[dedupPairs]] — q107's stored
    * clustering input (its oracle recomputes the closure from scratch,
    * so the gate still verifies the whole chain).
    */
  private[graft] val fullClusterCache = scala.collection.mutable.Map
    .empty[(String, String), DataFrame]

  private[graft] def fullClusterLabels(s: SparkSession, dir: String): DataFrame =
    sessionFixture(fullClusterCache, s, dir) {
      DedupClusters.connectedComponents(dedupPairs(s, dir), "id_a", "id_b")
        .localCheckpoint()
    }

  /** q128's stored-artifact fixture: history component labels (the
    * corpus minus the doc_id%5==0 arrivals), memoized per (session,
    * corpus dir).
    */
  private[graft] val incrClusterCache = scala.collection.mutable.Map
    .empty[(String, String), DataFrame]

  /** q130's arrival source: [[dedupPairs]] written once as a parquet
    * edge file — what the streaming fold stages into micro-batches.
    */
  private[graft] val edgeFileCache = scala.collection.mutable.Map
    .empty[(String, String), String]

  private[graft] def dedupPairsParquet(s: SparkSession, dir: String): String =
    sessionFixture(edgeFileCache, s, dir) {
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val path = graft.Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_incrcc_edges_$tag")
      dedupPairs(s, dir).coalesce(1).write.mode("overwrite").parquet(path)
      path
    }

  /** Stored ANN model artifacts ([[graft.ops.ModelStore]]): the IVF
    * coarse centroids and PQ codebooks are trained ONCE per (session,
    * corpus) and PERSISTED as parquet model tables; every scoring call
    * then LOADS them back (a metadata-sized read — k·dims longs).
    * This is the train-once / score-many shape production deploys:
    * q113/q115/q129 trials measure load + score, never re-training
    * (re-training dominated their pre-round-7 medians: 8–14 Lloyd
    * jobs per trial). The cache holds only the PATHS — the artifact
    * of record is the parquet, exactly what a model registry stores.
    */
  private[graft] val annModelCache = scala.collection.mutable.Map
    .empty[(String, String), (String, String)]

  /** Paths of the stored (coarse-centroids, codebooks) model tables
    * for `dir`, training and saving them on first use in this session.
    * Training params are the q113/q115 fixture: coarse k=8 iters=2,
    * PQ m=4 ksub=16 iters=2 over the qn>0-filtered corpus.
    */
  private[graft] def annModelPaths(s: SparkSession, dir: String): (String, String) =
    sessionFixture(annModelCache, s, dir) {
      val prep = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
        .filter(col("qn") > 0).localCheckpoint()
      val tag = (s.sparkContext.applicationId + "_" + dir)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val tmp = System.getProperty("java.io.tmpdir")
      val coarsePath =
        graft.Scratch.register(s"$tmp/graft_model_coarse_$tag")
      val cbPath =
        graft.Scratch.register(s"$tmp/graft_model_codebooks_$tag")
      ModelStore.saveCentroids(s, coarsePath,
        KMeans.fitCentroids(prep, "vec_id", 8, 2))
      ModelStore.saveCodebooks(s, cbPath,
        ProductQuant.trainCodebooks(prep, "vec_id", 4, 16, 2))
      (coarsePath, cbPath)
    }

  /** q278's oracle, generated so the planted marker lists come from
    * the SAME [[TextFns.stopwordProfiles]] constant the engine's
    * fixture uses — one source of truth for the plant, the discovery
    * threshold, and the scoring argmax.
    */
  private[graft] def storedLangIdOracle: String = {
    val profiles = TextFns.stopwordProfiles
    // DuckDB string-literal escaping (doubled quote — NOT backslash,
    // which is TextFns.sqlLit's Spark dialect): the engine-side twin
    // langMarkedDocs escapes via sqlLit, so a profile token carrying
    // an apostrophe (French "l'", say) must survive BOTH generators
    def arm(ws: Seq[String]) =
      ws.map(w => "'" + w.replace("'", "''") + "'")
        .mkString("[", ", ", "]")
    val mk = profiles
      .map { case (l, ws) => s"WHEN '$l' THEN ${arm(ws)}" }
      .mkString("CASE lang ", " ", " END")
    val mk2 = profiles.indices
      .map(i => (profiles(i)._1, profiles((i + 1) % profiles.size)._2))
      .map { case (l, ws) => s"WHEN '$l' THEN ${arm(ws)}" }
      .mkString("CASE lang ", " ", " END")
    s"""WITH d0 AS (SELECT doc_id, lang, text, $mk AS mk, $mk2 AS mk2
           FROM documents),
       d AS (SELECT doc_id, lang, concat_ws(' ',
           array_to_string(list_filter(list_transform([0, 1, 2, 3, 4],
             i -> CASE WHEN (doc_id + i) % 3 <> 0 THEN mk[i + 1] END),
             x -> x IS NOT NULL), ' '),
           array_to_string(list_filter(list_transform([0, 1, 2, 3, 4],
             i -> CASE WHEN (doc_id + i * 2) % 7 = 0 THEN mk2[i + 1] END),
             x -> x IS NOT NULL), ' '),
           text) AS text2
         FROM d0),
       tr AS (SELECT lang, doc_id, text2 FROM d WHERE doc_id % 10 <> 0),
       nd AS (SELECT lang, COUNT(*) AS n FROM tr GROUP BY 1),
       dt AS (SELECT lang, doc_id,
           unnest(list_distinct(list_filter(string_split(text2, ' '),
             t -> t <> ''))) AS token
         FROM tr),
       dfq AS (SELECT lang, token, COUNT(*) AS df FROM dt GROUP BY 1, 2),
       prof AS (SELECT q.lang, q.token FROM dfq q JOIN nd USING (lang)
         WHERE q.df * 10000 // nd.n >= 3000),
       te AS (SELECT doc_id, lang,
           list_filter(string_split(text2, ' '), t -> t <> '') AS toks
         FROM d WHERE doc_id % 10 = 0),
       tok AS (SELECT doc_id, unnest(toks) AS token FROM te),
       hits AS (SELECT t.doc_id, p.lang, COUNT(*) AS h
         FROM tok t JOIN prof p ON t.token = p.token GROUP BY 1, 2),
       best AS (SELECT doc_id, lang AS pred_lang FROM (
           SELECT doc_id, lang, row_number() OVER
             (PARTITION BY doc_id ORDER BY h DESC, lang ASC) AS rn
           FROM hits)
         WHERE rn = 1)
       SELECT te.doc_id, te.lang,
           COALESCE(b.pred_lang, 'und') AS pred_lang,
           (te.lang = COALESCE(b.pred_lang, 'und')) AS correct
       FROM te LEFT JOIN best b USING (doc_id)
       ORDER BY te.doc_id"""
  }

  /** Shared SimHash CTE for the DuckDB oracles (per-doc 32-hex-char
    * signature; must mirror [[NearDup.withSimHash]] bit-for-bit).
    */
  private[graft] val simhashCte =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
      |        FROM documents),
      |th AS (SELECT doc_id, md5(tk) AS h FROM tok),
      |bits AS (SELECT doc_id, k,
      |    CASE WHEN ((strpos('0123456789abcdef', substr(h, (k // 4) + 1, 1))
      |               - 1) >> (k % 4)) & 1 = 1 THEN 1 ELSE -1 END AS v
      |  FROM th, (SELECT unnest(range(0, 128)) AS k)),
      |acc AS (SELECT doc_id, k, SUM(v) AS s FROM bits GROUP BY 1, 2),
      |nib AS (SELECT doc_id, k // 4 AS p,
      |    SUM(CASE WHEN s > 0 THEN 1 << (k % 4) ELSE 0 END) AS nv
      |  FROM acc GROUP BY 1, 2),
      |sig AS (SELECT doc_id,
      |    string_agg(substr('0123456789abcdef', CAST(nv + 1 AS BIGINT), 1),
      |               '' ORDER BY p) AS simhash
      |  FROM nib GROUP BY 1)""".stripMargin

  /** Shared quantized-embedding CTEs for the DuckDB oracles (64-dim at
    * the oracle scale factor; mirrors [[Similarity.prepare]]). `nrm`
    * drops zero-norm vectors — the Spark side's `qn > 0` filters
    * (Similarity: no cosine direction) must be mirrored or a zero
    * vector would produce inf/NaN sims here while Spark excludes it.
    */
  private[graft] val quantCte =
    """q AS (SELECT vec_id, i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000.0 + 0.5)
      |         AS BIGINT) AS x
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
      |nrm AS (SELECT vec_id, SUM(x * x) AS nn FROM q GROUP BY 1
      |        HAVING SUM(x * x) > 0)"""
      .stripMargin

  /** The SAME 10⁴ quantization as [[quantCte]]'s `q`, kept as one list
    * per vector so pair dots run through DuckDB's native
    * `list_inner_product` instead of a 64-rows-per-pair unnest join —
    * the difference between minutes and hours when an oracle replays a
    * quadratic pair leg at the sf1 50 k-vector scale. Exactness holds
    * because every quantized term is an integer: |x| ≤ ~10⁴,
    * |x·x| ≤ 10⁸, 64-element sums ≤ ~10¹⁰ — all far under 2⁵³, so the
    * DOUBLE arithmetic is exact and `CAST(... AS BIGINT)` of the
    * product reproduces the integer dot bit-for-bit.
    */
  private[graft] val qlistCte =
    """qv AS (SELECT vec_id,
      |    list_transform(embedding, e ->
      |      CAST(floor(CAST(e AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE))
      |      AS xs
      |  FROM embeddings)"""
      .stripMargin

  /** Shared oracle for q286 (stored-model scoring) and q288
    * (incremental counts-merge refresh): both train the SAME model —
    * counts are additive, so base(%10∉{0,1}) + batch(%10=1) ≡ a
    * from-scratch retrain over %10≠0 — and score the same held-out
    * split, so one SQL retrain gates both (the q103/q276
    * incremental≡batch shared-oracle discipline).
    */
  private[graft] val qualityClassifierCtes =
    """mk(i, pos, tok) AS (VALUES
      |    (0, TRUE, 'citation'), (1, TRUE, 'reference'),
      |    (2, TRUE, 'paragraph'), (3, TRUE, 'summary'),
      |    (4, TRUE, 'bibliography'),
      |    (0, FALSE, 'cheap'), (1, FALSE, 'click'),
      |    (2, FALSE, 'winner'), (3, FALSE, 'casino'),
      |    (4, FALSE, 'pills')),
      |lab AS (SELECT doc_id, text, doc_id % 3 <> 0 AS pos
      |  FROM documents),
      |own AS (SELECT l.doc_id, m.tok FROM lab l JOIN mk m
      |  ON m.pos = l.pos AND (l.doc_id + m.i) % 3 <> 0),
      |noise AS (SELECT l.doc_id, m.tok FROM lab l JOIN mk m
      |  ON m.pos <> l.pos AND (l.doc_id + m.i * 2) % 7 = 0),
      |toks AS (SELECT doc_id, tok FROM own
      |  UNION ALL SELECT doc_id, tok FROM noise
      |  UNION ALL SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), t -> t <> ''))
      |  FROM lab),
      |tr AS (SELECT t.doc_id, t.tok, l.pos FROM toks t
      |  JOIN lab l USING (doc_id) WHERE t.doc_id % 10 <> 0),
      |counts AS (SELECT tok,
      |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
      |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
      |  FROM tr GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS np,
      |    CAST(SUM(cn) AS BIGINT) AS nn, COUNT(*) AS v FROM counts),
      |votes AS (SELECT tok,
      |    CASE WHEN (cp + 1) * (nn + v) > 2 * (cn + 1) * (np + v)
      |        THEN 1
      |      WHEN (cn + 1) * (np + v) > 2 * (cp + 1) * (nn + v)
      |        THEN -1
      |      ELSE 0 END AS vote
      |  FROM counts, tot),
      |te AS (SELECT doc_id, tok FROM toks WHERE doc_id % 10 = 0),
      |sc AS (SELECT te.doc_id,
      |    CAST(SUM(COALESCE(v.vote, 0)) AS BIGINT) AS score
      |  FROM te LEFT JOIN votes v ON te.tok = v.tok AND v.vote <> 0
      |  GROUP BY 1)""".stripMargin

  private[graft] val qualityClassifierOracle =
    s"""WITH $qualityClassifierCtes
       |SELECT s.doc_id, l.pos AS label_good, s.score,
       |    s.score > 0 AS pred_good,
       |    (s.score > 0) = l.pos AS correct
       |FROM sc s JOIN lab l USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin

  /** q51's oracle: exact top-3, LSH top-3, and IVF top-3 all recomputed
    * in SQL (the q28/q29/q37 constructions on the vec_id < 50 query
    * set), then recall = hits / |exact| per method.
    */
  private[graft] val annRecallOracle =
    s"""WITH $quantCte,
       exd AS (SELECT a.vec_id AS query_id, b.vec_id AS id_b,
           SUM(a.x * b.x) AS dot
         FROM q a JOIN q b ON a.i = b.i
         WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id
         GROUP BY 1, 2),
       exs AS (SELECT query_id, id_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE))
             * sqrt(CAST(nb.nn AS DOUBLE))) AS sim
         FROM exd JOIN nrm na ON exd.query_id = na.vec_id
                  JOIN nrm nb ON exd.id_b = nb.vec_id),
       ex AS (SELECT query_id, id_b AS neighbor_id FROM
           (SELECT query_id, id_b, row_number() OVER
             (PARTITION BY query_id ORDER BY sim DESC, id_b ASC) AS rk
            FROM exs) WHERE rk <= 3),
       w AS (SELECT h, i, CAST(strpos('0123456789abcdef',
             substr(md5(CAST(h AS VARCHAR) || ',' ||
               CAST(i - 1 AS VARCHAR)), 1, 1)) - 1 AS DOUBLE) - 7.5 AS w
         FROM (SELECT unnest(range(1, 5)) AS h),
              (SELECT unnest(range(1, 65)) AS i)),
       proj AS (SELECT q.vec_id, w.h, SUM(w.w * CAST(q.x AS DOUBLE)) AS p
         FROM q JOIN w ON q.i = w.i GROUP BY 1, 2),
       bkt AS (SELECT vec_id, CAST(SUM(CASE WHEN p > 0
             THEN 1 << (4 - h) ELSE 0 END) AS BIGINT) AS bucket
         FROM proj GROUP BY 1),
       ld AS (SELECT a.vec_id AS query_id, b.vec_id AS id_b,
           SUM(a.x * b.x) AS dot
         FROM q a JOIN bkt ba ON a.vec_id = ba.vec_id
              JOIN bkt bb ON ba.bucket = bb.bucket
              JOIN q b ON b.vec_id = bb.vec_id AND a.i = b.i
         WHERE a.vec_id <> b.vec_id
         GROUP BY 1, 2),
       lsm AS (SELECT query_id, id_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE))
             * sqrt(CAST(nb.nn AS DOUBLE))) AS sim
         FROM ld JOIN nrm na ON ld.query_id = na.vec_id
                 JOIN nrm nb ON ld.id_b = nb.vec_id),
       lsh AS (SELECT query_id, id_b AS neighbor_id FROM
           (SELECT query_id, id_b, row_number() OVER
             (PARTITION BY query_id ORDER BY sim DESC, id_b ASC) AS rk
            FROM lsm) WHERE rk <= 3 AND query_id < 50),
       cells AS (SELECT CAST(e.label AS BIGINT) AS cell_label, i,
           CAST(SUM(x) AS BIGINT) AS s
         FROM q JOIN embeddings e ON q.vec_id = e.vec_id GROUP BY 1, 2),
       cellnorm AS (SELECT cell_label, SUM(s * s) AS cn
         FROM cells GROUP BY 1),
       coarse AS (SELECT a.vec_id AS query_id, c.cell_label,
           SUM(a.x * c.s) AS dot
         FROM q a JOIN cells c ON a.i = c.i
         WHERE a.vec_id < 50 GROUP BY 1, 2),
       csim AS (SELECT query_id, coarse.cell_label,
           CAST(dot AS DOUBLE) / (sqrt(CAST(n1.nn AS DOUBLE))
             * sqrt(CAST(cn.cn AS DOUBLE))) AS coarse_sim
         FROM coarse JOIN nrm n1 ON coarse.query_id = n1.vec_id
              JOIN cellnorm cn ON coarse.cell_label = cn.cell_label),
       best AS (SELECT query_id, cell_label FROM
           (SELECT query_id, cell_label, row_number() OVER
             (PARTITION BY query_id
              ORDER BY coarse_sim DESC, cell_label ASC) AS rn
            FROM csim) WHERE rn = 1),
       fine AS (SELECT b.query_id, e.vec_id AS neighbor_id,
           SUM(a.x * bb.x) AS dot
         FROM best b JOIN embeddings e
           ON CAST(e.label AS BIGINT) = b.cell_label
         JOIN q a ON a.vec_id = b.query_id
         JOIN q bb ON bb.vec_id = e.vec_id AND bb.i = a.i
         WHERE e.vec_id <> b.query_id GROUP BY 1, 2),
       fsim AS (SELECT query_id, neighbor_id,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE))
             * sqrt(CAST(nb.nn AS DOUBLE))) AS sim
         FROM fine JOIN nrm na ON fine.query_id = na.vec_id
              JOIN nrm nb ON fine.neighbor_id = nb.vec_id),
       ivf AS (SELECT query_id, neighbor_id FROM
           (SELECT query_id, neighbor_id, row_number() OVER
             (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
             AS rk
            FROM fsim) WHERE rk <= 3),
       sc AS (
         SELECT 'ivf' AS method,
             COUNT(DISTINCT ex.query_id) AS n_queries,
             COUNT(*) AS n_exact,
             CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits
         FROM ex LEFT JOIN ivf a
           ON ex.query_id = a.query_id AND ex.neighbor_id = a.neighbor_id
         UNION ALL
         SELECT 'lsh' AS method,
             COUNT(DISTINCT ex.query_id) AS n_queries,
             COUNT(*) AS n_exact,
             CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits
         FROM ex LEFT JOIN lsh a
           ON ex.query_id = a.query_id AND ex.neighbor_id = a.neighbor_id)
       SELECT method, n_queries, n_exact, n_hits,
              CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
       FROM sc ORDER BY method"""

  /** q56's oracle: exact top-3 and Hamming-1 multi-probe LSH top-3
    * recomputed in SQL, recall = hits / |exact| — q51's scaffolding
    * restricted to the one method, with each query probing its own
    * bucket plus every single-plane flip.
    */
  private[graft] val lshMultiProbeOracle =
    s"""WITH $quantCte,
       exd AS (SELECT a.vec_id AS query_id, b.vec_id AS id_b,
           SUM(a.x * b.x) AS dot
         FROM q a JOIN q b ON a.i = b.i
         WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id
         GROUP BY 1, 2),
       exs AS (SELECT query_id, id_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE))
             * sqrt(CAST(nb.nn AS DOUBLE))) AS sim
         FROM exd JOIN nrm na ON exd.query_id = na.vec_id
                  JOIN nrm nb ON exd.id_b = nb.vec_id),
       ex AS (SELECT query_id, id_b AS neighbor_id FROM
           (SELECT query_id, id_b, row_number() OVER
             (PARTITION BY query_id ORDER BY sim DESC, id_b ASC) AS rk
            FROM exs) WHERE rk <= 3),
       w AS (SELECT h, i, CAST(strpos('0123456789abcdef',
             substr(md5(CAST(h AS VARCHAR) || ',' ||
               CAST(i - 1 AS VARCHAR)), 1, 1)) - 1 AS DOUBLE) - 7.5 AS w
         FROM (SELECT unnest(range(1, 5)) AS h),
              (SELECT unnest(range(1, 65)) AS i)),
       proj AS (SELECT q.vec_id, w.h, SUM(w.w * CAST(q.x AS DOUBLE)) AS p
         FROM q JOIN w ON q.i = w.i GROUP BY 1, 2),
       bkt AS (SELECT vec_id, CAST(SUM(CASE WHEN p > 0
             THEN 1 << (4 - h) ELSE 0 END) AS BIGINT) AS bucket
         FROM proj GROUP BY 1),
       pr AS (SELECT vec_id, unnest([bucket, xor(bucket, 1),
             xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS bucket
         FROM bkt WHERE vec_id < 50),
       ld AS (SELECT a.vec_id AS query_id, b.vec_id AS id_b,
           SUM(a.x * b.x) AS dot
         FROM q a JOIN pr pa ON a.vec_id = pa.vec_id
              JOIN bkt bb ON pa.bucket = bb.bucket
              JOIN q b ON b.vec_id = bb.vec_id AND a.i = b.i
         WHERE a.vec_id <> b.vec_id
         GROUP BY 1, 2),
       lsm AS (SELECT query_id, id_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE))
             * sqrt(CAST(nb.nn AS DOUBLE))) AS sim
         FROM ld JOIN nrm na ON ld.query_id = na.vec_id
                 JOIN nrm nb ON ld.id_b = nb.vec_id),
       mp AS (SELECT query_id, id_b AS neighbor_id FROM
           (SELECT query_id, id_b, row_number() OVER
             (PARTITION BY query_id ORDER BY sim DESC, id_b ASC) AS rk
            FROM lsm) WHERE rk <= 3)
       SELECT 'lsh_mp' AS method,
           COUNT(DISTINCT ex.query_id) AS n_queries,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       FROM ex LEFT JOIN mp a
         ON ex.query_id = a.query_id AND ex.neighbor_id = a.neighbor_id"""

  /** Shared by q31 (memory sink) and q58 (foreachBatch parquet sink):
    * the late-filtered batch equivalent of the watermarked windowed
    * aggregation — the sink must not change the data.
    */
  /** Shared by q49 (window form) and q95 (typed cogroup form): the two
    * implementations claim identical as-of semantics and must match
    * the same oracle — like q57/q70's streaming/batch pair.
    */
  private[graft] val asofOracle =
    """SELECT event_id, user_id, ms AS click_ms, signup_ms, signup_event
       FROM (SELECT event_id, user_id, event_type, ms,
           last_value(CASE WHEN event_type = 'signup' THEN ms END
             IGNORE NULLS) OVER w AS signup_ms,
           last_value(CASE WHEN event_type = 'signup' THEN event_id END
             IGNORE NULLS) OVER w AS signup_event
         FROM (SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       WHERE event_type = 'click' ORDER BY event_id"""

  private[graft] val streamWindowOracle =
    """WITH mx AS (SELECT epoch_us(MAX(CAST(ts AS TIMESTAMP))) // 1000
                     AS max_ms FROM events),
       b AS (SELECT epoch_ms(time_bucket(INTERVAL 10 MINUTE,
               CAST(ts AS TIMESTAMP), TIMESTAMP '1970-01-01'))
               AS window_start_ms,
             event_type, COUNT(*) AS n_events
         FROM events GROUP BY 1, 2)
       SELECT window_start_ms, event_type, n_events FROM b, mx
       WHERE window_start_ms + 600000 <= max_ms - 3600000
       ORDER BY window_start_ms, event_type"""

  /** q59's oracle: q51's IVF construction with the top TWO coarse cells
    * probed (rn ≤ 2), scored against the exact baseline.
    */
  private[graft] val ivfMultiProbeOracle =
    s"""WITH $quantCte,
       exd AS (SELECT a.vec_id AS query_id, b.vec_id AS id_b,
           SUM(a.x * b.x) AS dot
         FROM q a JOIN q b ON a.i = b.i
         WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id
         GROUP BY 1, 2),
       exs AS (SELECT query_id, id_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE))
             * sqrt(CAST(nb.nn AS DOUBLE))) AS sim
         FROM exd JOIN nrm na ON exd.query_id = na.vec_id
                  JOIN nrm nb ON exd.id_b = nb.vec_id),
       ex AS (SELECT query_id, id_b AS neighbor_id FROM
           (SELECT query_id, id_b, row_number() OVER
             (PARTITION BY query_id ORDER BY sim DESC, id_b ASC) AS rk
            FROM exs) WHERE rk <= 3),
       cells AS (SELECT CAST(e.label AS BIGINT) AS cell_label, i,
           CAST(SUM(x) AS BIGINT) AS s
         FROM q JOIN embeddings e ON q.vec_id = e.vec_id GROUP BY 1, 2),
       cellnorm AS (SELECT cell_label, SUM(s * s) AS cn
         FROM cells GROUP BY 1),
       coarse AS (SELECT a.vec_id AS query_id, c.cell_label,
           SUM(a.x * c.s) AS dot
         FROM q a JOIN cells c ON a.i = c.i
         WHERE a.vec_id < 50 GROUP BY 1, 2),
       csim AS (SELECT query_id, coarse.cell_label,
           CAST(dot AS DOUBLE) / (sqrt(CAST(n1.nn AS DOUBLE))
             * sqrt(CAST(cn.cn AS DOUBLE))) AS coarse_sim
         FROM coarse JOIN nrm n1 ON coarse.query_id = n1.vec_id
              JOIN cellnorm cn ON coarse.cell_label = cn.cell_label),
       best AS (SELECT query_id, cell_label FROM
           (SELECT query_id, cell_label, row_number() OVER
             (PARTITION BY query_id
              ORDER BY coarse_sim DESC, cell_label ASC) AS rn
            FROM csim) WHERE rn <= 2),
       fine AS (SELECT b.query_id, e.vec_id AS neighbor_id,
           SUM(a.x * bb.x) AS dot
         FROM best b JOIN embeddings e
           ON CAST(e.label AS BIGINT) = b.cell_label
         JOIN q a ON a.vec_id = b.query_id
         JOIN q bb ON bb.vec_id = e.vec_id AND bb.i = a.i
         WHERE e.vec_id <> b.query_id GROUP BY 1, 2),
       fsim AS (SELECT query_id, neighbor_id,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE))
             * sqrt(CAST(nb.nn AS DOUBLE))) AS sim
         FROM fine JOIN nrm na ON fine.query_id = na.vec_id
              JOIN nrm nb ON fine.neighbor_id = nb.vec_id),
       ivf AS (SELECT query_id, neighbor_id FROM
           (SELECT query_id, neighbor_id, row_number() OVER
             (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
             AS rk
            FROM fsim) WHERE rk <= 3)
       SELECT 'ivf_np2' AS method,
           COUNT(DISTINCT ex.query_id) AS n_queries,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       FROM ex LEFT JOIN ivf a
         ON ex.query_id = a.query_id AND ex.neighbor_id = a.neighbor_id"""

  /** q25's oracle, generated so the min-hash family coefficients are the
    * exact same literals the Spark side uses ([[NearDup.hashCoeffs]]).
    */
  /** Quality-scored documents CTE chain shared by the q86 and q98
    * oracles — ONE copy of [[TextFns.qualityScore]]'s formula so the
    * two quality-ordered exports can never drift apart (q45 carries
    * the same formula inside its larger composite CTE).
    */
  private[graft] val qualityScoredCtes =
    """WITH d AS (SELECT doc_id, lang, source, text,
             string_split(text, ' ') AS toks FROM documents),
         sc AS (SELECT doc_id, lang, source, text,
             CAST(len(toks) AS BIGINT) AS n_tok,
             0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (1.0 - CAST(len(list_filter(toks,
                     w -> w IN ('the','a','of','and','is'))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE))
               + 0.2 * least(((CAST(length(text) AS DOUBLE)
                     - (CAST(len(toks) AS DOUBLE) - 1.0))
                   / CAST(len(toks) AS DOUBLE)) / 8.0, 1.0) AS quality
           FROM d)"""

  /** The shingle→hash→signature→band CTE chain shared by the q25 and
    * q99 oracles — min-hash coefficients interpolated as the exact
    * literals the Spark side uses ([[NearDup.hashCoeffs]]).
    */
  private[graft] def minhashCtes: String = {
    val sigEntries = NearDup.hashCoeffs(32)
      .map { case (a, b) =>
        s"list_min(list_transform(xs, x -> ($a * x + $b) % ${NearDup.HashP}))"
      }
      .mkString("[\n             ", ",\n             ", "\n           ]")
    val bandSelects = (0 until 4).map { bnd =>
      val parts = (1 to 8).map(r => s"CAST(sg[${bnd * 8 + r}] AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $bnd AS b, md5($parts) AS bkey FROM sig"
    }.mkString("\n           UNION ALL ")
    s"""WITH s AS (SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(text) - 4, 1) + 1),
               i -> substr(text, i, 5))) AS shingles
           FROM documents),
         xs AS (SELECT doc_id, shingles, list_transform(shingles,
             sh -> CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)
                   % ${NearDup.HashP}) AS xs
           FROM s),
         sig AS (SELECT doc_id, $sigEntries AS sg FROM xs),
         bands AS ($bandSelects)"""
  }

  /** The q214/q268-shared DuckDB replay of winnowing selection at
    * L = 30, w = 8: per-position 60-bit gram hashes, the per-window-
    * min rule as the 8 covering-window MIN frames + the sub-w global-
    * min fallback, distinct (doc_id, gram) selections in `sel`.
    */
  private[graft] val winnowSelCtes: String =
    """WITH g AS (SELECT doc_id, j, substr(text, j, 30) AS gram,
             CAST('0x' || substr(md5(substr(text, j, 30)), 1, 15)
               AS BIGINT) AS h
           FROM documents, unnest(range(1, length(text) - 28)) u(j)),
         w AS (SELECT doc_id, j, gram, h,
             COUNT(*) OVER (PARTITION BY doc_id) AS n,
             MIN(h) OVER (PARTITION BY doc_id) AS gm,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY j
               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m0,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY j
               ROWS BETWEEN 1 PRECEDING AND 6 FOLLOWING) AS m1,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY j
               ROWS BETWEEN 2 PRECEDING AND 5 FOLLOWING) AS m2,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY j
               ROWS BETWEEN 3 PRECEDING AND 4 FOLLOWING) AS m3,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY j
               ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING) AS m4,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY j
               ROWS BETWEEN 5 PRECEDING AND 2 FOLLOWING) AS m5,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY j
               ROWS BETWEEN 6 PRECEDING AND 1 FOLLOWING) AS m6,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY j
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS m7
           FROM g),
         sel AS (SELECT DISTINCT doc_id, gram FROM w
           WHERE (n < 8 AND h = gm)
              OR (j + 7 <= n AND h = m0)
              OR (j >= 2 AND j + 6 <= n AND h = m1)
              OR (j >= 3 AND j + 5 <= n AND h = m2)
              OR (j >= 4 AND j + 4 <= n AND h = m3)
              OR (j >= 5 AND j + 3 <= n AND h = m4)
              OR (j >= 6 AND j + 2 <= n AND h = m5)
              OR (j >= 7 AND j + 1 <= n AND h = m6)
              OR (j >= 8 AND h = m7))"""

  /** q266's oracle: the q25 chain re-sourced onto the synthetic
    * corpus (docs + the two planted canonical twins per %13 doc) and
    * shingled on the CANONICAL text, with the exact raw-shingle
    * Jaccard of every verified pair beside it in bp.
    */
  private[graft] def canonNearDupOracle: String = {
    val sigEntries = NearDup.hashCoeffs(32)
      .map { case (a, b) =>
        s"list_min(list_transform(xs, x -> ($a * x + $b) % ${NearDup.HashP}))"
      }
      .mkString("[\n             ", ",\n             ", "\n           ]")
    val bandSelects = (0 until 4).map { bnd =>
      val parts = (1 to 8).map(r => s"CAST(sg[${bnd * 8 + r}] AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $bnd AS b, md5($parts) AS bkey FROM sig"
    }.mkString("\n           UNION ALL ")
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, replace(lower(text), 'e', chr(233))
           FROM documents WHERE doc_id % 13 = 0
           UNION ALL
           SELECT doc_id + 2000000,
             upper(replace(lower(text), 'e', 'e' || chr(769)))
           FROM documents WHERE doc_id % 13 = 0),
         cn AS (SELECT doc_id, text,
             regexp_replace(lower(trim(nfc_normalize(text))),
               '\\s+', ' ', 'g') AS canon
           FROM corpus),
         s AS (SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(canon) - 4, 1) + 1),
               i -> substr(canon, i, 5))) AS shingles
           FROM cn),
         sraw AS (SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(text) - 4, 1) + 1),
               i -> substr(text, i, 5))) AS rsh
           FROM cn),
         xs AS (SELECT doc_id, shingles, list_transform(shingles,
             sh -> CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)
                   % ${NearDup.HashP}) AS xs
           FROM s),
         sig AS (SELECT doc_id, $sigEntries AS sg FROM xs),
         bands AS ($bandSelects),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         jac AS (SELECT id_a, id_b,
             CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
               / CAST(len(x.shingles) + len(y.shingles)
                   - len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
               AS jaccard_canon
           FROM cand JOIN s x ON cand.id_a = x.doc_id
                     JOIN s y ON cand.id_b = y.doc_id)
         SELECT jac.id_a, jac.id_b, jac.jaccard_canon,
             CAST(len(list_intersect(ra.rsh, rb.rsh)) * 10000
               // (len(ra.rsh) + len(rb.rsh)
                   - len(list_intersect(ra.rsh, rb.rsh))) AS BIGINT)
               AS jaccard_raw_bp
         FROM jac JOIN sraw ra ON jac.id_a = ra.doc_id
                  JOIN sraw rb ON jac.id_b = rb.doc_id
         WHERE jac.jaccard_canon >= 0.5
         ORDER BY jac.id_a, jac.id_b"""
  }

  private[graft] def minhashLshOracle: String =
    s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         jac AS (SELECT id_a, id_b,
             CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
               / CAST(len(x.shingles) + len(y.shingles)
                   - len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
               AS jaccard,
             CAST(len(list_filter(
                 list_zip(sa.sg, sb.sg), p -> p[1] = p[2])) AS DOUBLE)
               / 32.0 AS est_jaccard
           FROM cand JOIN s x ON cand.id_a = x.doc_id
                     JOIN s y ON cand.id_b = y.doc_id
                     JOIN sig sa ON cand.id_a = sa.doc_id
                     JOIN sig sb ON cand.id_b = sb.doc_id)
         SELECT id_a, id_b, jaccard, est_jaccard FROM jac
         WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""

  /** q237's oracle: the q25 chain (shared CTEs) verified at J ≥ 0.5,
    * crossed with the q46 md5-bucket split and kept where the splits
    * differ.
    */
  private[graft] def splitLeakageOracle: String =
    s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         jac AS (SELECT id_a, id_b,
             CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
               / CAST(len(x.shingles) + len(y.shingles)
                   - len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
               AS jaccard
           FROM cand JOIN s x ON cand.id_a = x.doc_id
                     JOIN s y ON cand.id_b = y.doc_id),
         sp AS (SELECT doc_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                   1, 8) AS BIGINT) % 100 < 80 THEN 'train'
               WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                   1, 8) AS BIGINT) % 100 < 90 THEN 'val'
               ELSE 'test' END AS split
           FROM documents)
         SELECT id_a, id_b, jaccard, sa.split AS split_a,
             sb.split AS split_b
         FROM jac JOIN sp sa ON jac.id_a = sa.doc_id
                  JOIN sp sb ON jac.id_b = sb.doc_id
         WHERE jaccard >= 0.5 AND sa.split <> sb.split
         ORDER BY id_a, id_b"""

  /** q257's oracle: the q25 chain (shared CTEs) verified at J ≥ 0.5
    * rolled up within-source, crossed with the quantized quality
    * rollup and the q220 novelty legs — every signal the scorecard
    * composes, replayed from its dedicated query's oracle idioms.
    */
  private[graft] def sourceScorecardOracle: String =
    s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         jac AS (SELECT id_a, id_b
           FROM cand JOIN s x ON cand.id_a = x.doc_id
                     JOIN s y ON cand.id_b = y.doc_id
           WHERE CAST(len(list_intersect(x.shingles, y.shingles))
                 AS DOUBLE)
               / CAST(len(x.shingles) + len(y.shingles)
                   - len(list_intersect(x.shingles, y.shingles))
                 AS DOUBLE) >= 0.5),
         dsrc AS (SELECT doc_id, source FROM documents),
         dp AS (SELECT a.source,
             CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
           FROM jac j JOIN dsrc a ON j.id_a = a.doc_id
                      JOIN dsrc b ON j.id_b = b.doc_id
           WHERE a.source = b.source GROUP BY 1),
         tk AS (SELECT doc_id, source, text,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         q AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(floor((
                 0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (1.0 - CAST(len(list_filter(toks,
                       w -> w IN ('the','a','of','and','is')))
                     AS DOUBLE) / CAST(len(toks) AS DOUBLE))
                 + 0.2 * least(((CAST(length(text) AS DOUBLE)
                       - (CAST(len(toks) AS DOUBLE) - 1.0))
                     / CAST(len(toks) AS DOUBLE)) / 8.0, 1.0)
               ) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qsum
           FROM tk GROUP BY 1),
         gt AS (SELECT doc_id, source,
             string_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(t[i:i+2], ' ')))) AS gram
           FROM gt),
         hist AS (SELECT DISTINCT gram FROM g WHERE doc_id % 5 <> 0),
         arr AS (SELECT source, gram FROM g WHERE doc_id % 5 = 0),
         nov AS (SELECT a.source, CAST(COUNT(*) AS BIGINT) AS n_novel
           FROM arr a LEFT JOIN hist h ON a.gram = h.gram
           WHERE h.gram IS NULL GROUP BY 1),
         tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
           FROM arr GROUP BY 1)
         SELECT q.source, q.n_docs, q.n_tokens,
             CAST(q.qsum // q.n_docs AS BIGINT) AS mean_quality_bp,
             CAST(COALESCE((COALESCE(nov.n_novel, 0) * 10000)
               // tot.n_grams, 0) AS BIGINT) AS novelty_bp,
             CAST(COALESCE(dp.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs
         FROM q LEFT JOIN tot ON q.source = tot.source
                LEFT JOIN nov ON q.source = nov.source
                LEFT JOIN dp ON q.source = dp.source
         ORDER BY q.source"""

  /** q259's oracle: the q25 chain's candidates with both estimators
    * recomputed in exact truncating integers beside exact Jaccard.
    */
  private[graft] def bbitMinhashOracle: String =
    s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         m AS (SELECT id_a, id_b,
             CAST(len(list_filter(list_zip(sa.sg, sb.sg),
               p -> p[1] = p[2])) AS BIGINT) AS m32,
             CAST(len(list_filter(list_zip(sa.sg, sb.sg),
               p -> p[1] % 2 = p[2] % 2)) AS BIGINT) AS m1
           FROM cand JOIN sig sa ON cand.id_a = sa.doc_id
                     JOIN sig sb ON cand.id_b = sb.doc_id),
         j AS (SELECT id_a, id_b,
             CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
               / CAST(len(x.shingles) + len(y.shingles)
                   - len(list_intersect(x.shingles, y.shingles))
                 AS DOUBLE) AS jaccard
           FROM cand JOIN s x ON cand.id_a = x.doc_id
                     JOIN s y ON cand.id_b = y.doc_id)
         SELECT j.id_a, j.id_b, j.jaccard,
             CAST((m32 * 10000) // 32 AS BIGINT) AS est32_bp,
             CAST((2 * m1 * 10000) // 32 - 10000 AS BIGINT) AS est1_bp
         FROM j JOIN m ON j.id_a = m.id_a AND j.id_b = m.id_b
         ORDER BY j.id_a, j.id_b"""

  /** q260's oracle: the q25 verified pair set with quantized endpoint
    * qualities and the quality-max-ties-to-min-id policy compare.
    */
  private[graft] def canonPolicyOracle: String =
    s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         jac AS (SELECT id_a, id_b
           FROM cand JOIN s x ON cand.id_a = x.doc_id
                     JOIN s y ON cand.id_b = y.doc_id
           WHERE CAST(len(list_intersect(x.shingles, y.shingles))
                 AS DOUBLE)
               / CAST(len(x.shingles) + len(y.shingles)
                   - len(list_intersect(x.shingles, y.shingles))
                 AS DOUBLE) >= 0.5),
         tk AS (SELECT doc_id, text,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         q AS (SELECT doc_id, CAST(floor((
               0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (1.0 - CAST(len(list_filter(toks,
                     w -> w IN ('the','a','of','and','is')))
                   AS DOUBLE) / CAST(len(toks) AS DOUBLE))
               + 0.2 * least(((CAST(length(text) AS DOUBLE)
                     - (CAST(len(toks) AS DOUBLE) - 1.0))
                   / CAST(len(toks) AS DOUBLE)) / 8.0, 1.0)
             ) * 10000.0 + 0.5) AS BIGINT) AS q_bp
           FROM tk)
         SELECT j.id_a, j.id_b, qa.q_bp AS q_a_bp, qb.q_bp AS q_b_bp,
             CASE WHEN qa.q_bp > qb.q_bp THEN j.id_a
                  WHEN qb.q_bp > qa.q_bp THEN j.id_b
                  ELSE least(j.id_a, j.id_b) END AS rep_quality,
             CASE WHEN qa.q_bp > qb.q_bp THEN j.id_a
                  WHEN qb.q_bp > qa.q_bp THEN j.id_b
                  ELSE least(j.id_a, j.id_b) END
               <> least(j.id_a, j.id_b) AS policy_differs
         FROM jac j JOIN q qa ON j.id_a = qa.doc_id
                    JOIN q qb ON j.id_b = qb.doc_id
         ORDER BY j.id_a, j.id_b"""

  /** q261's oracle: the q25 candidates rescored with df weights
    * w = 10⁶ div df in exact truncating bp, beside unweighted exact J.
    */
  private[graft] def weightedJaccardOracle: String =
    s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         gr AS (SELECT doc_id, unnest(shingles) AS g FROM s),
         w AS (SELECT g, CAST(1000000 // COUNT(*) AS BIGINT) AS w
           FROM gr GROUP BY 1),
         pg AS (SELECT id_a, id_b, g, MAX(ina) AS a, MAX(inb) AS b
           FROM (SELECT c.id_a, c.id_b, gr.g, 1 AS ina, 0 AS inb
                 FROM cand c JOIN gr ON gr.doc_id = c.id_a
                 UNION ALL
                 SELECT c.id_a, c.id_b, gr.g, 0, 1
                 FROM cand c JOIN gr ON gr.doc_id = c.id_b)
           GROUP BY 1, 2, 3),
         agg AS (SELECT id_a, id_b,
             SUM(CASE WHEN a = 1 AND b = 1 THEN w.w ELSE 0 END) AS num,
             SUM(w.w) AS den
           FROM pg JOIN w ON pg.g = w.g GROUP BY 1, 2),
         j AS (SELECT id_a, id_b,
             CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
               / CAST(len(x.shingles) + len(y.shingles)
                   - len(list_intersect(x.shingles, y.shingles))
                 AS DOUBLE) AS jaccard
           FROM cand JOIN s x ON cand.id_a = x.doc_id
                     JOIN s y ON cand.id_b = y.doc_id)
         SELECT j.id_a, j.id_b, j.jaccard,
             CAST((num * 10000) // den AS BIGINT) AS wjaccard_bp
         FROM j JOIN agg ON j.id_a = agg.id_a AND j.id_b = agg.id_b
         ORDER BY j.id_a, j.id_b"""

  /** q192's oracle: the same 32-hash signature chain banded three
    * ways (the shared `bands` CTE IS the (4,8) config), candidates
    * per config from the band self-join, ground truth from the full
    * inverted-index J ≥ 0.5 join, and the theory column interpolated
    * as the SAME Scala-computed literal the engine emits (no
    * cross-engine pow).
    */
  private[graft] def lshTuningOracle: String = {
    def bandCte(b: Int, r: Int, name: String): String = {
      val selects = (0 until b).map { bnd =>
        val parts = (1 to r)
          .map(rr => s"CAST(sg[${bnd * r + rr}] AS VARCHAR)")
          .mkString(" || ',' || ")
        s"SELECT doc_id, $bnd AS b, md5($parts) AS bkey FROM sig"
      }.mkString("\n           UNION ALL ")
      s"$name AS ($selects)"
    }
    def candCte(bandName: String, name: String): String =
      s"""$name AS (SELECT DISTINCT a.doc_id AS id_a,
             b.doc_id AS id_b
           FROM $bandName a JOIN $bandName b
             ON a.b = b.b AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id)"""
    def leg(config: String, b: Int, r: Int, cand: String): String =
      s"""SELECT '$config' AS config, CAST($b AS BIGINT) AS bands,
             CAST($r AS BIGINT) AS rows_per_band,
             (SELECT COUNT(*) FROM $cand) AS n_candidates,
             (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM $cand JOIN truth
               USING (id_a, id_b)) AS n_found,
             CASE WHEN (SELECT COUNT(*) FROM truth) > 0
               THEN (SELECT COUNT(*) FROM $cand JOIN truth
                 USING (id_a, id_b)) * 10000
                 // (SELECT COUNT(*) FROM truth)
               ELSE 10000 END AS recall_bp,
             CASE WHEN (SELECT COUNT(*) FROM $cand) > 0
               THEN (SELECT COUNT(*) FROM $cand JOIN truth
                 USING (id_a, id_b)) * 10000
                 // (SELECT COUNT(*) FROM $cand)
               ELSE 10000 END AS precision_bp,
             CAST(${theoryRecallBp(b, r)} AS BIGINT)
               AS theory_recall_bp"""
    s"""$minhashCtes,
         ${bandCte(16, 2, "b16")}, ${candCte("b16", "c162")},
         ${bandCte(8, 4, "b8")}, ${candCte("b8", "c84")},
         ${candCte("bands", "c48")},
         g AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
         p0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*) AS inter
           FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(shingles) AS n FROM s),
         truth AS (SELECT id_a, id_b FROM p0
           JOIN sz x ON p0.id_a = x.doc_id
           JOIN sz y ON p0.id_b = y.doc_id
           WHERE CAST(inter AS DOUBLE)
             / CAST(x.n + y.n - inter AS DOUBLE) >= 0.5)
         ${leg("b16r2", 16, 2, "c162")}
         UNION ALL ${leg("b4r8", 4, 8, "c48")}
         UNION ALL ${leg("b8r4", 8, 4, "c84")}
         ORDER BY config"""
  }

  /** q99's oracle: the same signature/band chain, candidates from the
    * new-batch × history band join, scored by the signature estimator.
    */
  private[graft] def crossDedupOracle: String =
    s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS hist_id
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bkey = b.bkey
           WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0),
         est AS (SELECT new_id, hist_id,
             CAST(len(list_filter(
                 list_zip(sa.sg, sb.sg), p -> p[1] = p[2])) AS DOUBLE)
               / 32.0 AS est_jaccard
           FROM cand JOIN sig sa ON cand.new_id = sa.doc_id
                     JOIN sig sb ON cand.hist_id = sb.doc_id)
         SELECT new_id, hist_id, est_jaccard FROM est
         WHERE est_jaccard >= 0.5 ORDER BY new_id, hist_id"""

  // ---------------------------------------------------------------------
  // Text analysis
  // ---------------------------------------------------------------------

  /** Token counting + quality scoring over documents. */
  private[graft] def qTextStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("toks", TextFns.tokens("text"))
      .select(col("doc_id"),
        expr("cast(size(toks) as bigint)").as("n_tokens"),
        expr("cast(length(text) as bigint)").as("n_chars_calc"),
        expr("""(cast(length(text) as double)
               | - (cast(size(toks) as double) - 1.0d))
               | / cast(size(toks) as double)""".stripMargin)
          .as("avg_token_len"),
        (TextFns.profileHits("toks", TextFns.profile("en"))
          .cast("double") / expr("cast(size(toks) as double)"))
          .as("stop_ratio"),
        expr("""cast(size(regexp_extract_all(text, '[a-z]{4,}', 0))
               | as bigint)""".stripMargin).as("n_long_tokens"),
        TextFns.qualityScore("text", "toks").as("quality"))
      .orderBy("doc_id")

  /** Heuristic language-ID vs the labeled lang column. */
  private[graft] def qLangId(s: SparkSession, dir: String): DataFrame =
    TextFns.withLanguageId(
        t(s, dir, "documents").withColumn("toks", TextFns.tokens("text")),
        "toks", "predicted")
      .select("doc_id", "lang", "predicted")
      .orderBy("doc_id")

  /** Canonical + winnowing fingerprints per document. */
  private[graft] def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFns.fingerprint("text").as("fingerprint"),
        TextFns.minShingleHash("text", 8).as("min_shingle"))
      .orderBy("doc_id")

  /** Exact dedup: group documents by canonical fingerprint. */
  private[graft] def qDedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("fingerprint", TextFns.fingerprint("text"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("rep_doc"))
      .orderBy("fingerprint")

  // ---------------------------------------------------------------------
  // Near-duplicate detection
  // ---------------------------------------------------------------------

  /** MinHash + LSH near-dup pairs, verified with exact n-gram Jaccard:
    * 32 min-hashes, 4 bands × 8 rows, candidates from band collisions
    * only (never n² pairs), kept at jaccard ≥ 0.5. The 8-row bands keep
    * the collision S-curve sharp on this shared-vocabulary corpus
    * (4-row bands admit ~10% of ALL pairs here — measured 1.3M
    * candidates on 5k docs vs ~4k with 8-row bands).
    */
  private[graft] def qMinHashLsh(s: SparkSession, dir: String): DataFrame = {
    // The shingle table fans out to three consumers (signatures + both
    // jaccard sides) and the signature table to two (band self-join);
    // localCheckpoint materializes each once instead of recomputing the
    // scan→shingle→hash pipeline per consumer (SURVEY §4 "caching at
    // fan-out points" — the reference's known miss). Both tables are
    // tiny relative to the input (ids + shingle sets / 32 longs).
    // repartition first: the corpus arrives as one small parquet file
    // (one scan partition), and the shingle/hash projection is the
    // expensive part — spread it across the cluster before computing,
    // for the cost of shuffling the raw text once
    val docs = t(s, dir, "documents")
      .transform(graft.ops.Widen.byDocId)
      .withColumn("shingles", TextFns.shingles("text", 5))
      .select("doc_id", "shingles")
      .transform(snap)
    val sigs = NearDup.minHashSigs(docs, "doc_id", "shingles", 32, "sig")
      .transform(snap)
    // cand fans out to the estimate and exact-verification paths —
    // materialize once (hundreds of rows) instead of re-running the
    // band self-join per consumer
    val cand = NearDup.candidatePairs(
      NearDup.bandRows(sigs, "doc_id", "sig", 4, 8, 32), "doc_id")
      .transform(snap)
    val est = cand
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("__sa")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("__sb")), "id_b")
      .withColumn("est_jaccard",
        expr(NearDup.estimatedJaccardExpr("__sa", "__sb", 32)))
      .select("id_a", "id_b", "est_jaccard")
    NearDup.jaccard(cand, docs, "doc_id", "shingles")
      .join(est, Seq("id_a", "id_b"))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard", "est_jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Per-document 128-bit SimHash signature (codegen'd grouped form —
    * [[NearDup.simHashSigs]]; bit-identical to the row-local HOF form).
    */
  private[graft] def qSimHash(s: SparkSession, dir: String): DataFrame =
    NearDup.simHashSigs(
        t(s, dir, "documents").withColumn("toks", TextFns.tokens("text")),
        "doc_id", "toks", "simhash")
      .orderBy("doc_id")

  /** Near-duplicate NN per document in SimHash Hamming space, exact
    * within radius 7 (8 pigeonhole blocks — [[NearDup.simhashNnWithinRadius]]):
    * candidates come from a block self-equi-join, never n² pairs. The
    * block SELF-join consumes the signature table on both sides and
    * Spark does not reuse the exchange across them (measured: the
    * 129-aggregate signature groupBy runs twice without this), so the
    * signatures — doc_id + 32 hex chars per row — are materialized once.
    */
  private[graft] def qSimHashKnn(s: SparkSession, dir: String): DataFrame =
    NearDup.simhashNnWithinRadius(
      NearDup.simHashSigs(
        // widen the 1-task corpus scan under the CPU-heavy per-token
        // signature build (JobProfile r17: one 1.4 s single-task job)
        graft.ops.Widen.ifNarrow(t(s, dir, "documents"))
          .withColumn("toks", TextFns.tokens("text")),
        "doc_id", "toks", "simhash")
        .transform(snap),
      "doc_id", "simhash", 8)
      .orderBy("id_a")

  // ---------------------------------------------------------------------
  // Similarity search
  // ---------------------------------------------------------------------

  /** Brute-force cosine top-5 for the first 100 query vectors. */
  private[graft] def qCosineTopK(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
    val queries = base.filter(col("vec_id") < 100)
    Similarity.bruteForceTopK(base, queries, "vec_id", 5)
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed ANN: top-3 within each vector's hyperplane bucket. */
  private[graft] def qCosineLsh(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
    Similarity.lshTopK(base, "vec_id", 3, 4)
      .orderBy("query_id", "rank")
  }

  /** Embedding-cosine near-dup pairs within LSH buckets (sim ≥ 0.3 —
    * this corpus has no planted embedding duplicates; max pairwise
    * cosine is ~0.51, so the threshold sits at ~p99.9 of all pairs).
    */
  private[graft] def qCosineNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
    Similarity.cosineNearDupPairs(base, "vec_id", 0.3, 4)
      .orderBy("id_a", "id_b")
  }

  /** Skew-resistant salted shuffle join: events ⋈ per-user totals on a
    * salted key, result identical to the plain join.
    */
  private[graft] def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val dim = ev.groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
        .as("user_total"))
    Salting.saltedEquiJoin(ev, dim, Seq("user_id"), col("event_id"), 8)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), min("user_total").as("user_total"))
      .orderBy("user_id")
  }

  /** Stateful streaming sessionization (flatMapGroupsWithState) — must
    * agree with the batch window-function form (same oracle as q32).
    */
  private[graft] def qStreamSessionize(s: SparkSession, dir: String): DataFrame =
    StatefulSessions.sessionSummaries(s, s"$dir/events.parquet",
      30L * 60 * 1000)

  /** Per-label cell state via the typed Aggregator ([[QuantizedCentroid]],
    * SURVEY §7.3): exact integer sums + count per group, emitted one row
    * per (label, dim) so the compare stays scalar-typed.
    */
  private[graft] def cellStates(s: SparkSession, dir: String) = {
    import s.implicits._
    Similarity.prepare(t(s, dir, "embeddings"), "embedding")
      .select(col("label").cast("long"), col("qv"))
      .as[(Long, Seq[Long])]
      .groupByKey(_._1)
      .agg(new QuantizedCentroid(64).toColumn.name("c"))
  }

  /** IVF build step: exact per-label centroids from the Aggregator. */
  private[graft] def qEmbedCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cellStates(s, dir)
      .flatMap { case (label, st) =>
        st.sums.toSeq.zipWithIndex.map { case (sm, d) =>
          (label, d.toLong, sm, st.n)
        }
      }
      .toDF("label", "dim", "sum_q", "n")
      .withColumn("centroid",
        col("sum_q").cast("double") / (col("n") * lit(10000.0d)))
      .orderBy("label", "dim")
  }

  /** IVF-style two-level ANN: assign each query to its nearest cell by
    * cosine against the cell's integer *sum* vector (same direction as
    * the centroid, exact arithmetic), then exact top-3 within the cell.
    * The cell table is tiny and broadcast; the base side joins only on
    * its own cell — probe cost n/cells instead of n.
    */
  private[graft] def qIvfTopK(s: SparkSession, dir: String): DataFrame =
    ivfTopK(s, dir, 1)

  /** IVF probe generalized to `nprobe` coarse cells per query — the IVF
    * analogue of LSH multi-probe: recall climbs with probed cells at
    * nprobe× fine-search cost (q59 measures it; q37 is the nprobe=1
    * form). A base vector lives in exactly one cell, so probing several
    * cells never duplicates a candidate pair.
    */
  private[graft] def ivfTopK(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import s.implicits._
    val base = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
    val cells = cellStates(s, dir)
      .map { case (label, st) => (label, st.sums.toSeq) }
      .toDF("cell_label", "cell_sums")
      .withColumn("cell_norm",
        Similarity.dot(col("cell_sums"), col("cell_sums")))
    // zero-norm vectors have no cosine direction — excluded on both
    // sides, mirrored by the oracle's HAVING on the norm CTE
    val queries = base.filter(col("vec_id") < 50 && col("qn") > 0)
      .select(col("vec_id").as("query_id"), col("qv").as("__qva"),
        col("qn").as("__qna"))
    val wCoarse = Window
      .partitionBy("query_id")
      .orderBy(col("coarse_sim").desc, col("cell_label").asc)
    val assigned = queries.crossJoin(broadcast(cells))
      .withColumn("coarse_sim", Similarity.cosine(col("__qva"),
        col("cell_sums"), col("__qna"), col("cell_norm")))
      .withColumn("__rn", row_number().over(wCoarse))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("__qva"), col("__qna"), col("cell_label"))
    val b = base.filter(col("qn") > 0)
      .select(col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("cell_label"), col("qv").as("__qvb"),
        col("qn").as("__qnb"))
    val wFine = Window
      .partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    assigned.join(b, Seq("cell_label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Similarity.cosine(col("__qva"), col("__qvb"),
        col("__qna"), col("__qnb")))
      .withColumn("rank", row_number().over(wFine).cast("long"))
      .filter(col("rank") <= 3)
      .select("query_id", "rank", "neighbor_id", "sim", "cell_label")
      .orderBy("query_id", "rank")
  }

  /** ANN recall@3: both approximate paths (hyperplane-LSH q29, IVF q37)
    * measured against the exact brute-force baseline (q28's method) on
    * the same query set — an ANN without a recall number is
    * untrustworthy at any scale. One row per method with hit counts
    * and recall = hits / |exact|, fully deterministic and
    * oracle-checkable (the oracle recomputes all three sides).
    */
  private[graft] def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
    val queries = base.filter(col("vec_id") < 50)
    // exact ground truth fans out to both method comparisons —
    // materialize once (150 id pairs)
    val exact = Similarity.bruteForceTopK(base, queries, "vec_id", 3)
      .select("query_id", "neighbor_id")
      .transform(snap)
    val lsh = Similarity.lshTopK(base, "vec_id", 3, 4)
      .filter(col("query_id") < 50)
      .select("query_id", "neighbor_id")
    val ivf = qIvfTopK(s, dir).select("query_id", "neighbor_id")
    def score(method: String, approx: DataFrame): DataFrame =
      exact
        .join(approx.withColumn("__hit", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .agg(
          countDistinct("query_id").as("n_queries"),
          count(lit(1)).as("n_exact"),
          sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
        .select(lit(method).as("method"), col("n_queries"), col("n_exact"),
          col("n_hits"),
          (col("n_hits").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    score("ivf", ivf).union(score("lsh", lsh)).orderBy("method")
  }

  /** Recall@3 of Hamming-1 multi-probe LSH ([[Similarity.lshTopKMultiProbe]])
    * vs the exact baseline — the measured answer to "what does
    * multi-probe buy over q29's single probe" (q51 records single-probe
    * recall on the same query set).
    */
  private[graft] def qLshMultiProbeRecall(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
    val queries = base.filter(col("vec_id") < 50)
    // single consumer — no checkpoint (materialization buys nothing)
    val exact = Similarity.bruteForceTopK(base, queries, "vec_id", 3)
      .select("query_id", "neighbor_id")
    val mp = Similarity.lshTopKMultiProbe(base, "vec_id", 3, 4)
      .filter(col("query_id") < 50)
      .select("query_id", "neighbor_id")
    exact
      .join(mp.withColumn("__hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(
        countDistinct("query_id").as("n_queries"),
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
      .select(lit("lsh_mp").as("method"), col("n_queries"), col("n_exact"),
        col("n_hits"),
        (col("n_hits").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** Recall@3 of nprobe=2 IVF vs the exact baseline — with q51's
    * nprobe=1 row (0.14), the measured cost/recall curve for IVF.
    */
  private[graft] def qIvfMultiProbeRecall(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
    val queries = base.filter(col("vec_id") < 50)
    // single consumer — no checkpoint (materialization buys nothing)
    val exact = Similarity.bruteForceTopK(base, queries, "vec_id", 3)
      .select("query_id", "neighbor_id")
    val ivf2 = ivfTopK(s, dir, 2).select("query_id", "neighbor_id")
    exact
      .join(ivf2.withColumn("__hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(
        countDistinct("query_id").as("n_queries"),
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
      .select(lit("ivf_np2").as("method"), col("n_queries"),
        col("n_exact"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** Rollup with grouping-id: revenue subtotals per (region, nation),
    * per region, and grand total — the grouping-sets surface, through
    * the SQL path (GROUP BY ROLLUP over temp views).
    */
  private[graft] def qRollup(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "orders", "customer", "nation", "region")
      .foreach(n => t(s, dir, n).createOrReplaceTempView(s"v38_$n"))
    s.sql("""
      SELECT COALESCE(r_name, 'ALL') AS region,
             COALESCE(n_name, 'ALL') AS nation,
             CAST(grouping_id(r_name, n_name) AS BIGINT) AS gid,
             COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
      FROM v38_lineitem JOIN v38_orders ON l_orderkey = o_orderkey
      JOIN v38_customer ON o_custkey = c_custkey
      JOIN v38_nation ON c_nationkey = n_nationkey
      JOIN v38_region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY gid, region, nation""")
  }

  // ---------------------------------------------------------------------
  // Profiling / curation surface
  // ---------------------------------------------------------------------

  /** Pivot: per-user event-type counts as columns (explicit value list —
    * deterministic schema, single-pass conditional aggregation).
    */
  private[graft] def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")

  /** Exact statistical moments per group: mean/variance/stddev derived
    * from DECIMAL-exact Σx and Σx² — order-independent (unlike
    * streaming variance algorithms, which differ per engine), one
    * map-side-partial aggregation pass.
    */
  private[graft] def qStatsMoments(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(money(col("l_quantity"))).cast("double").as("s1"),
        sum(money(col("l_quantity")) * money(col("l_quantity")))
          .cast("double").as("s2"))
      .select(col("l_returnflag"), col("n"),
        (col("s1") / col("n")).as("mean"),
        ((col("n").cast("double") * col("s2") - col("s1") * col("s1"))
          / (col("n").cast("double") * (col("n").cast("double") - lit(1.0d))))
          .as("var_samp"),
        sqrt((col("n").cast("double") * col("s2") - col("s1") * col("s1"))
          / (col("n").cast("double") * (col("n").cast("double") - lit(1.0d))))
          .as("stddev_samp"))
      .orderBy("l_returnflag")

  /** Exact money/quantity cast — shared with [[SparkEntry.money]]. */
  private[graft] def money(c: org.apache.spark.sql.Column) = SparkEntry.money(c)

  /** Fixed-width histogram of a value column — distribution profiling,
    * scan-local binning + one partial-aggregated count shuffle.
    */
  private[graft] def qHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("bin",
        expr("cast(floor(l_extendedprice / 5000.0d) as bigint)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("bin_lo", col("bin") * lit(5000.0d))
      .select("bin", "bin_lo", "n_rows")
      .orderBy("bin")

  /** The flagship curation composite: quality-filter → language-filter →
    * exact-dedup → per-source acceptance stats. Every stage is one of
    * the §2.11 operators; the composition stays a single declarative
    * plan (filters scan-local, one dedup shuffle, one count shuffle).
    */
  private[graft] def qCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    // scored fans out to three aggregations — materialize the narrow
    // scored projection once instead of re-running the text pipeline
    // (tokenize + 5 profile filters + md5) per consumer
    val scored = TextFns.withLanguageId(
        t(s, dir, "documents")
          .withColumn("toks", TextFns.tokens("text"))
          .withColumn("quality", TextFns.qualityScore("text", "toks")),
        "toks", "predicted")
      .withColumn("fingerprint", TextFns.fingerprint("text"))
      .select("doc_id", "source", "quality", "predicted", "fingerprint")
      .transform(snap)
    val kept = scored
      .filter(col("quality") >= 0.6 && col("predicted") === "en")
    val unique = graft.ops.Dedup.firstBy(kept, Seq("fingerprint"),
      Seq(col("doc_id").asc))
    scored.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(kept.groupBy("source").agg(count(lit(1)).as("n_kept")),
        Seq("source"), "left")
      .join(unique.groupBy("source").agg(count(lit(1)).as("n_unique")),
        Seq("source"), "left")
      .na.fill(0L, Seq("n_kept", "n_unique"))
      .orderBy("source")
  }

  /** Deterministic hash-based train/val/test split (80/10/10) keyed on
    * doc_id — the consistent-split primitive every training pipeline
    * needs: membership is a pure function of the key, stable across
    * runs, engines, and data arrivals (no RNG state).
    */
  private[graft] def qHashSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("bucket", expr(
        """cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)
          | as bigint) % 100""".stripMargin))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("split")

  /** Exact percentiles per group (type-7 linear interpolation — the
    * same definition in any engine; exact on integer-valued data with
    * quarter-point fractions). l_returnflag has THREE groups, so this
    * uses [[Percentiles.exactFewGroups]]: a range partition of the
    * (group, value) space keeps every core sorting, instead of the
    * window form whose parallelism equals the group count (3 spill-
    * sorts at 100 TB) — and never the `percentile()` aggregate, whose
    * buffer holds every group value and OOMs on a 100 TB group.
    */
  private[graft] def qPercentiles(s: SparkSession, dir: String): DataFrame =
    Percentiles.exactFewGroups(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_quantity", Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))
      .orderBy("l_returnflag")

  /** PII / identifier scrubbing for training export: names keyed by
    * md5 (joinable, irreversible-enough for a pipeline surface), digits
    * masked in place, redaction volume counted. Scan-local projection —
    * the [[TextFns.redactPii]] email/phone chain is the same mechanism
    * and is spec-exercised on synthetic PII (the corpus carries none).
    */
  private[graft] def qPiiScrub(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        md5(col("c_name").cast("binary")).as("name_hash"),
        TextFns.maskDigits(col("c_name")).as("masked_name"),
        (length(col("c_name")) -
          length(regexp_replace(col("c_name"), "[0-9]", "")))
          .cast("long").as("n_digits"))
      .orderBy("c_custkey")

  /** Benchmark-contamination check: corpus documents sharing 4-word
    * grams with the held-out eval slice (doc_id ≡ 0 mod 50) — the eval
    * gram index is broadcast, the corpus never shuffles its text
    * ([[Contamination.sharedGramCounts]]).
    */
  private[graft] def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Contamination.sharedGramCounts(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", 4)
      .orderBy("corpus_id", "eval_id")
  }

  /** Deterministic stratified sampling: per-language Bernoulli rates
    * decided by a salted md5 of doc_id ([[Sampling.stratifiedHashSample]]
    * — en 50%, zh 25%, rest 10%), reported per stratum against totals.
    */
  private[graft] def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sampled = Sampling.stratifiedHashSample(docs, "doc_id", "lang",
        Map("en" -> 5000, "zh" -> 2500), 1000, "smp")
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
    docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
      .join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_total"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("lang")
  }

  /** Gopher-family repetition filter: repeated-token ratio and
    * top-bigram share per document, thresholded into a keep flag (the
    * published pre-training heuristics, word-level since the corpus is
    * single-line). Entirely scan-local; `__bg` is referenced three
    * times so the bigram array is computed once per row.
    */
  private[graft] def qRepetitionFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("__toks", TextFns.tokens("text"))
      .withColumn("__bg", TextFns.wordBigrams("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tok"),
        TextFns.dupTokenRatio("__toks").as("dup_ratio"),
        TextFns.topGramShare("__bg").as("top_bigram_share"))
      .withColumn("keep",
        col("dup_ratio") < 0.6 && col("top_bigram_share") < 0.2)
      .orderBy("doc_id")

  /** Range sharding for training export: per-language quartile
    * boundaries from the distributed exact percentiles
    * ([[Percentiles.exact]]), broadcast back onto the corpus to assign
    * each document a size-balanced shard — the compute-boundaries-then-
    * bucket pattern a shard writer uses (deterministic, unlike Spark's
    * sampling range partitioner). Reported as per-(lang, shard) counts
    * and extents.
    */
  private[graft] def qRangeShard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bounds = Percentiles.exact(docs, Seq("lang"), "n_chars",
      Seq(("b1", 0.25), ("b2", 0.5), ("b3", 0.75)))
    val nc = col("n_chars").cast("double")
    docs.join(broadcast(bounds), "lang")
      .withColumn("shard",
        when(nc <= col("b1"), 0)
          .when(nc <= col("b2"), 1)
          .when(nc <= col("b3"), 2)
          .otherwise(3))
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").cast("long").as("min_chars"),
        max("n_chars").cast("long").as("max_chars"))
      .orderBy("lang", "shard")
  }

  /** Calendar-dimension generator (the ETL staple the reference builds
    * from data, `etl.py:124–140` — here generated declaratively):
    * one row per day of 2024 with derived fields.
    */
  private[graft] def qDateDim(s: SparkSession, dir: String): DataFrame =
    s.range(1)
      .select(explode(expr(
        "sequence(to_date('2024-01-01'), to_date('2024-12-31'), interval 1 day)"))
        .as("d"))
      .select(
        date_format(col("d"), "yyyy-MM-dd").as("date_str"),
        year(col("d")).cast("long").as("year"),
        quarter(col("d")).cast("long").as("quarter"),
        month(col("d")).cast("long").as("month"),
        dayofmonth(col("d")).cast("long").as("day"),
        weekofyear(col("d")).cast("long").as("week"),
        dayofweek(col("d")).cast("long").as("weekday"),
        when(dayofweek(col("d")).isin(1, 7), 1L).otherwise(0L)
          .as("is_weekend"))
      .orderBy("date_str")

  /** As-of join, window form: for every click, the user's most recent
    * signup at-or-before it. The scalable as-of shape — one shuffle on
    * the user key + a running `last(..., ignoreNulls)` — instead of a
    * range-join explosion.
    */
  private[graft] def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ms").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("signup_ms",
        last(when(col("event_type") === "signup", col("ms")), ignoreNulls = true)
          .over(w))
      .withColumn("signup_event",
        last(when(col("event_type") === "signup", col("event_id")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ms").as("click_ms"),
        col("signup_ms"), col("signup_event"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------------
  // Multimodal, streaming, sessionization
  // ---------------------------------------------------------------------

  /** Binary-payload decode plumbing (stubbed codec — see Multimodal). */
  private[graft] def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    Multimodal.decodeFeatures(Multimodal.asMedia(t(s, dir, "documents")))
      .toDF()
      .orderBy("doc_id")
  }

  /** Resize over binary payloads (stub codec: every-4th-byte
    * nearest-neighbor downsample) — all fields oracle-checked including
    * the checksum: the corpus text is single-byte characters, so DuckDB
    * can rebuild the exact strided byte string.
    */
  private[graft] def qResize(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    Multimodal.resizeStub(Multimodal.asMedia(t(s, dir, "documents")), 4)
      .toDF()
      .orderBy("doc_id")
  }

  /** Frame sampling over binary payloads: each document expands to
    * ceil(n_bytes/64) frame rows with per-frame checksums — the video
    * decode/frame-extract pipeline shape with a stub codec.
    */
  private[graft] def qFrameSample(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    Multimodal.sampleFrames(Multimodal.asMedia(t(s, dir, "documents")), 64)
      .toDF()
      // frame_checksum is md5 of a raw *byte* slice, which DuckDB 1.0
      // cannot reproduce (no blob slicing) — the oracle checks the
      // byte-exact fields; the checksum is spec-tested instead
      .select("doc_id", "frame_idx", "frame_len", "frame_sum")
      .orderBy("doc_id", "frame_idx")
  }

  /** JSON sink + declared-schema JSON scan roundtrip — the reference's
    * native format (SURVEY §2.1 S1/S2) on corpus data. The read-back
    * uses an explicit schema: inference would be a second full pass
    * over the input, unacceptable at scale.
    */
  private[graft] def qJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_json_" +
        s.sparkContext.applicationId)
    val ev = t(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
    ev.write.mode("overwrite").json(out)
    s.read.schema(ev.schema).json(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .orderBy("event_type")
  }

  /** Bucketed co-located join: both sides written bucketed on the join
    * key, so the sort-merge join needs NO exchange — the shape that
    * amortizes one shuffle across every future join on that key (the
    * 100 TB answer to repeated fact⋈fact joins). The per-bucket sort is
    * still planned (Spark ignores bucketed sortBy output ordering by
    * default since 3.0 — `spark.sql.legacy.bucketedTableScan
    * .outputOrdering`); only the exchange elimination is claimed, and
    * PlanSpec asserts it against the executed plan, with an unbucketed
    * control join shown to shuffle.
    */
  private[graft] def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val uid = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
    val oT = s"graft_bkt_o_$uid"
    val liT = s"graft_bkt_li_$uid"
    t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(oT)
    t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(liT)
    val bo = s.table(oT)
    val bli = s.table(liT)
    bli.hint("merge").join(bo, bli("l_orderkey") === bo("o_orderkey"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
          .as("sum_qty"))
      .orderBy("o_custkey")
  }

  /** Structured Streaming: watermarked tumbling-window counts, run to
    * completion (append mode ⇒ only watermark-closed windows emit).
    */
  private[graft] def qStreamWindow(s: SparkSession, dir: String): DataFrame =
    EventStream.windowedCounts(s, s"$dir/events.parquet")

  /** Gap-based sessionization of events (30-minute timeout). Ordering is
    * on millisecond-truncated time + event_id so any engine computing at
    * ms precision agrees.
    */
  private[graft] def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("ts_ms", timestamp_millis(unix_millis(col("ts"))))
    Sessionize.sessionSummary(ev, "user_id", "ts_ms", "event_id",
        30L * 60 * 1000)
      .orderBy("user_id", "session_idx")
  }

  /** CSV source/sink roundtrip — the remaining text-format source: write
    * orders as headered CSV, read back under the DECLARED schema (no
    * inference at scale — one pass, no sampling job), aggregate. Doubles
    * survive the trip exactly (Java's shortest-roundtrip toString both
    * directions), so the oracle can aggregate the parquet directly.
    */
  private[graft] def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_csv_" +
        s.sparkContext.applicationId)
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    o.write.mode("overwrite").option("header", "true").csv(out)
    s.read.schema(o.schema).option("header", "true").csv(out)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy("o_orderpriority")
  }

  /** ORC source/sink roundtrip — the remaining columnar format (built
    * into Spark, same pushdown/pruning machinery as parquet): write a
    * lineitem projection as ORC, read back, aggregate per flag/status.
    */
  private[graft] def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_orc_" +
        s.sparkContext.applicationId)
    val li = t(s, dir, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
    li.write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items"),
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(money(col("l_extendedprice"))).cast("double").as("sum_price"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Avro source/sink roundtrip ([[graft.sources.AvroIo]]) — the
    * remaining big-data format beside parquet/JSON/CSV/ORC/binary:
    * write customer (long/string/int/double fields, every Avro branch
    * the corpus needs) as real Avro object container files, read back
    * under the declared schema, aggregate. Ints, longs and IEEE
    * doubles are exact across the binary encoding, so the oracle
    * aggregates the parquet directly — green proves the container
    * roundtrip is lossless.
    */
  private[graft] def qAvroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_avro_" +
        s.sparkContext.applicationId)
    val c = t(s, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    graft.sources.AvroIo.write(c, out)
    graft.sources.AvroIo.read(s, out, c.schema)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_custs"),
        countDistinct(col("c_nationkey")).as("n_nations"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("total_acctbal"))
      .orderBy("c_mktsegment")
  }

  /** Exact n-gram Jaccard near-dup pairs (the exact member of the dedup
    * family, alongside MinHash-approximate q25): trigram inverted index
    * with a df ≤ 100 stop-gram cap, Jaccard ≥ 0.5
    * ([[NearDup.ngramJaccardPairs]]).
    */
  private[graft] def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    NearDup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDf = 100L)
      .orderBy("id_a", "id_b")

  /** Corpus-wide heavy hitters: top-20 word bigrams by total occurrence
    * count (the vocabulary/boilerplate profiling primitive). Map-side
    * partial aggregation absorbs the per-partition repetition before the
    * single gram shuffle; top-k via TakeOrderedAndProject, never a full
    * sort. Deterministic total order: count desc, gram asc.
    */
  private[graft] def qTopBigrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("__toks", TextFns.tokens("text"))
      .select(explode(TextFns.wordBigrams("__toks")).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(20)

  /** lag/lead/ntile window surface: per-user inter-event gaps, next
    * event id, and event-count quartile. Partitioned by user — the
    * window parallelizes across users; ordering is (ts_ms, event_id) so
    * ties are deterministic in any engine.
    */
  private[graft] def qEventLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("prev_gap_ms", col("ts_ms") - lag("ts_ms", 1).over(w))
      .withColumn("next_event_id", lead("event_id", 1).over(w))
      .withColumn("qtile", ntile(4).over(w))
      .select("user_id", "event_id", "prev_gap_ms", "next_event_id", "qtile")
      .orderBy("user_id", "event_id")
  }

  /** Incremental dedup: a new document batch against an already-ingested
    * corpus snapshot — the production shape of exact dedup (every
    * ingest run dedups against history, not just itself). Anti-join on
    * the md5 fingerprint (32 bytes shuffle-side, never text), then
    * first-per-fingerprint (min doc_id) within the batch. At 100 TB the
    * seen-set side is a hash-partitioned fingerprint table the ingest
    * job shuffle-anti-joins against; Spark's runtime bloom filter prunes
    * most probes before the exchange.
    */
  private[graft] def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("fingerprint"))
    val seen = docs.filter(col("doc_id") % 10 === 0)
    val incoming = docs.filter(col("doc_id") % 10 =!= 0)
    incoming
      .join(seen.select("fingerprint"), Seq("fingerprint"), "left_anti")
      .groupBy("fingerprint")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")
  }

  /** BPE-style token counting: letter runs, digit runs, punctuation runs
    * (a lookaround-free pre-tokenization class — the GPT-2 pattern's
    * portable core), against the whitespace count. The tokenizer-budget
    * profiling primitive: scan-local regexp, no UDF, no shuffle beyond
    * the final sort.
    */
  private[graft] def qBpeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(expr(
          "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+', 0)"))
          .cast("long").as("n_bpe_tokens"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"))
      .withColumn("bpe_per_ws",
        col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double"))
      .orderBy("doc_id")

  /** Parquet schema evolution: two writer generations with different
    * columns, read back as ONE table via `mergeSchema` — the source
    * surface a years-long 100 TB corpus actually has (schemas drift;
    * re-writing history is not an option). Missing columns null-fill;
    * the aggregate proves both generations contribute.
    */
  private[graft] def qSchemaMerge(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_merge_" +
        s.sparkContext.applicationId)
    val docs = t(s, dir, "documents")
    docs.select("doc_id", "lang").write.mode("overwrite")
      .parquet(s"$out/gen1")
    docs.select("doc_id", "n_chars").write.mode("overwrite")
      .parquet(s"$out/gen2")
    s.read.option("mergeSchema", "true").parquet(s"$out/gen1", s"$out/gen2")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_rows"),
        count(col("n_chars")).as("n_with_chars"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang").asc_nulls_first)
  }

  /** Batch interval join through the bin-bucketed equi-join
    * ([[graft.ops.IntervalJoin.within]]) — same click→purchase
    * attribution semantics as streaming q57, proving the batch and
    * streaming paths agree (they share the oracle).
    */
  private[graft] def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("ms", unix_millis(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ms").as("c_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ms").as("p_ms"))
    graft.ops.IntervalJoin.within(clicks, purchases, "user_id",
        "c_ms", "p_ms", 600000L)
      .select(col("click_id"), col("purchase_id"),
        (col("p_ms") - col("c_ms")).as("lag_ms"))
      .orderBy("click_id", "purchase_id")
  }

  /** Duplicate-cluster resolution: q64's exact-Jaccard pairs →
    * connected components → (doc, representative, cluster size) — the
    * step that makes near-dup detection actionable (keep min-id per
    * component, drop the rest). [[DedupClusters.clusters]].
    */
  private[graft] def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = NearDup.ngramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 3, minJaccard = 0.5, maxDf = 100L)
      .select("id_a", "id_b")
    DedupClusters.clusters(pairs, "id_a", "id_b")
      .orderBy("doc_id")
  }

  /** Context-window chunking: overlapping 32-token windows at stride 24
    * (training-sequence slicing). Entirely scan-local — one explode of
    * the start positions per document, no shuffle before the final
    * sort; chunk text travels as an md5 only.
    */
  private[graft] def qChunking(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("__toks", TextFns.tokens("text"))
      .select(col("doc_id"),
        explode(expr("sequence(1, size(__toks), 24)")).as("__start"),
        col("__toks"))
      .select(col("doc_id"),
        ((col("__start") - 1) / 24).cast("long").as("chunk_idx"),
        expr("array_join(slice(__toks, __start, 32), ' ')").as("__chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(split(col("__chunk"), " ")).cast("long").as("n_chunk_tokens"),
        md5(col("__chunk")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")

  /** Sequence packing: documents assigned (whole, in doc_id order) to
    * 2048-token training bins by their exact global token offset —
    * computed with the distributed prefix sum ([[graft.ops.Packing]]),
    * NOT a single-task `SUM() OVER (ORDER BY …)` window.
    */
  private[graft] def qSeqPacking(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.ops.Packing.withRunningSum(docs, "__cum", "n_tokens", col("doc_id"))
      // integer `div`, not a double floor: offsets are non-negative so
      // div == floor, and it stays exact past 2^53 cumulative tokens
      .withColumn("bin_id", expr("(__cum - n_tokens) div 2048"))
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("bin_id")
  }

  /** CUBE grouping sets (completes the grouping surface next to q38's
    * ROLLUP): all four (returnflag × linestatus) subtotal combinations
    * in one partial-aggregated pass — Spark expands the grouping sets
    * before the exchange, so it stays a single shuffle.
    */
  private[graft] def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("bigint").as("gid"),
        count(lit(1)).as("n_items"),
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("n_items"), col("sum_qty"))
      .orderBy("gid", "returnflag", "linestatus")

  /** Distribution window functions (percent_rank / cume_dist /
    * first_value / last_value) per user over event time — the remaining
    * §2.5 window members. Per-user partitions parallelize; the
    * (ts_ms, event_id) total order makes every value deterministic.
    */
  private[graft] def qWindowDist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    val wFull = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("first_event", first("event_id").over(wFull))
      .withColumn("last_event", last("event_id").over(wFull))
      .select("user_id", "event_id", "pr", "cd", "first_event", "last_event")
      .orderBy("user_id", "event_id")
  }

  /** Int8 embedding quantization with measured reconstruction error
    * ([[Similarity.int8QuantStats]]): per-vector cosine between the
    * exact and the int8-reconstructed vector, plus the max absolute
    * element error — the compression-trust measurement.
    */
  private[graft] def qInt8Quant(s: SparkSession, dir: String): DataFrame =
    Similarity.int8QuantStats(t(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy("vec_id")

  /** Snapshot upsert (MERGE-by-key in vanilla Spark): a base snapshot
    * unioned with an update batch carrying a NEW column
    * (`unionByName(allowMissingColumns)` null-fills history), then
    * latest-version-per-key ([[Dedup.firstBy]]) — one key shuffle, the
    * standard no-table-format merge.
    */
  private[graft] def qUpsert(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val base = cust.select(col("c_custkey"), col("c_name"),
      lit(1L).as("version"))
    val updates = cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), upper(col("c_name")).as("c_name"),
        lit(2L).as("version"), lit("reprocessed").as("update_note"))
    graft.ops.Dedup.firstBy(
        base.unionByName(updates, allowMissingColumns = true),
        Seq("c_custkey"), Seq(col("version").desc))
      .orderBy("c_custkey")
  }

  /** Data-quality gate with in-flight metrics ([[graft.ops.QualityGate]]):
    * observe counters ride the single corpus pass, thresholds checked on
    * the driver, metrics returned as the gate report.
    */
  private[graft] def qQualityGate(s: SparkSession, dir: String): DataFrame =
    graft.ops.QualityGate.textCorpusGate(
      t(s, dir, "documents"), "text", "n_chars")

  /** One-pass multi-column numeric profiler: count/min/max/sum for four
    * lineitem measures in a SINGLE aggregation (16 partial aggregates,
    * one scan, one reduce), pivoted to a row per column with `stack`.
    * The `describe()` equivalent with oracle-exact numbers (DECIMAL
    * sums, no double accumulation-order dependence).
    */
  private[graft] def qProfiler(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__n_$c"),
        min(col(c)).as(s"__min_$c"),
        max(col(c)).as(s"__max_$c"),
        sum(money(col(c))).cast("double").as(s"__sum_$c"))
    }
    val stackArgs = cols.map(c =>
      s"'$c', __n_$c, __min_$c, __max_$c, __sum_$c").mkString(", ")
    li.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.length}, $stackArgs) AS " +
        "(column_name, n_nonnull, min_v, max_v, sum_v)")
      .orderBy("column_name")
  }

  /** Behavioral transition mining: per-user event-type sequences
    * (ordered `collect_list` via `sort_array` on a (ms, event_id, type)
    * struct — deterministic total order), then corpus-wide top-20
    * transition bigrams. Per-user buffering is bounded by per-user
    * event count (session-scale, not corpus-scale); the transition
    * count is partial-aggregated and top-k is TakeOrderedAndProject.
    */
  private[graft] def qEventTransitions(s: SparkSession, dir: String): DataFrame = {
    val seqs = t(s, dir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("ms"), col("event_id"), col("event_type")))).as("__ev"))
      .select(col("user_id"),
        expr("transform(__ev, e -> e.event_type)").as("__seq"))
    seqs.select(explode(TextFns.wordBigrams("__seq")).as("transition"))
      .groupBy("transition")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("transition").asc)
      .limit(20)
  }

  /** Distinctive-term extraction (tf-idf family): per-document top-3
    * terms by tf × (N+1)/(df+1). The weight is deliberately
    * transcendental-free — a log-idf would hinge on libm rounding,
    * this rational form is IEEE-exact in any engine (one add, one
    * divide, one multiply, same shapes as the oracle).
    *
    * Scale shape: tf is one (doc, term)-key partial-aggregated shuffle;
    * df is one term-key partial-aggregated shuffle over per-doc
    * DISTINCT terms (tf rows, not token occurrences); the df join key
    * is the term; the top-3 window partitions by doc — all parallel,
    * nothing corpus-quadratic. Terms could travel as hashes at 100 TB;
    * kept as strings here because the term IS the output.
    */
  private[graft] def qTfIdf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(TextFns.tokens("text")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("score",
        col("tf").cast("double") *
          ((lit(n).cast("double") + lit(1.0d)) /
            (col("df").cast("double") + lit(1.0d))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "term", "tf", "df", "score")
      .orderBy("doc_id", "rk")
  }

  /** `binaryFile` source — the multimodal ingestion path (image/audio
    * blobs arrive as files, not rows): write each document as a blob
    * file, read the directory back as (path, length, content) rows,
    * and profile. Aggregate output only — paths and mtimes are
    * machine-local, content checksums and sizes are not.
    *
    * Executor tasks write through the Hadoop `FileSystem` for the
    * output path's scheme, so on a real cluster the same code works
    * against any shared store (hdfs:/s3a:); here the path is the local
    * tmpdir, which local mode's shared driver/executor filesystem makes
    * visible to the read-back.
    */
  private[graft] def qBinarySource(s: SparkSession, dir: String): DataFrame = {
    // keyed by session AND source dir: Bench warms up on sf0.001 then
    // times sf0.1 in one session — a dir-agnostic key would serve the
    // warmup's 500 blobs to the 5000-doc trials
    val srcKey = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val out = Scratch.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_blobs_" +
        s"${s.sparkContext.applicationId}_$srcKey")
    // The blob directory is the query's INPUT (binaryFile ingestion of
    // an arrival directory); in production it preexists. Stage it once
    // per session, idempotently: the driver drops a marker only after
    // the write job completes, so a crashed partial stage restages.
    // (Deterministic content — doc_id-named files of the fixture text —
    // makes the overwrite-on-restage safe.)
    val base = new org.apache.hadoop.fs.Path(out)
    val driverFs = base.getFileSystem(s.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(base, "_STAGED")
    if (!driverFs.exists(marker)) {
      // the session's Hadoop conf, so tasks get its `fs.file.impl`
      val props = graft.sources.AvroIo.confProps(s.sessionState.newHadoopConf())
      t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("name"),
          col("text").cast("binary").as("payload"))
        .repartition(8)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val b = new org.apache.hadoop.fs.Path(out)
          val conf = graft.sources.AvroIo.rebuild(props)
          // a PRIVATE FileSystem instance: FileSystem.get/getFileSystem
          // return the process-cached one, and disabling checksums there
          // would leak to every other Hadoop-FS user in the JVM. Blobs
          // carry their own content checksums downstream (md5 over
          // `content`), so the .crc shadow files are pure write overhead.
          val fs = org.apache.hadoop.fs.FileSystem
            .newInstance(b.toUri, conf)
          try {
            fs.setWriteChecksum(false)
            fs.mkdirs(b)
            it.foreach { r =>
              val os = fs.create(
                new org.apache.hadoop.fs.Path(b, r.getString(0) + ".bin"),
                true)
              try os.write(r.getAs[Array[Byte]](1)) finally os.close()
            }
          } finally fs.close()
        }
      driverFs.create(marker, true).close()
    }
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
      .load(out)
      .select(md5(col("content")).as("checksum"), col("length"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("length")).as("total_bytes"),
        count_distinct(col("checksum")).as("n_distinct"))
  }

  /** Gap sessionization through Spark's BUILT-IN `session_window`
    * (the native operator form of q32's manual construction): per-user
    * 30-minute-gap sessions, reported as (user, start, n_events,
    * last_event_ms). The built-in merges windows at the aggregation —
    * same single user-key shuffle as the manual window form.
    */
  private[graft] def qSessionWindowBuiltin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("ts_ms", timestamp_millis(unix_millis(col("ts"))))
      .groupBy(col("user_id"),
        session_window(col("ts_ms"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_millis(col("ts_ms"))).as("last_event_ms"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("session_start_ms"),
        col("n_events"), col("last_event_ms"))
      .orderBy("user_id", "session_start_ms")

  /** Z-order layout ([[graft.ops.ZOrder]]): lineitem quantized to
    * 16-bit (quantity, price/2) coordinates, Morton-interleaved, top-4
    * z-bits as the shard. The per-shard min/max of BOTH dimensions is
    * the point: every shard is a tight box in the 2-D space, so file
    * statistics prune scans on either column's predicate.
    */
  private[graft] def qZOrder(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_quantity").cast("bigint").as("qx"),
        floor(col("l_extendedprice") / lit(2.0d)).cast("bigint").as("qy"))
      .withColumn("z", graft.ops.ZOrder.zValue("qx", "qy", 16))
    li.withColumn("shard", expr("z >> 28L"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        min("qx").as("min_qty"), max("qx").as("max_qty"),
        min("qy").as("min_price2"), max("qy").as("max_price2"))
      .orderBy("shard")
  }

  /** Source-mix rebalancing ([[graft.ops.Mixing.balanceToMin]]): every
    * source thinned toward the smallest source's size with data-derived
    * integer thresholds — the pre-training "no source dominates" step.
    * Reported per source: population, threshold, kept count.
    */
  private[graft] def qSourceMix(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // one stats pass serves both the filter and the report — pinned,
    // since two plan subtrees referencing it would each recompute the
    // aggregation (no common-subplan reuse across join sides)
    val thr = Mixing.thresholds(docs, "source").transform(snap)
    val kept = Mixing.balanceWith(docs, "doc_id", "source", "mix", thr)
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    thr.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_total"), col("thr_bp"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** Token-budget selection ([[graft.ops.Selection.underTokenBudget]]):
    * the top-quality prefix of the corpus holding the first 20k tokens
    * — quality ordered (desc, doc_id tiebreak), cumulative tokens via
    * the distributed prefix sum, budget test scan-local. The greedy
    * fill admits the straddling document, like a final packing bin.
    */
  private[graft] def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("__toks", TextFns.tokens("text"))
      .select(col("doc_id"), col("lang"),
        size(col("__toks")).cast("long").as("n_tok"),
        TextFns.qualityScore("text", "__toks").as("quality"))
    Selection.underTokenBudget(docs, "n_tok", 20000L,
        col("quality").desc, col("doc_id").asc)
      .select(col("doc_id"), col("lang"), col("n_tok"), col("quality"),
        col("cum_tok"))
      .orderBy(col("cum_tok"))
  }

  /** Deterministic k-means ([[graft.ops.KMeans]]): 8 clusters, 2 Lloyd
    * rounds over the quantized embeddings, reported as per-cluster
    * population and exact integer inertia. Assignment is scan-local
    * (centroids are plan literals); each update is one (cluster, dim)
    * aggregate — the vectors themselves never shuffle.
    */
  private[graft] def qKMeans(s: SparkSession, dir: String): DataFrame =
    KMeans.fit(Similarity.prepare(t(s, dir, "embeddings"), "embedding"),
        "vec_id", 8, 2)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), sum("dist").as("inertia"))
      .orderBy("cluster")

  /** SCD Type 2 dimension build ([[graft.ops.Scd.type2]]): each user's
    * event_type stream collapsed to attribute runs with half-open
    * validity intervals — history-preserving, the complement of q77's
    * latest-only upsert. Windows partition by user: dimension-key
    * parallelism, no fact-scale state.
    */
  private[graft] def qScd2(s: SparkSession, dir: String): DataFrame =
    Scd.type2(
        t(s, dir, "events").withColumn("ms", unix_millis(col("ts"))),
        "user_id", "event_type", "ms", "event_id")
      .select(col("user_id"), col("event_type"),
        col("valid_from").as("valid_from_ms"),
        col("valid_to").as("valid_to_ms"), col("is_current"))
      .orderBy("user_id", "valid_from_ms")

  /** Sliding time-RANGE window aggregate: per event, the count and
    * DECIMAL-exact value sum of the same user's events in the trailing
    * hour (frame = all peers with ms in [cur−3600000, cur] — a true
    * range frame, not N rows). Per-user partitions parallelize; frame
    * state is the in-window slice, bounded by event rate × 1 h.
    */
  private[graft] def qRangeWindow(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ms"), col("value"))
    val w = Window.partitionBy("user_id").orderBy(col("ms"))
      .rangeBetween(-3600000L, 0L)
    e.select(col("event_id"), col("user_id"), col("ms"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("double").as("sum_1h"))
      .orderBy("event_id")
  }

  /** Exact-k deterministic stratified sample
    * ([[graft.ops.Sampling.exactKPerStratum]]): exactly 10 docs per
    * language, chosen by full-width hash rank — the exact-count
    * counterpart of q54's rate-based sampler.
    */
  private[graft] def qExactKSample(s: SparkSession, dir: String): DataFrame =
    Sampling.exactKPerStratum(t(s, dir, "documents"), "doc_id", "lang",
        10, "smp")
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy("lang", "rk")

  /** Table reconciliation ([[graft.ops.TableDiff.diff]]): documents vs
    * a deterministically perturbed second snapshot (every 97th doc's
    * text changed) — the diff localizes exactly the buckets holding
    * perturbed keys, from two scans and a 64-row compare.
    */
  private[graft] def qTableDiff(s: SparkSession, dir: String): DataFrame = {
    // TableDiff's checksum contract: nullable columns must be coalesced
    // by the caller (concat_ws skips nulls, so a null could alias
    // against a shifted neighbor and mask a real mutation). chr(1) is
    // the sentinel on both this side and the q92 oracle, and the guard
    // is applied AFTER the mutation on both sides — guarding first
    // would turn a NULL row's mutation into a real diff here while the
    // oracle's NULL || 'X' stays NULL and reports none.
    def guarded(df: DataFrame) = Seq("text", "lang", "source")
      .foldLeft(df)((d, c) => d.withColumn(c,
        coalesce(col(c), lit("\u0001"))))
    val docs = t(s, dir, "documents")
    val snapB = docs.withColumn("text",
      when(col("doc_id") % 97 === 0, concat(col("text"), lit("X")))
        .otherwise(col("text")))
    TableDiff.diff(guarded(docs), guarded(snapB), "doc_id",
        Seq("text", "lang", "source", "n_chars"), 64)
      .orderBy("bucket")
  }

  /** Percentile winsorization: clip l_quantity to each flag's
    * [p05, p95] (boundaries from the distributed exact percentiles —
    * q47's machinery) and report clip volumes + the clipped mean. Two
    * passes: a 3-row boundary table broadcast back onto the scan, the
    * clip itself scan-local, DECIMAL-exact mean.
    */
  private[graft] def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val bounds = Percentiles.exactFewGroups(li, Seq("l_returnflag"),
      "l_quantity", Seq(("p05", 0.05), ("p95", 0.95)))
    li.select(col("l_returnflag"), col("l_quantity"))
      .join(broadcast(bounds), Seq("l_returnflag"))
      .withColumn("__w",
        least(greatest(col("l_quantity"), col("p05")), col("p95")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        min("p05").as("p05"), min("p95").as("p95"),
        sum((col("l_quantity") < col("p05")).cast("long")).as("n_clip_lo"),
        sum((col("l_quantity") > col("p95")).cast("long")).as("n_clip_hi"),
        (sum(col("__w").cast("decimal(12,2)")).cast("double") /
          count(lit(1)).cast("double")).as("mean_w"))
      .orderBy("l_returnflag")
  }

  /** Per-group z-score standardization: events.value against its
    * event_type's DECIMAL-exact mean and sample stddev (q43's moment
    * formulas), the stats broadcast back — normalization is scan-local,
    * the shape feature scaling takes at any size.
    */
  private[graft] def qZScore(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val stats = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("s1"),
        sum(dec(col("value")) * dec(col("value"))).cast("double").as("s2"))
      .select(col("event_type"), col("n"),
        (col("s1") / col("n")).as("mean"),
        sqrt((col("n").cast("double") * col("s2") - col("s1") * col("s1"))
          / (col("n").cast("double") * (col("n").cast("double") - lit(1.0d))))
          .as("sd"))
      // degenerate strata (n=1 -> 0/0; all-equal -> sd=0) have no
      // z-scale, and 0-division diverges cross-engine (Spark NULL,
      // DuckDB ±inf) — excluded on BOTH sides
      .filter(col("n") > 1 && col("sd") > 0)
      .drop("n")
    e.join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("value") - col("mean")) / col("sd")).as("z"))
      .orderBy("event_id")
  }

  /** Typed-cogroup as-of attribution ([[graft.ops.Cogrouped]]): q49's
    * semantics through `KeyValueGroupedDataset.cogroup` — the typed
    * two-input escape hatch, verified against the SAME oracle as the
    * window form.
    */
  private[graft] def qCogroupAsof(s: SparkSession, dir: String): DataFrame =
    Cogrouped.clickSignupAsof(
        t(s, dir, "events").withColumn("ms", unix_millis(col("ts"))), s)
      .orderBy("event_id")

  /** Latest-per-key via PURE AGGREGATION: `max(struct(ts, id, attrs))`
    * partial-aggregates map-side (each task keeps one struct per key —
    * no per-group sort, no window, no row buffering), the scale idiom
    * for "latest record" that q03's sort-based dedup form can't match
    * at skewed key volumes. Lexicographic struct order IS the
    * deterministic tiebreak ((ms, event_id) is unique).
    */
  private[graft] def qArgMax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("ms"), col("event_id"), col("event_type")))
          .as("__m"))
      .select(col("user_id"), col("n_events"),
        col("__m.ms").as("last_ms"), col("__m.event_id").as("last_event"),
        col("__m.event_type").as("last_type"))
      .orderBy("user_id")

  /** Semantic dedup, SemDeDup-style: k-means clusters as the blocking
    * key, exact cosine only WITHIN clusters — near-identical embeddings
    * land in the same cluster, so the candidate set is n²/k instead of
    * n², and each pair costs one codegen'd integer dot. Pairs at
    * sim ≥ 0.3 with the cluster that produced them.
    */
  private[graft] def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    // fan-out: both self-join sides consume the assignment — pin it so
    // the k codegen'd dots per row run once, not once per side
    val a = KMeans.fitFull(
        Similarity.prepare(t(s, dir, "embeddings"), "embedding"),
        "vec_id", 8, 2)
      .filter(col("qn") > 0)
      .transform(snap)
    val l = a.select(col("vec_id").as("id_a"), col("cluster"),
      col("qv").as("__qva"), col("qn").as("__qna"))
    val r = a.select(col("vec_id").as("id_b"), col("cluster"),
      col("qv").as("__qvb"), col("qn").as("__qnb"))
    l.join(r, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("__qva"), col("__qvb"),
        col("__qna"), col("__qnb")))
      .filter(col("sim") >= 0.3)
      .select(col("id_a"), col("id_b"), col("cluster"), col("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Cross-corpus semantic dedup — the incremental mirror of q97 (what
    * q99 is to q25): the incoming batch (vec_id ≡ 0 mod 3) is deduped
    * AGAINST the existing corpus by assigning it to the corpus's
    * EXISTING k-means cells (centroids as plan literals — scan-local,
    * no re-clustering, [[KMeans.assignTo]]) and comparing exact cosine
    * only batch-vs-history within a cell. Per-batch cost is the batch
    * assignment plus the in-cell join — independent of history size
    * beyond the one-off cell model (here rebuilt because the sandbox
    * stores no state; in production the centroids and history
    * assignments are the stored artifact).
    */
  private[graft] def qCrossSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val all = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
    // fitCentroids pins its own projection for the Lloyd rounds; the
    // history assignment leg re-derives from the scan (one scan-local
    // projection) rather than holding a second cached copy
    val hist = all.filter(col("vec_id") % 3 =!= 0)
    val cs = KMeans.fitCentroids(hist, "vec_id", 8, 2)
    val h = KMeans.assignTo(hist, "vec_id", cs)
      .filter(col("qn") > 0)
      .select(col("vec_id").as("hist_id"), col("cluster"),
        col("qv").as("__qvb"), col("qn").as("__qnb"))
    val b = KMeans.assignTo(all.filter(col("vec_id") % 3 === 0), "vec_id", cs)
      .filter(col("qn") > 0)
      .select(col("vec_id").as("new_id"), col("cluster"),
        col("qv").as("__qva"), col("qn").as("__qna"))
    b.join(h, Seq("cluster"))
      .withColumn("sim", Similarity.cosine(col("__qva"), col("__qvb"),
        col("__qna"), col("__qnb")))
      .filter(col("sim") >= 0.3)
      .select(col("new_id"), col("hist_id"), col("cluster"), col("sim"))
      .orderBy("new_id", "hist_id")
  }

  /** Training-shard export manifest: the corpus in curriculum order
    * (quality desc — q86's ordering) cut into fixed-size 64-doc shards
    * via the scalable dense id (E36 — no single-task window), each
    * shard summarized as the manifest a downstream loader checks:
    * doc count, token total, content checksum ([[TableDiff]]'s
    * order-independent sum, folded to 40 bits). Shard boundaries and
    * checksums are all engine-reproducible — the export can be
    * re-validated anywhere.
    */
  private[graft] def qShardManifest(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents")
      .withColumn("__toks", TextFns.tokens("text"))
      .select(col("doc_id"), col("text"),
        size(col("__toks")).cast("long").as("n_tok"),
        TextFns.qualityScore("text", "__toks").as("quality"))
    DenseId.withDenseId(scored, "rk", col("quality").desc, col("doc_id"))
      .withColumn("shard", expr("(rk - 1) div 64"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        (sum(TableDiff.rowChecksum("doc_id", Seq("text"))
            .cast("decimal(38,0)")) % lit(1099511627776L))
          .cast("bigint").as("checksum"))
      .orderBy("shard")
  }

  /** Cross-corpus incremental near-dup
    * ([[graft.ops.NearDup.crossCandidatePairs]]): the incoming batch
    * (doc_id ≡ 0 mod 3) deduped AGAINST the existing corpus — band
    * join instead of band self-join, so per-batch cost is independent
    * of corpus size; candidates scored by the O(k) signature estimator
    * (the at-scale verification path).
    */
  private[graft] def qCrossDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .transform(graft.ops.Widen.byDocId)
      .withColumn("shingles", TextFns.shingles("text", 5))
      .select("doc_id", "shingles")
      .transform(snap)
    val sigs = NearDup.minHashSigs(docs, "doc_id", "shingles", 32, "sig")
      .transform(snap)
    val bands = NearDup.bandRows(sigs, "doc_id", "sig", 4, 8, 32)
    NearDup.crossCandidatePairs(
        bands.filter(col("doc_id") % 3 === 0),
        bands.filter(col("doc_id") % 3 =!= 0), "doc_id")
      .join(sigs.select(col("doc_id").as("new_id"), col("sig").as("__sa")),
        "new_id")
      .join(sigs.select(col("doc_id").as("hist_id"), col("sig").as("__sb")),
        "hist_id")
      .withColumn("est_jaccard",
        expr(NearDup.estimatedJaccardExpr("__sa", "__sb", 32)))
      .filter(col("est_jaccard") >= 0.5)
      .select("new_id", "hist_id", "est_jaccard")
      .orderBy("new_id", "hist_id")
  }

  /** Paragraph-level exact dedup ([[graft.ops.ParagraphDedup]]):
    * repeated 20-token boilerplate segments removed
    * first-occurrence-wins across the corpus — the sub-document
    * granularity q24/q25/q64/q97 cannot reach. Output per doc:
    * paragraph counts and the md5 of the document rebuilt from its
    * surviving paragraphs.
    */
  private[graft] def qParagraphDedup(s: SparkSession, dir: String): DataFrame =
    ParagraphDedup.dedupSummary(t(s, dir, "documents"), "doc_id", "text", 20)
      .orderBy("doc_id")

  /** HLL cardinality profile ([[graft.ops.Cardinality]]): per-column
    * exact vs sketch distinct counts over the curation-relevant key
    * columns. The oracle-checked surface carries the exact counts plus
    * the MEASURED claim that the HLL++ estimate landed within 3×rsd
    * (the estimate itself is engine-specific, so the gate verifies the
    * bound rather than the estimate); CardinalitySpec asserts the
    * tighter measured error.
    */
  private[graft] def qHllCardinality(s: SparkSession, dir: String): DataFrame =
    Cardinality.profile(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source"), 0.05, "documents")
      .union(Cardinality.profile(t(s, dir, "events"),
        Seq("user_id", "event_type"), 0.05, "events"))
      .select(col("column_name"), col("n_rows"), col("exact_distinct"),
        (col("rel_error") <= 0.15).as("within_15pct"))
      .orderBy("column_name")

  /** Approx-percentile sketch with a MEASURED rank-error bound — the
    * quantile sibling of q102's HLL (together they close the sketch
    * surface): at 100 TB the exact per-group percentile (q47's 3-pass
    * machinery) is the expensive baseline and the GK sketch
    * (`percentile_approx`, one pass, bounded state) is the production
    * path. The gate carries the exact values plus the verified claim
    * that each sketch value's TRUE rank lands within ε = 1/accuracy of
    * the target quantile — the two-sided tie-aware form: at least
    * (p−ε)·n values ≤ v and fewer than (p+ε)·n values < v.
    */
  private[graft] def qApproxPercentile(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity"))
    val eps = 0.01 // GK guarantee: rank error <= n / accuracy
    val approx = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_quantity"),
        array(lit(0.5), lit(0.95)), lit(100)).as("__ap"))
      .select(col("l_returnflag"),
        col("__ap")(0).as("__a50"), col("__ap")(1).as("__a95"))
    val ranks = li.join(broadcast(approx), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("__n"),
        sum((col("l_quantity") <= col("__a50")).cast("long")).as("__le50"),
        sum((col("l_quantity") < col("__a50")).cast("long")).as("__lt50"),
        sum((col("l_quantity") <= col("__a95")).cast("long")).as("__le95"),
        sum((col("l_quantity") < col("__a95")).cast("long")).as("__lt95"))
    def ok(le: String, lt: String, p: Double) =
      (col(le).cast("double") >= (lit(p) - lit(eps)) * col("__n")) &&
        (col(lt).cast("double") <= (lit(p) + lit(eps)) * col("__n"))
    val exact = Percentiles.exactFewGroups(li, Seq("l_returnflag"),
      "l_quantity", Seq(("exact_p50", 0.5), ("exact_p95", 0.95)))
    exact.join(ranks, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_p50"), col("exact_p95"),
        (ok("__le50", "__lt50", 0.5) && ok("__le95", "__lt95", 0.95))
          .as("within_rank_eps"))
      .orderBy("l_returnflag")
  }

  /** Vocabulary construction with coverage — the tokenizer-prep report:
    * top-k corpus tokens by frequency (ties lexicographic) with each
    * token's share and the cumulative coverage of the vocabulary so
    * far; 1 − cum_share at rank k IS the OOV rate a k-entry vocab
    * buys. Counts partial-aggregate map-side; top-k is a
    * TakeOrderedAndProject; the cumulative window runs over k rows of
    * metadata, never the corpus (the q47 few-groups discipline).
    */
  private[graft] def qVocabulary(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    // both the top-k and the total derive from ONE grouped-count
    // subtree (total = sum over the vocab-sized count table, not a
    // second corpus scan — the q79 one-scan discipline; the shared
    // subtree lets ReuseExchange serve both consumers)
    val counts = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("token")).limit(30)
    val total = counts.agg(sum("cnt").as("__total"))
    val w = Window.orderBy(col("cnt").desc, col("token"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("share",
        col("cnt").cast("double") / col("__total").cast("double"))
      .withColumn("cum_share",
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("double") /
          col("__total").cast("double"))
      .select("rank", "token", "cnt", "share", "cum_share")
      .orderBy("rank")
  }

  /** Per-source distribution drift: total-variation distance between
    * each source's n_chars histogram and the corpus-wide one over
    * shared fixed-width bins — the monitoring question ("which source
    * changed shape") behind ingest gating. All arithmetic is EXACT
    * integers until one final double division: the per-bin term is
    * |c_sb·n_all − c_b·n_s| summed as DECIMAL(38,0) (order-independent,
    * no float accumulation), so the distance is engine-reproducible.
    * One scan feeds three partial aggregates; the bin/source grids are
    * metadata-sized.
    */
  private[graft] def qSourceDrift(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("source"), expr("n_chars div 50").as("bin"))
    val sb = d.groupBy("source", "bin").agg(count(lit(1)).as("c_sb"))
    val b = d.groupBy("bin").agg(count(lit(1)).as("c_b"))
    val ns = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val nAll = d.agg(count(lit(1)).as("n_all"))
    ns.crossJoin(broadcast(b)) // sources × occupied bins: metadata grid
      .join(sb, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("c_sb"))
      .crossJoin(broadcast(nAll))
      .withColumn("__num",
        abs(col("c_sb").cast("decimal(38,0)") * col("n_all")
          - col("c_b").cast("decimal(38,0)") * col("n_s")))
      .groupBy("source")
      .agg(max("n_s").as("n_docs"), max("n_all").as("__n_all"),
        sum("__num").as("__num_sum"))
      .select(col("source"), col("n_docs"),
        (col("__num_sum").cast("double") /
          (lit(2.0d) * col("n_docs").cast("double")
            * col("__n_all").cast("double"))).as("tv_dist"))
      .orderBy("source")
  }

  /** Quality-aware canonical selection: q71's duplicate clusters
    * resolved to the HIGHEST-QUALITY member (ties → smallest id)
    * instead of the min id — what a curation pipeline actually keeps.
    * The argmax is a map-side-combined `max(struct(quality, −id))` per
    * cluster — no per-group sort, no window.
    */
  private[graft] def qClusterRepresentative(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // the clustering is the query's stored INPUT (shared fixture with
    // q128/q130 — pair generation + CC memoized per session); the
    // operator under test is the quality argmax, and the oracle still
    // recomputes the whole chain from the corpus
    val cc = DedupClusters.withSizes(fullClusterLabels(s, dir))
    val q = docs.withColumn("__toks", TextFns.tokens("text"))
      .select(col("doc_id"),
        TextFns.qualityScore("text", "__toks").as("quality"))
    cc.join(q, "doc_id")
      .groupBy("cluster_rep")
      .agg(max("n_members").as("n_members"),
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("__m"))
      .select(col("cluster_rep"), col("n_members"),
        (-col("__m.nid")).as("best_doc"), col("__m.quality").as("best_quality"))
      .orderBy("cluster_rep")
  }

  /** Incremental paragraph dedup
    * ([[graft.ops.ParagraphDedup.incrementalDecisions]]): the incoming
    * batch (doc_id ≢ 0 mod 10) deduped at paragraph granularity
    * against the history corpus — kept = unseen in history AND first in
    * batch, with the two drop causes reported separately. History is
    * one distinct hash set; per-batch cost independent of history size.
    */
  private[graft] def qIncrementalParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    ParagraphDedup.incrementalDecisions(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", 20)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum((!col("seen_in_history") && col("first_in_batch"))
          .cast("long")).as("n_kept"),
        sum(col("seen_in_history").cast("long")).as("n_hist_dups"),
        sum((!col("seen_in_history") && !col("first_in_batch"))
          .cast("long")).as("n_batch_dups"))
      .orderBy("doc_id")
  }

  /** Heavy hitters via count-min sketch ([[graft.ops.FreqSketch]] —
    * the frequency sketch closing the profiling trio with q102's HLL
    * and q104's GK quantiles): top-20 corpus tokens with the sketch's
    * two guarantees VERIFIED per token — `overestimate_ok` (a CMS
    * never undercounts) and `within_eps` (overshoot ≤ ⌈ε·N⌉).
    * `est_cnt` itself stays engine-internal (no portable SQL computes
    * a seeded CMS); the gate matches the exact counts plus the
    * measured booleans.
    */
  private[graft] def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    FreqSketch.heavyHitters(toks, "token", 20, 0.001, 0.99, 7)
      .select(col("rank"), col("item").as("token"), col("exact_cnt"),
        col("overestimate_ok"), col("within_eps"))
      .orderBy("rank")
  }

  /** Bloom-prefiltered contamination screening ([[graft.ops.Blooms]]):
    * an eval split's paragraph fingerprints become a Bloom filter
    * (built by a DISTRIBUTED merge aggregate, driver sees one bit
    * array); the corpus is then screened SCAN-LOCALLY and only the
    * surviving candidates pay the exact semi-join. At 100 TB only the
    * build + scan-local probe + candidate-sized verify run; the full
    * corpus-vs-eval exact join here is the verification baseline that
    * MEASURES the two claims (q51 discipline): no false negatives
    * (structural), and a false-positive rate within 5× the configured
    * fpp (probabilistic).
    */
  private[graft] def qBloomContamination(s: SparkSession, dir: String): DataFrame = {
    val fpp = 0.01
    val paras = ParagraphDedup.paragraphs(
        t(s, dir, "documents"), "doc_id", "text", 20)
      .select(col("doc_id"), md5(graft.expressions.UnicodeNormalize.nfc(col("para"))).as("fp"))
    val eval = paras.filter(col("doc_id") % 17 === 0)
      .select("fp").distinct().transform(snap)
    // pinned like eval: the pair stats, the bloom-filtered candidate
    // join, and the ground-truth anti-join below are three actions —
    // unpinned, each would re-run the paragraph explode + distinct
    val corpus = paras.filter(col("doc_id") % 17 =!= 0)
      .select("doc_id", "fp").distinct().transform(snap)
    val bloom = Blooms.build(eval, col("fp"),
      math.max(eval.count(), 1L), fpp)

    // ONE corpus pass measures pair count + bloom pass-rate; the
    // candidate set (the only thing a 100 TB run materializes) then
    // feeds the exact verify.
    val cstats = corpus.agg(count(lit(1)).as("n"),
      sum(Blooms.mightContain(bloom, col("fp")).cast("long"))
        .as("cand")).head()
    val (nPairs, nCand) = (cstats.getLong(0), cstats.getLong(1))
    val hits = corpus.filter(Blooms.mightContain(bloom, col("fp")))
      .join(eval, Seq("fp"), "left_semi").transform(snap)
    val nHit = hits.count()
    // no-false-negative check: ground-truth hits from the UNFILTERED
    // corpus must all have survived the bloom pre-filter
    val missed = corpus.join(eval, Seq("fp"), "left_semi")
      .join(hits, Seq("doc_id", "fp"), "left_anti").limit(1).count()
    val fpr = (nCand - nHit).toDouble /
      math.max(nPairs - nHit, 1L).toDouble
    hits.groupBy("doc_id").agg(count(lit(1)).as("n_hit_paras"))
      .withColumn("bloom_no_false_negatives", lit(missed == 0L))
      .withColumn("fpr_ok", lit(fpr <= 5 * fpp))
      .orderBy("doc_id")
  }

  /** Systematic PPS sampling ([[Sampling.systematicPps]]): 10 docs per
    * source drawn proportional to n_chars — the curation draw whose
    * sample token-mass mirrors the corpus. The whole draw is exact
    * integer arithmetic over a distributed prefix sum (no
    * transcendental sampling keys, no per-source single-task window),
    * so the oracle reproduces it bit-for-bit.
    */
  private[graft] def qPpsSample(s: SparkSession, dir: String): DataFrame =
    Sampling.systematicPps(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", 10, "pps1")
      .select(col("source"), col("doc_id"), col("n_chars"), col("n_picks"))
      .orderBy("source", "doc_id")

  /** Windowed distinct-users on the STREAM via the HLL++ sketch
    * ([[EventStream.windowedApproxUsers]]) — exact COUNT(DISTINCT) is
    * unsupported (and unsupportable: O(keys) state per window) in
    * streaming aggregation; the sketch is the production answer with
    * fixed-size per-window state. The batch side recomputes the EXACT
    * distinct per closed window and the gate carries it plus the
    * verified claim that the stream's estimate landed within
    * 3·rsd·exact + 2 — the relative HLL guarantee plus an absolute
    * slack of 2 for tiny windows, where the sketch's linear-counting
    * small-range correction rounds (a 2-user window estimated at 3 is
    * a ±1 count, not a 50% failure; measured here, not assumed).
    */
  private[graft] def qStreamApproxUsers(s: SparkSession, dir: String): DataFrame = {
    val rsd = 0.05
    val approx = EventStream.windowedApproxUsers(
      s, s"$dir/events.parquet", rsd = rsd)
    val exact = t(s, dir, "events")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("exact_users"))
    // inner join on the stream's emitted rows = exactly the closed
    // (watermark-passed) windows, the q31 batch equivalence
    approx.join(exact, Seq("window_start_ms", "event_type"))
      .select(col("window_start_ms"), col("event_type"),
        col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") <=
          lit(3 * rsd) * col("exact_users").cast("double") + lit(2.0))
          .as("within_3rsd"))
      .orderBy("window_start_ms", "event_type")
  }

  /** Product-quantization ANN ([[graft.ops.ProductQuant]]): 64-dim
    * vectors compressed to m=4 codebook indices, queries scored by ADC
    * lookup tables, recall MEASURED against the exact L2 top-3 — and,
    * uniquely for a PQ implementation, oracle-CHECKED: codebook
    * training, encoding, and ADC are all deterministic integer
    * arithmetic, so DuckDB reproduces the recall to the bit.
    */
  /** Recall@k of `approx` against the exact top-k frame `ex` (both in
    * the (query_id, neighbor_id) shape): one row of (n_queries,
    * recall), shared by q113/q115 so the definition cannot fork.
    */
  private[graft] def annRecallRow(ex: DataFrame, approx: DataFrame,
      k: Int): DataFrame =
    ex.join(approx.select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        (sum(coalesce(col("__hit"), lit(0L))).cast("double") /
          (lit(k.toDouble) * countDistinct(col("query_id")).cast("double")))
          .as("recall"))

  private[graft] def qPqAnn(s: SparkSession, dir: String): DataFrame = {
    // pinned like q115: encoding, the query filter, and the exact
    // baseline all consume it
    val prep = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
      .filter(col("qn") > 0).transform(snap)
    // codebooks come from the STORED model table (trained+saved once
    // per session by annModelPaths, loaded here — the production
    // score path; the oracle retrains from the corpus, so the gate
    // proves stored-model scoring ≡ inline-trained scoring)
    val cbs = ModelStore.loadCodebooks(s, annModelPaths(s, dir)._2)
    val coded = ProductQuant.withCodes(prep, cbs)
    val queries = prep.filter(col("vec_id") < 50)
    val pq = ProductQuant.adcTopK(coded, queries, "vec_id", cbs, 3)
    val ex = ProductQuant.exactL2TopK(prep, queries, "vec_id", 3)
    annRecallRow(ex, pq, 3)
      .select(lit("pq_adc").as("method"), lit(4L).as("m"),
        lit(16L).as("ksub"), col("n_queries"), col("recall"))
  }

  /** IVF+PQ composed ([[ProductQuant.ivfAdcTopK]]) — the canonical
    * billion-vector ANN layout: the coarse quantizer cuts CANDIDATES
    * (nprobe of 8 cells probed), PQ cuts BYTES per candidate (4 codes
    * vs 64 quantized dims); a query touches nprobe inverted lists of
    * 4-byte codes. Both trained models are metadata literals in the
    * plan; candidates come from a broadcast cell equi-join; recall vs
    * the exact L2 top-3 is oracle-reproduced like q113's.
    */
  private[graft] def qIvfPq(s: SparkSession, dir: String): DataFrame = {
    // pinned: assignment, queries, and the exact baseline all consume it
    val prep = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
      .filter(col("qn") > 0).transform(snap)
    // both models come from the STORED tables (annModelPaths trains and
    // saves once per session) — scoring loads k·dims longs and folds
    // them into the plan as literals, never re-runs Lloyd
    val (coarsePath, cbPath) = annModelPaths(s, dir)
    val coarse = ModelStore.loadCentroids(s, coarsePath)
    val cbs = ModelStore.loadCodebooks(s, cbPath)
    val coded = ProductQuant.withCodes(
      KMeans.assignTo(prep, "vec_id", coarse)
        .withColumnRenamed("cluster", "cell"), cbs)
    val queries = prep.filter(col("vec_id") < 50)
    val pq = ProductQuant.ivfAdcTopK(coded, queries, "vec_id", cbs,
      coarse, 2, 3)
    val ex = ProductQuant.exactL2TopK(prep, queries, "vec_id", 3)
    annRecallRow(ex, pq, 3)
      .select(lit("ivf_pq").as("method"), lit(4L).as("m"),
        lit(16L).as("ksub"), lit(2L).as("nprobe"),
        col("n_queries"), col("recall"))
  }

  /** The stored-model surface itself as a first-class query
    * ([[graft.ops.ModelStore]]): load the persisted coarse-centroid
    * and PQ-codebook model TABLES (written once per session by the
    * train step), verify their shapes, and score a fresh batch —
    * here the full corpus re-encoded and the q115 query set re-ranked
    * — against the LOADED artifacts. The oracle re-derives the models
    * from the corpus in SQL (training is deterministic integer
    * arithmetic), so a green row proves stored-model scoring is
    * bit-identical to inline-trained scoring: the parquet roundtrip
    * loses nothing, and the load path feeds the same literal-folded
    * scan-local plans. Output adds the loaded model dimensions
    * (n_cells, n_codewords) read from the ARTIFACTS, not from config
    * — a registry audit would read the same numbers.
    */
  private[graft] def qStoredModelAnn(s: SparkSession, dir: String): DataFrame = {
    val prep = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
      .filter(col("qn") > 0).transform(snap)
    val (coarsePath, cbPath) = annModelPaths(s, dir)
    val coarse = ModelStore.loadCentroids(s, coarsePath)
    val cbs = ModelStore.loadCodebooks(s, cbPath)
    val coded = ProductQuant.withCodes(
      KMeans.assignTo(prep, "vec_id", coarse)
        .withColumnRenamed("cluster", "cell"), cbs)
    val queries = prep.filter(col("vec_id") < 50)
    val pq = ProductQuant.ivfAdcTopK(coded, queries, "vec_id", cbs,
      coarse, 2, 3)
    val ex = ProductQuant.exactL2TopK(prep, queries, "vec_id", 3)
    annRecallRow(ex, pq, 3)
      .select(lit("stored_ivf_pq").as("method"),
        lit(coarse.length.toLong).as("n_cells"),
        lit(cbs.length.toLong * cbs.head.length.toLong).as("n_codewords"),
        col("n_queries"), col("recall"))
  }

  /** BM25-style ranked retrieval over the corpus for a fixed query
    * term set — the RETRIEVAL sibling of q81's per-document tf-idf
    * profile (that one characterizes documents; this one RANKS them
    * for a query). Standard Robertson k1=1.2, b=0.75 length
    * normalization; idf is the rational (N−df+0.5)/(df+0.5) rather
    * than its logarithm — the repo's transcendental-free determinism
    * convention (cross-engine ln is not bit-stable; the rational form
    * preserves per-term monotonicity, which is all ranking needs).
    * Per-term contributions are summed in a FIXED expression order
    * (conditional single-term sums, then an explicit 3-term add) —
    * a plain SUM over the term rows would float-add in partition
    * order and fork from the oracle by an ulp.
    *
    * Scale shape: tf is one (doc, term) shuffle of the term-filtered
    * explode (the term list prunes at the scan), df and the corpus
    * stats are metadata-sized broadcasts, scoring is scan-local, and
    * the top-20 is a TakeOrderedAndProject.
    */
  private[graft] def qBm25(s: SparkSession, dir: String): DataFrame = {
    val docs = bm25Docs(t(s, dir, "documents"))
    val stats = docs.agg(count(lit(1)).as("__n"), sum("dl").as("__sumdl"))
    val tf = bm25Postings(docs)
      .filter(col("term").isin(bm25Terms: _*))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    bm25TopK(tf, dfc, stats)
  }

  private[graft] val bm25Terms = Seq("spark", "merge", "window")

  private[graft] def bm25Docs(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("__t"))
      .select(col("doc_id"), col("__t"),
        size(col("__t")).cast("long").as("dl"))

  /** (doc_id, dl, term, tf) postings — the append-only index half of
    * the retrieval state (all terms: the production posting list, not
    * just the fixture's query terms).
    */
  private[graft] def bm25Postings(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("dl"), explode(col("__t")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))

  /** The q116 scoring kernel, shared verbatim by the full-corpus form
    * and q136's merged-stored-stats form so the two produce
    * bit-identical floats: per-term contributions are summed in the
    * FIXED left-fold expression order (never a row-order float SUM),
    * rational idf, Robertson k1/b normalization.
    */
  private[graft] def bm25TopK(tf: DataFrame, dfc: DataFrame,
      stats: DataFrame): DataFrame = {
    val avgdl = col("__sumdl").cast("double") / col("__n").cast("double")
    val norm = col("tf").cast("double") +
      lit(1.2) * (lit(1.0) - lit(0.75) +
        lit(0.75) * col("dl").cast("double") / avgdl)
    val idf = (col("__n").cast("double") - col("df").cast("double") +
      lit(0.5)) / (col("df").cast("double") + lit(0.5))
    val contrib = (col("tf").cast("double") * lit(2.2) / norm) * idf
    def termSum(t: String) =
      coalesce(sum(when(col("term") === t, col("__c"))), lit(0.0))
    val scored = tf.join(broadcast(dfc), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__c", contrib)
      .groupBy("doc_id")
      .agg(bm25Terms.map(termSum).reduce(_ + _).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select("rank", "doc_id", "score", "n_terms")
      .orderBy("rank")
  }

  /** Complete-mode streaming aggregation
    * ([[EventStream.windowedCountsComplete]]): the final re-emitted
    * table must equal the batch group-by over ALL events — open
    * windows included, the exact surface append mode (q31) filters
    * away. Together q31/q58/q114 exercise all three output modes.
    */
  private[graft] def qStreamComplete(s: SparkSession, dir: String): DataFrame =
    EventStream.windowedCountsComplete(s, s"$dir/events.parquet")

  /** The full curation pipeline as ONE declarative composition — the
    * capstone: quality gate → exact dedup (canonical fingerprint,
    * first-id representative) → source-mix rebalance (data-derived
    * thresholds) → token-budget selection (quality-ordered distributed
    * prefix sum) → per-language report. Every stage is an operator
    * verified on its own elsewhere (q21/q24/q85/q86); this proves they
    * COMPOSE, oracle-checked end to end. Plan shape: two scan-local
    * filter stages, one fingerprint shuffle, one stratum-count
    * broadcast, one range exchange — no stage that fails at 100 TB.
    */
  private[graft] def qFullPipeline(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents")
      .withColumn("__toks", TextFns.tokens("text"))
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        size(col("__toks")).cast("long").as("n_tok"),
        TextFns.qualityScore("text", "__toks").as("quality"))
      .filter(col("quality") >= 0.5)
      .withColumn("f", TextFns.fingerprint("text"))
    val uniq = Dedup.firstBy(scored, Seq("f"), Seq(col("doc_id").asc))
    val mixed = Mixing.balanceToMin(uniq, "doc_id", "source", "pipe")
      .select("doc_id", "lang", "n_tok", "quality")
    Selection.underTokenBudget(mixed, "n_tok", 15000L,
        col("quality").desc, col("doc_id").asc)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("lang")
  }

  /** Corpus-frequency boilerplate removal
    * ([[ParagraphDedup.boilerplateSummary]]): paragraphs appearing in
    * ≥ 2 DISTINCT documents — navigation chrome, licence footers — are
    * removed from EVERY document, first occurrence included. The
    * CCNet/C4 policy, complementing q101's first-occurrence-wins (which
    * keeps one copy; this keeps none).
    */
  private[graft] def qBoilerplate(s: SparkSession, dir: String): DataFrame =
    ParagraphDedup.boilerplateSummary(t(s, dir, "documents"),
      "doc_id", "text", 20, 2)
      .orderBy("doc_id")

  /** PageRank over the customer–supplier purchase graph — the weighted
    * ITERATIVE graph op complementing q71's connected components (label
    * propagation has no per-edge weights; PageRank is the
    * Pregel-pattern fixture every graph engine is judged on). Nodes:
    * customers (2k) and suppliers (2k+1) that traded; edges: distinct
    * (cust, supp) pairs from lineitem ⋈ orders, symmetrized so every
    * node has out-degree ≥ 1 (no dangling mass). Three damped rounds
    * (d = 85/100) in EXACT integer arithmetic: total mass 10^12,
    * truncating `div` for both the per-edge contribution r/outdeg and
    * the damping — transcendental- and float-free, so DuckDB replays
    * the identical longs (`//` ≡ `div` on non-negatives).
    *
    * Scale shape: each round = one edge⋈rank equi-join + one partial-
    * aggregated dst shuffle — rank state is node-sized, edges never
    * rescan the fact tables (distinct pairs computed once and
    * pinned with localCheckpoint); the classic BSP round structure
    * with no driver-side data movement.
    */
  private[graft] def qPageRank(s: SparkSession, dir: String): DataFrame = {
    val half = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
      // checkpoint the distinct pair list ONCE: the symmetrizing union
      // otherwise embeds the lineitem⋈orders build in BOTH legs of the
      // plan PageRank materializes (JobProfile r17: the build is the
      // query's single most expensive job)
      .transform(snap)
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
    PageRank.ranks(edges, "src", "dst", 3)
      .orderBy(col("r").desc, col("node")).limit(20)
      .withColumn("pos", row_number().over(
        Window.orderBy(col("r").desc, col("node"))).cast("long"))
      .select(col("pos"),
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node div 2").as("entity_key"),
        col("outdeg").as("degree"), col("r").as("rank_scaled"))
      .orderBy("pos")
  }

  /** Conversion-funnel analysis: users progressing view → click →
    * purchase with each later step STRICTLY after the user's earliest
    * completion of the previous one, plus the 24 h-completion count —
    * the product-analytics query every event warehouse runs. Each step
    * is one filtered scan + one user-key partial-aggregated shuffle
    * (min-reduction, skew-immune); timestamps compare as exact
    * microseconds (`unix_micros` ≡ `epoch_us`).
    */
  private[graft] def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("user_id", "event_type", "ts")
    val a = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val b = ev.filter(col("event_type") === "click").join(a, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"), min("t1").as("t1"))
    val c = ev.filter(col("event_type") === "purchase").join(b, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"), min("t1").as("t1"))
    a.agg(count(lit(1)).as("n_users"))
      .select(lit("1_view").as("step"), col("n_users"))
      .unionByName(b.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("step"), col("n_users")))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("step"), col("n_users")))
      .unionByName(c
        .filter(unix_micros(col("t3")) - unix_micros(col("t1")) <=
          24L * 3600 * 1000 * 1000)
        .agg(count(lit(1)).as("n_users"))
        .select(lit("4_within_24h").as("step"), col("n_users")))
      .orderBy("step")
  }

  /** Weekly cohort retention triangle: users grouped by first-activity
    * week, counted in each later week they return — the growth query
    * behind every retention dashboard. Weeks are integer
    * days-since-epoch div 7 (engine-portable; no locale-dependent
    * week-of-year). One (user, week) distinct shuffle + one user-key
    * min + one metadata-sized cohort aggregation; the rate is a single
    * double division per output row.
    */
  private[graft] def qRetention(s: SparkSession, dir: String): DataFrame = {
    val wk = t(s, dir, "events")
      .select(col("user_id"),
        expr("datediff(cast(ts as date), date'1970-01-01') div 7").as("wk"))
      .distinct()
    val cohort = wk.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    val sizes = cohort.groupBy("cohort_wk")
      .agg(count(lit(1)).as("n_cohort"))
    wk.join(cohort, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("n_active"),
        col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort").cast("double"))
          .as("retention"))
      .orderBy("cohort_wk", "week_offset")
  }

  /** Incremental aggregate maintenance: the stored per-key partials of
    * a history corpus merge with a new batch's partials into the
    * rolled-up state WITHOUT rescanning history — counts add, DECIMAL
    * sums add (commutative-monoid state, the foundation every
    * incremental materialized view stands on). The gate carries the
    * merged values plus the VERIFIED claim that they equal a full
    * recompute over history ∪ batch (the measured-claim discipline of
    * q102/q104/q109: don't trust algebra, check it).
    */
  private[graft] def qIncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def partial(df: DataFrame): DataFrame =
      df.groupBy("event_type").agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("v"))
    val merged = partial(ev.filter(col("event_id") % 10 < 8))
      .unionByName(partial(ev.filter(col("event_id") % 10 >= 8)))
      .groupBy("event_type")
      .agg(sum("n").as("n_events"), sum("v").as("total_value"))
    val full = partial(ev)
      .select(col("event_type"), col("n").as("__nf"), col("v").as("__vf"))
    merged.join(full, "event_type")
      .select(col("event_type"), col("n_events"),
        col("total_value").cast("double").as("total_value"),
        (col("n_events") === col("__nf") &&
          col("total_value") === col("__vf")).as("matches_recompute"))
      .orderBy("event_type")
  }

  /** Star-schema analytic join (the TPC-H Q5 shape): revenue by
    * customer nation across one region and a 3-year order window —
    * the multi-dimensional join plan every warehouse lives on.
    * Plan shape at 100 TB: region/nation are metadata and BROADCAST;
    * the date filter applies at the orders scan (pushed down); the one
    * unavoidable fact-fact shuffle is lineitem ⋈ orders on orderkey;
    * customer broadcasts at bench scale and would flip to a shuffle
    * join at warehouse scale by stats — exactly the decision AQE/CBO
    * owns, not the query text. Revenue: per-row double product (IEEE-
    * exact both engines) cast to DECIMAL(18,6) BEFORE the sum, so the
    * aggregate is order-independent — the q79/q90 money discipline.
    */
  private[graft] def qStarJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val nat = t(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      .select("r_regionkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_lineitems"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        sum((col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Deterministic negative-pair sampling for contrastive training:
    * each vector draws 3 pseudo-random negatives via modular hashing
    * over the contiguous id space — the pair-construction step
    * embedding-model pipelines need at corpus scale WITHOUT a
    * crossJoin (the naive "sample from all pairs" is n²). The draw
    * `(id·1000003 + j·7919) mod n` (self-hits stepped to the next id)
    * is scan-local integer math; the corpus count broadcasts; the two
    * id-key joins fetch both sides' quantized vectors and the
    * codegen'd integer dot scores each pair — n·k rows ever exist,
    * nothing quadratic. Exact cosine via the shared q28 arithmetic
    * keeps the oracle bit-for-bit.
    */
  private[graft] def qNegativeSampling(s: SparkSession, dir: String): DataFrame = {
    val all = Similarity.prepare(t(s, dir, "embeddings"), "embedding")
      .select(col("vec_id"), col("qv"), col("qn"))
    // the draw runs over the FULL contiguous id space (the oracle's
    // cnt is COUNT(*)); zero-norm vectors drop at the fetch joins —
    // mirroring the oracle's inner joins to nrm (no cosine direction)
    val base = all.filter(col("qn") > 0)
    val n = all.agg(count(lit(1)).as("__n"))
    val pairs = all.select(col("vec_id"))
      .crossJoin(broadcast(n))
      .select(col("vec_id"), col("__n"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("j"))
      .withColumn("__raw",
        (col("vec_id") * 1000003L + col("j") * 7919L) % col("__n"))
      .withColumn("neg_id",
        when(col("__raw") === col("vec_id"),
          (col("__raw") + 1) % col("__n")).otherwise(col("__raw")))
      .select("vec_id", "j", "neg_id")
    pairs
      .join(base.select(col("vec_id"), col("qv").as("__qa"),
        col("qn").as("__na")), "vec_id")
      .join(base.select(col("vec_id").as("neg_id"), col("qv").as("__qb"),
        col("qn").as("__nb")), "neg_id")
      .select(col("vec_id"), col("j"), col("neg_id"),
        Similarity.cosine(col("__qa"), col("__qb"),
          col("__na"), col("__nb")).as("cos_sim"))
      .orderBy("vec_id", "j")
  }

  /** EWMA-smoothed ingest rates in EXACT integer arithmetic — the
    * time-series member of the monitoring family (q106 drift answers
    * "which source changed shape", this answers "when did the rate
    * move"): hourly event counts per type smoothed by
    * ewma_t = Σ_{0≤k≤24} c_{t−k} / 2^k. With α = 1/2 every weight is a
    * binary power, so the scaled form Σ c_{t−k} · 2^(24−k) is pure
    * int64 — no float accumulation, no decimal rounding divergence —
    * and the one double division by 2^24 happens per OUTPUT row.
    * The 24-hour horizon keeps the sum inside int64 up to ~2.7·10^11
    * SUSTAINED events per (type, hour) — the worst case is all 25
    * window hours at the same rate c, giving c·(2^25 − 1); a single
    * spike alone tolerates ~5·10^11 — ample at any corpus — while the
    * truncated tail (α^25 < 6·10^-8 of the signal) is far below the
    * double mantissa of the reported ewma. Plan shape: the raw stream
    * reduces to metadata-sized hourly buckets first (one partial-agg
    * shuffle); the 25-hour contribution explode runs over buckets,
    * never events — at 100 TB the explode input is still just
    * hours × types.
    */
  private[graft] def qEwmaRates(s: SparkSession, dir: String): DataFrame =
    ewmaFromBuckets(
      t(s, dir, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("cnt")))

  /** The q126 emission kernel over hourly (event_type, hr, cnt)
    * buckets, shared verbatim by the batch form and q138's
    * folded-state form so the two produce bit-identical longs: the
    * smoothing reads only the bucket table, never the event stream.
    */
  private[graft] def ewmaFromBuckets(hourly: DataFrame): DataFrame = {
    val horizon = 24
    val contrib = hourly
      .select(col("event_type"), col("cnt"), col("hr"),
        explode(expr(s"sequence(0, $horizon)")).as("k"))
      .select(col("event_type"), (col("hr") + col("k")).as("hr"),
        expr(s"cnt * shiftleft(1L, $horizon - k)").as("__w"))
    // keep only target hours that actually have a bucket (the EWMA is
    // reported per observed hour; trailing decay-only hours are not)
    contrib.groupBy("event_type", "hr").agg(sum("__w").as("ewma_scaled"))
      .join(hourly, Seq("event_type", "hr"))
      .select(col("event_type"), col("hr"), col("cnt"),
        col("ewma_scaled"),
        (col("ewma_scaled").cast("double") /
          lit(16777216.0d)).as("ewma"))
      .orderBy("event_type", "hr")
  }

  /** Streaming ingest-rate monitoring (q138): events arrive in
    * micro-batches, [[graft.streaming.RateMonitor]] folds each batch's
    * hourly partial counts into the versioned bucket store (counts
    * add; an hour straddling batches MERGES), and the q126 EWMA is
    * emitted from the FOLDED state — the stored sufficient statistic —
    * via the shared [[ewmaFromBuckets]] kernel. Sharing q126's oracle
    * proves fold-then-smooth ≡ smooth-over-everything bit-for-bit:
    * the monitoring twin of the q130/q131/q137 deployable
    * compositions.
    */
  private[graft] def qStreamEwma(s: SparkSession, dir: String): DataFrame =
    ewmaFromBuckets(
      RateMonitor.run(s, s"$dir/events.parquet", chunks = 3))

  /** Market-basket association mining: supplier pairs co-purchased by
    * the same customer, ranked by co-occurrence with exact
    * support / confidence / lift — the association-rules family
    * (retail affinity, "users who bought X also bought Y",
    * co-occurrence statistics for related-item retrieval). All counts
    * are exact longs from two shuffles; each metric is a single
    * double expression over them, shape-matched to the oracle.
    *
    * Scale shape: baskets first reduce to DISTINCT (customer,
    * supplier) membership — the self-join fanout is then bounded by
    * per-customer basket SIZE squared (tens), never order volume; the
    * per-supplier count table is metadata-sized and broadcasts back
    * onto the pair stream. The basket self-join is the textbook
    * candidate-pair generation every frequent-itemset pass runs.
    */
  private[graft] def qCoPurchase(s: SparkSession, dir: String): DataFrame = {
    val cs = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
    val tot = cs.agg(countDistinct(col("cust")).as("__n"))
    val sup = cs.groupBy("supp").agg(count(lit(1)).as("__c"))
    val pairs = cs
      .join(cs.select(col("cust"), col("supp").as("supp_b")), "cust")
      .filter(col("supp") < col("supp_b"))
      .groupBy(col("supp").as("supp_a"), col("supp_b"))
      .agg(count(lit(1)).as("cnt_ab"))
    pairs
      .join(broadcast(sup.select(col("supp").as("supp_a"),
        col("__c").as("cnt_a"))), "supp_a")
      .join(broadcast(sup.select(col("supp").as("supp_b"),
        col("__c").as("cnt_b"))), "supp_b")
      .crossJoin(broadcast(tot))
      .orderBy(col("cnt_ab").desc, col("supp_a"), col("supp_b"))
      .limit(20)
      .select(col("supp_a"), col("supp_b"), col("cnt_ab"),
        col("cnt_a"), col("cnt_b"),
        (col("cnt_ab").cast("double") / col("__n").cast("double"))
          .as("support"),
        (col("cnt_ab").cast("double") / col("cnt_a").cast("double"))
          .as("confidence"),
        (col("cnt_ab").cast("double") * col("__n").cast("double") /
          (col("cnt_a").cast("double") * col("cnt_b").cast("double")))
          .as("lift"))
      .orderBy(col("cnt_ab").desc, col("supp_a"), col("supp_b"))
  }

  /** Incremental duplicate-cluster maintenance
    * ([[DedupClusters.incrementalComponents]]): the near-dup graph's
    * history components are the STORED artifact; a batch of new pairs
    * (every pair touching a doc_id % 5 == 0 document) folds in via CC
    * over the batch-sized QUOTIENT graph only — per-ingest cost
    * independent of corpus size, the production shape of keeping
    * dedup clusters current under a daily crawl. Exactness is the
    * min-label composition argument (see the op's doc); the oracle is
    * q71's full-recompute closure over history ∪ batch, so the gate
    * verifies incremental ≡ recompute bit-for-bit.
    */
  private[graft] def qIncrementalClusters(s: SparkSession, dir: String): DataFrame = {
    // the history labeling is the scenario's STORED artifact (what a
    // production pipeline reads, not recomputes, at each ingest) —
    // memoized per (session, corpus) like q82's arrival staging, so
    // repeated trials measure the incremental step, not fixture setup
    val pairs = dedupPairs(s, dir)
    val labels = sessionFixture(incrClusterCache, s, dir) {
      DedupClusters.connectedComponents(
          pairs.filter(col("id_a") % 5 =!= 0 && col("id_b") % 5 =!= 0),
          "id_a", "id_b")
        .localCheckpoint()
    }
    val batch = pairs.filter(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
    DedupClusters.withSizes(
        DedupClusters.incrementalComponents(labels, batch, "id_a", "id_b"))
      .orderBy("doc_id")
  }

  /** The continuous composition of the incremental-maintenance axis
    * ([[graft.streaming.IncrementalClusters]]): near-dup edges ARRIVE
    * in micro-batches (multi-batch file staging over the stored edge
    * fixture), each batch folds into the versioned parquet label store
    * via the q128 quotient-graph CC inside `foreachBatch` with the
    * batchId-idempotent write, and the result is the final stored
    * labeling. q122/q123 prove the delivery modes, q128 proves the
    * batch algebra; this is the deployable artifact — and its oracle
    * is q71's full-recompute closure over ALL edges, so the gate
    * verifies the whole stream-fold chain bit-for-bit.
    */
  private[graft] def qStreamIncrClusters(s: SparkSession, dir: String): DataFrame =
    IncrementalClusters.run(s, dedupPairsParquet(s, dir), chunks = 3)

  /** Streaming near-dup detection against a stored LSH index
    * ([[graft.streaming.NearDupIndex]]): documents arrive in doc_id-
    * ordered micro-batches straight off the corpus parquet, each batch
    * is signed/banded once, probed against the PERSISTED band index of
    * every earlier arrival, judged in signature space (est Jaccard ≥
    * 0.5 — the q99 discipline), and appended to the index. The oracle
    * states the same semantics non-incrementally — dup_of(d) = least
    * e < d sharing a band with est ≥ 0.5 over the WHOLE corpus — so a
    * green row proves the streamed fold over the stored index is
    * bit-identical to the all-pairs formula.
    */
  private[graft] def qStreamNearDupIndex(s: SparkSession, dir: String): DataFrame =
    NearDupIndex.run(s, s"$dir/documents.parquet", chunks = 3)

  /** Leakage-safe train/val/test split: the q46 hash-bucket assignment
    * keyed by near-dup CLUSTER (q71's closure — the memoized shared
    * fixture) instead of by document, so near-duplicate documents can
    * never straddle a split boundary and leak training text into eval
    * — THE split discipline for LLM corpora (per-doc splits leak ~every
    * duplicate cluster). Singleton docs (no near-dup pair) key by their
    * own id; assignment stays scan-local once the metadata-sized label
    * table is joined (broadcast at any corpus scale — labels are only
    * the docs that HAVE a near-dup).
    */
  private[graft] def qGroupSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .join(fullClusterLabels(s, dir)
        .select(col("node").as("doc_id"), col("cluster_rep")),
        Seq("doc_id"), "left")
      .withColumn("group_key",
        coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("bucket", expr(
        """cast(conv(substring(md5(cast(group_key as string)), 1, 8),
          | 16, 10) as bigint) % 100""".stripMargin))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .select("doc_id", "group_key", "split")
      .orderBy("doc_id")

  /** Triangle counts + clustering coefficients ([[Triangles.perNode]])
    * over the near-dup pair graph — how clique-like the MinHash
    * neighborhoods are (a cluster whose members are all pairwise
    * similar is a safe merge; a chain of barely-connected pairs is
    * the transitive-closure failure mode every dedup pipeline fears).
    * Degree-ordered orientation bounds the wedge stream O(m^{3/2})
    * regardless of hub skew; the oracle replays it as three
    * self-joins over the a<b edge list.
    */
  private[graft] def qTriangles(s: SparkSession, dir: String): DataFrame =
    Triangles.perNode(dedupPairs(s, dir), "id_a", "id_b")
      .orderBy("node")

  /** EXACT set-similarity self-join with prefix-filter pruning
    * ([[SetSimJoin.prefixJaccardPairs]]) — the lossless counterpart of
    * q64's df-capped join: the df cap DROPS high-frequency shingles
    * (pairs similar only through stop-grams are excluded by policy);
    * prefix filtering prunes candidates without losing ANY qualifying
    * pair. The oracle is the uncapped full inverted-index join — a
    * green row is the zero-false-negative proof for the pruning.
    */
  private[graft] def qSetSimJoin(s: SparkSession, dir: String): DataFrame =
    SetSimJoin.prefixJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 3, minJaccard = 0.5)
      .orderBy("id_a", "id_b")

  /** 2-core of the near-dup pair graph ([[graft.ops.KCore]]) — the
    * density profile of the SAME shared edge fixture q71/q107/q128/
    * q133 consume: members of the core are the densely interlinked
    * duplicates safe to transitively merge; everything peeled away is
    * the pendant/bridge fringe a reviewer should see first. The Spark
    * side runs peeling to its fixpoint (maxRounds pins the bound); the
    * oracle unrolls the same simultaneous-removal rounds, which is
    * sound because the k-core is unique and extra rounds past the
    * fixpoint are no-ops.
    */
  private[graft] def qKCore(s: SparkSession, dir: String): DataFrame =
    KCore.coreNodes(dedupPairs(s, dir), "id_a", "id_b", k = 2,
      maxRounds = 8).nodes.orderBy("node")

  /** GROUPING SETS with an explicit set list (q140) — the §2.5 member
    * rollup (q38) and cube (q74) don't cover: the caller names exactly
    * the aggregation levels ((lang, source), (lang), (source)) and
    * nothing else — no grand total, unlike both — one shuffle
    * producing all three (Spark expands sets over one Expand node, so
    * the fact table is scanned once regardless of how many levels).
    */
  private[graft] def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("lang")),
          Seq(col("source"))),
        col("lang"), col("source"))
      .agg(grouping_id().cast("bigint").as("gid"),
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("gid"), col("n_docs"), col("sum_chars"))
      .orderBy("gid", "lang", "source")

  /** Robust outlier profiling via median absolute deviation (q141) —
    * the monitoring family's robust member: q93/q94 winsorize/z-score
    * stand on mean ± stddev, which outliers themselves drag; the
    * MAD-based modified z-score (threshold 3·1.4826·MAD ≈ 3σ under
    * normality) is the textbook robust alternative. Two exact-median
    * passes over the [[Percentiles.exactFewGroups]] machinery (every
    * core busy regardless of group count), each result metadata-sized
    * and broadcast back — the deviation column never shuffles.
    */
  private[graft] def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("event_type", "value")
    val med = Percentiles.exactFewGroups(ev, Seq("event_type"), "value",
      Seq(("med", 0.5)))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("__ad", abs(col("value") - col("med")))
    val mad = Percentiles.exactFewGroups(
      dev.select(col("event_type"), col("__ad")), Seq("event_type"),
      "__ad", Seq(("mad", 0.5)))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(first("med").as("med"), first("mad").as("mad"),
        count(lit(1)).as("n_events"),
        sum(when(col("__ad") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("med"), col("mad"),
        col("n_events"), col("n_outliers"),
        (col("n_outliers").cast("double") /
          col("n_events").cast("double")).as("outlier_rate"))
      .orderBy("event_type")
  }

  /** Equi-depth discretization (q142) — the feature-engineering
    * counterpart of q44's equi-WIDTH histogram: bin boundaries are the
    * exact k/8 quantiles ([[Percentiles.exactFewGroups]], the same
    * distributed range-exchange sort), collected once (7 doubles —
    * metadata, the centroids-as-literals discipline) and folded into
    * the assignment expression as literals, so binning is scan-local
    * codegen'd comparisons — rows never shuffle to learn their bin;
    * only the per-bin aggregate does. Near-equal bin counts are the
    * point; the oracle reproduces boundary ties exactly because both
    * engines interpolate the same type-7 quantile on the same doubles.
    */
  private[graft] def qEquidepthBins(s: SparkSession, dir: String): DataFrame = {
    val nb = 8
    val li = t(s, dir, "lineitem").select(col("l_extendedprice").as("v"))
    val bounds = Percentiles.exactFewGroups(li.withColumn("__g", lit(1)),
      Seq("__g"), "v", (1 until nb).map(i => (s"b$i", i.toDouble / nb)))
      .head()
    val bin = (1 until nb)
      .map(i => when(col("v") >= lit(bounds.getAs[Double](s"b$i")), 1L)
        .otherwise(0L))
      .reduce(_ + _)
    li.withColumn("bin", bin)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_rows"), min("v").as("min_v"),
        max("v").as("max_v"))
      .orderBy("bin")
  }

  /** Sequence training-example construction (q149): each user's
    * event-type stream materialized as autoregressive (context →
    * next) examples — the dataset-construction step behavioral
    * sequence models train on (and the shape any next-token objective
    * takes over event streams). Sliding 3-context via lag windows in
    * per-user partitions (user-count parallelism, the q66/q75 window
    * discipline — frames are user-bounded, never corpus-sized);
    * positions without full context are dropped, so every row is a
    * complete (ctx1, ctx2, ctx3 → label) example. Emitted as the
    * top-20 pattern counts — the n-gram-over-behavior profile a
    * curriculum of sequence data starts from.
    */
  private[graft] def qSeqExamples(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("ctx1", lag("event_type", 3).over(w))
      .withColumn("ctx2", lag("event_type", 2).over(w))
      .withColumn("ctx3", lag("event_type", 1).over(w))
      .filter(col("ctx1").isNotNull)
      .groupBy(col("ctx1"), col("ctx2"), col("ctx3"),
        col("event_type").as("label"))
      .agg(count(lit(1)).as("n_examples"))
      .orderBy(col("n_examples").desc, col("ctx1"), col("ctx2"),
        col("ctx3"), col("label"))
      .limit(20)
  }

  /** EXACT stratified split (q150) — E30's rate-based hash split made
    * exact-count: every source stratum lands EXACTLY ⌈n·8/10⌉ /
    * ⌈n·9/10⌉−⌈n·8/10⌉ / rest rows in train/val/test, with membership
    * still deterministic in the portable md5 order (shuffle-free
    * reproducibility: any engine recomputes the same assignment).
    * The per-stratum rank comes from ONE global prefix sum over
    * (source, hash) order — [[Packing.withRunningSum]]'s range
    * exchange — minus the stratum's broadcast offset: no per-source
    * window, no single-task partition at any stratum size (the E102
    * argument applied to splitting).
    */
  private[graft] def qExactSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), lit(1L).as("__one"))
      .withColumn("__h", expr(
        """cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)
          | as bigint)""".stripMargin))
    val ranked = Packing.withRunningSum(docs, "__grk", "__one",
      col("source").asc, col("__h").asc, col("doc_id").asc)
    val offs = ranked.groupBy("source")
      .agg(min("__grk").as("__off"), count(lit(1)).as("__n"))
    ranked.join(broadcast(offs), "source")
      .withColumn("__rk", col("__grk") - col("__off"))
      .withColumn("split",
        when(col("__rk") * 10 < col("__n") * 8, "train")
          .when(col("__rk") * 10 < col("__n") * 9, "val")
          .otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "split")
  }

  /** Source-relative quality deciles (q151): each document's quality
    * PERCENTILE within its own source — the source-relative form every
    * multilingual/multi-domain curation pass needs (a global threshold
    * silently empties low-resource domains whose absolute scores run
    * lower; rank-within-source makes "top 20% of EACH source"
    * expressible). Rank = the q150 construction — ONE global prefix sum
    * over (source, quality, doc_id) order minus the stratum's broadcast
    * min-offset; NO per-source window, so the biggest domain never
    * funnels through one task. Emitted as per-(source, decile) counts
    * with order-independent min/max quality bounds.
    */
  private[graft] def qSourceQualityDeciles(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents")
      .withColumn("__toks", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        graft.functions.TextFns.qualityScore("text", "__toks")
          .as("quality"))
      .withColumn("__one", lit(1L))
    val ranked = Packing.withRunningSum(scored, "__grk", "__one",
      col("source").asc, col("quality").asc, col("doc_id").asc)
    val offs = ranked.groupBy("source")
      .agg(min("__grk").as("__off"), count(lit(1)).as("__n"))
    ranked.join(broadcast(offs), "source")
      .withColumn("decile", expr("((__grk - __off) * 10) div __n"))
      .groupBy("source", "decile")
      .agg(count(lit(1)).as("n_docs"),
        min("quality").as("q_min"), max("quality").as("q_max"))
      .orderBy("source", "decile")
  }

  /** Fuzzy name matching (q152): every supplier-name pair within
    * Levenshtein distance 1, via [[FuzzyJoin]]'s symmetric deletion
    * neighborhood — candidates from ONE equi-join on exploded delete
    * variants, never an all-pairs product; one codegen'd `levenshtein`
    * verify per distinct candidate pair. The oracle is the full
    * O(n²) levenshtein join, so green IS the proof the deletion
    * neighborhood loses no true pair.
    */
  private[graft] def qFuzzyNames(s: SparkSession, dir: String): DataFrame =
    FuzzyJoin.selfPairs(t(s, dir, "supplier"), "s_name")
      .withColumn("dist", col("dist").cast("long"))
      .orderBy("name_a", "name_b")

  /** Fractional-epoch upsampling (q153): the pretraining mix knob E71/
    * E139 down-select can't express — REPEATING small sources (epochs
    * > 1) toward the head's token mass. Each source's milli-epoch
    * factor m = min(n_max·1000 div n_src, 3000) (cap 3 epochs — the
    * public consensus ceiling before memorization outweighs balance);
    * every doc gets m div 1000 copies plus one more iff its portable
    * md5 bucket (mod 1000) < m mod 1000 — so a source hits EXACTLY its
    * fractional rate in expectation with deterministic membership, all
    * integer arithmetic. The explode materializes real training rows
    * scan-locally (copies-per-row is a plan literal decision, no
    * shuffle to learn it); only the per-(source, n_copies) audit
    * aggregate shuffles.
    */
  private[graft] def qEpochUpsample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("__n"))
    // nmax is ONE row — broadcast-bounded crossJoin, never a window
    val m = counts
      .crossJoin(broadcast(counts.agg(max("__n").as("__nmax"))))
      .withColumn("__m",
        least(expr("(__nmax * 1000) div __n"), lit(3000L)))
      .select("source", "__m")
    val copies = docs.join(broadcast(m), "source")
      .withColumn("__bkt", expr(
        """cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)
          | as bigint) % 1000""".stripMargin))
      .withColumn("n_copies",
        expr("__m div 1000") +
          when(col("__bkt") < col("__m") % 1000L, 1L).otherwise(0L))
    copies
      .withColumn("__copy", explode(expr("sequence(1, n_copies)")))
      .groupBy("source", "n_copies")
      .agg(count(lit(1)).as("n_rows_out"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy("source", "n_copies")
  }

}
