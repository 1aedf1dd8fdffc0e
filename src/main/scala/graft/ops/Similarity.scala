package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.LongDot

/** Similarity search over an embedding column (SURVEY §7.2.8):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane LSH bucketing as the scale path.
  *
  * Determinism contract (what makes ANN oracle-checkable): float
  * embeddings are quantized to integers — q = floor(x·10⁴ + 0.5) — so
  * dot products and norms are exact 64-bit integer arithmetic
  * (order-independent), and cosine is a single double division at the
  * end, bit-identical in any IEEE-754 engine. |x| ≤ ~1 ⇒ |q| ≤ ~10⁴ ⇒
  * a 4096-dim dot product stays < 2^39, far from overflow.
  *
  * Scale posture:
  *  - The inner dot product is [[graft.expressions.LongDot]], a custom
  *    codegen'd expression — it runs once per candidate *pair*, the
  *    hottest loop in the engine, where higher-order functions (which
  *    evaluate interpreted and allocate a zip array per row) measurably
  *    bottleneck (SURVEY §7.3).
  *  - Brute force is O(n·q): fine when the query set is bounded (it is
  *    broadcast, so the big side never shuffles); it is the correctness
  *    baseline and the re-ranker.
  *  - Hyperplane LSH assigns each vector a small bucket id scan-locally;
  *    search joins only within buckets — one hash shuffle on the bucket
  *    id instead of a cartesian product. The plane matrix is md5-derived
  *    (engine-reproducible, no RNG state) and folded to constant arrays
  *    at plan time. More planes ⇒ smaller buckets ⇒ higher recall loss;
  *    the standard multi-probe / repetition tricks apply orthogonally.
  */
object Similarity {

  /** Quantize an array<float> column to array<bigint>. */
  def quantized(embCol: String, scale: Int = 10000): Column =
    expr(
      s"""transform($embCol,
         |  x -> cast(floor(cast(x as double) * ${scale}.0d + 0.5d) as bigint))"""
        .stripMargin)

  /** Exact integer dot product (codegen'd custom expression). */
  def dot(a: Column, b: Column): Column = LongDot.dot(a, b)

  /** Cosine similarity between two quantized vectors given their squared
    * norms: one integer dot product, one double division. The formula
    * shape (dot / (√na·√nb)) must match the oracle SQL exactly for
    * bit-identical doubles.
    */
  def cosine(qa: Column, qb: Column, na: Column, nb: Column): Column =
    dot(qa, qb).cast("double") /
      (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** Attach quantized vector + squared norm columns. */
  def prepare(df: DataFrame, embCol: String, qv: String = "qv",
      qn: String = "qn"): DataFrame =
    df.withColumn(qv, quantized(embCol))
      .withColumn(qn, dot(col(qv), col(qv)))

  /** Brute-force cosine top-k: for every query vector, the k nearest
    * base vectors (self excluded), ties broken by neighbor id. The query
    * side is broadcast — the base side is scanned once, never shuffled;
    * the only exchange is the final per-query top-k.
    */
  def bruteForceTopK(base: DataFrame, queries: DataFrame, idCol: String,
      k: Int): DataFrame = {
    // zero-norm vectors have no cosine direction: a 0 divisor would
    // yield NULL sims (engine-dependent: DuckDB gives ±inf) and the
    // window would still rank k arbitrary "neighbors" — exclude them
    val b = base.filter(col("qn") > 0)
      .select(col(idCol).as("id_b"), col("qv").as("__qvb"),
        col("qn").as("__qnb"))
    val q = queries.filter(col("qn") > 0)
      .select(col(idCol).as("query_id"), col("qv").as("__qva"),
        col("qn").as("__qna"))
    topKTail(b.crossJoin(broadcast(q)), k)
  }

  /** The ranking tail every top-k path shares: over candidate pairs
    * (query_id, __qva, __qna) × (id_b, __qvb, __qnb), drop self-pairs,
    * score by [[cosine]], keep each query's k best (ties broken by
    * neighbor id) and return (query_id, rank, neighbor_id, sim) plus
    * `extra` columns.
    */
  private def topKTail(pairs: DataFrame, k: Int,
      extra: Column*): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("id_b").asc)
    pairs
      .filter(col("query_id") =!= col("id_b"))
      .withColumn("sim",
        cosine(col("__qva"), col("__qvb"), col("__qna"), col("__qnb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(Seq(col("query_id"), col("rank"),
        col("id_b").as("neighbor_id"), col("sim")) ++ extra: _*)
  }

  /** Plane h's integer weight vector: 2·nibble(md5("h,d")) − 15 per
    * dimension d — the ×2-scaled form of the oracle's (nibble − 7.5)
    * half-integer weights, sign-identical projections in pure int64.
    * Computed driver-side once (it is a constant), folded into the plan
    * as an array literal.
    */
  private[graft] def planeWeights(h: Int, dims: Int): Seq[Long] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until dims).map { d =>
      val first = md.digest(s"$h,$d".getBytes("UTF-8"))(0)
      2L * ((first >> 4) & 0xf) - 15L
    }
  }

  /** Random-hyperplane LSH bucket id (0 .. 2^planes − 1), scan-local:
    * bit h = sign of the projection onto plane h, via one codegen'd
    * integer dot against a constant weight array per plane.
    *
    * A `dims` that doesn't match the vector length yields a NULL bucket
    * (LongDot is null on length mismatch), which joins nothing — an
    * empty, visible result rather than the silent everything-in-bucket-0
    * cross join that treating the mismatch as "not positive" would give.
    */
  def hyperplaneBucket(qvCol: String, planes: Int, dims: Int): Column =
    (1 to planes).map { h =>
      val proj = dot(typedLit(planeWeights(h, dims)), col(qvCol))
      when(proj > 0, lit(1 << (planes - h)))
        .when(proj.isNotNull, lit(0)) // null proj propagates to the sum
    }.reduce(_ + _)

  /** Deterministic plane count for a corpus of n vectors: enough
    * hyperplanes that the *expected* bucket holds ≈ targetBucketSize
    * vectors — planes = ⌈log₂(n / targetBucketSize)⌉, clamped to
    * [1, 20]. A fixed plane count is the classic LSH scale trap: 4
    * planes = 16 buckets means n²/16 in-bucket pairs forever; sizing
    * planes with n keeps per-bucket pair work ≈ n·targetBucketSize —
    * linear in n — at a recall cost that the q51 recall query makes
    * visible. Deterministic (pure arithmetic on the count).
    */
  def autoPlanes(n: Long, targetBucketSize: Long = 1024L): Int = {
    require(targetBucketSize > 0, "targetBucketSize must be positive")
    val ratio = math.max(1.0, n.toDouble / targetBucketSize)
    math.min(20, math.max(1, math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  /** LSH-bucketed ANN: top-k neighbors per vector *within its bucket* —
    * the one-shuffle approximate path. Returns (query_id, rank,
    * neighbor_id, sim, bucket).
    *
    * `planes ≤ 0` (the default) auto-sizes from the corpus count via
    * [[autoPlanes]] — one count-only job over the filtered base, then
    * the plan is built with the resolved constant. Explicit `planes`
    * pins the bucket family (the oracle-mirrored queries do this).
    */
  def lshTopK(prepared: DataFrame, idCol: String, k: Int,
      planes: Int = 0, dims: Int = 64,
      targetBucketSize: Long = 1024L): DataFrame = {
    val withB = bucketed(prepared, planes, dims, targetBucketSize)
    val a = withB.select(col(idCol).as("query_id"), col("qv").as("__qva"),
      col("qn").as("__qna"), col("bucket"))
    val b = withB.select(col(idCol).as("id_b"), col("qv").as("__qvb"),
      col("qn").as("__qnb"), col("bucket"))
    topKTail(a.join(b, Seq("bucket")), k, col("bucket"))
  }

  /** The bucketing step of the auto-sized LSH paths: drop zero-norm
    * vectors, resolve the plane count (`planes ≤ 0` sizes it from the
    * filtered count via [[autoPlanes]]) and attach the long `bucket`.
    */
  private def bucketed(prepared: DataFrame, planes: Int, dims: Int,
      targetBucketSize: Long): DataFrame = {
    val nonZero = prepared.filter(col("qn") > 0)
    val p = if (planes > 0) planes
      else autoPlanes(nonZero.count(), targetBucketSize)
    nonZero.withColumn("bucket", hyperplaneBucket("qv", p, dims).cast("long"))
  }

  /** Multi-probe LSH ANN: each query probes its own bucket PLUS every
    * bucket at Hamming distance 1 in plane-sign space (the classic
    * multi-probe amplification — perturbing the least-confident plane
    * signs; probing ALL 1-flips is its deterministic, oracle-checkable
    * form). Recall rises steeply — a near-neighbor lost to one
    * borderline hyperplane is recovered — for (planes+1)× candidate
    * volume, still linear in n and still ONE hash shuffle: the query
    * side explodes to its probe list, the base side keeps its single
    * bucket, and a pair can only meet in the base vector's one bucket
    * (no dedup needed). q56 measures the recall@k this buys over q29's
    * single-probe form against the q28 exact baseline.
    */
  def lshTopKMultiProbe(prepared: DataFrame, idCol: String, k: Int,
      planes: Int, dims: Int = 64): DataFrame = {
    val withB = prepared.filter(col("qn") > 0).withColumn("bucket",
      hyperplaneBucket("qv", planes, dims).cast("long"))
    val probeList = (Seq("bucket") ++
      (0 until planes).map(j => s"bucket ^ ${1L << j}"))
      .mkString("array(", ", ", ")")
    val a = withB
      .select(col(idCol).as("query_id"), col("qv").as("__qva"),
        col("qn").as("__qna"), explode(expr(probeList)).as("bucket"))
    val b = withB.select(col(idCol).as("id_b"), col("qv").as("__qvb"),
      col("qn").as("__qnb"), col("bucket"))
    topKTail(a.join(b, Seq("bucket")), k)
  }

  /** Embedding-cosine near-duplicate pairs: all pairs within the same
    * LSH bucket with similarity ≥ threshold (a < b). The near-dup
    * variant of [[lshTopK]] — same single-shuffle shape.
    */
  def cosineNearDupPairs(prepared: DataFrame, idCol: String,
      threshold: Double, planes: Int = 0, dims: Int = 64,
      targetBucketSize: Long = 1024L): DataFrame = {
    val withB = bucketed(prepared, planes, dims, targetBucketSize)
    val a = withB.select(col(idCol).as("id_a"), col("qv").as("__qva"),
      col("qn").as("__qna"), col("bucket"))
    val b = withB.select(col(idCol).as("id_b"), col("qv").as("__qvb"),
      col("qn").as("__qnb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim",
        cosine(col("__qva"), col("__qvb"), col("__qna"), col("__qnb")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim", "bucket")
  }

  /** Int8 scalar quantization with MEASURED reconstruction error
    * (SURVEY §2.11 E62) — the embedding-store compression step (4×
    * smaller than float32), trusted the same way the ANN paths are:
    * by measuring, not asserting.
    *
    * Per vector (over the exact integer form `qv` = floor(x·10⁴+0.5)):
    * amax = max|qvᵢ|, code qᵢ = floor(qvᵢ·127/amax + 0.5) ∈ [−127,127],
    * reconstruction q̂ᵢ = qᵢ·amax/127. Reported: cosine(qv, q̂) — the
    * amax/127 factor cancels, leaving the engine's standard exact-int
    * dot/norm formula — and max|qvᵢ − q̂ᵢ| (≤ amax/254 by construction,
    * spec-asserted). Entirely scan-local; zero vectors are excluded
    * (no direction to preserve). Dots/norms are order-independent
    * integer sums, max is order-independent — oracle-exact.
    */
  def int8QuantStats(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val p = prepare(df, embCol).filter(col("qn") > 0)
    p.withColumn("__amax", expr("array_max(transform(qv, x -> abs(x)))"))
      .withColumn("__q8", expr(
        """transform(qv, x -> cast(floor(cast(x as double) * 127.0d
          |  / cast(__amax as double) + 0.5d) as bigint))""".stripMargin))
      .select(col(idCol).as("vec_id"), col("__amax").as("amax_q"),
        (dot(col("qv"), col("__q8")).cast("double") /
          (sqrt(col("qn").cast("double")) *
            sqrt(dot(col("__q8"), col("__q8")).cast("double"))))
          .as("cos_sim"),
        expr(
          """array_max(zip_with(qv, __q8, (x, q) ->
            |  abs(cast(x as double) - cast(q as double)
            |      * cast(__amax as double) / 127.0d)))""".stripMargin)
          .as("max_err"))
  }
}
