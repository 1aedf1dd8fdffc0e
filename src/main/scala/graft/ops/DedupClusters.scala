package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: connected components over a near-dup
  * pair list (SURVEY §2.11 E57) — the step that turns pairwise edges
  * (MinHash q25 / SimHash q27 / exact Jaccard q64) into "keep one
  * representative per duplicate group", i.e. an actually deduplicated
  * corpus.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) —
  * O(log n) rounds instead of the O(graph-diameter) rounds of naive
  * min-label propagation, so adversarial long-chain components
  * (A~B~C~… across template families) converge in a handful of rounds
  * rather than diameter-many. Each round is two id-only equi-joins +
  * partial-aggregated mins — hash shuffles on ids, never text.
  *
  * Per-round cost discipline: exactly ONE job per round. The edge set
  * is marked for RDD `localCheckpoint` (truncating lineage) and the
  * materializing action IS the convergence-signature aggregate —
  * (edge count, bit_xor of per-edge xxhash64) — so there is no
  * separate per-round comparison job, and the signature is an exact
  * retry-safe aggregate rather than an accumulator. Superseded
  * checkpoint blocks are unpersisted as soon as the next round
  * materializes. A final structural check (a star forest has disjoint
  * parent and child sets) guards the signature-based early exit: a
  * false "stable" signal fails the check and throws instead of
  * returning wrong labels.
  *
  * At 100 TB: rounds are data-parallel, the edge list for near-dup
  * graphs is ≪ corpus size, and the round count is bounded by
  * O(log n) regardless of component shape — no diameter-length chains
  * can stretch the job, and no per-round driver action doubles the job
  * count.
  */
object DedupClusters {

  /** (node, cluster_rep) for every node in `edges`, where cluster_rep
    * is the minimum node id of its connected component — deterministic
    * regardless of partitioning or iteration order.
    *
    * @throws IllegalStateException if the edge set has not contracted
    *         to a star forest within `maxIter` rounds (duplicate
    *         graphs converge in O(log n) ≈ a handful; hitting the cap
    *         means the input is not a near-dup pair list)
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(edges, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds after which the
    * edge set was already at its fixpoint (the spec surface for the
    * O(log n) bound — a path of n nodes must converge in ≤ ⌈log₂ n⌉
    * rounds, not n rounds).
    */
  def connectedComponentsWithRounds(edges: DataFrame, aCol: String,
      bCol: String, maxIter: Int = 20): (DataFrame, Int) = {
    // Materialize the raw pair list ONCE — `edges` is typically the
    // output of an expensive candidate-pair computation (q64's inverted
    // index, q25's band join), and both the node inventory and the
    // oriented edge set below read it.
    val raw = edges
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .localCheckpoint()
    val nodes = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node")))
      .distinct()

    // Orient every edge larger→smaller and drop self-loops; both star
    // operations below preserve this orientation and the connectivity
    // of the edge set, so component identity is invariant throughout.
    var cur = snap(raw
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())

    // Driver-local fast path (the same size gate as the quotient path
    // in [[incrementalComponents]]): the oriented-distinct edge set is
    // already materialized and counted, so when it fits the broadcast-
    // class byte budget — exactly the volume Spark itself collects to
    // build a broadcast relation — solve it with min-union union-find
    // in one collect instead of ~(rounds × 3 + 4) scheduler-bound tiny
    // jobs (JobProfile r17: the media CC chains spend their wall on
    // 40+ jobs of ≤225 ms at 32 idle cores — and run FASTER at 8, the
    // r16 verdict's anti-scaling signal). Labels are component-min in
    // both paths, so the output is bit-identical; `rounds` is reported
    // as 0 (no star contraction executed). A corpus-scale edge set
    // takes the distributed loop unchanged.
    localLabels(cur.df, cur.count, "node", "__rep") match {
      case Some(reps) =>
        Snap.release(cur.rdd)
        val labels = nodes.join(reps, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__rep"), col("node")).as("cluster_rep"))
        return (labels, 0)
      case None =>
    }

    var prevCount = cur.count
    var prevHash = cur.hashSum
    var stable = cur.count == 0L
    var rounds = 0
    while (!stable && rounds < maxIter) {
      // Large-star: every node v strictly larger than a neighbor u is
      // re-attached to m(u) = min(Γ(u) ∪ {u}).
      val sym = cur.df
        .union(cur.df.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(min("v").as("nm"))
        .select(col("u"), least(col("u"), col("nm")).as("m"))
      val ls = sym.join(lsMin, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // Small-star: every node's smaller neighbors (and itself) are
      // attached to the minimum of that smaller-neighborhood.
      val ssMin = ls.groupBy("u").agg(min("v").as("m"))
      val ss = ls.join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(ssMin.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()

      val next = snap(ss)
      cur.rdd.unpersist(blocking = false)
      rounds += 1
      stable = next.count == prevCount && next.hashSum == prevHash
      prevCount = next.count
      prevHash = next.hashSum
      cur = next
    }
    // `rounds` counts star applications executed; when stability was
    // detected, the final round merely re-produced the fixpoint the
    // previous round had already reached.
    val convergedAt = if (stable && rounds > 0) rounds - 1 else rounds

    // Structural verification (two small jobs, end only): a star
    // forest has (a) no node on both the child (u) and parent (v)
    // side AND (b) exactly one parent per child — disjointness alone
    // admits a multi-parent terminal state (e.g. {(3,1),(5,1),(3,2),
    // (6,2)} after one round on a path-ish graph with maxIter=1),
    // which would return two labels for one component instead of
    // throwing. Together they make the signature-based early exit
    // safe: any premature or hash-collided "stable" that is not a
    // genuine fixpoint fails here.
    val nonStar = cur.df.select(col("u").as("x"))
      .intersect(cur.df.select(col("v").as("x")))
      .limit(1).count()
    val multiParent = cur.df.groupBy("u")
      .agg(countDistinct("v").as("__np"))
      .filter(col("__np") > 1).limit(1).count()
    if (nonStar > 0 || multiParent > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")

    val reps = cur.df.groupBy("u").agg(min("v").as("__rep"))
      .withColumnRenamed("u", "node")
    val labels = nodes.join(reps, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("__rep"), col("node")).as("cluster_rep"))
    (labels, convergedAt)
  }

  /** Materialize an oriented edge set once and capture its convergence
    * signature, all in ONE job: the frame is marked for a lazy local
    * checkpoint ([[Snap.pin]] — UnsafeRow blocks, no external-Row
    * conversion) and the (count, bit_xor of per-edge xxhash64)
    * aggregate over the checkpointed frame is the action that
    * materializes it. The signature is an exact aggregate — not an
    * accumulator — so task retries and speculative execution cannot
    * distort it (accumulator updates in transformations are not
    * exactly-once); bit_xor is order-independent and cannot overflow
    * under ANSI.
    */
  private final case class EdgeSnap(df: DataFrame, rdd: RDD[_],
      count: Long, hashSum: Long)

  private def snap(edges: DataFrame): EdgeSnap = {
    val (back, rdd) = Snap.pin(edges)
    val sig = back.agg(count(lit(1)).as("c"),
      expr("bit_xor(xxhash64(u, v))").as("h")).head()
    val h = if (sig.isNullAt(1)) 0L else sig.getLong(1)
    EdgeSnap(back, rdd, sig.getLong(0), h)
  }

  /** Incremental connected components — the E53/E89/E93/E99/E108
    * incremental axis at component granularity, E57's missing member:
    * fold a BATCH of new edges into an existing canonical labeling
    * WITHOUT re-running CC over the history graph. New edges map
    * their endpoints onto existing cluster reps (unlabeled endpoints
    * stay themselves), CC runs only on that QUOTIENT graph — sized by
    * the batch and the components it touches, independent of corpus
    * size — and the result remaps history labels whose rep merged.
    *
    * Canonical-label composition is what makes this exact: history
    * labels are component-min ids, the quotient CC takes mins over
    * {merged component mins ∪ new node ids}, and min composes — so
    * the output is bit-identical to a full recompute over
    * history ∪ batch (the q128 oracle verifies precisely that).
    */
  def incrementalComponents(labels: DataFrame, batchEdges: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 20): DataFrame = {
    val lab = labels.select(col("node").as("__n"), col("cluster_rep").as("__r"))
    // node inventory comes from the UNFILTERED edges — a node whose
    // only batch edge is a self-loop is still a (singleton) node in a
    // full recompute, and the bit-identical contract must cover it
    val eaRaw = batchEdges.select(col(aCol).as("__a"), col(bCol).as("__b"))
    val ea = eaRaw.filter(col("__a") =!= col("__b"))
    // pinned once: the emptiness test AND the quotient CC both read
    // the materialized blocks, so the corpus-sized label joins run
    // exactly once per ingest (the quotient itself is batch-sized)
    val mapped = ea
      .join(lab.select(col("__n").as("__a"), col("__r").as("__ra")),
        Seq("__a"), "left")
      .join(lab.select(col("__n").as("__b"), col("__r").as("__rb")),
        Seq("__b"), "left")
      .select(coalesce(col("__ra"), col("__a")).as("qa"),
        coalesce(col("__rb"), col("__b")).as("qb"))
      .filter(col("qa") =!= col("qb"))
      .localCheckpoint()
    // all batch edges may collapse inside existing components — the
    // quotient is then empty and the labeling passes through. The
    // count doubles as the materializing action on the checkpointed
    // frame AND the size gate for the local fast path below.
    val spark = lab.sparkSession
    val nMapped = mapped.count()
    // Quotient CC strategy by measured size (guide §3.1's principle —
    // pick by data, not by a constant): the quotient graph is sized by
    // the BATCH and the components it touches, so at ingest scale it
    // is usually driver-small. Below the broadcast-class byte budget
    // ([[localBudgetEdges]]), solve it ON the driver with min-union
    // union-find: the distributed alternating-star loop costs ~15
    // scheduler-bound jobs of 1–8 tiny tasks per ingest (JobProfile
    // r17: q130's wall was ~120 such jobs, 10–200 ms each — pure
    // per-job overhead, zero compute), where one collect + O(E α(E))
    // local work + a broadcast join is exact and near-free. Labels are
    // component-min ids in both paths, so the output is bit-identical;
    // a large batch (count above the budget) takes the distributed
    // loop unchanged.
    val qcc =
      if (nMapped == 0L)
        spark.range(0)
          .select(col("id").as("__q"), col("id").as("__qr"))
      else localLabels(mapped, nMapped, "__q", "__qr").getOrElse(
        connectedComponents(mapped, "qa", "qb", maxIter)
          .select(col("node").as("__q"), col("cluster_rep").as("__qr")))
    val updatedHist = lab
      .join(qcc, col("__r") === col("__q"), "left")
      .select(col("__n").as("node"),
        coalesce(col("__qr"), col("__r")).as("cluster_rep"))
    val batchNodes = eaRaw.select(col("__a").as("__n"))
      .union(eaRaw.select(col("__b").as("__n"))).distinct()
      .join(lab, Seq("__n"), "left")
      .select(col("__n"), coalesce(col("__r"), col("__n")).as("__q0"))
      .join(qcc, col("__q0") === col("__q"), "left")
      .select(col("__n").as("node"),
        coalesce(col("__qr"), col("__q0")).as("cluster_rep"))
    updatedHist.union(batchNodes).distinct()
  }

  /** Edge budget for the driver-local CC fast paths: the session's
    * broadcast byte threshold over a conservative 16 bytes per (long,
    * long) edge — i.e. the fast path may collect exactly the data
    * volume the engine itself would collect to build a broadcast hash
    * relation, and no more. Unparsable or disabled (-1) thresholds
    * fall back to the 10 MB default's edge count.
    */
  private def localBudgetEdges(
      spark: org.apache.spark.sql.SparkSession): Long = math.max(1L,
    spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      .stripSuffix("b").stripSuffix("B") match {
      case s if s.nonEmpty && s.forall(_.isDigit) => s.toLong / 16
      case _ => 655360L
    })

  /** The driver-local labelling both fast paths share: when the
    * two-column edge frame `edges` (already counted: `n` edges) has
    * LongType ids and fits [[localBudgetEdges]], collect it, solve it
    * with [[localComponents]] and return the (`nodeCol`, `repCol`)
    * labels; otherwise None, and the caller runs the distributed loop.
    * The LongType gate keeps output schemas unchanged (every production
    * caller has long ids). The result is a LocalRelation, deliberately:
    * it carries its REAL size statistic, so the label joins downstream
    * plan as broadcasts instead of shuffling the other side.
    */
  private def localLabels(edges: DataFrame, n: Long, nodeCol: String,
      repCol: String): Option[DataFrame] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = edges.sparkSession
    if (!edges.schema.fields.forall(_.dataType == LongType) ||
        n > localBudgetEdges(spark)) None
    else {
      val rows = new java.util.ArrayList[Row]()
      localComponents(edges.collect().iterator
        .map(r => (r.getLong(0), r.getLong(1))))
        .foreach(t => rows.add(Row.fromTuple(t)))
      Some(spark.createDataFrame(rows, StructType(Seq(
        StructField(nodeCol, LongType, nullable = false),
        StructField(repCol, LongType, nullable = false)))))
    }
  }

  /** Exact min-label connected components of a driver-sized edge list:
    * union-find where the SMALLER root always becomes the parent, so
    * every set's final root IS the component's minimum node id — the
    * same label [[connectedComponents]] assigns. Path compression keeps
    * it near-linear; min-union (vs union-by-rank) is what makes the
    * label canonical without a second pass.
    */
  private[graft] def localComponents(
      edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.keysIterator.toArray.iterator.map(n => (n, find(n)))
  }

  /** Convenience: cluster membership with component sizes, ordered —
    * the review surface ("which documents collapse together").
    */
  def clusters(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    withSizes(connectedComponents(edges, aCol, bCol))

  /** The cluster review surface over any (node, cluster_rep) labeling
    * — full ([[connectedComponents]]) or incremental
    * ([[incrementalComponents]]): membership with component sizes,
    * one shape for q71 and q128.
    */
  def withSizes(labelled: DataFrame): DataFrame = {
    val sizes = labelled.groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_members"))
    labelled.join(sizes, "cluster_rep")
      .select(col("node").as("doc_id"), col("cluster_rep"), col("n_members"))
  }
}
