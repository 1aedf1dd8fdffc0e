package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.functions.TextFns
import graft.ops.{DedupClusters, NearDup, Similarity}
import graft.pipeline.Sparkify
import graft.streaming.{NearDupIndex, VersionedStore}

/** One workload: a batch pass the closed loop repeats, the scan probes a
  * traced run adds outside the timed pass, and the export of results for
  * the reference checks. */
trait Workload {
  /** Passes run before timing: the first one cold. */
  def warmups: Int = 1

  /** Runs every step of one pass; returns each step's result digest.
    * Steps whose output is files (the ETL sinks) return nothing here and
    * are checked from the files. */
  def pass(spark: SparkSession, tag: String, tr: Tracer): Seq[(String, Digest)]

  /** Traced-run only: time the input scans on their own. */
  def probes(spark: SparkSession, tr: Tracer): Map[String, Double] = Map.empty

  /** The first, cold warm-up pass: a plain pass unless the workload's
    * pass keeps its results in memory. Such a workload also writes each
    * step's result under `dir` here for the reference checks, so what is
    * checked is what every later pass must reproduce. */
  def firstPass(spark: SparkSession, dir: String): Seq[(String, Digest)] =
    pass(spark, "w0", Tracer.off)

  /** After the loop: write what else the reference checks read into
    * `dir`; returns any per-layer figures this measures. */
  def export(spark: SparkSession, dir: String): Map[String, Double] = Map.empty

  /** Per-layer figures a traced pass reports beyond spans and listeners. */
  def layers(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, in: String, work: String,
      inputBytes: Long): Workload = name match {
    case "sparkify_etl" => new SparkifyEtl(in, s"$work/out", inputBytes)
    case "corpus_dedup" => new CorpusDedup(in)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Seconds to scan `tables` in full through the engine's loader. */
  def scanParquet(spark: SparkSession, in: String, tr: Tracer,
      tables: Seq[String]): Double = {
    val t0 = System.nanoTime()
    tr.span("sources.scan.parquet") {
      tables.foreach(t => Digest.of(Tables(spark, in, t), s"scan.$t"))
    }
    (System.nanoTime() - t0) / 1e9
  }
}

/** The paper's job: `Sparkify.run` from song and log JSON to the five
  * partitioned parquet tables. Every pass writes a fresh output
  * directory, which the reference check reads afterwards. */
final class SparkifyEtl(in: String, out: String, inputBytes: Long) extends Workload {
  // measured on 4 cores: pass time and process CPU fall steeply for
  // about six passes while the JIT compiles the pipeline's code paths;
  // timed passes after only three warm-ups spread 25% between runs
  override def warmups: Int = 6
  private val songs = s"$in/song_data/*/*/*/*.json"
  private val logs = s"$in/log_data/*/*/*.json"

  def pass(spark: SparkSession, tag: String, tr: Tracer): Seq[(String, Digest)] = {
    tr.span("pipeline.run")(Sparkify.run(spark, songs, logs, s"$out/$tag"))
    Seq.empty
  }

  override def probes(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val t0 = System.nanoTime()
    val rows = tr.span("sources.scan.json") {
      Digest.of(Sparkify.readSongs(spark, songs), "scan.songs").rows +
        Digest.of(Sparkify.readLogs(spark, logs), "scan.logs").rows
    }
    val s = (System.nanoTime() - t0) / 1e9
    Map("scan.json.s" -> s, "scan.json.bytes" -> inputBytes.toDouble,
      "scan.json.rows_per_s" -> rows / s)
  }
}

/** Near-duplicate and similarity curation over a documents and
  * embeddings corpus: MinHash sign, band, candidates and Jaccard
  * verification, clustering, cosine top-k, pair scoring, and the same
  * documents replayed in micro-batches through the stored LSH index. */
final class CorpusDedup(in: String) extends Workload {
  import CorpusDedup._
  private val docsPath = s"$in/documents.parquet"
  private var rounds = 0

  def pass(spark: SparkSession, tag: String, tr: Tracer): Seq[(String, Digest)] = {
    val keep = collection.mutable.ArrayBuffer.empty[DataFrame]
    try steps(spark, tr) { (_, df, reused) =>
      if (reused) { val p = df.persist(); keep += p; p } else df
    } finally keep.foreach(_.unpersist(blocking = false))
  }

  /** Runs every step of a pass in order, each in a span named after it.
    * A step's result goes through `hold` (given the step name and
    * whether later steps read it) and is then digested in full. */
  private def steps(spark: SparkSession, tr: Tracer)(
      hold: (String, DataFrame, Boolean) => DataFrame): Seq[(String, Digest)] = {
    val digests = collection.mutable.ArrayBuffer.empty[(String, Digest)]
    def step(name: String, reused: Boolean = false)(df: => DataFrame): DataFrame =
      tr.span(name) {
        val held = hold(name, df, reused)
        digests += name -> Digest.of(held, name)
        held
      }
    val text = step("functions.textfns", reused = true)(
      Tables(spark, in, "documents").select(col("doc_id"),
        TextFns.tokens("text").as("tokens"),
        TextFns.shingles("text", Shingle).as("shingles")))
    val sigs = step("ops.neardup.sign", reused = true)(
      NearDup.minHashSigs(text, "doc_id", "shingles", K, "sig"))
    val bands = step("ops.neardup.band", reused = true)(
      NearDup.bandRows(sigs, "doc_id", "sig", Bands, Rows, K))
    val cands = step("ops.neardup.candidates", reused = true)(
      NearDup.candidatePairs(bands, "doc_id"))
    val pairs = step("ops.neardup.verify", reused = true)(
      NearDup.jaccard(cands, text, "doc_id", "shingles")
        .filter(col("jaccard") >= MinJaccard))
    step("ops.clusters") {
      val (labels, r) = DedupClusters.connectedComponentsWithRounds(
        pairs, "id_a", "id_b")
      rounds = r
      labels
    }
    val vecs = step("ops.similarity.prepare", reused = true)(
      Similarity.prepare(Tables(spark, in, "embeddings"), "embedding"))
    step("ops.similarity.topk")(
      Similarity.lshTopK(vecs, "vec_id", TopK, targetBucketSize = BucketSize))
    step("expressions.cosine")(scored(spark, vecs))
    step("streaming.neardup_index")(NearDupIndex.run(spark, docsPath, chunks = Chunks))
    digests.toSeq
  }

  private def scored(spark: SparkSession, vecs: DataFrame): DataFrame = {
    val v = vecs.select("vec_id", "qv", "qn")
    spark.read.parquet(s"$in/probe_pairs.parquet")
      .join(v.toDF("id_a", "qa", "na"), "id_a")
      .join(v.toDF("id_b", "qb", "nb"), "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("qa"), col("qb"), col("na"), col("nb")).as("sim"))
  }

  override def probes(spark: SparkSession, tr: Tracer): Map[String, Double] =
    Map("scan.parquet.s" -> Workload.scanParquet(spark, in, tr,
      Seq("documents", "embeddings")))

  override def layers(spark: SparkSession): Map[String, Double] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val state = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_ndidx_state_"))
      .sortBy(_.lastModified).lastOption
    val rows = state.toSeq.flatMap { root =>
      Seq("bands", "sigs", "verdicts").flatMap(t =>
        VersionedStore.readAllBelow(spark, s"$root/$t", Long.MaxValue))
    }.map(_.count()).sum
    Map("ops.clusters.rounds" -> rounds.toDouble,
      "streaming.state_rows" -> rows.toDouble,
      "streaming.state_bytes" -> state.map(Files.tree(_)._2).getOrElse(0L).toDouble)
  }

  override def firstPass(spark: SparkSession, dir: String): Seq[(String, Digest)] =
    steps(spark, Tracer.off) { (name, df, _) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }

  /** Writes the brute-force top-k the recall is measured against, the
    * workload's parameters, and the engine's q131 oracle SQL that states
    * the streamed verdicts over the whole corpus. */
  override def export(spark: SparkSession, dir: String) = {
    val vecs = spark.read.parquet(s"$dir/ops.similarity.prepare")
    Similarity.bruteForceTopK(vecs, vecs, "vec_id", TopK)
      .write.mode("overwrite").parquet(s"$dir/topk_exact")
    val exact = spark.read.parquet(s"$dir/topk_exact")
    val lsh = spark.read.parquet(s"$dir/ops.similarity.topk")
    val hits = lsh.join(exact, Seq("query_id", "neighbor_id")).count()
    val total = exact.count()
    def write(name: String, text: String): Unit = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/$name"), text)
    write("params.json", s"""{"shingle":$Shingle,"k":$K,"bands":$Bands,"rows":$Rows,""" +
      s""""min_jaccard":$MinJaccard,"top_k":$TopK}""")
    write("q131.sql", SparkEntry.oracleSql("q131_stream_neardup_index"))
    Map("ops.similarity.recall" -> (if (total == 0) 0.0 else hits.toDouble / total))
  }
}

object CorpusDedup {
  val Shingle = 5      // character shingle width
  val K = 64           // min-hashes per signature
  val Bands = 16       // LSH bands of
  val Rows = 4         // rows each
  val MinJaccard = 0.7 // verified near-duplicate bar
  val TopK = 10
  val BucketSize = 256L
  val Chunks = 2       // micro-batches of the streaming replay
}
