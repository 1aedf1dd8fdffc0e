package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.{Repartition,
  RepartitionByExpression}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Widen

/** The byte-estimated forms of [[Widen]] share one size guard
  * (estimate < cores × 4 MiB). Below it every form pins the count to
  * `defaultParallelism`; above it each is the identity or its adaptive
  * form. The large frame is only planned, never run.
  */
class WidenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val cores = spark.sparkContext.defaultParallelism

  private def tiny: DataFrame = spark.range(10).toDF("id")
  // 2^30 longs: an 8 GiB estimate, far above the floor at any core count
  private def huge: DataFrame = spark.range(1L << 30).toDF("id")

  /** (partition count, range-partitioned?) of the top repartition. */
  private def top(df: DataFrame): (Option[Int], Boolean) =
    df.queryExecution.logical match {
      case r: Repartition => (Some(r.numPartitions), false)
      case r: RepartitionByExpression => (r.optNumPartitions,
        r.partitionExpressions.exists(_.isInstanceOf[SortOrder]))
      case other => fail(s"no repartition on top: $other")
    }

  test("a tiny frame widens to defaultParallelism in every form") {
    assert(Widen.ifNarrow(tiny).rdd.getNumPartitions === cores)
    assert(Widen.byKeyIfNarrow(tiny, col("id")).rdd.getNumPartitions
      === cores)
    assert(Widen.keyed(tiny, col("id")).rdd.getNumPartitions === cores)
    assert(Widen.byRangeIfNarrow(tiny, col("id")).rdd.getNumPartitions
      === cores)
    assert(top(Widen.ifNarrow(tiny)) === (Some(cores), false))
    assert(top(Widen.byKeyIfNarrow(tiny, col("id"))) ===
      (Some(cores), false))
    assert(top(Widen.keyed(tiny, col("id"))) === (Some(cores), false))
    assert(top(Widen.byRangeIfNarrow(tiny, col("id"))) ===
      (Some(cores), true))
  }

  test("a frame estimated above the floor is left alone or adaptive") {
    val big = huge
    assert(Widen.ifNarrow(big) eq big)
    assert(Widen.byKeyIfNarrow(big, col("id")) eq big)
    assert(top(Widen.keyed(big, col("id"))) === (None, false))
    assert(top(Widen.byRangeIfNarrow(big, col("id"))) === (None, true))
  }
}
