package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

class StagingRocksDbSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("stream dedup on the RocksDB state store matches the default store exactly") {
    val src = "/root/testdata/sf0.001/events.parquet"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val default = EventStream.streamDedup(spark, src).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val saved = spark.conf.getOption(key)
    val rocks =
      try {
        spark.conf.set(key, graft.streaming.Staging.RocksDbProvider)
        EventStream.streamDedup(spark, src).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
      } finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    assert(default.nonEmpty)
    assert(rocks === default)
  }
}
