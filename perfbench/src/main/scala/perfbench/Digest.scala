package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.SQLExecution

/** Order-independent digest of a result: the row count and the wrapping
  * sum of a 64-bit hash of every field of every row. */
final case class Digest(rows: Long, sum: Long) {
  def json: String = s"""{"rows":$rows,"sum":$sum}"""
}

object Digest {

  private def mix(h0: Long): Long = {
    var z = h0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Materialize `df` in full and digest it. Runs the DataFrame's own
    * physical plan (final sorts, windows and projections included; no
    * count() pruning) as one SQL execution, so listeners see it like any
    * other action. */
  def of(df: DataFrame, label: String): Digest = {
    val qe = df.queryExecution
    val types = df.schema.fields.map(_.dataType)
    SQLExecution.withNewExecutionId(qe, Some(label)) {
      val parts = qe.toRdd.mapPartitions { it =>
        var n = 0L
        var s = 0L
        it.foreach { row =>
          var h = 42L
          var i = 0
          while (i < types.length) {
            h = if (row.isNullAt(i)) mix(h + 1)
              else XxHash64Function.hash(row.get(i, types(i)), types(i), h)
            i += 1
          }
          s += mix(h)
          n += 1
        }
        Iterator.single((n, s))
      }.collect()
      Digest(parts.map(_._1).sum, parts.map(_._2).sum)
    }
  }
}
