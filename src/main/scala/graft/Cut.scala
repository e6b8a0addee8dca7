package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Driver collects of frames whose size the caller states: a request
  * batch, a beam round's lookups. Each collect names the constant that
  * bounds it and fails loudly above it, instead of growing the driver
  * without limit.
  */
object Cut {

  /** Collect `df`, failing with a message that names `bound` when it
    * holds more than `maxRows` rows. A frame the optimizer folds to a
    * `LocalRelation` already sits on the driver and is read with no
    * job. Any other frame runs as ONE job whose tasks each return at
    * most `maxRows + 1` rows; a global `limit` would scan the
    * partitions in growing waves, one job per wave.
    */
  def request(df: DataFrame, maxRows: Int, bound: String,
              what: String = "request batch"): Array[Row] = {
    val rows =
      if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) df.collect()
      else df.mapPartitions((it: Iterator[Row]) => it.take(maxRows + 1))(
        Encoders.row(df.schema)).collect()
    require(rows.length <= maxRows,
      s"$what exceeds $bound=$maxRows rows; split it into smaller calls")
    rows
  }
}
