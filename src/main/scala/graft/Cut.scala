package graft

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution

/** Driver collects whose size the caller states: a request batch, a
  * beam round's scored rows. Each collect names the constant that
  * bounds it and fails loudly above it, instead of growing the driver
  * without limit.
  */
object Cut {

  /** Collect `df`, failing with a message that names `bound` when it
    * holds more than `maxRows` rows. The frame is analysed and
    * optimized once: a frame the optimizer folds to a `LocalRelation`
    * already sits on the driver and is read with no job; any other
    * frame runs its own executed plan as ONE job, inside a SQL
    * execution as `collect` would, whose tasks each return at most
    * `maxRows + 1` rows. A global `limit` would scan the partitions in
    * growing waves, one job per wave, and a `Limit` node's generated
    * code is unique per plan, so it never reuses a compiled class.
    */
  def request(df: DataFrame, maxRows: Int, bound: String,
              what: String = "request batch"): Array[Row] = {
    val qe = df.queryExecution
    val rows =
      if (qe.optimizedPlan.isInstanceOf[LocalRelation]) df.collect()
      else {
        val cap = maxRows + 1
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        SQLExecution.withNewExecutionId(qe, Some("collect")) {
          qe.executedPlan.execute()
            .mapPartitions((it: Iterator[InternalRow]) => it.take(cap).map(_.copy()))
            .collect()
        }.map(toRow(_).asInstanceOf[Row])
      }
    within(rows, maxRows, bound, what)
  }

  /** Run `f` over the partitions `parts` of `rdd` as ONE job with no
    * query plan, and collect what it returns, failing as [[request]]
    * does when that is more than `maxRows` rows. `f` gets each
    * partition's index and rows; each task returns at most
    * `maxRows + 1` rows.
    */
  def job[T, U: ClassTag](rdd: RDD[T], parts: Seq[Int], maxRows: Int,
                          bound: String, what: String)(
      f: (Int, Iterator[T]) => Iterator[U]): Array[U] = {
    val cap = maxRows + 1
    val got = rdd.sparkContext.runJob(rdd,
      (ctx: org.apache.spark.TaskContext, it: Iterator[T]) =>
        f(ctx.partitionId(), it).take(cap).toArray, parts)
    within(got.flatten, maxRows, bound, what)
  }

  private def within[R](rows: Array[R], maxRows: Int, bound: String,
                        what: String): Array[R] = {
    require(rows.length <= maxRows,
      s"$what exceeds $bound=$maxRows rows; split it into smaller calls")
    rows
  }
}
