package graft.frontier

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution

/** Jobs over a DataFrame's internal rows, for results a DataFrame
  * aggregation would produce through generated code of its own (a partial
  * and a final stage, each compiled on the driver and on the executors):
  * the row-level job compiles nothing beyond the input's plan.
  */
object InternalRows {

  /** Runs `job` on `df`'s internal rows as one SQL execution of its
    * session, as a Dataset action does. Outside an execution, a cache
    * that the job builds runs its shuffle stages under a fresh executor
    * class loader (seen on Spark 4.1), and every class of those stages is
    * compiled again in each round. */
  def run[T](df: DataFrame)(job: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("internal rows"))(job(qe.toRdd))
  }
}
