package graft.exec

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Facts about a Dataset's physical plan, read without running a job. */
object Plans {

  /** The partitions `ds` is read in, found without a Spark job: reading them
    * from a plan with an exchange (or an adaptive plan, which plans its
    * stages by running them) would run its stages, so such a plan counts
    * none.
    */
  def inputPartitions(ds: Dataset[_]): Int = ds.queryExecution.executedPlan match {
    case p if p.exists { case _: AdaptiveSparkPlanExec | _: Exchange => true; case _ => false } => 0
    case p => p.execute().getNumPartitions
  }
}
