package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Runs a frame's physical plan once and keeps the run: what
  * `Dataset.checkpoint` does, minus the checkpoint. Nothing is cut,
  * cached or written beyond the plan's own exchanges; the returned
  * frame re-reads the last exchange's map output, which lives while
  * the frame is reachable and is recomputed from lineage if lost.
  */
object Executed {

  /** The frame over `df`'s executed result RDD, and its row count. The
    * run is one SQL execution, as a `count()` is. The frame carries the
    * final plan's partitioning and ordering (the AQE node itself
    * reports `UnknownPartitioning`), so a sink that needs the same
    * clustering plans no exchange of its own.
    */
  def count(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[Dataset[_]]
    val session = ds.sparkSession.asInstanceOf[SparkSession]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("count")) {
      val rdd = qe.executedPlan.execute()
      val n = rdd.count()
      val plan = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
      val leaf = LogicalRDD(qe.analyzed.output, rdd, plan.outputPartitioning,
        plan.outputOrdering)(session)
      (Dataset.ofRows(session, leaf), n)
    }
  }
}
