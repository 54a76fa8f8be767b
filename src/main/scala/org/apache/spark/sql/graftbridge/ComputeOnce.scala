package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** A plan operator whose rows are computed once per execution: its RDD
  * is the child's, locally checkpointed, so the first job that reads it
  * keeps the rows and the later jobs of the same execution read them
  * back. Building or planning it runs nothing.
  */
case class ComputeOnce(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): ComputeOnce = copy(child = c)
}

object ComputeOnce {

  /** `df` under a [[ComputeOnce]] node, on `df`'s own session, which
    * [[ComputeOnceStrategy.setup]] prepares to plan it.
    */
  def apply(df: DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    ComputeOnceStrategy.setup(session)
    classic.Dataset.ofRows(session, ComputeOnce(df.asInstanceOf[classic.Dataset[_]].logicalPlan))
  }
}

case class ComputeOnceExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().map(_.copy()).localCheckpoint()
  override protected def withNewChildInternal(c: SparkPlan): ComputeOnceExec = copy(child = c)
}

/** Plans [[ComputeOnce]] nodes and nothing else. */
object ComputeOnceStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ComputeOnce(child) => ComputeOnceExec(planLater(child)) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to `session`'s planner unless it is there. */
  def setup(session: SparkSession): Unit = synchronized {
    val methods = session.asInstanceOf[classic.SparkSession].experimental
    if (!methods.extraStrategies.contains(this)) methods.extraStrategies = this +: methods.extraStrategies
  }
}
