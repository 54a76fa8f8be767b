package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Bridge to Spark's `private[sql]` session cloning and plan rebinding,
  * for `graft.LocalSession.scoped` (same technique as [[ColumnBridge]]).
  */
object SessionBridge {

  /** A child of `spark` that copies its SQL conf, temporary functions and views. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a DataFrame of `spark`, planned with its conf. */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
