package org.apache.spark.sql

/** Bridge to the `private[sql]` Dataset constructor. A plan that mixes
  * frames of two sessions (a collection's stored frame and a streaming
  * micro-batch, which runs in a cloned session) executes in the session
  * of its left-most frame, while an `Observation` completes only in the
  * session whose frame it was registered on; a frame observed inside
  * such a plan must therefore be rebased onto the session that runs it.
  */
object GraftSessionBridge {
  /** `df`'s logical plan as a frame of `spark` (`df` itself when it
    * already is one). */
  def inSession(spark: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq spark) df
    else classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
