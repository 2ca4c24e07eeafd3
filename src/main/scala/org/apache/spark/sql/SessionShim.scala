package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The session calls `graft.queries.Regime` needs that Spark keeps
  * `private[sql]`: a clone of a session, a frame over an analyzed plan in
  * another session, and a session's own broadcast threshold in bytes. */
object SessionShim {
  private def classicOf(spark: SparkSession) = spark.asInstanceOf[classic.SparkSession]

  /** A clone of `spark` (conf, temp views, functions, extensions) with
    * `confs` set on top. */
  def cloneWith(spark: SparkSession, confs: Map[String, String]): SparkSession = {
    val clone = classicOf(spark).cloneSession()
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** A frame that plans and runs `plan` (already analyzed) in `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classicOf(spark), plan)

  def broadcastThreshold(spark: SparkSession): Long =
    classicOf(spark).sessionState.conf.autoBroadcastJoinThreshold
}
