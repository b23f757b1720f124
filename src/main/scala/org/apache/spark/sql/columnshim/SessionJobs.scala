package org.apache.spark.sql.columnshim

import org.apache.spark.sql.classic.SparkSession

/** Jobs the engine starts outside a SQL action. Spark keeps the session's
  * artifact manager `private[sql]`; like [[ExpressionColumns]], this object
  * in a subpackage of `org.apache.spark.sql` is the one place that reaches
  * it.
  */
object SessionJobs {

  /** Runs `body` with the session's job artifact state, as a SQL action
    * does, so the tasks of the jobs it starts run under the session's class
    * loader.
    */
  def withSession[T](spark: SparkSession)(body: => T): T =
    spark.artifactManager.withResources(body)
}
