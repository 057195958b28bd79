package org.apache.spark.sql.graftspec

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Session internals for specs that compare plan shapes. `Dataset.ofRows`
  * is `private[sql]` and `SparkContext.conf` is `private[spark]`, hence
  * this object's package. */
object Frames {

  /** The frame of a logical plan. */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** A new session on `s`'s SparkContext without the extensions the
    * context's `spark.sql.extensions` names. `s` stays the active and
    * default session. */
  def withoutExtensions(s: SparkSession): SparkSession = {
    val conf = s.sparkContext.conf
    val key = "spark.sql.extensions"
    val ext = conf.getOption(key)
    conf.remove(key)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().getOrCreate()
    finally {
      ext.foreach(conf.set(key, _))
      SparkSession.setDefaultSession(s)
      SparkSession.setActiveSession(s)
    }
  }
}
