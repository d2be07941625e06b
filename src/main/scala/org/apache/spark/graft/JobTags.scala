package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Accessor shim for the `private[spark]` job-tag property: the tags a
  * job was submitted under ([[SparkContext.addJobTag]]), read from the
  * local properties a `SparkListenerJobStart` carries.
  */
object JobTags {
  def of(props: java.util.Properties): Set[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .map(_.split(SparkContext.SPARK_JOB_TAGS_SEP).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
}
