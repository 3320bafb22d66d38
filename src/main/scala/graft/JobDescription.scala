package graft

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs of one engine operation. Every job `body` starts
  * carries `description` as its `spark.job.description` — the Spark UI's
  * job name, and what a `SparkListener` reads to attribute a job to the
  * operation that issued it. Adaptive query stages, which Spark runs on
  * its own threads, inherit the description with the rest of this
  * thread's local properties. The caller's description is restored
  * afterwards, so a described operation may call another.
  */
private[graft] object JobDescription {

  private val Key = "spark.job.description"

  def during[A](spark: SparkSession, description: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, description)
    try body finally sc.setLocalProperty(Key, prior)
  }
}
