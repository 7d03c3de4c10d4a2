package org.apache.spark

/** Reaches what Spark keeps package-private for the bench's listener:
  * the listener bus, to wait until it has delivered every posted event,
  * and the job-property key that carries a job's group.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID
}
