package org.apache.spark

/** Bridge to package-private SparkContext members the benchmark needs:
  * the listener-bus drain (counts are read only after every event of
  * the measured window has been delivered), and the active context and
  * job-tag property (spans tag the work they submit).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def active: Option[SparkContext] = SparkContext.getActive
  val JobTagsKey: String = SparkContext.SPARK_JOB_TAGS
}
