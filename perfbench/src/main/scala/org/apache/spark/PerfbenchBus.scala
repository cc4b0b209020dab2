package org.apache.spark

/** Package-private Spark internals the traced run needs. */
object PerfbenchBus {
  /** Waits until every listener event posted so far has been delivered,
    * so the traced run sees all job, stage and query events of an
    * operation before it detaches its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The job property that carries a job's tags. */
  val JobTags: String = SparkContext.SPARK_JOB_TAGS

  /** Whether a stage writes shuffle output (a map stage, not a result
    * stage). */
  def isShuffleMap(si: scheduler.StageInfo): Boolean = si.shuffleDepId.isDefined
}
