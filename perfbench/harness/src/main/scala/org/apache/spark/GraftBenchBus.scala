package org.apache.spark

/** Accessors for two `private[spark]` members of the SparkContext, hence
  * this package: the listener bus, and the status store that Spark's own
  * listener fills.
  */
object GraftBenchBus {
  /** Waits until the listener bus has delivered every queued event, so the
    * benchmark's listeners have seen all of a pass before it is derived.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Every finished job Spark's status store still holds, as (start ms,
    * end ms, completed tasks). The store is filled by Spark's own listener,
    * independently of the benchmark's.
    */
  def finishedJobs(sc: SparkContext): Seq[(Long, Long, Int)] =
    sc.statusStore.jobsList(null).flatMap { j =>
      for (s <- j.submissionTime; e <- j.completionTime)
        yield (s.getTime, e.getTime, j.numCompletedTasks)
    }
}
