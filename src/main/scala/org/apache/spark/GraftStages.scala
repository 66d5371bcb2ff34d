package org.apache.spark

/** Driver-side stage control the sink's commit needs and Spark keeps
  * private[spark] — so the helper lives under the spark package (like
  * GraftOutputMetrics): starting one shuffle's map stage on its own, as
  * adaptive execution does, releasing that shuffle's files once its reduce
  * jobs are done, and the memory page size a task's sorter allocates.
  */
object GraftStages {
  /** Start the map stage of `dep`; the returned future completes with it. */
  def submit(sc: SparkContext, dep: ShuffleDependency[_, _, _]): SimpleFutureAction[MapOutputStatistics] =
    sc.submitMapStage(dep)

  /** Delete the shuffle files of `dep` now, not when the dependency is
    * garbage-collected. */
  def release(sc: SparkContext, dep: ShuffleDependency[_, _, _]): Unit =
    sc.cleaner.foreach(_.doCleanupShuffle(dep.shuffleId, blocking = false))

  /** Page size of the executor's memory manager. Executor side only. */
  def pageSizeBytes: Long = SparkEnv.get.memoryManager.pageSizeBytes
}
