package org.apache.spark

/** The two package-private SparkContext facilities the benchmark needs:
  * draining the listener bus before reading listener counters, and Spark's
  * own status store as an independent tally to check them against. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Per job group starting with `prefix`: (jobs, tasks, shuffle write
    * bytes) as Spark's status store recorded them. A stage listed by several
    * jobs (a reused shuffle) is charged once, to the group of the lowest job
    * id that lists it. */
  def groupTotals(sc: SparkContext, prefix: String): Map[String, (Long, Long, Long)] = {
    val jobs = sc.statusStore.jobsList(null).filter(_.jobGroup.exists(_.startsWith(prefix)))
      .sortBy(_.jobId)
    val stageGroup = scala.collection.mutable.Map.empty[Int, String]
    jobs.foreach(j => j.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, j.jobGroup.get)))
    val stages = sc.statusStore.stageList(null).filter(s => stageGroup.contains(s.stageId))
      .groupBy(s => stageGroup(s.stageId))
    jobs.groupBy(_.jobGroup.get).map { case (g, js) =>
      val ss = stages.getOrElse(g, Nil)
      g -> (js.size.toLong,
        ss.map(s => (s.numCompleteTasks + s.numFailedTasks + s.numKilledTasks).toLong).sum,
        ss.map(_.shuffleWriteBytes).sum)
    }
  }
}
