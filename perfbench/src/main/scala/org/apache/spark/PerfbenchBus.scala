package org.apache.spark

/** Spark internals the benchmark reads and Spark keeps package-private. */
object PerfbenchBus {
  /** Block until every posted event has reached the listeners, so
    * per-call counters are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Persisted RDDs split into (cached, locally checkpointed). A local
    * checkpoint is how the engine pins a lineage-free memo for the
    * session (the topic model's report tables); a cached RDD still
    * persisted after the driving loop released its calls is a leak. */
  def persisted(sc: SparkContext): (Seq[String], Seq[String]) = {
    val (pinned, cached) = sc.getPersistentRDDs.values.toSeq.partition(
      _.checkpointData.exists(_.isInstanceOf[rdd.LocalRDDCheckpointData[_]]))
    def names(rs: Seq[rdd.RDD[_]]): Seq[String] =
      rs.map(r => s"${r.id}:${Option(r.name).getOrElse(r.getClass.getSimpleName)}")
    (names(cached), names(pinned))
  }
}
