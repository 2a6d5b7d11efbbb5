package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM. */
object SparkTestSession {
  lazy val get: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Ids of the session's cached RDDs; local checkpoints are deliberate
    * session pins, not caches. Equal sets before and after a run show
    * that the run leaked no cache. */
  def cachedRdds: Set[Int] =
    get.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed).map(_.id).toSet
}
