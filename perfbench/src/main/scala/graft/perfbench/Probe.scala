package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-scope Spark counters: every job carries the job group the driving
  * loop set for the call it belongs to (local properties are inherited by
  * the engine's own build threads), and every stage and task is charged to
  * its job's group. Listener events arrive on one bus thread; read the
  * counters only after draining the bus. */
final class Probe extends SparkListener {
  final class Scope {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskCpuNs = 0L
    var gcMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    var inputB = 0L
    val jobSpansMs = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Wall covered by at least one running job, within [fromMs, toMs]. */
    def jobWallMs(fromMs: Long, toMs: Long): Long = {
      var covered = 0L
      var reach = fromMs
      jobSpansMs.map { case (a, b) => (a max fromMs, b min toMs) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > reach) { covered += b - (a max reach); reach = b }
        }
      covered
    }
  }

  private val scopes = mutable.Map.empty[String, Scope]
  private val jobScope = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageScope = mutable.Map.empty[Int, String]

  def scope(name: String): Scope = synchronized(scopes.getOrElseUpdate(name, new Scope))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      jobScope(e.jobId) = g
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(stageScope(_) = g)
      scope(g).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobScope.remove(e.jobId); t0 <- jobStartMs.remove(e.jobId))
      scope(g).jobSpansMs += ((t0, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageScope.get(e.stageInfo.stageId).foreach(scope(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (g <- stageScope.get(e.stageId) if m != null) {
      val s = scope(g)
      s.tasks += 1
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.diskBytesSpilled
      s.inputB += m.inputMetrics.bytesRead
    }
  }
}
