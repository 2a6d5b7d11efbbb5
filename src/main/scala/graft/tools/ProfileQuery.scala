package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev utility (r21 optimization round): decompose a query's wall-clock
  * into DRIVER time (analysis/optimization/codegen/scheduling gaps) vs
  * EXECUTED job time, with per-job task metrics — the measurement §1 of
  * the optimization guide asks for before touching anything.
  *
  * Run: sbt "runMain graft.tools.ProfileQuery /root/testdata/sf0.1 32 q218_bm25_param_sweep ..."
  *
  * Prints per query (after one untimed warm pass):
  *   wall        action wall-clock
  *   jobs        number of Spark jobs the action ran
  *   jobWall     sum of job wall-clocks (submitted -> completed)
  *   driverGap   wall - jobWall (planning + driver work between jobs)
  *   taskTime    sum of executor run time across tasks (cpu-seconds)
  *   gc          sum of JVM GC time
  *   shRead/shWrite  shuffle bytes fetched / written
  *   tasks       task count
  */
object ProfileQuery {
  final class Probe extends SparkListener {
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var jobWallNs = 0L
    @volatile var nJobs = 0
    @volatile var nTasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var gcMs = 0L
    @volatile var shReadB = 0L
    @volatile var shWriteB = 0L
    @volatile var inputB = 0L
    val stageRows = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, System.nanoTime())
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = jobStart.remove(e.jobId)
      if (t0 != 0L) { jobWallNs += System.nanoTime() - t0; nJobs += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        nTasks += 1
        taskTimeMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shReadB += m.shuffleReadMetrics.totalBytesRead
        shWriteB += m.shuffleWriteMetrics.bytesWritten
        inputB += m.inputMetrics.bytesRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val run = si.taskMetrics
      if (run != null)
        stageRows.add(f"    stage ${si.stageId}%4d ${si.name.take(60)}%-60s tasks=${si.numTasks}%4d exec=${run.executorRunTime / 1e3}%7.2fs shR=${run.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB shW=${run.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB spillM=${run.memoryBytesSpilled / 1e6}%8.1fMB spillD=${run.diskBytesSpilled / 1e6}%8.1fMB")
    }
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(1).getOrElse("32")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val stages = sys.env.get("GRAFT_PROFILE_STAGES").contains("1")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // generic session-conf overrides for A/B runs: "k=v;k=v"
    sys.env.get("GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    // session warmup, mirroring Bench
    try graft.SparkEntry.queries("q01_pricing_summary")(spark, d)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    println(f"${"query"}%-32s ${"wall"}%7s ${"jobs"}%5s ${"jobWall"}%8s ${"gap"}%7s ${"taskT"}%8s ${"gc"}%6s ${"shR MB"}%8s ${"shW MB"}%8s ${"tasks"}%6s")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // warm pass (untimed): JIT, artifact builds, codegen cache
      try fn(spark, d).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"$n FAILED warm: ${e.getMessage}") }
      val probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      val t0 = System.nanoTime()
      try fn(spark, d).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"$n FAILED: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async; give it a moment to drain
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(probe)
      val jobWall = probe.jobWallNs / 1e9
      println(f"$n%-32s $wall%7.3f ${probe.nJobs}%5d $jobWall%8.3f ${wall - jobWall}%7.3f ${probe.taskTimeMs / 1e3}%8.2f ${probe.gcMs / 1e3}%6.2f ${probe.shReadB / 1e6}%8.1f ${probe.shWriteB / 1e6}%8.1f ${probe.nTasks}%6d")
      if (stages) probe.stageRows.forEach(r => println(r))
    }
    spark.stop()
  }
}
