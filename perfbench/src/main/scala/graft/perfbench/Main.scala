package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.functions.TextFns
import graft.ops.{Caching, Dedup, Scoring, SessionArtifacts}
import graft.pipelines.TrainingData
import graft.sources.ShardExport

/** One benchmark run inside one JVM: set up a session over the seeded
  * inputs, drive one workload through the engine's own entry points in a
  * closed loop (one client, the next call only after the previous one
  * returned), and write the raw measurements as JSON for `run.py`.
  *
  *   serve-warm      a seeded sequence over a drawn query pool; set-up
  *                   calls every pool query once in the fresh session, so
  *                   every session artifact is built before timing starts
  *   pipeline-batch  `TrainingData.run` over an inflated corpus
  *
  * With `--trace 1` the run also records spans, Spark listener counters
  * per call, and the L1 kernel timings; with `--trace 0` none of that
  * runs. The query workloads end by handing their distinct queries to
  * `graft.Verify`, whose dumps `run.py` compares with the DuckDB oracle. */
object Main {
  type Q = (SparkSession, String) => DataFrame

  /** Module of every registered query, for the per-module serve walls. */
  val Modules: Seq[(String, Map[String, Q])] = Seq(
    "relational" -> graft.ops.Relational.queries,
    "semistructured" -> graft.ops.SemiStructured.queries,
    "textops" -> graft.ops.TextOps.queries,
    "dedup" -> graft.ops.Dedup.queries,
    "similarity" -> graft.ops.Similarity.queries,
    "temporal" -> graft.ops.Temporal.queries,
    "ml" -> graft.ops.Ml.queries,
    "multimodal" -> graft.ops.Multimodal.queries,
    "scoring" -> graft.ops.Scoring.queries,
    "curation" -> graft.ops.Curation.queries,
    "corpusreports" -> graft.ops.CorpusReports.queries,
    "bucketed" -> graft.sources.Bucketed.queries)

  lazy val moduleOf: Map[String, String] =
    Modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** Nominal wall of one pass on 4 cores: one warm pass over the
    * serve-warm pool, one TrainingData.run. A run makes
    * ceil(`--seconds` / nominal) passes, a count fixed by its arguments
    * rather than by the clock, so every run measures the same calls at the
    * same point of the JIT's warm-up curve. */
  val NominalPassS = 2.5
  val NominalPipelineS = 35.0

  def passesFor(seconds: Double, nominalS: Double): Int =
    math.max(1, math.ceil(seconds / nominalS).toInt)

  /** Pipeline copies k >= 1 live at doc_id + k * CopyStride (gen.py). */
  val CopyStride = 10000000L

  final case class Args(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, seed: Long, cpus: Int,
      queries: Seq[String], out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong, m("cpus").toInt,
      m.get("queries").filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil),
      m("out"))
  }

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def procStatusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** One measured call of a registered query. */
  final case class Call(name: String, wallS: Double, ok: Boolean,
      buildS: Double, planS: Double, execS: Double, releaseS: Double,
      startMs: Long, endMs: Long, group: String,
      artifactS: Map[String, Double])

  final class Session(val spark: SparkSession, val a: Args) {
    val trace = new Trace(a.trace)
    val probe: Option[Probe] =
      if (a.trace) { val p = new Probe; spark.sparkContext.addSparkListener(p); Some(p) }
      else None
    /** Operations that threw, and breaches found after the workload. */
    val opFailures = mutable.ArrayBuffer.empty[String]
    val breaches = mutable.ArrayBuffer.empty[String]

    /** The Bench bracket: builder call, noop write, then the deferred
      * cache release. Traced calls also force the executed plan, so the
      * builder, planning and execution times separate. */
    def call(name: String): Call = {
      val fn = SparkEntry.queries(name)
      trace.call += 1
      val group = s"call-${trace.call}"
      if (a.trace) spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      val costs0 = SessionArtifacts.costs
      var (buildS, planS, execS, releaseS) = (0.0, 0.0, 0.0, 0.0)
      var ok = true
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      trace.span(s"serve.${moduleOf(name)}/$name") {
        try {
          val (df, b) = secs(trace.span("serve.build")(fn(spark, a.data)))
          buildS = b
          if (a.trace) planS = secs(trace.span("serve.plan")(df.queryExecution.executedPlan))._2
          execS = secs(trace.span("serve.exec")(noop(df)))._2
        } catch {
          case e: Throwable =>
            ok = false
            opFailures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        } finally releaseS = secs(trace.span("serve.release")(Caching.releasePending()))._2
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      if (a.trace) spark.sparkContext.clearJobGroup()
      val costs1 = SessionArtifacts.costs
      val built = costs1.collect {
        case (k, v) if v > costs0.getOrElse(k, 0.0) => k -> (v - costs0.getOrElse(k, 0.0))
      }
      Call(name, wall, ok, buildS, planS, execS, releaseS, startMs, endMs, group, built)
    }
  }

  /** The serve layer's per-call counters, summed over `calls`. */
  def serveLayers(s: Session, calls: Seq[Call]): Map[String, Double] = {
    s.probe.foreach(_ => org.apache.spark.PerfbenchBus.drain(s.spark.sparkContext))
    val base = Map(
      "serve.build_s" -> calls.map(_.buildS).sum,
      "serve.plan_s" -> calls.map(_.planS).sum,
      "serve.exec_s" -> calls.map(_.execS).sum,
      "serve.release_s" -> calls.map(_.releaseS).sum) ++
      Modules.map { case (m, _) =>
        s"serve.${m}_s" -> calls.filter(c => moduleOf(c.name) == m).map(_.wallS).sum
      }
    val probe = s.probe.map { p =>
      val scoped = calls.map(c => (c, p.scope(c.group)))
      val jobWallS = scoped.map { case (c, sc) => sc.jobWallMs(c.startMs, c.endMs) / 1e3 }.sum
      Map(
        "serve.jobs" -> scoped.map(_._2.jobs).sum.toDouble,
        "serve.stages" -> scoped.map(_._2.stages).sum.toDouble,
        "serve.tasks" -> scoped.map(_._2.tasks).sum.toDouble,
        "serve.job_wall_s" -> jobWallS,
        "serve.driver_gap_s" -> (calls.map(c => (c.endMs - c.startMs) / 1e3).sum - jobWallS),
        "serve.task_cpu_s" -> scoped.map(_._2.taskCpuNs).sum / 1e9,
        "serve.gc_s" -> scoped.map(_._2.gcMs).sum / 1e3,
        "serve.shuffle_read_mb" -> scoped.map(_._2.shuffleReadB).sum / 1e6,
        "serve.shuffle_write_mb" -> scoped.map(_._2.shuffleWriteB).sum / 1e6,
        "serve.spill_mb" -> scoped.map(_._2.spillB).sum / 1e6,
        "serve.input_mb" -> scoped.map(_._2.inputB).sum / 1e6)
    }.getOrElse(Map.empty)
    base ++ probe
  }

  def artifactLayers(calls: Seq[Call]): Map[String, Double] = {
    val byKind = calls.flatMap(_.artifactS).groupMapReduce(_._1)(_._2)(_ + _)
    Map("artifact.builds" -> calls.map(_.artifactS.size).sum.toDouble,
      "artifact.build_s" -> byKind.values.sum) ++
      byKind.map { case (k, v) => s"artifact.${k}_s" -> v }
  }

  /** L1 kernels over the workload's own corpus, each with a noop sink:
    * one untimed pass, then the median of three. */
  def kernelLayers(s: Session, docs: DataFrame): Map[String, Double] = {
    val d = docs.select(col("doc_id"), col("text"))
    val norm = TextFns.normText(col("text"))
    val kernels: Seq[(String, () => DataFrame)] = Seq(
      "scan" -> (() => d),
      "normtext" -> (() => d.select(col("doc_id"), norm.as("t"))),
      "tokens" -> (() => d.select(col("doc_id"), TextFns.tokens(col("text")).as("t"))),
      "shingle" -> (() => d.select(col("doc_id"), Dedup.shingleHashes(norm).as("hs"))),
      "minhash_sigs" -> (() => Dedup.sigsOf(d)),
      "bandrows" -> (() => Dedup.bandRowsOf(d)),
      "bigramfold" -> (() => Scoring.bigramFoldOf(d)),
      "trigramfold" -> (() => Scoring.trigramFoldOf(d)))
    kernels.map { case (k, mk) =>
      s.trace.span(s"kernel.$k") {
        noop(mk())
        val ts = (1 to 3).map(_ => secs(noop(mk()))._2).sorted
        s"kernel.${k}_s" -> ts(1)
      }
    }.toMap + ("kernel.rows" -> d.count().toDouble)
  }

  def main(argv: Array[String]): Unit = {
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parse(argv)
    // host-load context (Bench's fixed CPU probe), traced runs only: the
    // two probes cost several seconds a run
    val calibStart = if (a.trace) graft.Bench.hostCalibration(a.cpus) else Double.NaN
    val setupT0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set(Caching.DeferKey, "true")
    val s = new Session(spark, a)
    val out = mutable.LinkedHashMap[String, Any]()
    val layers = mutable.LinkedHashMap[String, Double]()

    // JIT and class-loading warm-up, the same two steps Bench takes
    s.trace.span("setup.warmup") {
      noop(SparkEntry.queries("q01_pricing_summary")(spark, a.data))
      Caching.releasePending()
      import spark.implicits._
      val toy = (0 until 16).map(i => (i.toLong, Array(i.toDouble, (i % 4).toDouble)))
        .toDF("id", "arr")
        .select(org.apache.spark.ml.functions.array_to_vector(col("arr")).as("features"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(2).setSeed(1L).setMaxIter(2).setInitMode("random").fit(toy)
    }

    val rng = new scala.util.Random(a.seed)
    var calls: Seq[Call] = Nil
    var timedT0 = 0L
    var cpu0 = 0L
    var gc0 = 0L
    def startTiming(): Unit = {
      heapPools.foreach(_.resetPeakUsage())
      gc0 = gcMs(); cpu0 = cpuNs(); timedT0 = System.nanoTime()
    }
    var setupS = 0.0
    var (pipelineRuns, pipelineFailed) = (0, 0)

    a.workload match {
      case "serve-warm" =>
        // set-up: the first pass builds every session artifact the pool
        // needs, the second one warms the JIT on the warm path
        val prewarm = s.trace.span("setup.prewarm")(a.queries.map(s.call))
        val rewarm = s.trace.span("setup.rewarm")(a.queries.map(s.call))
        calls ++= prewarm ++ rewarm
        setupS = (System.nanoTime() - setupT0) / 1e9
        startTiming()
        // whole passes over the pool, each in a fresh seeded order
        val timed = mutable.ArrayBuffer.empty[Call]
        val (passWalls, passCpus) = (mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
        val nPasses = passesFor(a.seconds, NominalPassS)
        for (_ <- 1 to nPasses) {
          val (c0, t0) = (cpuNs(), System.nanoTime())
          timed ++= rng.shuffle(a.queries).map(s.call)
          passWalls += (System.nanoTime() - t0) / 1e9
          passCpus += (cpuNs() - c0) / 1e9
        }
        out("timed_wall_s") = (System.nanoTime() - timedT0) / 1e9
        out("pass_walls_s") = passWalls.toSeq
        out("pass_cpus_s") = passCpus.toSeq
        calls ++= timed
        out("call_walls_s") = timed.map(_.wallS)
        out("call_names") = timed.map(_.name)
        layers ++= serveLayers(s, timed.toSeq)
        // builds are charged to set-up; the timed region must build nothing
        layers ++= artifactLayers(prewarm ++ rewarm ++ timed)
        layers("artifact.timed_builds") = timed.map(_.artifactS.size).sum.toDouble

      case "pipeline-batch" =>
        val docs = Tables.documents(spark, a.data)
        val evalDocs = docs.filter(col("doc_id") < CopyStride && col("doc_id") % 997 === 0)
        import spark.implicits._
        val sources = docs.select("source").distinct().as[String].collect().sorted.toSeq
        val weights = TrainingData.flatWeights(spark, sources)
        val exportDir = s"${a.work}/export"
        setupS = (System.nanoTime() - setupT0) / 1e9
        startTiming()
        if (a.trace) spark.sparkContext.setJobGroup("pipeline", "pipeline", interruptOnCancel = false)
        val startMs = System.currentTimeMillis()
        val (passWalls, passCpus) = (mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
        var summary = Seq.empty[(String, Long, Double)]
        val nPasses = passesFor(a.seconds, NominalPipelineS)
        for (_ <- 1 to nPasses) {
          s.trace.call += 1
          val (c0, t0) = (cpuNs(), System.nanoTime())
          pipelineRuns += 1
          summary = s.trace.span("pipeline.TrainingData.run") {
            try TrainingData.run(spark, docs, evalDocs, weights, exportDir, nShards = 8)
              .as[(String, Long, Double)].collect().toSeq
            catch { case e: Throwable =>
              pipelineFailed += 1
              s.opFailures += s"pipeline: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
              Nil
            }
          }
          passWalls += (System.nanoTime() - t0) / 1e9
          passCpus += (cpuNs() - c0) / 1e9
        }
        val endMs = System.currentTimeMillis()
        out("timed_wall_s") = (System.nanoTime() - timedT0) / 1e9
        out("call_walls_s") = passWalls.toSeq
        out("pass_walls_s") = passWalls.toSeq
        out("pass_cpus_s") = passCpus.toSeq
        if (a.trace) spark.sparkContext.clearJobGroup()
        // the funnel of the last pass, whose export the checks read back
        out("pipeline_summary") = summary.map { case (st, n, t) =>
          Map("stage" -> st, "docs" -> n, "secs" -> t) }
        if (summary.nonEmpty) out("export_path") = ShardExport.resolve(spark, exportDir)
        s.probe.foreach { p =>
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          val sc = p.scope("pipeline")
          val jobWallS = sc.jobWallMs(startMs, endMs) / 1e3
          layers ++= Map(
            "pipeline.jobs" -> sc.jobs.toDouble,
            "pipeline.driver_gap_s" -> ((endMs - startMs) / 1e3 - jobWallS),
            "pipeline.task_cpu_s" -> sc.taskCpuNs / 1e9,
            "pipeline.shuffle_write_mb" -> sc.shuffleWriteB / 1e6,
            "pipeline.spill_mb" -> sc.spillB / 1e6,
            "pipeline.gc_s" -> sc.gcMs / 1e3)
        }
    }
    val timedWall = out("timed_wall_s").asInstanceOf[Double]
    System.err.println(f"[perfbench] set-up $setupS%.1f s, timed $timedWall%.1f s")
    out("cpu_s") = (cpuNs() - cpu0) / 1e9
    layers("jvm.gc_s") = (gcMs() - gc0) / 1e3
    layers("jvm.heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    Caching.releasePending()
    val (leaked, pinned) = org.apache.spark.PerfbenchBus.persisted(spark.sparkContext)
    layers("caching.leaked_rdds") = leaked.size.toDouble
    layers("caching.pinned_rdds") = pinned.size.toDouble
    if (leaked.nonEmpty)
      s.breaches += s"leak: ${leaked.size} cached RDDs after the workload: ${leaked.mkString(", ")}"
    val calibEnd = if (a.trace) graft.Bench.hostCalibration(a.cpus) else Double.NaN

    if (a.trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val corpus = Tables.documents(spark, a.data)
      layers ++= s.trace.span("kernels")(kernelLayers(s, corpus))
      s.trace.write(s"${a.work}/spans.json")
      out("spans") = s.trace.size
    }
    out("setup_jvm_s") = bootS + setupS
    out("attempted") = (calls.size + pipelineRuns) max 1
    out("failed_calls") = calls.count(!_.ok) + pipelineFailed
    out("op_failures") = s.opFailures.toSeq
    out("breaches") = s.breaches.toSeq
    out("peak_rss_mb") = procStatusKb("VmHWM") / 1024
    out("layers") = layers.toMap
    out("context") = Map(
      "host_calibration_start_s" -> calibStart,
      "host_calibration_end_s" -> calibEnd,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "cpus" -> a.cpus)
    val distinct = calls.map(_.name).distinct
    out("verified_queries") = distinct
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), Json.value(out.toMap))

    // correctness dump for the DuckDB oracle, outside the timed region:
    // Verify runs its concurrent pool, which needs the eager cache mode
    if (distinct.nonEmpty) {
      spark.conf.unset(Caching.DeferKey)
      graft.Verify.main(Array(a.data, s"${a.work}/verify") ++ distinct)
    } else spark.stop()
  }
}
