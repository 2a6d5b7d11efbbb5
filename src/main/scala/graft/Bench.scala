package graft
import org.apache.spark.sql.SparkSession
object Bench {

  @volatile private var calibrationSink: Long = 0L

  /** HOST-CALIBRATION probe (r16 verdict #2): three rounds running,
    * cross-round bench comparison has been blinded by ±25–45 % host
    * drift on identical code. This measures a FIXED, seeded, CPU-bound
    * workload — per thread: xorshift-fill 4M longs, sort, hash-fold —
    * on `threads` concurrent threads (the same exposure to host load
    * Spark's local[n] pool has), no Spark involved. One untimed JIT
    * warmup pass, then the min of two timed passes. The resulting
    * seconds scale with whatever the host is doing during the bench, so
    * `tools/bench_report.py` can print ratios normalized by the
    * calibration alongside the raw ones. */
  def hostCalibration(threads: Int): Double = {
    def work(seed: Long): Long = {
      val n = 4000000
      val a = new Array[Long](n)
      var x = seed | 1L
      var i = 0
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
      java.util.Arrays.sort(a)
      var h = 0L
      i = 0
      while (i < n) { h = h * 31 + a(i); i += 1 }
      h
    }
    def onePass(): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => { calibrationSink ^= work(t + 1L) })
        th.start(); th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    onePass() // JIT warmup, untimed
    math.min(onePass(), onePass())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // probe at START and END: a single start-of-run probe witnesses one
    // instant, not the suite's average load (NOTES r17: the faster of two
    // same-code runs drew the slower start probe). Reports use the mean.
    val hostCalib = hostCalibration(cpus.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // deferred cache release (r21): the bench loop is the single-threaded
    // build→act→release shape, so intermediates are unpersisted after
    // each query's action instead of paying an eager localCheckpoint
    // (one extra job + result-block round trip) inside every builder.
    // Results are identical (Caching doc); evalOnce calls releasePending
    // inside the same timing bracket the eager unpersist used to occupy.
    spark.conf.set(graft.ops.Caching.DeferKey, "true")
    // warmup: absorb JIT/codegen/parquet-footer costs so the first timed
    // query isn't charged for session startup. Fixed query, not Map.head —
    // an arbitrary warmup makes cross-round numbers drift
    try SparkEntry.queries.get("q01_pricing_summary")
      .orElse(SparkEntry.queries.headOption.map(_._2))
      .foreach(_(spark, sfDir).write.format("noop").mode("overwrite").save())
    catch { case _: Throwable => () }
    // same for the Spark ML stack (KMeans drives q45/q50/q51): class
    // loading + JIT of the ML fit path is session startup cost, not query
    // cost — a 16-point toy fit outside the timed region absorbs it
    try {
      import spark.implicits._
      val toy = (0 until 16).map(i => (i.toLong, Array(i.toDouble, (i % 4).toDouble)))
        .toDF("id", "arr")
        .select(org.apache.spark.ml.functions.array_to_vector(
          org.apache.spark.sql.functions.col("arr")).as("features"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(2).setSeed(1L).setMaxIter(2).setInitMode("random").fit(toy)
      ()
    } catch { case _: Throwable => () }
    // optional args: bench only the named queries (dev iteration; the
    // driver passes none and gets the full suite). Unknown names are an
    // error — a typo must not read as a fast passing zero-query benchmark.
    val only = args.toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown queries: ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"known: ${SparkEntry.queries.keySet.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    val selected =
      if (only.isEmpty) SparkEntry.queries else SparkEntry.queries.filter(kv => only(kv._1))
    // Noise defense: run the whole suite PASSES times and report the
    // per-query MIN. A background-load spike on the host can no longer fake
    // a per-query regression (the r5 bench tail read 8x slow on queries
    // whose code hadn't changed — machine drift, not plans). Per-query min
    // composes with the session memos (topic model, embedding table, q93's
    // persisted index): pass 2 measures the warm serving path, which is the
    // deployed steady state for model/index-backed queries.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt max 1
    // pass-1 build attribution (r19 verdict #6): snapshot the session
    // artifact-cost total around each cold query, so a big pass-1
    // reading decomposes as attributed builds + plan cost per query
    // instead of needing manual subtraction against artifact_cost
    val buildAttribution = scala.collection.mutable.Map[String, Double]()
    // queries that THREW in any pass: their fast failure wall is NOT a
    // speedup (r20 review). They ship in the artifact's failed_queries,
    // and tools/bench_report.py drops them from its ratio set.
    val failedQueries = scala.collection.mutable.Set[String]()
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        attribute: Boolean): (String, Double) = {
      val c0 = if (attribute) graft.ops.SessionArtifacts.costs.values.sum else 0.0
      val t0 = System.nanoTime()
      // noop sink: full evaluation of every output column (a bare count()
      // would let column pruning skip the expensive expressions entirely)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failedQueries += name
      }
      finally graft.ops.Caching.releasePending()
      val sec = (System.nanoTime() - t0) / 1e9
      if (attribute) {
        val d = graft.ops.SessionArtifacts.costs.values.sum - c0
        if (d > 0) buildAttribution(name) = d
      }
      name -> sec
    }
    def runPass(attribute: Boolean): Map[String, Double] =
      selected.toSeq.sortBy(_._1)
        .map { case (name, fn) => timeOne(name, fn, attribute) }.toMap
    val allPasses = (1 to passes).map(i => runPass(attribute = i == 1))
    val hostCalibEnd = hostCalibration(cpus.toInt)
    val firstPass = allPasses.head
    val firstTotal = firstPass.values.sum
    val results = allPasses.head.keys.map { name =>
      name -> allPasses.map(_(name)).min
    }.toMap
    // per-query millisecond precision keeps the artifact compact
    def jsonMap(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // "value" is the COLD first-pass total — the same meaning the field
    // carried before the multi-pass methodology, so cross-round comparisons
    // stay cold-vs-cold. The warm serving-path total (sum of per-query
    // mins across passes) is a separate, explicitly named field, and BOTH
    // per-query maps are emitted: "queries_first" (cold — a build/fit
    // regression shows up per-query here) and "queries" (min/warm).
    val minTotal = if (results.nonEmpty) results.values.sum else 0.0
    // FULL per-query artifact (r15 verdict #6): the driver snapshots only
    // a bounded tail of stdout (2,000 chars — one 193-query map is ~6 KB),
    // so every pass's complete map is written as a JSON FILE; the stdout
    // line carries the pointer. Compare two of these files per query with
    // `python3 tools/bench_report.py NEW.json OLD.json`.
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val passMaps = allPasses.zipWithIndex
      .map { case (m, i) => s""""pass${i + 1}":${jsonMap(m)}""" }.mkString(",")
    // MECHANIZED cold-cost attribution (r18 verdict #5): the once-per-
    // session artifact builds (IVF/SQ/PQ indexes, KN fits, the topic
    // model) run inside whichever query hits them first, so pass-1 cold
    // readings like q138's 65 s are build cost, not query cost. Every
    // build records its wall in SessionArtifacts; emitting the map here
    // turns the NOTES attribution folklore into artifact data — the
    // cold−warm delta now decomposes as sum(artifact_cost) + plan cost.
    // emitted UNCONDITIONALLY (empty map, 0.000 total when no builds
    // ran) so the artifact schema matches the stdout line and never
    // flaps across runs (r19 review)
    val artifactCosts = graft.ops.SessionArtifacts.costs
    // cold story decomposed (r19 verdict #6): pass-1 charges once-per-
    // session builds to whichever query touched them first (q100 cold
    // 23.8 s vs warm 1.6); with per-query build attribution captured
    // during pass 1, the top-10 cold queries now carry cold = builds +
    // plan explicitly, so cross-round cold comparisons stop needing
    // manual subtraction. Emitted unconditionally (schema stability).
    val coldDecomposed = firstPass.toSeq.sortBy(-_._2).take(10).map { case (q, t) =>
      val b = buildAttribution.getOrElse(q, 0.0)
      s"""{"q":"$q","cold":${f"$t%.3f"},"builds":${f"$b%.3f"},"plan":${f"${t - b}%.3f"}}"""
    }.mkString("[", ",", "]")
    val failedJson = failedQueries.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val artifactJson =
      s""""artifact_cost":${jsonMap(artifactCosts)},""" +
        s""""artifact_cost_total":${f"${artifactCosts.values.sum}%.3f"},""" +
        s""""cold_decomposed":$coldDecomposed,""" +
        s""""failed_queries":$failedJson,"""
    val fullJson =
      s"""{"sf":"$sfDir","passes":$passes,"n_queries":${results.size},""" +
        s"""$passMaps,"queries_first":${jsonMap(firstPass)},""" +
        s""""queries":${jsonMap(results)},""" +
        artifactJson +
        s""""host_calibration_sec":${f"$hostCalib%.3f"},""" +
        s""""host_calibration_end_sec":${f"$hostCalibEnd%.3f"},""" +
        s""""min_total_sec":${f"$minTotal%.3f"},""" +
        s""""first_pass_total":${f"$firstTotal%.3f"}}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(fullOut), fullJson.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullOut: ${e.getMessage}")
    }
    // the ONLY stdout JSON, and the last line: the scalar summary plus
    // the pointer to the per-query artifact, so it fits the driver's ~2 KB
    // stdout tail whole (r21 verdict #1)
    println(
      s"""{"metric":"first_pass_total","unit":"sec","value":${f"$firstTotal%.3f"},""" +
        s""""min_total_sec":${f"$minTotal%.3f"},"n_queries":${results.size},""" +
        s""""n_failed":${failedQueries.size},"sf":"$sfDir","passes":$passes,""" +
        s""""host_calibration_sec":${f"$hostCalib%.3f"},""" +
        s""""host_calibration_end_sec":${f"$hostCalibEnd%.3f"},""" +
        s""""artifact_cost_total":${f"${artifactCosts.values.sum}%.3f"},""" +
        s""""full":"$fullOut"}""")
    spark.stop()
  }
}
