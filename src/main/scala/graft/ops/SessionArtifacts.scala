package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once ON-DISK session artifacts (IVF index, inverted index,
  * embedding table): the deployed contract for model/index-backed queries is
  * "build + persist once per (session, dataset), serve every query from the
  * saved artifact" — a plain-parquet scan, never a session-pinned
  * corpus-sized cache (at 100 TB a pinned cache is the wrong artifact; a
  * partitioned parquet layout prunes and evicts for free).
  *
  * Declaring an artifact: an artifact that IS one DataFrame is declared
  * with [[table]] — the build expression, nothing else; the table is the
  * artifact directory itself. [[dir]] is kept only where a table does not
  * fit:
  *   - index layouts with their own writer: the IVF family, `ivf-doc`,
  *     `invidx`, `quality-lr*`, `bucketed`;
  *   - the cell-partitioned `ivf-filtered-cells`;
  *   - `dsir-logratio`, whose loader takes a path the streaming tier
  *     shares;
  *   - builds that release a cache barrier after their write:
  *     `minhash-pairs`, `jaccard-pairs-08`, `nllkn`, `nllkn3`,
  *     `sifdocvec`.
  *
  * Two hygiene guarantees the bare TrieMap-of-dirs memos lacked:
  *   - the FIRST build per key runs exactly once — concurrent first calls
  *     must not each run the expensive build and leak the loser's directory
  *     (the stored lazy holder serializes forcing, so losers of the
  *     map-insert race still force the winner's build);
  *   - every created directory is registered with one JVM shutdown hook for
  *     best-effort recursive deletion, so a long-lived host does not
  *     accumulate per-session index dirs.
  */
object SessionArtifacts {

  // lazy holder: TrieMap.getOrElseUpdate may race and construct two holders,
  // but exactly one is stored and returned to every caller — and only the
  // stored one is ever forced, so the build body runs once per key
  private final class Holder(mk: () => String) { lazy val value: String = mk() }

  private val holders =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Holder]

  private val registered = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () })
        } catch { case _: Throwable => () }
      }
    }, "graft-session-artifacts-cleanup"))
    true
  }

  // MECHANIZED cold-cost attribution (r18 verdict #5): every completed
  // once-per-session build records (kind, wall secs) here, so the bench
  // artifact can carry an `artifact_cost` map instead of charging ~100 s
  // of session builds to whichever query happens to run first (the
  // q137/q138 cold-reading folklore NOTES has carried since r9). Keyed by
  // kind alone — per-session cost attribution, not per-dataset bookkeeping
  // (a bench run touches one dataset); re-registrations of the same kind
  // sum (a sweep builds ivf-fit-64 and ivf-fit-128 under distinct kinds).
  private val buildSecs =
    scala.collection.concurrent.TrieMap.empty[String, Double]

  /** Record a once-per-session build's wall cost under `kind` — for
    * build sites with their own memo (Topics) that don't route through
    * [[dir]]. Also prints the grep-able `[artifact]` stderr line so the
    * two attribution channels can never disagree. */
  def recordCost(kind: String, secs: Double, dataset: String): Unit = {
    buildSecs.updateWith(kind) { prev => Some(prev.getOrElse(0.0) + secs) }
    System.err.println(f"[artifact] kind=$kind secs=$secs%.2f dataset=$dataset")
  }

  /** All recorded once-per-session build costs (kind → summed wall secs)
    * — what Bench emits as the artifact_cost block. */
  def costs: Map[String, Double] = buildSecs.readOnlySnapshot().toMap

  // dirs whose build COMPLETED — existing() reads this, never a Holder:
  // forcing a holder's lazy val would run (or block on) the build, which
  // is exactly what a read-only peek must not do
  private val completed =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), String]

  /** The already-built artifact directory for (kind, session, dataset), if
    * a [[dir]] call has COMPLETED its build — a read-only peek for
    * diagnostics and tests: never builds, never blocks on an in-flight or
    * previously-failed build. */
  def existing(kind: String, spark: SparkSession, dataset: String): Option[String] =
    completed.get((kind, spark.sparkContext.applicationId, dataset))

  /** Run INDEPENDENT build/fit thunks concurrently (optimization guide
    * §2.6, "overlap independent jobs": actions are only sequential
    * because driver code calls them sequentially — a small pool lets the
    * next fit's tasks back-fill executors idled by the current fit's
    * tail). Used by the multi-point sweep builds (q213/q217/q228 index
    * variants) and the per-subspace PQ codebook fits, where each thunk
    * is a seeded, deterministic, sample-bounded fit: results are
    * identical to the sequential order — only the wall-clock overlaps.
    * Results return in INPUT order; the first failure rethrows (same
    * failure surface as the sequential loop). Thunks that route through
    * [[dir]] stay build-once under concurrency (the Holder serializes
    * forcing). Pool capped at 4: per guide §2.6, 2–3 jobs in flight is
    * enough to fill the tail without the fits fighting for executors. */
  def inParallel[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(thunks.size, 4))
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(
          Future.traverse(thunks)(t => Future(t())),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }

  /** The artifact directory for (kind, session, dataset); `build` runs once,
    * receiving a fresh temp dir to populate. */
  def dir(kind: String, spark: SparkSession, dataset: String)(build: String => Unit): String = {
    val key = (kind, spark.sparkContext.applicationId, dataset)
    val v = holders.getOrElseUpdate(key, new Holder(() => {
      hookInstalled
      val t = java.nio.file.Files.createTempDirectory(s"graft-$kind")
      registered.add(t)
      // cold-chain attribution (NOTES discipline): every session fit
      // reports its build wall once, on stderr, so a bench run's cold
      // first-pass delta decomposes into named artifact costs instead of
      // an unattributed lump (grep '\[artifact\]' over the run log)
      val t0 = System.nanoTime()
      build(t.toString)
      recordCost(kind, (System.nanoTime() - t0) / 1e9, dataset)
      t.toString
    })).value
    completed.putIfAbsent(key, v)
    v
  }

  /** The table artifact for (kind, session, dataset): `build` is written
    * once through [[dir]]; every call reads the saved table back. */
  def table(kind: String, spark: SparkSession, dataset: String)(
      build: => DataFrame): DataFrame =
    spark.read.parquet(dir(kind, spark, dataset)(build.write.mode("overwrite").parquet(_)))
}
