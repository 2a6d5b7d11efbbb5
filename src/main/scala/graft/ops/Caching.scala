package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftInternal

/** Deterministic cache lifecycle for query builders.
  *
  * Several builders cache an intermediate because multiple plan branches
  * read it (signature tables, gram tables, tf tables — the persisted-
  * intermediate pattern). Returning a LAZY result that still references
  * that cache leaks it into the shared session: across a 93-query
  * Verify/Bench run (or any long-lived production session) leaked blocks
  * accumulate, LRU eviction churns, and later queries pay unpredictable
  * GC.
  *
  * [[materializeAndRelease]] closes the lifecycle inside the builder: the
  * result is eagerly materialized via `localCheckpoint(eager = true)` —
  * which truncates lineage, so the caller's action reads the checkpointed
  * blocks and never the about-to-be-released cache — then every
  * intermediate is unpersisted immediately, even if the job fails.
  *
  * Scale notes: checkpoint blocks are RESULT-sized (every registered query
  * returns a reduced frame — per-doc stats, pair lists, top-k reports),
  * not corpus-sized, and they are freed automatically by Spark's
  * ContextCleaner once the returned frame becomes unreachable — nothing
  * accrues for the life of the session. Eager materialization inside the
  * builder keeps Bench fair (the builder call sits inside the timed
  * region). At production scale, swap localCheckpoint for a reliable
  * checkpoint directory if executor loss must be survivable mid-query —
  * same trade documented at [[ConnectedComponents]].
  *
  * [[Barriers]] is the other lifecycle, for a driver that runs a funnel
  * of materialized stages itself (the `pipelines.*` batch drivers): each
  * stage is cached, counted once, and handed on as a single-leaf plan
  * over its cached rows, and the driver releases every stage together in
  * its `finally`. Use [[materializeAndRelease]] inside a builder whose
  * caller owns the action; use [[Barriers]] where the same code owns the
  * action, the count and the end of the run. Its `hold` is the same
  * lifecycle without the count: each streaming micro-batch
  * (`Incremental.drain`) and each model writer holds its caches there
  * and releases them in a `finally`.
  */
object Caching {
  /** Session conf switch: when "true", return the LAZY result unchanged
    * (no checkpoint, no unpersist). For PLAN INSPECTION only — the
    * checkpointed return is a LogicalRDD scan, which would blind a plan
    * audit (PlanAuditSpec) to the real shuffle/join/pushdown shape of the
    * computation. Results are identical either way; only the cache
    * lifecycle differs, so flipping it never changes answers. */
  val PassthroughKey = "graft.caching.passthrough"

  /** Session conf switch (r21, optimization guide §1.2 driver work):
    * when "true", [[materializeAndRelease]] skips the EAGER
    * `localCheckpoint` — which costs one extra job + a result-block
    * serialize/write/read per query (measured ~16 % of wall across the
    * checkpoint-pattern queries at sf0.1) — and instead returns the
    * result lazily CACHED (so a composed kernel's consumers still reuse
    * one materialization) while registering result + intermediates for
    * [[releasePending]], which the driving loop calls AFTER its action.
    * Correct for any SINGLE-THREADED build→act→release loop. Only the
    * session owner sets it, once per session: `graft.Bench.main` and the
    * perfbench driver do; library code (the pipelines.* batch drivers
    * included) only reads it and calls [[releasePending]] after each
    * action. Concurrent drivers (Verify's pool) keep the default eager
    * mode — one thread's release must not evict another's in-flight
    * caches. The `pending` queue is deliberately process-global, NOT
    * thread-local: a single-threaded drive loop may build artifacts
    * through SessionArtifacts.inParallel
    * (pool threads register; the driving thread releases after its
    * action) — under the single-threaded-driver contract that is safe,
    * under a concurrent driver it is exactly why DeferKey must stay off.
    * One more caveat vs the eager localCheckpoint (r21 ADVICE): a
    * cached-but-not-checkpointed result can be RECOMPUTED under memory
    * pressure; every registered builder's plan is deterministic by repo
    * doctrine (seeded fits, md5-derived sampling), so recompute changes
    * nothing here — do not register a nondeterministic plan.
    * Results are identical either way (lifecycle only). */
  val DeferKey = "graft.caching.deferRelease"

  /** Stage barriers of one funnel run. `apply(df)` caches `df`, runs its
    * one `count()` (the stage's materializing action) and returns that
    * count with a frame whose logical plan is ONE `LogicalRDD` leaf over
    * the cached rows. Later stages then analyze, optimize and cache-match
    * a plan of their own size, not one that nests every stage above them
    * (a cached frame still carries its full lineage, so a deep funnel
    * re-plans every earlier stage at every later one; on pipeline-batch
    * that plan work, not the count jobs, was most of the driver gap).
    * The leaf adds no second materialization and no checkpoint; it reads
    * the cache, so it is valid until [[release]], which unpersists every
    * barrier taken and destroys every [[broadcast]] made — call it in the
    * run's `finally`, so a failing stage leaks nothing. One driver thread
    * per instance. */
  final class Barriers {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private val broadcasts = scala.collection.mutable.ArrayBuffer.empty[Broadcast[_]]

    def apply(df: DataFrame): (Long, DataFrame) = {
      held += df.cache()
      (df.count(), GraftInternal.leafOf(df))
    }

    /** Caches `df` without an action and holds it for [[release]]: the
      * per-call cache of a body that runs its own actions on it (a
      * streaming micro-batch, a model write). Returns `df` itself, cached;
      * unlike `apply` it adds no job and no leaf. */
    def hold(df: DataFrame): DataFrame = {
      held += df.cache()
      df
    }

    /** Broadcasts `value` for this run and destroys it in [[release]]. */
    def broadcast[T: scala.reflect.ClassTag](spark: SparkSession, value: T): Broadcast[T] = {
      val bc = spark.sparkContext.broadcast(value)
      broadcasts += bc
      bc
    }

    def release(): Unit = {
      held.foreach(_.unpersist())
      held.clear()
      broadcasts.foreach(_.destroy())
      broadcasts.clear()
    }
  }

  private val pending =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def materializeAndRelease(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val conf = result.sparkSession.conf
    if (conf.get(PassthroughKey, "false") == "true") result
    else if (conf.get(DeferKey, "false") == "true") {
      val cached = result.cache()
      intermediates.foreach(pending.add)
      pending.add(cached)
      cached
    } else
      try result.localCheckpoint(true)
      finally intermediates.foreach(_.unpersist())
  }

  /** Release every frame registered under [[DeferKey]] mode. Called by
    * the sequential driving loop after its action; a no-op when nothing
    * is pending (eager mode registers nothing). */
  def releasePending(): Unit = {
    var df = pending.poll()
    while (df != null) {
      try df.unpersist() catch { case _: Throwable => () }
      df = pending.poll()
    }
  }
}
