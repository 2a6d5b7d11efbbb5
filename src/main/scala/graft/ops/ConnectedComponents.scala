package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed connected components — the engine that turns pairwise dedup
  * output (near-duplicate PAIRS) into per-document canonical keep-ids
  * (q56/q74/q79), exposed as a reusable operator for any (src, dst) edge set
  * with 64-bit vertex ids.
  *
  * Two-phase design (contraction first, propagation as fallback):
  *
  * 1. CONTRACTION. Up to `contractLevels` rounds of partition-local
  *    union-find: repartition edges by one endpoint, run union-find with
  *    min-id roots inside each partition, emit the star (vertex → localRoot)
  *    for every vertex seen. Replacing each partition-local component by a
  *    star on the same vertex set preserves global connectivity and every
  *    vertex, while collapsing within-partition diameter to 1. Rounds
  *    alternate the partitioning endpoint so stars sharing a member AND
  *    stars sharing a root both co-locate. One shuffle per round.
  * 2. FINAL SOLVE. Once the (contracted) edge set fits a single bounded
  *    task (`finalSolveMaxEdges`, default 4M edges ≈ 64 MB — the same
  *    bounded-kernel budget as the q43 block sweep), finish with one
  *    union-find pass in one task: exact labels in O(E α(E)), zero
  *    iteration. Dedup graphs hit this path almost immediately — near-dup
  *    components are small clusters, so contraction collapses E toward the
  *    number of non-isolated vertices.
  * 3. PROPAGATION FALLBACK. If the graph is still too big after
  *    `contractLevels` rounds (billions of duplicate vertices at 100 TB),
  *    fall back to iterative min-label propagation over the contracted
  *    stars — which now have collapsed diameter, so few rounds remain. Each
  *    iteration is one shuffle join + aggregation; if not converged after
  *    maxIter/2 rounds, remaining rounds add a pointer-jumping
  *    label-compression join (label := label(label)) that doubles covered
  *    distance per round (chain-100: 100 plain rounds → converges by round
  *    9 adaptive, pinned in ConnectedComponentsSpec). Jumping is NOT free
  *    (an extra shuffle per round) and does not help graphs bound by the
  *    min vertex's eccentricity — measured on q74's ≥0.4-cosine graph at
  *    sf0.1 (920 edges, 11 rounds plain AND jumped, bench 6.0 s plain vs
  *    10.8 s always-jumped) — hence adaptive, not unconditional. A graph
  *    still unconverged at maxIter throws instead of silently returning
  *    truncated components.
  *
  * The driver carries only scalars (edge counts, a convergence witness),
  * never data: labels only ever decrease under min-propagation (and under
  * jumping — label(x) ≤ x), so the label SUM (as decimal(38,0) — a Long sum
  * over hashed 64-bit ids could overflow) is a strictly-monotone
  * convergence witness. */
object ConnectedComponents {

  /** `pairs` must have two long columns (first = one endpoint, second = the
    * other; undirected). Returns (vertex, label) where label = min vertex
    * id of the component. Throws if the propagation fallback's `maxIter`
    * rounds do not converge. Set `contractLevels = 0` AND
    * `finalSolveMaxEdges = 0` to force the pure propagation path (tests). */
  def run(pairs: DataFrame, maxIter: Int = 20,
      contractLevels: Int = 2, finalSolveMaxEdges: Long = 1L << 22): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val Seq(aCol, bCol) = pairs.columns.toSeq.take(2).map(col)
    var edges: Dataset[(Long, Long)] = pairs
      .select(aCol.cast("long").as("a"), bCol.cast("long").as("b"))
      .as[(Long, Long)]
    var level = 0
    var done: Option[DataFrame] = None
    while (done.isEmpty && level <= contractLevels) {
      // localCheckpoint, NOT cache: truncates lineage so the downstream
      // pass doesn't replay upstream dedup candidate generation (and the
      // level loop doesn't grow the plan). The edge count is observed on
      // the checkpoint's own eager job, not taken by a second one. (An
      // observation over a relation the optimizer proved empty reports no
      // metric: zero edges.)
      val counted = org.apache.spark.sql.Observation(s"cc-edges-$level")
      edges = edges.observe(counted, count(lit(1)).as("n")).localCheckpoint(true)
      val nEdges = counted.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
      if (nEdges <= finalSolveMaxEdges) {
        // one bounded task finishes the whole graph: exact union-find
        done = Some(edges.repartition(1).mapPartitions(unionFindStars).toDF("vertex", "label"))
      } else if (level < contractLevels) {
        // alternate the co-location key so star-membership merges (shared
        // vertex) and star-root merges (shared root) both get a turn
        val keyed = if (level % 2 == 0) edges.repartition(col("a"))
                    else edges.repartition(col("b"))
        edges = keyed.mapPartitions(unionFindStars).toDF("a", "b").as[(Long, Long)]
      }
      level += 1
    }
    done.getOrElse(propagate(edges.toDF("a", "b"), maxIter))
  }

  /** Partition-local union-find: collapse this partition's edges and emit
    * the star (v, root(v)) for every vertex seen, root = min id of the
    * local component. Memory is O(distinct vertices in partition). */
  private def unionFindStars(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      parent.getOrElseUpdate(x, x)
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != y) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    it.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val vs = parent.keys.toArray
    vs.iterator.map(v => (v, find(v)))
  }

  /** Iterative min-label propagation with adaptive pointer jumping — the
    * fallback for graphs too large for the bounded final solve. */
  private def propagate(pairs: DataFrame, maxIter: Int): DataFrame = {
    val p = pairs.select(col("a"), col("b")).cache()
    val vertices = p.select(col("a").as("v"))
      .unionByName(p.select(col("b").as("v"))).distinct()
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(p.select(col("b").as("src"), col("a").as("dst")))
      .unionByName(vertices.select(col("v").as("src"), col("v").as("dst")))
      .cache()
    // localCheckpoint, NOT cache: each iteration joins against the previous
    // result, so a cache-only loop GROWS the logical plan every round —
    // re-analysis goes quadratic and deep graphs (30+ iterations) OOM the
    // driver building plan strings. The eager checkpoint truncates lineage
    // to the materialized blocks; at production scale swap for a reliable
    // checkpoint dir if executor loss must be recoverable mid-computation.
    var labels = vertices.select(col("v").as("vertex"), col("v").as("label"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    val jumpAfter = math.max(1, maxIter / 2)
    try {
    while (!converged && iter < maxIter) {
      val propagated = edges
        .join(labels.withColumnRenamed("vertex", "dst_id"), col("dst") === col("dst_id"))
        .groupBy(col("src").as("vertex"))
        .agg(min(col("label")).as("label"))
      val stepped =
        if (iter < jumpAfter) propagated
        else {
          // pointer jump: label := label(label). Every label value is itself
          // a vertex with a row, and label(x) ≤ x, so the jump only ever
          // decreases labels. Renamed projection, NOT .as() aliases — a
          // same-lineage self-join resolves aliased columns back to the SAME
          // attribute ids and the jump silently degrades to identity
          // (observed: iteration counts unchanged until rewritten this way).
          val lookup = propagated.select(col("vertex").as("jv"), col("label").as("jl"))
          propagated.join(lookup, col("label") === col("jv"))
            .select(col("vertex"), col("jl").as("label"))
        }
      val next = stepped.localCheckpoint(true)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge in $maxIter rounds — " +
          "raise maxIter; silent truncation would mislabel components")
    labels
    } finally {
      // the final labels frame is an eager localCheckpoint — it no longer
      // references these caches, so they release immediately (the session
      // must not accumulate per-invocation edge caches)
      edges.unpersist()
      p.unpersist()
    }
  }
}
