package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Vectors

/** Similarity-search operator surface over the `embeddings` table
  * (north-star M8: ANN / top-k cosine — reference embedding matrix,
  * /root/reference/code/embeddings.py:82-123).
  *
  * Two tiers, same contract:
  *   - exact: brute-force cosine with the small side broadcast — correct at
  *     any recall target, O(Q·N), right when the query set is small;
  *   - LSH-bucketed: random-hyperplane buckets → candidates → verify —
  *     the 100 TB path (shuffle on bucket key, linear in N).
  * All vector math is double-widened (functions.Vectors) so results are
  * bit-comparable to the DuckDB double-math oracle.
  */
object Similarity {
  import Relational.Q

  /** Per-vector L2 norm (sanity surface for the normalized-embedding
    * invariant the reference maintains, embeddings.py:119). */
  val q41VectorNorms: Q = (s, d) => {
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        round(Vectors.norm2(col("embedding")), 4).as("norm"))
      .orderBy(col("vec_id"))
  }

  /** Per-label centroid components (first 8 dims): array analytics via
    * posexplode + group-by. Scale: explode is narrow; the shuffle keys on
    * (label, pos) — bounded cardinality. */
  val q42Centroids: Q = (s, d) => {
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .filter(col("pos") < 8)
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v").cast("double")), 4).as("avg_v"), // float-mean: precedent
        count(lit(1)).as("n"))
      .orderBy(col("label"), col("pos"))
  }

  /** q182: per-label embedding DIVERSITY — the collapse diagnostic a
    * SemDeDup-style release review reads next to the dedup audits: for
    * each label, 1 − ‖mean(unit vectors)‖². Algebra: the mean pairwise
    * cosine over ALL ordered pairs (self included) of unit vectors is
    * exactly ‖Σu‖²/n² = ‖mean u‖², so diversity ∈ [0, 1] needs ONE
    * pass and no pair enumeration — 0 means the label's vectors are one
    * point (a collapsed/boilerplate cluster the near-dup tier should
    * eat), 1 means isotropic spread. Scale: posexplode is narrow; the
    * only shuffle keys on (label, pos) — bounded cardinality — and the
    * second agg on label alone. The O(n²) quantity computed at O(n). */
  val q182EmbeddingDiversity: Q = (s, d) =>
    diversityOf(Tables.embeddings(s, d))

  /** The ‖mean-unit-vector‖² fold over any (label, embedding) frame —
    * unit-tested on planted collapsed/orthogonal label groups. */
  private[graft] def diversityOf(vecs: DataFrame): DataFrame =
    vecs
      .select(col("label"), Vectors.norm2(col("embedding")).as("nrm"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        (col("x").cast("double") / col("nrm")).as("u"))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("u")).as("c"), count(lit(1)).as("n")) // float-mean: precedent
      .groupBy(col("label"))
      .agg(max(col("n")).cast("long").as("n_vecs"),
        round(lit(1.0) - sum(col("c") * col("c")), 4).as("diversity"))
      .orderBy(col("label"))

  /** Exact all-pairs cosine similarity ≥ 0.4 (near-duplicate surface over
    * embeddings), computed as a BLOCK-PARTITIONED pair sweep — fully
    * distributed, nothing is collected to the driver.
    *
    * Rows hash into B blocks; each unordered block pair (p ≤ q) is one task
    * that receives exactly the rows of blocks p and q (each row is shipped to
    * the B tasks containing its block) and runs the primitive-float-array
    * kernel over its pair range. Every vector pair lands in exactly one task,
    * so results are exact. Costs: shuffle = N·B rows; per-task memory =
    * 2·N/B vectors; compute = O(N²·dim/2) total, spread over B·(B+1)/2 tasks.
    * B scales with N (per-task memory stays bounded) — the same kernel that
    * previously required a driver-side broadcast now never materializes more
    * than two blocks per executor. At 100 TB the LSH plan (q45) replaces the
    * exact sweep; this block layout is also its per-bucket verifier.
    *
    * The kernel stays on primitive arrays in JVM code — measured 25-80×
    * faster than HOF aggregate / unrolled codegen / Seq-typed UDF forms for
    * dense pair math (round-1 Profile.scala). Double-widened so results are
    * bit-comparable to the DuckDB oracle. */
  val q43CosinePairs: Q = (s, d) =>
    cosinePairsExact(s, d)
      .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 4).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))

  /** The exact pair sweep behind q43: every unordered pair with raw
    * cosine ≥ 0.4, unrounded and unsorted (callers decide). q74's dedup
    * edges come from [[ivfCellPairEdges]] instead (index-backed, prunes);
    * this sweep remains q43's explicit exact-pair surface and the test
    * oracle the index-backed generator is checked against. */
  private[ops] def cosinePairsExact(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    // B from the actual row count (parquet metadata count — no data scan):
    // per-task rows ≈ 2N/B stays bounded as N grows. Floor of 8 keeps the
    // task count past the core count at small N.
    val nBlocks = {
      val n = Tables.embeddings(s, d).count()
      math.min(1024L, math.max(8L, n / 2048L + 1L)).toInt
    }
    val replicated = e.flatMap { case (id, v) =>
      // mix the id (splitmix64 finalizer) before the mod: raw ids can be
      // strided (all multiples of B collapse one block onto one task, which
      // then runs the whole O(N²) sweep alone). Wrapping multiply is fine
      // here — plain JVM code, not an ANSI SQL expression.
      var h = id ^ (id >>> 33)
      h *= 0xFF51AFD7ED558CCDL
      h ^= h >>> 33
      h *= 0xC4CEB9FE1A85EC53L
      h ^= h >>> 33
      val b = math.floorMod(h, nBlocks.toLong).toInt
      (0 until nBlocks).map { o =>
        val p = math.min(b, o); val q = math.max(b, o)
        (p * nBlocks + q, b, id, v)
      }
    }
    replicated.groupByKey(_._1).flatMapGroups { (task, rows) =>
      val p = task / nBlocks; val q = task % nBlocks
      // materialize the (≤ two blocks of) rows for this task
      val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
      val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
      rows.foreach { case (_, b, id, v) =>
        var i = 0; var s2 = 0.0
        while (i < v.length) { s2 += v(i).toDouble * v(i); i += 1 }
        val entry = (id, v, math.sqrt(s2))
        if (b == p) left += entry else right += entry
      }
      def cos(a: (Long, Array[Float], Double), b: (Long, Array[Float], Double)): Double = {
        val (_, va, na) = a; val (_, vb, nb) = b
        var dp = 0.0; var k = 0
        while (k < va.length) { dp += va(k).toDouble * vb(k); k += 1 }
        dp / (na * nb)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      if (p == q) {
        // within-block pairs i < j
        var i = 0
        while (i < left.length) {
          var j = i + 1
          while (j < left.length) {
            val c = cos(left(i), left(j))
            if (c >= 0.4) {
              val (a, b) = (left(i)._1, left(j)._1)
              out += ((math.min(a, b), math.max(a, b), c))
            }
            j += 1
          }
          i += 1
        }
      } else {
        // cross-block pairs: each unordered pair appears in exactly this task
        var i = 0
        while (i < left.length) {
          var j = 0
          while (j < right.length) {
            val c = cos(left(i), right(j))
            if (c >= 0.4) {
              val (a, b) = (left(i)._1, right(j)._1)
              out += ((math.min(a, b), math.max(a, b), c))
            }
            j += 1
          }
          i += 1
        }
      }
      out.iterator
    }.toDF("vec_a", "vec_b", "cos_raw")
  }

  /** Embedding-cosine near-duplicate DEDUP (the last of the north-star
    * dedup modes: exact / MinHash / SimHash / n-gram Jaccard / embedding
    * cosine): vectors whose cosine ≥ 0.4 are duplicates; transitive groups
    * collapse to the min vec_id via the reusable [[ConnectedComponents]]
    * operator. Edges come from the PERSISTED IVF INDEX via the sound
    * cell-pair bound ([[ivfCellPairEdges]]) — candidates → exact verify →
    * components, the q38 shape — NOT the O(N²) block sweep (that remains
    * only q43's explicit exact-pair surface). Oracle: DuckDB recursive-CTE
    * transitive closure over the exhaustive cosine pair set (the q56
    * certification pattern) — the bound is exact, so the hash still
    * matches. */
  val q74EmbedDedup: Q = (s, d) => {
    val pairs = ivfDedupEdges(s, d).select(col("vec_a"), col("vec_b"))
    ConnectedComponents.run(pairs)
      .select(col("vertex").as("vec_id"), col("label").as("keep_id"))
      .orderBy(col("vec_id"))
  }

  /** The cosine threshold that defines "near-duplicate" for q74 —
    * interpolated into the engine kernel AND the oracle's WHERE cut, like
    * [[AnnNProbe]], so a retune can't desync the compare. 0.4 is the
    * certification setting (tuned so the diffuse test embeddings yield a
    * non-trivial component structure); production near-dup thresholds are
    * ~0.9, where the cell-pair bound prunes hardest (see
    * [[ivfCellPairEdges]]). */
  private[graft] val DedupCosT = 0.4

  /** Single-assignment IVF index for the dedup edge generator — separate
    * artifact from q45's serving index (that one multi-assigns for probe
    * recall; the dedup bound needs one cell per vector so every pair lands
    * in exactly one sweep task). nCells grows with the corpus so cell size
    * — and with it the per-task sweep — stays bounded. */
  private[graft] def dedupIvfDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    SessionArtifacts.dir("ivf-dedup", s, d) { t =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val n = e.count()
      val nCells = math.min(1024L, math.max(8L, n / 64L)).toInt
      IvfIndex.save(s, IvfIndex.build(s, e, nCells = nCells, seed = 7L, nReplicas = 1), t)
    }

  /** q74's edge source: every unordered pair with raw cosine ≥ t, generated
    * from the session's persisted dedup index. */
  private[graft] def ivfDedupEdges(s: org.apache.spark.sql.SparkSession,
      d: String, t: Double = DedupCosT): org.apache.spark.sql.DataFrame =
    ivfCellPairEdges(s, IvfIndex.load(s, dedupIvfDir(s, d)), t)

  /** The candidate CELL PAIRS of an index at cosine threshold t — the
    * driver-side pruning decision (k² centroid distances over the ≤1024-cell
    * codebook; trivially driver-bounded), exposed for the pruning unit.
    *
    * SOUNDNESS (why the generated edge set EQUALS the exhaustive one): on
    * unit vectors cos(a,b) ≥ t ⇔ ‖â−b̂‖ ≤ R with R = √(2−2t). For any
    * qualifying pair with a ∈ cell p, b ∈ cell q (â, b̂ their unit forms,
    * rad = max member unit-distance to the cell's centroid):
    *   ‖μp−μq‖ ≤ ‖μp−â‖ + ‖â−b̂‖ + ‖b̂−μq‖ ≤ rad(p) + R + rad(q),
    * so sweeping exactly the cell pairs satisfying that inequality examines
    * every qualifying pair — pruning can only drop pairs that provably
    * cannot reach the threshold. On tightly clustered corpora (real
    * embedding near-dup at t≈0.9: R≈0.45, small radii) most cell pairs are
    * pruned and total work is Σ|p|·|q| over NEARBY cells — linear-ish in N
    * at bounded cell size; on diffuse data the bound degrades gracefully
    * toward the full sweep but never returns a wrong answer. The ε absorbs
    * float rounding of the stored unit vectors (only ever ADDS cell pairs —
    * recall-safe). */
  private[graft] def candidateCellPairs(centroids: Array[Array[Double]],
      radii: Map[Long, Double], t: Double): Array[(Int, Int)] = {
    val r = math.sqrt(2.0 - 2.0 * t) + 1e-4
    val k = centroids.length
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var p = 0
    while (p < k) {
      var q = p
      while (q < k) {
        var d2 = 0.0; var i = 0
        val cp = centroids(p); val cq = centroids(q)
        while (i < cp.length) { val dv = cp(i) - cq(i); d2 += dv * dv; i += 1 }
        val bound = radii.getOrElse(p.toLong, 0.0) + radii.getOrElse(q.toLong, 0.0) + r
        if (math.sqrt(d2) <= bound) out += ((p, q))
        q += 1
      }
      p += 1
    }
    out.toArray
  }

  /** Per-cell unit-space radii (max member unit-distance to the cell
    * centroid) — one narrow pass over the index, driver-bounded output
    * (one double per cell). Used by [[ivfCellPairEdges]]; the measured
    * cell-pair pruning is in NOTES.md, Round 10 item 1. */
  private[graft] def cellRadii(s: org.apache.spark.sql.SparkSession,
      idx: IvfIndex): Map[Long, Double] = {
    import s.implicits._
    val bcC = s.sparkContext.broadcast(idx.centroids)
    idx.cells
      .select(col("cell").cast("long").as("cell"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (cell, v) =>
        val u = IvfIndex.unit(v)
        val ct = bcC.value(cell.toInt)
        var s2 = 0.0; var i = 0
        while (i < u.length) { val dv = u(i).toDouble - ct(i); s2 += dv * dv; i += 1 }
        (cell, math.sqrt(s2))
      }
      .toDF("cell", "dist")
      .groupBy(col("cell")).agg(max(col("dist")).as("rad"))
      .as[(Long, Double)].collect().toMap
  }

  /** Index-backed exact pair generation: per-cell unit-space radii (one
    * narrow pass over the index) → driver cell-pair pruning
    * ([[candidateCellPairs]]) → one sweep task per surviving cell pair
    * (each member ships only to its cell's surviving pair tasks — ≤ the
    * q43 block sweep's N·B replication, usually far less) → exact raw-
    * vector cosine ≥ t in the task kernel. Single-assignment index means
    * each unordered pair is examined in EXACTLY one task — no distinct
    * pass needed. */
  private[graft] def ivfCellPairEdges(s: org.apache.spark.sql.SparkSession,
      idx: IvfIndex, t: Double): org.apache.spark.sql.DataFrame = {
    require(idx.nReplicas == 1,
      s"dedup edge generation needs a single-assignment index (got nReplicas=${idx.nReplicas})")
    import s.implicits._
    val members = idx.cells
      .select(col("cell").cast("long").as("cell"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])]
    val pairs = candidateCellPairs(idx.centroids, cellRadii(s, idx), t)
    val tasksOfCell: Map[Long, Array[Int]] = pairs.zipWithIndex
      .flatMap { case ((p, q), i) => if (p == q) Seq((p.toLong, i)) else Seq((p.toLong, i), (q.toLong, i)) }
      .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2)) }
    val bcTasks = s.sparkContext.broadcast(tasksOfCell)
    val bcPairs = s.sparkContext.broadcast(pairs)
    members
      .flatMap { case (cell, id, v) =>
        bcTasks.value.getOrElse(cell, Array.emptyIntArray).map(tid => (tid, cell, id, v))
      }
      .groupByKey(_._1)
      .flatMapGroups { (tid, rows) =>
        val (p, q) = bcPairs.value(tid)
        val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        rows.foreach { case (_, cell, id, v) =>
          var i = 0; var s2 = 0.0
          while (i < v.length) { s2 += v(i).toDouble * v(i); i += 1 }
          val entry = (id, v, math.sqrt(s2))
          if (cell == p) left += entry else right += entry
        }
        def cos(a: (Long, Array[Float], Double), b: (Long, Array[Float], Double)): Double = {
          val (_, va, na) = a; val (_, vb, nb) = b
          var dp = 0.0; var k = 0
          while (k < va.length) { dp += va(k).toDouble * vb(k); k += 1 }
          dp / (na * nb)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        if (p == q) {
          var i = 0
          while (i < left.length) {
            var j = i + 1
            while (j < left.length) {
              if (cos(left(i), left(j)) >= t) {
                val (a, b) = (left(i)._1, left(j)._1)
                out += ((math.min(a, b), math.max(a, b)))
              }
              j += 1
            }
            i += 1
          }
        } else {
          var i = 0
          while (i < left.length) {
            var j = 0
            while (j < right.length) {
              if (cos(left(i), right(j)) >= t) {
                val (a, b) = (left(i)._1, right(j)._1)
                out += ((math.min(a, b), math.max(a, b)))
              }
              j += 1
            }
            i += 1
          }
        }
        out.iterator
      }
      .toDF("vec_a", "vec_b")
  }

  /** Exact top-k (k=3) cosine neighbors for a fixed query set (vec_id < 10).
    * Queries are broadcast; ranking is a per-query window (partitioned —
    * parallel across queries, no global sort). The per-pair cosine is the
    * NATIVE codegen'd expression (plans.CosineSim) — the join + similarity
    * + rank pipeline stays inside whole-stage codegen, where the HOF
    * aggregate form evaluates interpreted per pair (bit-identical results;
    * same accumulation order). */
  val q44KnnBrute: Q = (s, d) => {
    graft.plans.GraftExtensions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cands = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("c_id"))
    broadcast(queries).join(cands, col("q_id") =!= col("c_id"))
      .withColumn("cos_raw", expr("cosine_sim(q_emb, c_emb)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("rn"), col("c_id"), round(col("cos_raw"), 4).as("cos"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** IVF approximate nearest neighbor — the 100 TB scale path.
    * Coarse quantizer: a KMEANS CODEBOOK (the real IVF construction — cells
    * follow the data distribution, unlike the round-2 random-hyperplane
    * buckets whose cell boundaries ignore it; measured top-1 agreement vs
    * exact rose from ~0.3 to >0.6 on the uniform test embeddings). The
    * codebook is fit on a bounded SAMPLE (k·dim doubles — broadcastable at
    * any corpus size), members are assigned to their nearest cell, and each
    * query probes its `nProbe` nearest cells. One shuffle keyed on cell —
    * linear in N·nProbe, vs q43's all-pairs. ORACLE-CERTIFIED given the
    * index: [[writeAnnSupport]] exports the served codebook + membership
    * and DuckDB recomputes the whole serving path (probe routing,
    * candidates, cosine, tie-broken ranking) — the recall floor vs q44's
    * exact top-1 stays asserted in DedupSpec. */
  val q45AnnIvf: Q = (s, d) => {
    // nCells ~ √N at this sf (grows as √N so cell size stays bounded);
    // nProbe 16 + 2-way member replication: uniform (clusterless)
    // embeddings are IVF's worst case — the r6/r7 sweep on sf0.1
    // (NOTES.md, Round 7 item 2): probe 12 single-assign → 0.81 top-1
    // agreement; probe 12 rep 2 → 0.946; probe 16 rep 2 → 0.982 (the r7
    // pick — beats both rep 3's 0.988-at-3×-storage and the second-hop
    // probe expansion's 0.969-at-two-passes for 4 extra probed cells).
    // At 100 TB the schedule is [[probeSchedule]] (fraction-of-cells with
    // the certified floor; the r9 16×/64× sweep) — clustered real
    // embeddings need far fewer probes than this uniform worst case. The
    // index is a persistent artifact (the q93 contract): built + saved
    // ONCE per (session, dataset) as plain Parquet, and every query —
    // including the first-after-build — serves from the LOADED on-disk
    // index, so the production search path is what runs and what the
    // bench times; the codebook fit amortizes over every query that
    // follows.
    val idx = IvfIndex.load(s, ivfDir(s, d))
    // corpus-scale batch: lazy probes + vector-free cell routing (the
    // checkpoint trade is worst exactly here — see IvfIndex.routeProbes)
    IvfIndex.searchTop1(s, idx,
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        nProbe = probeSchedule(idx.centroids.length), checkpointProbes = false)
      .orderBy(col("vec_id"))
  }

  /** The ONE probe-count knob for the full-corpus ANN queries: the engine
    * kernels (q45/q96) and the DuckDB oracle's `prn <=` cut interpolate
    * this same constant, so a sweep-driven retune can't silently desync
    * the cross-engine compare (r7 advice). */
  private[graft] val AnnNProbe = 16

  /** PRODUCTION probe schedule: a fixed quarter of the cells with a floor
    * of [[AnnNProbe]]. The r9 sweep (NOTES.md, Round 9 item 8) shows
    * top-1 agreement at a fixed CELL FRACTION is scale-stable on uniform
    * worst-case embeddings — 0.945 at 16× (128 cells) and 0.955 at 64×
    * (256 cells) at fraction 0.25, 1.000 at 0.5 — so the scanned fraction,
    * not an absolute probe count, is the knob that transfers across index
    * sizes (clustered real embeddings need less). At the certified 32-cell
    * index the floor binds — probeSchedule(32) == AnnNProbe — so q45/q96
    * serve the exact certified plan. */
  private[graft] def probeSchedule(nCells: Int): Int =
    math.max(AnnNProbe, nCells / 4)

  /** q99's serving knobs: batch size × nProbe < nCells (10·3 < 32) BY
    * CONSTRUCTION, so the probed-cell partition filter selects a strict
    * subset of the index no matter how the batch routes — the query's
    * whole point is certifying the PRUNED path (see [[q99AnnServe]]).
    * Interpolated into both the kernel call and the oracle's `prn <=`
    * cut, like [[AnnNProbe]]. */
  private[graft] val ServeNProbe = 3
  private[graft] val ServeBatchMaxId = 10L

  /** q100's knobs: the SQ tier probes more cells than q99 (the quantized
    * scan is the cheap stage — that's its point) and reranks a 4×k
    * shortlist exactly. Interpolated into kernel AND oracle, like
    * [[AnnNProbe]]. */
  private[graft] val SqNProbe = 8
  private[graft] val SqShortlist = 12

  /** Cell count of the CERTIFICATION index (q45/q96/q99/q100/q102/q111/
    * q112 all serve from it). Their oracles interpolate the fixed
    * [[AnnNProbe]] knob while the kernels probe
    * [[probeSchedule]](nCells); the two agree only while the schedule's
    * floor binds (nCells / 4 ≤ AnnNProbe) — certified below, so raising
    * this past 4·AnnNProbe fails the artifact build loudly instead of
    * silently desyncing kernel and oracle. */
  private[graft] val CertIvfNCells = 32

  /** Once-per-(session, dataset) build+save of an embeddings IVF index
    * under `kind` — the one builder behind the certification index and
    * its q213/q217/q228 sweep variants, which differ only in cell count,
    * fit-sample cap and replication (seed 7 throughout). */
  private def ivfVariantDir(s: org.apache.spark.sql.SparkSession, d: String,
      kind: String, nCells: Int = CertIvfNCells, maxFitRows: Long = 50000L,
      nReplicas: Int = 2): String =
    SessionArtifacts.dir(kind, s, d) { t =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      IvfIndex.save(s, IvfIndex.build(s, e, nCells = nCells, seed = 7L,
        maxFitRows = maxFitRows, nReplicas = nReplicas), t)
    }

  /** The certification IVF index (SessionArtifacts: single-flight first
    * build, dirs reaped at JVM exit). */
  private[ops] def ivfDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    require(probeSchedule(CertIvfNCells) == AnnNProbe,
      s"certification index nCells=$CertIvfNCells makes probeSchedule=" +
        s"${probeSchedule(CertIvfNCells)} ≠ AnnNProbe=$AnnNProbe: the ANN " +
        "oracles interpolate AnnNProbe and would silently desync — keep " +
        "nCells ≤ 4·AnnNProbe or teach the oracles the schedule first")
    ivfVariantDir(s, d, "ivf-q45")
  }

  /** Oracle support for q45/q96 (run by Verify before the DuckDB compare):
    * the SERVED index as plain parquet under outDir — the codebook
    * (cell, centroid) and the cell-membership table (cell, vec_id). Given
    * these, the serving math is fully deterministic, so DuckDB recomputes
    * probe routing (unit-space L2 with the kernel's float32 rounding),
    * candidate generation from the probed cells, raw-vector cosine, and
    * the id tie-broken ranking — certifying the ANN ANSWERS exactly, not
    * just a recall floor (the approximation lives in the index, which is
    * the exported given; everything downstream is checked). */
  def writeAnnSupport(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String): Unit = {
    import s.implicits._
    val idx = IvfIndex.load(s, ivfDir(s, d))
    idx.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq
      .toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"${graft.Verify.supportDir(outDir)}/q45_support_centroids")
    // membership is corpus-sized — parallel write (only the k-row
    // codebook coalesces)
    idx.cells.select(col("cell").cast("long").as("cell"), col("vec_id"))
      .write.mode("overwrite").parquet(s"${graft.Verify.supportDir(outDir)}/q45_support_cells")
  }

  /** M8's ANN top-K: the ranked-list form of q45 (q44 is the exact brute
    * tier). Same session-persistent index, same fused probe shuffle; each
    * probed cell contributes its bounded k-best and the global merge
    * ranks ≤ nProbe·k candidate rows per query — never the corpus.
    * Oracle-certified given the index (see q45); the
    * exact-top-1 ∈ ANN-top-3 containment and recall@3 floors are
    * asserted in DedupSpec. */
  val q96AnnTopk: Q = (s, d) => {
    val idx = IvfIndex.load(s, ivfDir(s, d))
    IvfIndex.searchTopK(s, idx,
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        k = 3, nProbe = probeSchedule(idx.centroids.length),
        checkpointProbes = false) // corpus-scale batch (see q45)
      .orderBy(col("vec_id"), col("rn"))
  }

  /** M8's PRODUCTION serving shape, certified: a fixed small query batch
    * (10 vectors) against the saved full-corpus index. q45/q96 use the
    * whole corpus as the batch, which probes every cell — correct, but the
    * partition-pruned read path they're built for never prunes there. Here
    * batch × nProbe < nCells by construction ([[ServeNProbe]]), so the
    * member scan's partition filter selects a STRICT subset of the cell
    * directories (plan- and subset-asserted in IvfIndexSpec/PlanAuditSpec)
    * — at 100 TB this scan cost is the probed fraction of the index, not
    * the corpus. Same oracle pattern as q45/q96: given the exported index,
    * DuckDB recomputes routing, candidates, cosine, and ranking for the
    * batch, so the pruned path's ANSWERS are hash-certified, not just its
    * plan shape. */
  val q99AnnServe: Q = (s, d) => {
    IvfIndex.searchTopK(s, IvfIndex.load(s, ivfDir(s, d)),
        Tables.embeddings(s, d).filter(col("vec_id") < ServeBatchMaxId)
          .select(col("vec_id"), col("embedding")),
        k = 3, nProbe = ServeNProbe)
      .orderBy(col("vec_id"), col("rn"))
  }

  /** M8's BANDWIDTH tier, certified: the SQ8 two-stage serve
    * ([[IvfSq]]) — quantized coarse scan over the probed cells (4× fewer
    * bytes than the float index) → exact rerank of the bounded shortlist
    * (partition- AND row-group-pruned raw read). Same small-batch shape
    * as q99. The entire path is deterministic given the exported indexes
    * (affine decode is the q70-certified scheme), so DuckDB recomputes
    * routing, approximate scoring, the shortlist cut, and the exact
    * rerank — the two-stage ANSWERS are hash-certified. */
  val q100AnnSq: Q = (s, d) => {
    IvfSq.searchTopK(s, sqDir(s, d), ivfDir(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < ServeBatchMaxId)
          .select(col("vec_id"), col("embedding")),
        k = 3, nProbe = SqNProbe, shortlist = SqShortlist)
      .orderBy(col("vec_id"), col("rn"))
  }

  /** Once-per-(session, dataset) SQ8 derivation of the q45 index. */
  private def sqDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    SessionArtifacts.dir("ivf-sq", s, d) { t =>
      IvfSq.quantizeTo(s, ivfDir(s, d), t)
    }

  /** M8's COMPRESSION end-game, certified: the product-quantized
    * two-stage serve ([[IvfPq]]) — ADC coarse scan over the probed cells
    * (8 code bytes per member against 256 float bytes: 32× less scan
    * bandwidth, the tier a RAM-resident 100 TB index actually keeps hot)
    * → exact rerank of the bounded shortlist, shared with the SQ tier.
    * Same small-batch shape and knobs as q100, so the two compression
    * tiers are directly comparable query-for-query. Deterministic given
    * the exported codebooks and codes, so DuckDB recomputes routing, the
    * ordered-sum ADC scores, the shortlist cut, and the exact rerank —
    * hash-certified end-to-end. */
  val q112AnnPq: Q = (s, d) => {
    IvfPq.searchTopK(s, pqDir(s, d), ivfDir(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < ServeBatchMaxId)
          .select(col("vec_id"), col("embedding")),
        k = 3, nProbe = SqNProbe, shortlist = SqShortlist)
      .orderBy(col("vec_id"), col("rn"))
  }

  /** Once-per-(session, dataset) PQ derivation of the q45 index. */
  private def pqDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    SessionArtifacts.dir("ivf-pq", s, d) { t =>
      IvfPq.trainTo(s, ivfDir(s, d), t)
    }

  /** Oracle support for q112: the PQ cell means, codebooks, and the
    * served code table (codes re-exported as list<int>; the engine serves
    * the binary form — the VALUES are identical). Routing reuses q45's
    * exported centroids. */
  def writeAnnPqSupport(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String): Unit = {
    import s.implicits._
    s.read.parquet(s"${pqDir(s, d)}/cellmeans")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q112_support_cellmeans")
    s.read.parquet(s"${pqDir(s, d)}/codebooks")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q112_support_codebooks")
    s.read.parquet(s"${pqDir(s, d)}/pqcells")
      .select(col("cell").cast("long").as("cell"), col("vec_id"),
        col("pcell"), col("codes"))
      .as[(Long, Long, Long, Array[Byte])]
      .map { case (c, id, p, codes) => (c, id, p, codes.map(b => b & 0xff).toSeq) }
      .toDF("cell", "vec_id", "pcell", "codes")
      .write.mode("overwrite").parquet(s"${graft.Verify.supportDir(outDir)}/q112_support_pqcells")
  }

  /** Oracle support for q100: the served SQ index as plain parquet (codes
    * re-exported as list<int> for the oracle's arithmetic — the engine
    * serves the binary form; the VALUES are identical). Routing reuses
    * q45's exported centroids (same codebook by construction). */
  def writeAnnSqSupport(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String): Unit = {
    import s.implicits._
    s.read.parquet(s"${sqDir(s, d)}/sqcells")
      .select(col("cell").cast("long").as("cell"), col("vec_id"),
        col("codes"), col("vmin"), col("vmax"))
      .as[(Long, Long, Array[Byte], Double, Double)]
      .map { case (c, id, codes, mn, mx) =>
        (c, id, codes.map(b => b & 0xff).toSeq, mn, mx) }
      .toDF("cell", "vec_id", "codes", "vmin", "vmax")
      .write.mode("overwrite").parquet(s"${graft.Verify.supportDir(outDir)}/q100_support_sqcells")
  }

  /** Int8 scalar quantization of the embedding column (the storage form a
    * large embedding corpus ships in — 4× smaller than float32): per-vector
    * min/max affine scale to 0..255 codes. `floor`, not `round`, so the
    * code values are cross-engine exact (no decimal half-boundary
    * divergence); the oracle recomputes the identical affine+floor and the
    * code SUM certifies every code value. One primitive-array kernel pass
    * per vector — a pure scan at any scale. The round-4 expression form
    * inlined `array_min`/`array_max` INSIDE the `transform` lambda, so
    * CollapseProject re-evaluated the whole-array min/max once PER ELEMENT,
    * interpreted — O(dim²) per row (measured 3.5 s at sf0.1 for what is a
    * 2000-row × 64-dim scan; the kernel is the q43 primitive-array lesson
    * applied again). Same float-space min/max then double-widened affine
    * math, so results are bit-identical to the old plan and the oracle. */
  val q70Quantize: Q = (s, d) => {
    val quantKernel = udf { (v: Array[Float]) =>
      if (v == null || v.isEmpty) None
      else {
        var mn = v(0)
        var mx = v(0)
        var i = 1
        while (i < v.length) {
          val x = v(i)
          if (x < mn) mn = x
          if (x > mx) mx = x
          i += 1
        }
        val vmin = mn.toDouble
        val vmax = mx.toDouble
        var sum = 0L
        if (vmax > vmin) {
          val scale = 255.0 / (vmax - vmin)
          i = 0
          while (i < v.length) {
            sum += math.floor((v(i).toDouble - vmin) * scale).toLong
            i += 1
          }
        }
        Some((vmin, vmax, sum))
      }
    }
    Tables.embeddings(s, d)
      .select(col("vec_id"), quantKernel(col("embedding")).as("q"))
      // null/empty-vector contract, matching the oracle exactly: list_min
      // of an empty list is NULL there, so vmin/vmax stay null, while the
      // CASE falls through to code_sum = 0 — hence the coalesce here (the
      // kernel's None alone would leave code_sum null and diverge)
      .select(col("vec_id"), col("q._1").as("vmin"), col("q._2").as("vmax"),
        coalesce(col("q._3"), lit(0L)).as("code_sum"))
      .orderBy(col("vec_id"))
  }

  /** q201: the ANN RECALL-vs-nProbe SWEEP — the serving-knob decision
    * curve for the q45/q96/q99 stack: for each candidate probe count,
    * recall@3 of the IVF serve against the exact brute-force top-3 on a
    * fixed query batch. This is the table that justifies (or refuses)
    * every probeSchedule constant in the file — q99 asserts its floor
    * once; this measures the whole curve and is hash-certified given
    * the exported index (the q45 support contract: the oracle recomputes
    * routing, candidates, cosine, ranking AND the exact reference, so
    * the recall numbers are exact integers over certified sets, not a
    * statistical floor). Scale: the exact reference is batch×corpus (the
    * q44 intended shape, 50-row broadcast side); each sweep point is the
    * q99 pruned serve. */
  /** Exact brute-force top-3 per query — the shared recall reference for
    * q201/q207 (q44's kernel: broadcast batch × corpus, top-3 by
    * (cos desc, id)). NaN filter BEFORE ranking (mirrors the oracle's ex
    * CTE): Spark sorts NaN FIRST under desc, so a zero-norm embedding's
    * NaN rows would consume the top-3 rank slots and then be dropped,
    * evicting true neighbors and understating recall3 (r16 ADVICE). */
  private[graft] def exactTop3Scored(e: DataFrame, queries: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("c_id"))
    broadcast(
        queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
      .join(e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")),
        col("q_id") =!= col("c_id"))
      .withColumn("cos_raw", expr("cosine_sim(q_emb, c_emb)"))
      .filter(!isnan(col("cos_raw")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id").as("vec_id"), col("c_id").as("nn_id"), col("cos_raw"))
  }

  private def exactTop3(e: DataFrame, queries: DataFrame): DataFrame =
    exactTop3Scored(e, queries).select(col("vec_id"), col("nn_id"))

  /** The SWEEP batch's exact reference, built once per (session,
    * dataset) — five recall tables (q201/q207/q208/q209/q210) share the
    * identical denominator, and before this memo each re-ran the same
    * batch×corpus brute force. SessionArtifacts discipline: persist,
    * serve from the parquet (probe-count×3 rows), never re-scan. */
  private def exactTop3Sweep(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    SessionArtifacts.table("exact-top3-sweep", s, d) {
      graft.plans.GraftExtensions.register(s)
      val e = Tables.embeddings(s, d)
      exactTop3Scored(e, e.filter(col("vec_id") < SweepBatchMaxId)
          .select(col("vec_id"), col("embedding")))
        .coalesce(1)
    }.select(col("vec_id"), col("nn_id"))

  val q201AnnRecallSweep: Q = (s, d) => {
    graft.plans.GraftExtensions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < SweepBatchMaxId)
      .select(col("vec_id"), col("embedding"))
    val exact = exactTop3Sweep(s, d)
    val idx = IvfIndex.load(s, ivfDir(s, d))
    val nq = queries.count()
    SweepNProbes.map { np =>
      IvfIndex.searchTopK(s, idx, queries, k = 3, nProbe = np)
        .select(lit(np.toLong).as("nprobe"), col("vec_id"), col("nn_id"))
    }.reduce(_ unionByName _)
      // LEFT join + null-skipping count, not a semi-join: a sweep point
      // with zero hits must still emit its row (recall3 = 0), or the
      // curve silently loses its most informative reading
      .join(exact.withColumn("hit", lit(1L)), Seq("vec_id", "nn_id"), "left")
      .groupBy(col("nprobe"))
      .agg(count(col("hit")).cast("long").as("n_hits"))
      .select(col("nprobe"), lit(nq).as("n_queries"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(3.0 * nq), 4).as("recall3"))
      .orderBy(col("nprobe"))
  }

  private[ops] val SweepBatchMaxId = 50L
  private[ops] val SweepNProbes = Seq(1, 2, 4, 8)
  private[ops] val SweepShortlists = Seq(3, 6, 12, 24)
  private[ops] val SweepDims = Seq(4, 8, 16, 32)
  private[ops] val SweepNCells = Seq(4, 8, 16, 32)

  /** Fixed probe count for the q213 cell-count sweep: held constant so
    * the ONLY moving knob is the build granularity — at nlist=4 the 4
    * probes cover the whole index (scan_frac ≈ 1, the exhaustive
    * anchor); every doubling of nlist halves the scanned fraction and
    * this table prices what the halving costs in neighbors. */
  private[ops] val NlistNProbe = 4

  /** q208: the SHORTLIST knob curve — the last unpriced knob in the ANN
    * family (q201 priced nProbe, q207 the quantization tier): recall@3
    * of the SQ8 two-stage serve vs the exact reference as the exact-
    * rerank shortlist grows 3→24 at fixed nProbe. The shortlist is the
    * two-stage serve's bandwidth dial — it bounds how many RAW vectors
    * the rerank reads per query (the row-group-pruned read that
    * dominates serve I/O at 100 TB), and this table says how many
    * neighbors each step down costs. shortlist=3 means serving the
    * quantized ranking as-is (rerank can reorder but not recover), so
    * the gap between the 3-row and 24-row readings IS the measured
    * ranking error of the SQ approximation. Hash-certified given the
    * exported index/codes (oracle recomputes approximate scores ONCE,
    * then sweeps the cut like q201 sweeps prn). */
  val q208ShortlistSweep: Q = (s, d) => {
    graft.plans.GraftExtensions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < SweepBatchMaxId)
      .select(col("vec_id"), col("embedding"))
    val exact = exactTop3Sweep(s, d)
    val nq = queries.count()
    // ONE coarse scan + ONE exact rerank for all four sweep points: the
    // approx-ranked shortlist at max(SweepShortlists) prefix-contains
    // every smaller serve's (scores are replica-invariant — see
    // IvfSq.searchTopKSweep), so the cut rows are the per-point serves
    // verbatim, at a quarter of the serve passes.
    IvfSq.searchTopKSweep(s, sqDir(s, d), ivfDir(s, d), queries,
        shortlists = SweepShortlists, k = 3, nProbe = SqNProbe)
      .select(col("shortlist"), col("vec_id"), col("nn_id"))
      .join(exact.withColumn("hit", lit(1L)), Seq("vec_id", "nn_id"), "left")
      .groupBy(col("shortlist"))
      .agg(count(col("hit")).cast("long").as("n_hits"))
      .select(col("shortlist"), lit(nq).as("n_queries"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(3.0 * nq), 4).as("recall3"))
      .orderBy(col("shortlist"))
  }

  /** q210: q208 on the PQ tier — where the shortlist knob actually
    * BINDS: SQ8's per-component affine error barely reorders neighbors
    * (q208 reads flat), but PQ's ADC scores carry real subspace-
    * quantization error, so small shortlists lose true neighbors the
    * rerank can no longer recover. The delta between this curve's ends
    * is the measured ranking error of the ADC approximation — the
    * number that decides how much exact-rerank bandwidth the 32×
    * compression tier has to buy back. Same sweep, same oracle tail,
    * same exact reference as q208. */
  val q210PqShortlistSweep: Q = (s, d) => {
    graft.plans.GraftExtensions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < SweepBatchMaxId)
      .select(col("vec_id"), col("embedding"))
    val exact = exactTop3Sweep(s, d)
    val nq = queries.count()
    // one ADC coarse scan + one exact rerank for all four sweep points
    // (IvfPq.searchTopKSweep — same prefix-containment argument as q208)
    IvfPq.searchTopKSweep(s, pqDir(s, d), ivfDir(s, d), queries,
        shortlists = SweepShortlists, k = 3, nProbe = SqNProbe)
      .select(col("shortlist"), col("vec_id"), col("nn_id"))
      .join(exact.withColumn("hit", lit(1L)), Seq("vec_id", "nn_id"), "left")
      .groupBy(col("shortlist"))
      .agg(count(col("hit")).cast("long").as("n_hits"))
      .select(col("shortlist"), lit(nq).as("n_queries"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(3.0 * nq), 4).as("recall3"))
      .orderBy(col("shortlist"))
  }

  /** Once-per-(session, dataset, nCells) IVF build for the q213 cell-
    * count sweep. The top sweep value IS the certification index
    * (same nCells/seed/replicas as [[ivfDir]]), so that build is reused
    * rather than refit. */
  private def nlistDir(s: org.apache.spark.sql.SparkSession, d: String,
      n: Int): String =
    if (n == CertIvfNCells) ivfDir(s, d)
    else ivfVariantDir(s, d, s"ivf-nlist-$n", nCells = n)

  /** ONE parameterized per-index export (r17 verdict #8): each sweep
    * index's codebook + membership under `<prefix>_centroids_<key>` /
    * `<prefix>_cells_<key>` — the q45 export contract, shared by the
    * q213 (cell-count) and q217 (replication) sweep families. */
  private def writeIvfSweepSupport(s: org.apache.spark.sql.SparkSession,
      outDir: String, prefix: String, indexes: Seq[(Int, String)]): Unit = {
    import s.implicits._
    indexes.foreach { case (key, dir) =>
      val idx = IvfIndex.load(s, dir)
      idx.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq
        .toDF("cell", "centroid").coalesce(1).write.mode("overwrite")
        .parquet(s"${graft.Verify.supportDir(outDir)}/${prefix}_centroids_$key")
      idx.cells.select(col("cell").cast("long").as("cell"), col("vec_id"))
        .write.mode("overwrite")
        .parquet(s"${graft.Verify.supportDir(outDir)}/${prefix}_cells_$key")
    }
  }

  /** Oracle support for q213: once per candidate cell count. */
  def writeAnnNlistSupport(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String): Unit =
    writeIvfSweepSupport(s, outDir, "q213_support",
      SweepNCells.map(n => n -> nlistDir(s, d, n)))

  /** q213: the cell-count (nlist) BUILD-knob sweep — the one ANN axis
    * q201/q207/q208/q209/q210/q211 leave unpriced, and the only one
    * fixed at BUILD time (every other knob can move per serve; nlist
    * requires a refit, so this is the table a deployment consults
    * FIRST). At fixed [[NlistNProbe]], each candidate cell count gets
    * two readings: recall@3 vs the shared exact reference AND the
    * member-scan fraction (probed-cell member rows / (queries ×
    * members) — the serve's bandwidth denominator, replicas counted
    * because they really are scanned). nlist=4 is the exhaustive anchor
    * (all cells probed); each doubling halves the scan and this table
    * says what the halving costs. Hash-certified given the exported
    * per-nlist indexes: the oracle recomputes routing, candidates,
    * cosine, ranking, the scan join, AND the exact reference per nlist
    * in one statement. Scale: each serve is the q99 pruned small-batch
    * shape; the scan count is a probes×cell-sizes join (cells-bounded);
    * the builds are session-memoized and ∝ √N-sized like any IVF fit. */
  /** One build-knob sweep row: serve a saved index at fixed nProbe,
    * score vs the shared exact reference, and price the scan — recall3
    * + member-scan fraction (probed-cell member rows / (queries ×
    * members); the routing reuses [[IvfIndex.routeProbes]], so the scan
    * count is exactly what the serve read). Shared by q213 (cell-count
    * axis) and q217 (replication axis). */
  private def buildSweepRow(s: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, exact: DataFrame, nq: Long,
      nProbe: Int, keyName: String, keyVal: Long): DataFrame = {
    val idx = IvfIndex.load(s, indexDir)
    // ONE routing pass: the serve returns the probe rows it actually used
    // (r17 ADVICE — the prior form routed the batch a second time for the
    // scan count), and the scan join reads the same checkpointed blocks
    val (topk, probes) =
      IvfIndex.searchTopKWithProbes(s, idx, queries, k = 3, nProbe = nProbe)
    val hits = topk
      .select(col("vec_id"), col("nn_id"))
      .join(exact.withColumn("hit", lit(1L)), Seq("vec_id", "nn_id"), "left")
      .agg(count(col("hit")).cast("long").as("n_hits"))
    // scanned member rows: probed cells joined to per-cell member counts —
    // cells-bounded, never the corpus
    val cellSizes = idx.cells
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_in_cell"))
    val scanned = probes.toDF("cell", "vec_id", "emb", "is_probe")
      .join(cellSizes, Seq("cell"))
      .agg(sum(col("n_in_cell")).cast("long").as("n_scanned"))
    val members = idx.cells.agg(count(lit(1)).cast("long").as("n_members"))
    hits.crossJoin(broadcast(scanned)).crossJoin(broadcast(members))
      .select(lit(keyVal).as(keyName), lit(nq).as("n_queries"),
        col("n_hits"),
        round(col("n_hits").cast("double") / lit(3.0 * nq), 4).as("recall3"),
        col("n_scanned"),
        round(col("n_scanned").cast("double") /
          (lit(nq.toDouble) * col("n_members").cast("double")), 4).as("scan_frac"))
  }

  val q213NlistSweep: Q = (s, d) => {
    graft.plans.GraftExtensions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < SweepBatchMaxId)
      .select(col("vec_id"), col("embedding"))
    val exact = exactTop3Sweep(s, d)
    val nq = queries.count()
    // cold path: the per-nlist index builds are independent seeded fits —
    // overlap them (guide §2.6) instead of paying each fit's tail serially
    val dirs = SessionArtifacts.inParallel(
      SweepNCells.map(n => () => n -> nlistDir(s, d, n)))
    dirs.map { case (n, dir) =>
      buildSweepRow(s, dir, queries, exact, nq,
        NlistNProbe, "ncells", n.toLong)
    }.reduce(_ unionByName _).orderBy(col("ncells"))
  }

  /** Fit-sample caps for the q228 sweep — the 50000 point is the
    * certification build's own cap (it does not bind at certification
    * scale, so that row IS the certified index). Keys are the CAP, not
    * the realized sample (the cap is the knob a deployment sets). */
  private[ops] val SweepFitCaps = Seq(64, 128, 50000)

  /** Once-per-(session, dataset, cap) IVF build for q228 — same
    * codebook params as the certification index (nCells/seed/replicas),
    * only the KMeans fit-sample cap moves. */
  private def fitDir(s: org.apache.spark.sql.SparkSession, d: String,
      cap: Int): String =
    if (cap == 50000) ivfDir(s, d)
    else ivfVariantDir(s, d, s"ivf-fit-$cap", maxFitRows = cap.toLong)

  /** Oracle support for q228: once per fit cap. */
  def writeAnnFitSupport(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String): Unit =
    writeIvfSweepSupport(s, outDir, "q228_support",
      SweepFitCaps.map(m => m -> fitDir(s, d, m)))

  /** q228: the codebook FIT-SAMPLE cap — the third and last IVF build
    * axis (q213 priced nlist, q217 replication; `maxFitRows` bounds the
    * KMeans fit, the knob that makes the codebook cost √N-ish instead
    * of corpus-shaped at 100 TB). Per cap, the same two readings as its
    * siblings: recall@3 vs the shared exact reference and the
    * member-scan fraction at fixed [[NlistNProbe]]. The MEASURED shape
    * (sf0.01: recall 0.83/0.70/0.64 at scan 0.42/0.18/0.14 for caps
    * 64/128/full) is the inversion folklore misses: an under-fit
    * codebook mis-centers cells into a few bloated ones, so each probe
    * drags MORE members — recall rises only because the scan does,
    * 3× the bytes for the same probe budget. Comparing at equal scan,
    * the full fit wins; the cap is priced in recall-per-scanned-byte,
    * not recall alone. Hash-certified from the exported per-cap
    * indexes, the q213 oracle chain verbatim. */
  val q228FitSampleSweep: Q = (s, d) => {
    graft.plans.GraftExtensions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < SweepBatchMaxId)
      .select(col("vec_id"), col("embedding"))
    val exact = exactTop3Sweep(s, d)
    val nq = queries.count()
    // overlap the independent per-cap builds (guide §2.6), as in q213
    val dirs = SessionArtifacts.inParallel(
      SweepFitCaps.map(m => () => m -> fitDir(s, d, m)))
    dirs.map { case (m, dir) =>
      buildSweepRow(s, dir, queries, exact, nq,
        NlistNProbe, "fit_cap", m.toLong)
    }.reduce(_ unionByName _).orderBy(col("fit_cap"))
  }

  private[ops] val SweepReplicas = Seq(1, 2, 3)

  /** Once-per-(session, dataset, nReplicas) IVF build for q217 — same
    * codebook params as the certification index (nCells/seed), only the
    * replication factor moves; r = 2 IS the certification build, and
    * r = 1 is DERIVED from it rather than refit (r17 verdict #8): the
    * codebook fit is nReplicas-independent, and build's r = 2 membership
    * is nearestCells(v, 2) per vector — so dropping each vector's
    * secondary assignment (re-ranking its distinct row through
    * nearestCells(v, 1) against the SAME codebook) reproduces the r = 1
    * build bit-for-bit without a second KMeans. One pass over the member
    * table, cold-path only (session-memoized like every sweep build). */
  private def replicaDir(s: org.apache.spark.sql.SparkSession, d: String,
      r: Int): String =
    if (r == 2) ivfDir(s, d)
    else if (r == 1) SessionArtifacts.dir("ivf-replicas-1", s, d) { t =>
      import s.implicits._
      val idx = IvfIndex.load(s, ivfDir(s, d))
      val bc = s.sparkContext.broadcast(idx.centroids)
      val derived = idx.cells
        .select(col("vec_id"), col("embedding"))
        .dropDuplicates("vec_id") // r=2 lists each vector twice, embedding identical
        .as[(Long, Array[Float])]
        .map { case (id, v) =>
          (IvfIndex.nearestCells(bc.value, IvfIndex.unit(v), 1).head.toLong, id, v)
        }
        .toDF("cell", "vec_id", "embedding")
      IvfIndex.save(s, IvfIndex(idx.centroids, derived, 1), t)
    }
    else ivfVariantDir(s, d, s"ivf-replicas-$r", nReplicas = r)

  /** Oracle support for q217: once per replication factor. */
  def writeAnnReplicaSupport(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String): Unit =
    writeIvfSweepSupport(s, outDir, "q217_support",
      SweepReplicas.map(r => r -> replicaDir(s, d, r)))

  /** q217: the REPLICATION-factor build knob — q213's sibling axis:
    * multi-assignment places each vector in its r nearest cells, buying
    * recall at cell boundaries for r× index storage AND r× scan rows at
    * a fixed probe count. At [[NlistNProbe]] on the certification cell
    * count, recall3 and scan fraction per r ∈ 1/2/3 — together with
    * q213 this prices both IVF build-time axes against the same exact
    * reference, so a deployment can read (cells, replicas) as one
    * two-knob surface. Same oracle contract as q213 (per-r exported
    * index, one statement). */
  val q217ReplicaSweep: Q = (s, d) => {
    graft.plans.GraftExtensions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < SweepBatchMaxId)
      .select(col("vec_id"), col("embedding"))
    val exact = exactTop3Sweep(s, d)
    val nq = queries.count()
    // overlap the independent per-r builds (guide §2.6), as in q213;
    // the r=1 derivation forcing the r=2 certification build first stays
    // build-once under concurrency (SessionArtifacts Holder)
    val dirs = SessionArtifacts.inParallel(
      SweepReplicas.map(r => () => r -> replicaDir(s, d, r)))
    dirs.map { case (r, dir) =>
      buildSweepRow(s, dir, queries, exact, nq,
        NlistNProbe, "nreplicas", r.toLong)
    }.reduce(_ unionByName _).orderBy(col("nreplicas"))
  }

  /** Component count of the PCA rotation (q211): half the raw dims —
    * the truncation budget the rotated tier is priced against. */
  private[ops] val PcaK = 32

  /** Once-per-(session, dataset) PCA of the embedding corpus: the top
    * [[PcaK]] principal directions via Spark ML (covariance
    * eigendecomposition — the FIT is the given, per the support-table
    * doctrine; everything after it is recomputed by the oracle from the
    * exported matrix). Stored as (j, vcol) rows: component j's
    * direction as an array of doubles. Component SIGN is
    * library-determined but irrelevant here: a flipped v_j flips every
    * vector's j-th coordinate, and (a·v_j)(b·v_j) is sign-invariant, so
    * rotated cosines — and the oracle, which reads the EXPORTED matrix
    * — are unaffected. */
  private def pcaRotation(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    SessionArtifacts.table("pca-rotation", s, d) {
      import s.implicits._
      val pc = new org.apache.spark.ml.feature.PCA()
        .setK(PcaK).setInputCol("features").setOutputCol("p")
        .fit(Tables.embeddings(s, d)
          .filter(col("embedding").isNotNull)
          .select(org.apache.spark.ml.functions.array_to_vector(
            col("embedding")).as("features")))
        .pc
      (0 until PcaK).map { j =>
        (j.toLong, (0 until pc.numRows).map(i => pc(i, j)))
      }.toDF("j", "vcol").coalesce(1)
    }

  /** Oracle support for q211: the fitted rotation matrix. */
  def writeAnnPcaSupport(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String): Unit =
    pcaRotation(s, d).coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q211_support_pca")

  /** The corpus rotated onto the principal directions: component j =
    * Σ_i emb[i]·V[i,j] (ascending-i double fold, cast to float — the
    * raw table's storage width; the oracle mirrors both). The matrix is
    * PcaK×dims doubles in a broadcast; the kernel is one primitive
    * array pass per vector. */
  private def rotatedEmbeddings(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val V = pcaRotation(s, d).orderBy(col("j"))
      .collect().map(_.getSeq[Double](1).toArray)
    val bc = s.sparkContext.broadcast(V)
    val rotate = udf { (v: Array[Float]) =>
      if (v == null) null
      else {
        val m = bc.value
        Array.tabulate(m.length) { j =>
          val cj = m(j)
          var acc = 0.0
          var i = 0
          while (i < v.length) { acc += v(i).toDouble * cj(i); i += 1 }
          acc.toFloat
        }
      }
    }
    Tables.embeddings(s, d)
      .select(col("vec_id"), rotate(col("embedding")).as("embedding"))
  }

  /** q211: q209 WITH the refit — truncation after a PCA rotation, the
    * Matryoshka-style serving option q209's prefix floor begs for: keep
    * the top-k PRINCIPAL components instead of the first k raw ones,
    * recall@3 vs the same full-dimension exact reference. On an
    * embedding family with low-rank structure this curve sits far above
    * q209's; on an isotropic one (near-flat eigenvalues) it proves the
    * corpus has no such structure and truncation must be paid for in
    * recall either way — both readings are the decision input. The fit
    * is the given; the oracle recomputes rotation, truncated cosine,
    * ranking, and the exact reference from the exported matrix. */
  val q211PcaTruncation: Q = (s, d) => {
    graft.plans.GraftExtensions.register(s)
    val rot = rotatedEmbeddings(s, d)
    val queries = rot.filter(col("vec_id") < SweepBatchMaxId)
      .select(col("vec_id"), col("embedding"))
    val exact = exactTop3Sweep(s, d)
    val nq = queries.count()
    SweepDims.map { k =>
      exactTop3(
          rot.select(col("vec_id"), slice(col("embedding"), 1, k).as("embedding")),
          queries.select(col("vec_id"), slice(col("embedding"), 1, k).as("embedding")))
        .select(lit(k.toLong).as("dim"), col("vec_id"), col("nn_id"))
    }.reduce(_ unionByName _)
      .join(exact.withColumn("hit", lit(1L)), Seq("vec_id", "nn_id"), "left")
      .groupBy(col("dim"))
      .agg(count(col("hit")).cast("long").as("n_hits"))
      .select(col("dim"), lit(nq).as("n_queries"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(3.0 * nq), 4).as("recall3"))
      .orderBy(col("dim"))
  }

  /** q209: the embedding-DIMENSION ablation — recall@3 of brute-force
    * cosine over the FIRST k components against the full-dimension exact
    * top-3. This prices the truncation-serving knob (the
    * Matryoshka-style deployment question: how much of the vector does a
    * serving tier actually need?) on OUR embedding table, the same way
    * q201/q207/q208 price the index knobs — together the four tables
    * span every axis of the serving cost model: cells probed, bytes per
    * component, rerank rows, and components kept. Truncation here is
    * prefix-slice (no refit), so the reading is the floor a
    * truncation-aware encoder would improve on. Both sides are exact
    * brute force (the q44 broadcast shape per dim), so certification
    * needs no support tables at all — the oracle recomputes everything
    * from the raw embeddings. */
  val q209DimAblation: Q = (s, d) => {
    graft.plans.GraftExtensions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < SweepBatchMaxId)
      .select(col("vec_id"), col("embedding"))
    val exact = exactTop3Sweep(s, d)
    val nq = queries.count()
    SweepDims.map { k =>
      exactTop3(
          e.select(col("vec_id"), slice(col("embedding"), 1, k).as("embedding")),
          queries.select(col("vec_id"), slice(col("embedding"), 1, k).as("embedding")))
        .select(lit(k.toLong).as("dim"), col("vec_id"), col("nn_id"))
    }.reduce(_ unionByName _)
      .join(exact.withColumn("hit", lit(1L)), Seq("vec_id", "nn_id"), "left")
      .groupBy(col("dim"))
      .agg(count(col("hit")).cast("long").as("n_hits"))
      .select(col("dim"), lit(nq).as("n_queries"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(3.0 * nq), 4).as("recall3"))
      .orderBy(col("dim"))
  }

  /** q207: the QUANTIZATION-TIER recall table — q201 priced the nProbe
    * knob for the float tier; this prices the TIER knob at fixed nProbe
    * ([[SqNProbe]] = q201's top sweep point, so the float row must agree
    * with q201's nprobe=8 reading — a built-in cross-check): recall@3 of
    * the float serve, the SQ8 two-stage serve, and the PQ ADC serve
    * against the same exact brute-force reference on the same 50-query
    * batch. This is the missing accuracy side of the bandwidth story —
    * SQ8 scans 4× fewer bytes and PQ 32× fewer, and this table says what
    * those savings cost in neighbors. Hash-certified given the exported
    * index/codes/codebooks: the oracle recomputes all three serves AND
    * the exact reference, so the recalls are exact integers over
    * certified sets. Scale: each serve is the q99/q100/q112 pruned
    * small-batch shape; the exact reference is the q44 broadcast shape. */
  val q207QuantRecall: Q = (s, d) => {
    graft.plans.GraftExtensions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < SweepBatchMaxId)
      .select(col("vec_id"), col("embedding"))
    val exact = exactTop3Sweep(s, d)
    val nq = queries.count()
    Seq(
      ("float", IvfIndex.searchTopK(s, IvfIndex.load(s, ivfDir(s, d)),
        queries, k = 3, nProbe = SqNProbe)),
      ("sq8", IvfSq.searchTopK(s, sqDir(s, d), ivfDir(s, d),
        queries, k = 3, nProbe = SqNProbe, shortlist = SqShortlist)),
      ("pq", IvfPq.searchTopK(s, pqDir(s, d), ivfDir(s, d),
        queries, k = 3, nProbe = SqNProbe, shortlist = SqShortlist)))
      .map { case (t, df) =>
        df.select(lit(t).as("tier"), col("vec_id"), col("nn_id")) }
      .reduce(_ unionByName _)
      // LEFT join + null-skipping count (the q201 discipline): a tier
      // with zero hits must still emit its row
      .join(exact.withColumn("hit", lit(1L)), Seq("vec_id", "nn_id"), "left")
      .groupBy(col("tier"))
      .agg(count(col("hit")).cast("long").as("n_hits"))
      .select(col("tier"), lit(nq).as("n_queries"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(3.0 * nq), 4).as("recall3"))
      .orderBy(col("tier"))
  }

  /** q203: per-LABEL embedding distinctiveness — cosine between each
    * label's centroid and the global centroid: which embedding domains
    * actually deviate from the corpus mean, the geometric companion to
    * q137's domain waterfill (a domain whose centroid sits on the global
    * mean contributes no diversity no matter how many tokens it gets)
    * and the between-groups face of q182's within-group diversity. One
    * component explode feeds BOTH means (cached, released); everything
    * after is dim×labels-bounded. Float means are order-dependent in the
    * last ulps, absorbed by the round-4 (the q42/q182 certification
    * precedent). */
  val q203LabelDistinct: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("label").cast("long").as("label"), col("i"),
        col("x").cast("double").as("x"))
      .cache()
    val lm = e.groupBy(col("label"), col("i"))
      .agg(avg(col("x")).as("m"), count(lit(1)).as("n")) // float-mean: precedent
    val gm = e.groupBy(col("i")).agg(avg(col("x")).as("g")) // float-mean: precedent
    Caching.materializeAndRelease(
      lm.join(gm, Seq("i"))
        .groupBy(col("label"))
        .agg(max(col("n")).cast("long").as("n_vecs"),
          round(sum(col("m") * col("g")) /
            (sqrt(sum(col("m") * col("m"))) *
              sqrt(sum(col("g") * col("g")))), 4).as("cos_global"))
        .orderBy(col("label")),
      e)
  }

  /** Pure-SQL end-to-end: the whole query is ONE spark.sql statement over a
    * registered view, driving the engine's native cosine_sim expression
    * from SQL — certifying the §2.11 function-registration surface (a SQL
    * user gets the same codegen'd kernel as the DataFrame API). Consecutive
    * vec_id pairs keep the join equi-keyed and the result deterministic. */
  val q81SqlSurface: Q = (s, d) => {
    graft.plans.GraftExtensions.register(s)
    Tables.embeddings(s, d).createOrReplaceTempView("emb_sql")
    s.sql(
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(cosine_sim(a.embedding, b.embedding), 4) AS cos
        |FROM emb_sql a JOIN emb_sql b ON a.vec_id + 1 = b.vec_id
        |ORDER BY vec_a""".stripMargin)
  }

  def queries: Map[String, Q] = Map(
    "q41_vector_norms" -> q41VectorNorms,
    "q81_sql_surface"  -> q81SqlSurface,
    "q70_quantize"     -> q70Quantize,
    "q42_centroids"    -> q42Centroids,
    "q182_embedding_diversity" -> q182EmbeddingDiversity,
    "q43_cosine_pairs" -> q43CosinePairs,
    "q44_knn_brute"    -> q44KnnBrute,
    "q45_ann_ivf"      -> q45AnnIvf,
    "q96_ann_topk"     -> q96AnnTopk,
    "q99_ann_serve"    -> q99AnnServe,
    "q100_ann_sq"      -> q100AnnSq,
    "q112_ann_pq"      -> q112AnnPq,
    "q74_embed_dedup"  -> q74EmbedDedup,
    "q201_ann_recall_sweep" -> q201AnnRecallSweep,
    "q203_label_distinct" -> q203LabelDistinct,
    "q207_quant_recall" -> q207QuantRecall,
    "q208_shortlist_sweep" -> q208ShortlistSweep,
    "q209_dim_ablation" -> q209DimAblation,
    "q210_pq_shortlist_sweep" -> q210PqShortlistSweep,
    "q213_nlist_sweep" -> q213NlistSweep,
    "q217_replica_sweep" -> q217ReplicaSweep,
    "q228_fit_sample_sweep" -> q228FitSampleSweep,
    "q211_pca_truncation" -> q211PcaTruncation,
  )

  /** DuckDB double-math vector expressions (mirror functions.Vectors). */
  private[ops] def duckDot(a: String, b: String) =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, len($a) + 1)])"
  private[ops] def duckNorm(a: String) =
    s"sqrt(${duckDot(a, a)})"

  /** The IVF serving path recomputed over the exported index: unit-space
    * probe routing (with the kernel's float32 rounding of the normalized
    * components and its stable squared-L2/cell-id tie-break), candidates
    * from the probed cells with replica collapse (DISTINCT), raw-vector
    * cosine, ranking by (cos desc, id asc). `ranked` feeds the top-1
    * (q45) and top-3 (q96) selects over the full-corpus batch, and q99's
    * pruned small-batch serve via `batchWhere`/`nProbe` (the engine calls
    * interpolate the same constants, so the compare can't desync). */
  /** `memSql` overrides the member-set CTE body — the filtered-search
    * oracle (q102) serves the SAME exported membership restricted by a
    * metadata predicate, so the only CTE that differs is `mem`. */
  private[ops] def annRankedCtes(batchWhere: String, nProbe: Int,
      memSql: Option[String] = None): String =
    s"WITH $cenCte,\n" + annChainCtes("", batchWhere, nProbe, memSql)

  /** The q45-exported-centroids CTE, shared by every tier's routing. */
  private[ops] val cenCte: String =
    """cen AS (
      |  SELECT cell, centroid
      |  FROM read_parquet('{GRAFT_OUT}_support/q45_support_centroids/*.parquet'))""".stripMargin

  /** The routing CTE pair every tier shares: normalized query batch
    * (`{p}qn`/`{p}qu`) and probed cells (`{p}probes`), referencing the
    * shared `cen`. Prefixed so q207 can run several tiers' chains in ONE
    * statement without CTE-name collisions. */
  private def routeCtes(p: String, batchWhere: String, nProbe: Int): String =
    s"""${p}qn AS (
       |  SELECT vec_id, embedding, ${duckNorm("embedding")} AS nrm
       |  FROM embeddings $batchWhere),
       |${p}qu AS (
       |  SELECT vec_id,
       |    [CASE WHEN nrm = 0 THEN x
       |          ELSE CAST(CAST(x AS DOUBLE) / nrm AS REAL) END
       |     for x in embedding] AS uv
       |  FROM ${p}qn),
       |${p}probes AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT ${p}qu.vec_id, cen.cell,
       |      row_number() OVER (PARTITION BY ${p}qu.vec_id ORDER BY
       |        list_sum([(CAST(uv[i] AS DOUBLE) - centroid[i]) *
       |                  (CAST(uv[i] AS DOUBLE) - centroid[i])
       |                  for i in range(1, len(centroid) + 1)]), cen.cell) AS prn
       |    FROM ${p}qu CROSS JOIN cen)
       |  WHERE prn <= $nProbe)""".stripMargin

  /** The shared top-3 projection over a (prefixed) `ranked` CTE. */
  private[ops] def top3Select(p: String): String =
    s"""SELECT vec_id, CAST(rn AS INTEGER) AS rn, cand_id AS nn_id,
       |  round(cos_raw, 4) AS cos
       |FROM ${p}ranked WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin

  /** The SQ8 two-stage serve as a prefixed CTE chain (routing → quantized
    * approximate scan with q70's affine decode → shortlist cut → exact
    * rerank), ending in `{p}ranked`. q100 uses it bare; q207 runs it
    * alongside the float and PQ chains in one statement. */
  /** The SQ8 chain through the approximate scores only (`{p}ascore`) —
    * q208 sweeps the shortlist cut over ONE scored set, the q201 trick
    * applied to the shortlist dimension. */
  private[ops] def sqAscoreCtes(p: String, batchWhere: String,
      nProbe: Int): String = {
    val dec = "(a.vmin + a.codes[i] * ((a.vmax - a.vmin) / 255.0))"
    s"""${p}sqm AS (
       |  SELECT cell, vec_id, codes, vmin, vmax
       |  FROM read_parquet('{GRAFT_OUT}_support/q100_support_sqcells/*.parquet')),
       |${routeCtes(p, batchWhere, nProbe)},
       |${p}cand AS (
       |  SELECT DISTINCT p.vec_id, m.vec_id AS cand_id, m.codes, m.vmin, m.vmax
       |  FROM ${p}probes p JOIN ${p}sqm m ON p.cell = m.cell AND m.vec_id <> p.vec_id),
       |${p}ascore AS (
       |  SELECT a.vec_id, a.cand_id,
       |    list_sum([CAST(e.embedding[i] AS DOUBLE) * $dec
       |              for i in range(1, len(a.codes) + 1)]) /
       |    (${duckNorm("e.embedding")} *
       |     sqrt(list_sum([$dec * $dec
       |                    for i in range(1, len(a.codes) + 1)]))) AS appr
       |  FROM ${p}cand a JOIN embeddings e ON a.vec_id = e.vec_id)""".stripMargin
  }

  private[ops] def sqChainCtes(p: String, batchWhere: String, nProbe: Int,
      shortlist: Int): String = {
    s"""${sqAscoreCtes(p, batchWhere, nProbe)},
       |${p}short AS (
       |  SELECT vec_id, cand_id FROM (
       |    SELECT vec_id, cand_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY appr DESC, cand_id) AS srn
       |    FROM ${p}ascore WHERE NOT isnan(appr))
       |  WHERE srn <= $shortlist),
       |${p}rr AS (
       |  SELECT s.vec_id, s.cand_id,
       |    ${duckDot("a.embedding", "b.embedding")} /
       |      (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) AS cos_raw
       |  FROM ${p}short s
       |  JOIN embeddings a ON s.vec_id = a.vec_id
       |  JOIN embeddings b ON s.cand_id = b.vec_id),
       |${p}ranked AS (
       |  SELECT vec_id, cand_id, cos_raw,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_raw DESC, cand_id) AS rn
       |  FROM ${p}rr WHERE NOT isnan(cos_raw))""".stripMargin
  }

  /** The residual-PQ chain through the ADC approximate scores only
    * (`{p}ascore`) — q210 sweeps the shortlist cut over ONE scored set,
    * the q208 shape on the PQ tier. */
  private[ops] def pqAscoreCtes(p: String, batchWhere: String,
      nProbe: Int): String =
    s"""${p}cb AS (
       |  SELECT sub, code, centroid,
       |    list_sum([c * c for c in centroid]) AS c2
       |  FROM read_parquet('{GRAFT_OUT}_support/q112_support_codebooks/*.parquet')),
       |${p}cm AS (
       |  SELECT cell, mean, list_sum([m * m for m in mean]) AS mn2
       |  FROM read_parquet('{GRAFT_OUT}_support/q112_support_cellmeans/*.parquet')),
       |${p}pqm AS (
       |  SELECT cell, vec_id, pcell, codes
       |  FROM read_parquet('{GRAFT_OUT}_support/q112_support_pqcells/*.parquet')),
       |${routeCtes(p, batchWhere, nProbe)},
       |${p}codes1 AS (
       |  SELECT vec_id, pcell, codes FROM (
       |    SELECT vec_id, pcell, codes,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cell) AS crn
       |    FROM ${p}pqm) WHERE crn = 1),
       |${p}cand AS (
       |  SELECT DISTINCT p.vec_id, m.vec_id AS cand_id
       |  FROM ${p}probes p JOIN ${p}pqm m ON p.cell = m.cell AND m.vec_id <> p.vec_id),
       |${p}subs AS (SELECT DISTINCT sub FROM ${p}cb),
       |${p}mc AS (
       |  SELECT c.vec_id, c.cand_id, k.pcell, s.sub, k.codes[s.sub + 1] AS code
       |  FROM ${p}cand c JOIN ${p}codes1 k ON c.cand_id = k.vec_id CROSS JOIN ${p}subs s),
       |${p}sd AS (
       |  SELECT mc.vec_id, mc.cand_id, mc.pcell, mc.sub,
       |    list_sum([CAST(e.embedding[mc.sub * len(cb.centroid) + i] AS DOUBLE) *
       |              cb.centroid[i]
       |              for i in range(1, len(cb.centroid) + 1)]) AS sdot,
       |    2 * list_sum([cm.mean[mc.sub * len(cb.centroid) + i] * cb.centroid[i]
       |              for i in range(1, len(cb.centroid) + 1)]) + cb.c2 AS mterm
       |  FROM ${p}mc mc JOIN ${p}cb cb ON cb.sub = mc.sub AND cb.code = mc.code
       |  JOIN embeddings e ON e.vec_id = mc.vec_id
       |  JOIN ${p}cm cm ON cm.cell = mc.pcell),
       |${p}pc AS (
       |  SELECT vec_id, cand_id, pcell,
       |    list_sum(list(sdot ORDER BY sub)) AS sdots,
       |    list_sum(list(mterm ORDER BY sub)) AS m2s
       |  FROM ${p}sd GROUP BY vec_id, cand_id, pcell),
       |${p}ascore AS (
       |  SELECT pc.vec_id, pc.cand_id,
       |    (list_sum([CAST(q.embedding[i] AS DOUBLE) * cm.mean[i]
       |               for i in range(1, len(cm.mean) + 1)]) + pc.sdots) /
       |      (q.nrm * sqrt(cm.mn2 + pc.m2s)) AS appr
       |  FROM ${p}pc pc
       |  JOIN ${p}cm cm ON cm.cell = pc.pcell
       |  JOIN ${p}qn q ON q.vec_id = pc.vec_id)""".stripMargin

  /** The residual-PQ two-stage serve as a prefixed CTE chain (routing →
    * code→codebook ADC assembly with the engine's exact association →
    * shortlist cut → exact rerank), ending in `{p}ranked`. q112 uses it
    * bare; q207 runs it alongside the float and SQ chains. */
  private[ops] def pqChainCtes(p: String, batchWhere: String, nProbe: Int,
      shortlist: Int): String =
    s"""${pqAscoreCtes(p, batchWhere, nProbe)},
       |${p}short AS (
       |  SELECT vec_id, cand_id FROM (
       |    SELECT vec_id, cand_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY appr DESC, cand_id) AS srn
       |    FROM ${p}ascore WHERE NOT isnan(appr))
       |  WHERE srn <= $shortlist),
       |${p}rr AS (
       |  SELECT s.vec_id, s.cand_id,
       |    ${duckDot("a.embedding", "b.embedding")} /
       |      (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) AS cos_raw
       |  FROM ${p}short s
       |  JOIN embeddings a ON s.vec_id = a.vec_id
       |  JOIN embeddings b ON s.cand_id = b.vec_id),
       |${p}ranked AS (
       |  SELECT vec_id, cand_id, cos_raw,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_raw DESC, cand_id) AS rn
       |  FROM ${p}rr WHERE NOT isnan(cos_raw))""".stripMargin

  /** One full shortlist-sweep oracle statement over an unprefixed
    * `...ascore` chain (SQ8 or PQ): rank the approximate scores once,
    * sweep the cut as a dimension join, exact-rerank cosines computed
    * once over the widest cut, recall vs the shared exact reference. */
  private def shortlistSweepSql(ascoreChain: String): String =
    s"WITH $cenCte,\n" + ascoreChain + ",\n" +
      s"""sls AS (SELECT unnest([${SweepShortlists.mkString(", ")}]) AS sl),
         |sr AS (
         |  SELECT vec_id, cand_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY appr DESC, cand_id) AS srn
         |  FROM ascore WHERE NOT isnan(appr)),
         |rrc AS (
         |  SELECT r.vec_id, r.cand_id,
         |    ${duckDot("a.embedding", "b.embedding")} /
         |      (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) AS cos_raw
         |  FROM (SELECT vec_id, cand_id FROM sr
         |        WHERE srn <= ${SweepShortlists.max}) r
         |  JOIN embeddings a ON r.vec_id = a.vec_id
         |  JOIN embeddings b ON r.cand_id = b.vec_id),
         |rk AS (
         |  SELECT sls.sl, c.vec_id, c.cand_id,
         |    row_number() OVER (PARTITION BY sls.sl, c.vec_id
         |      ORDER BY c.cos_raw DESC, c.cand_id) AS rn
         |  FROM sr JOIN sls ON sr.srn <= sls.sl
         |  JOIN rrc c ON c.vec_id = sr.vec_id AND c.cand_id = sr.cand_id
         |  WHERE NOT isnan(c.cos_raw)),
         |${exactTop3Cte(SweepBatchMaxId)},
         |u AS (SELECT sl, vec_id, cand_id FROM rk WHERE rn <= 3),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qn)
         |SELECT CAST(u.sl AS BIGINT) AS shortlist, nq.n AS n_queries,
         |  CAST(count(ex.vec_id) AS BIGINT) AS n_hits,
         |  round(CAST(count(ex.vec_id) AS DOUBLE) / (3.0 * nq.n), 4) AS recall3
         |FROM u
         |LEFT JOIN ex ON u.vec_id = ex.vec_id AND u.cand_id = ex.cand_id
         |CROSS JOIN nq
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** One per-nlist serve chain for the q213 oracle (prefix `n<cells>`):
    * its own exported codebook + membership, the routeCtes routing math
    * verbatim against THAT codebook, candidates, exact cosine, ranking —
    * ending in `{p}top` (the served top-3), with `{p}probes`/`{p}mem`
    * left readable for the scan-fraction join. */
  private def buildChainCtes(p: String, centroidsTable: String,
      cellsTable: String): String = {
    s"""${p}cen AS (
       |  SELECT cell, centroid
       |  FROM read_parquet('{GRAFT_OUT}_support/$centroidsTable/*.parquet')),
       |${p}mem AS (
       |  SELECT cell, vec_id
       |  FROM read_parquet('{GRAFT_OUT}_support/$cellsTable/*.parquet')),
       |${p}probes AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT qu.vec_id, ${p}cen.cell,
       |      row_number() OVER (PARTITION BY qu.vec_id ORDER BY
       |        list_sum([(CAST(uv[i] AS DOUBLE) - centroid[i]) *
       |                  (CAST(uv[i] AS DOUBLE) - centroid[i])
       |                  for i in range(1, len(centroid) + 1)]), ${p}cen.cell) AS prn
       |    FROM qu CROSS JOIN ${p}cen)
       |  WHERE prn <= $NlistNProbe),
       |${p}cand AS (
       |  SELECT DISTINCT p.vec_id, m.vec_id AS cand_id
       |  FROM ${p}probes p JOIN ${p}mem m ON p.cell = m.cell AND m.vec_id <> p.vec_id),
       |${p}scored AS (
       |  SELECT c.vec_id, c.cand_id,
       |    ${duckDot("a.embedding", "b.embedding")} /
       |      (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) AS cos_raw
       |  FROM ${p}cand c
       |  JOIN embeddings a ON c.vec_id = a.vec_id
       |  JOIN embeddings b ON c.cand_id = b.vec_id),
       |${p}top AS (
       |  SELECT vec_id, cand_id FROM (
       |    SELECT vec_id, cand_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cos_raw DESC, cand_id) AS rn
       |    FROM ${p}scored WHERE NOT isnan(cos_raw))
       |  WHERE rn <= 3)""".stripMargin
  }

  /** The full build-knob sweep oracle (q213/q217): every sweep value's
    * chain in one statement, a UNION-ALL row per value (hits vs the
    * exact reference, scanned member rows, member total), recall and
    * scan fraction as divisions of exact integers. `entries` =
    * (key value, chain prefix, centroids table, cells table). */
  private def buildSweepSql(keyCol: String,
      entries: Seq[(Int, String, String, String)]): String = {
    val rows = entries.map { case (v, p, _, _) =>
      s"""  SELECT $v AS $keyCol,
         |    (SELECT count(*) FROM ${p}top t
         |     JOIN ex ON t.vec_id = ex.vec_id AND t.cand_id = ex.cand_id) AS n_hits,
         |    (SELECT count(*) FROM ${p}probes p
         |     JOIN ${p}mem m ON p.cell = m.cell) AS n_scanned,
         |    (SELECT count(*) FROM ${p}mem) AS n_members""".stripMargin
    }.mkString("\nUNION ALL\n")
    val chains = entries.map { case (_, p, cenT, celT) =>
      buildChainCtes(p, cenT, celT)
    }.mkString(",\n")
    s"""WITH qn AS (
       |  SELECT vec_id, embedding, ${duckNorm("embedding")} AS nrm
       |  FROM embeddings WHERE vec_id < $SweepBatchMaxId),
       |qu AS (
       |  SELECT vec_id,
       |    [CASE WHEN nrm = 0 THEN x
       |          ELSE CAST(CAST(x AS DOUBLE) / nrm AS REAL) END
       |     for x in embedding] AS uv
       |  FROM qn),
       |$chains,
       |${exactTop3Cte(SweepBatchMaxId)},
       |nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qn),
       |rws AS (
       |$rows)
       |SELECT CAST(rws.$keyCol AS BIGINT) AS $keyCol, nq.n AS n_queries,
       |  CAST(rws.n_hits AS BIGINT) AS n_hits,
       |  round(CAST(rws.n_hits AS DOUBLE) / (3.0 * nq.n), 4) AS recall3,
       |  CAST(rws.n_scanned AS BIGINT) AS n_scanned,
       |  round(CAST(rws.n_scanned AS DOUBLE) / (nq.n * rws.n_members), 4) AS scan_frac
       |FROM rws CROSS JOIN nq ORDER BY $keyCol""".stripMargin
  }

  private def nlistSweepSql: String =
    buildSweepSql("ncells", SweepNCells.map(n =>
      (n, s"n$n", s"q213_support_centroids_$n", s"q213_support_cells_$n")))

  private def replicaSweepSql: String =
    buildSweepSql("nreplicas", SweepReplicas.map(r =>
      (r, s"r$r", s"q217_support_centroids_$r", s"q217_support_cells_$r")))

  private def fitSweepSql: String =
    buildSweepSql("fit_cap", SweepFitCaps.map(m =>
      (m, s"f$m", s"q228_support_centroids_$m", s"q228_support_cells_$m")))

  /** The exact brute-force top-3 reference (NaN-filtered BEFORE ranking)
    * as an `ex` CTE over the `vec_id < maxId` batch — the shared recall
    * denominator for q201 and q207. */
  private def exactTop3Cte(maxId: Long): String =
    s"""ex AS (
       |  SELECT vec_id, cand_id FROM (
       |    SELECT q.vec_id, b.vec_id AS cand_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${duckDot("q.embedding", "b.embedding")} /
       |          (${duckNorm("q.embedding")} * ${duckNorm("b.embedding")}) DESC,
       |        b.vec_id) AS rn
       |    FROM (SELECT * FROM embeddings WHERE vec_id < $maxId) q
       |    JOIN embeddings b ON b.vec_id <> q.vec_id
       |    WHERE NOT isnan(${duckDot("q.embedding", "b.embedding")} /
       |      (${duckNorm("q.embedding")} * ${duckNorm("b.embedding")})))
       |  WHERE rn <= 3)""".stripMargin

  private[ops] def annChainCtes(p: String, batchWhere: String, nProbe: Int,
      memSql: Option[String] = None): String =
    s"""${p}mem AS (
       |  ${memSql.getOrElse(
             "SELECT cell, vec_id\n" +
             "  FROM read_parquet('{GRAFT_OUT}_support/q45_support_cells/*.parquet')")}),
       |${routeCtes(p, batchWhere, nProbe)},
       |${p}cand AS (
       |  SELECT DISTINCT p.vec_id, m.vec_id AS cand_id
       |  FROM ${p}probes p JOIN ${p}mem m ON p.cell = m.cell AND m.vec_id <> p.vec_id),
       |${p}scored AS (
       |  SELECT c.vec_id, c.cand_id,
       |    ${duckDot("a.embedding", "b.embedding")} /
       |      (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) AS cos_raw
       |  FROM ${p}cand c
       |  JOIN embeddings a ON c.vec_id = a.vec_id
       |  JOIN embeddings b ON c.cand_id = b.vec_id),
       |${p}ranked AS (
       |  SELECT vec_id, cand_id, cos_raw,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_raw DESC, cand_id) AS rn
       |  FROM ${p}scored
       |  WHERE NOT isnan(cos_raw))""".stripMargin

  def oracle: Map[String, String] = Map(
    "q45_ann_ivf" -> (annRankedCtes("", AnnNProbe) +
      """
        |SELECT vec_id, cand_id AS nn_id, round(cos_raw, 4) AS cos
        |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    "q96_ann_topk" -> (annRankedCtes("", AnnNProbe) +
      """
        |SELECT vec_id, CAST(rn AS INTEGER) AS rn, cand_id AS nn_id,
        |  round(cos_raw, 4) AS cos
        |FROM ranked WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin),
    "q203_label_distinct" ->
      """WITH e AS (
        |  SELECT CAST(label AS BIGINT) AS label, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)),
        |lm AS (SELECT label, i, avg(x) AS m, count(*) AS n FROM e GROUP BY 1, 2),
        |gm AS (SELECT i, avg(x) AS g FROM e GROUP BY 1)
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
        |  round(sum(m * g) / (sqrt(sum(m * m)) * sqrt(sum(g * g))), 4) AS cos_global
        |FROM lm JOIN gm USING (i) GROUP BY 1 ORDER BY 1""".stripMargin,
    // the sweep recomputed end-to-end per probe count: probe RANKS once
    // (the annRankedCtes routing math verbatim, uncut), the [1,2,4,8]
    // dimension joins on prn <= np, candidates/cosine/ranking per (np,
    // query), exact reference = full-corpus top-3, hits = set
    // intersection, recall = one division of exact integers
    "q201_ann_recall_sweep" ->
      s"""WITH cen AS (
        |  SELECT cell, centroid
        |  FROM read_parquet('{GRAFT_OUT}_support/q45_support_centroids/*.parquet')),
        |mem AS (
        |  SELECT cell, vec_id
        |  FROM read_parquet('{GRAFT_OUT}_support/q45_support_cells/*.parquet')),
        |qn AS (
        |  SELECT vec_id, embedding, ${duckNorm("embedding")} AS nrm
        |  FROM embeddings WHERE vec_id < $SweepBatchMaxId),
        |qu AS (
        |  SELECT vec_id,
        |    [CASE WHEN nrm = 0 THEN x
        |          ELSE CAST(CAST(x AS DOUBLE) / nrm AS REAL) END
        |     for x in embedding] AS uv
        |  FROM qn),
        |pr AS (
        |  SELECT qu.vec_id, cen.cell,
        |    row_number() OVER (PARTITION BY qu.vec_id ORDER BY
        |      list_sum([(CAST(uv[i] AS DOUBLE) - centroid[i]) *
        |                (CAST(uv[i] AS DOUBLE) - centroid[i])
        |                for i in range(1, len(centroid) + 1)]), cen.cell) AS prn
        |  FROM qu CROSS JOIN cen),
        |nps AS (SELECT unnest([${SweepNProbes.mkString(", ")}]) AS np),
        |cand AS (
        |  SELECT DISTINCT nps.np, p.vec_id, m.vec_id AS cand_id
        |  FROM pr p
        |  JOIN nps ON p.prn <= nps.np
        |  JOIN mem m ON p.cell = m.cell AND m.vec_id <> p.vec_id),
        |scored AS (
        |  SELECT c.np, c.vec_id, c.cand_id,
        |    ${duckDot("a.embedding", "b.embedding")} /
        |      (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) AS cos_raw
        |  FROM cand c
        |  JOIN embeddings a ON c.vec_id = a.vec_id
        |  JOIN embeddings b ON c.cand_id = b.vec_id),
        |ann3 AS (
        |  SELECT np, vec_id, cand_id FROM (
        |    SELECT np, vec_id, cand_id,
        |      row_number() OVER (PARTITION BY np, vec_id
        |        ORDER BY cos_raw DESC, cand_id) AS rn
        |    FROM scored WHERE NOT isnan(cos_raw))
        |  WHERE rn <= 3),
        |${exactTop3Cte(SweepBatchMaxId)},
        |nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qn)
        |SELECT CAST(np AS BIGINT) AS nprobe, nq.n AS n_queries,
        |  CAST(count(ex.vec_id) AS BIGINT) AS n_hits,
        |  round(CAST(count(ex.vec_id) AS DOUBLE) / (3.0 * nq.n), 4) AS recall3
        |FROM ann3
        |LEFT JOIN ex ON ann3.vec_id = ex.vec_id AND ann3.cand_id = ex.cand_id
        |CROSS JOIN nq
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q99_ann_serve" -> (
      annRankedCtes(s"WHERE vec_id < $ServeBatchMaxId", ServeNProbe) +
      """
        |SELECT vec_id, CAST(rn AS INTEGER) AS rn, cand_id AS nn_id,
        |  round(cos_raw, 4) AS cos
        |FROM ranked WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin),
    // all three tiers' serves recomputed end-to-end in ONE statement
    // (prefixed CTE chains: f_=float, s_=SQ8, g_=PQ — the q45/q100/q112
    // oracle chains verbatim at the sweep batch and SqNProbe), the exact
    // reference recomputed, recall = set-intersection counts per tier
    "q207_quant_recall" ->
      (s"WITH $cenCte,\n" +
        annChainCtes("f_", s"WHERE vec_id < $SweepBatchMaxId", SqNProbe) + ",\n" +
        sqChainCtes("s_", s"WHERE vec_id < $SweepBatchMaxId", SqNProbe, SqShortlist) + ",\n" +
        pqChainCtes("g_", s"WHERE vec_id < $SweepBatchMaxId", SqNProbe, SqShortlist) + ",\n" +
        exactTop3Cte(SweepBatchMaxId) + ",\n" +
        s"""u AS (
           |  SELECT 'float' AS tier, vec_id, cand_id FROM f_ranked WHERE rn <= 3
           |  UNION ALL
           |  SELECT 'sq8' AS tier, vec_id, cand_id FROM s_ranked WHERE rn <= 3
           |  UNION ALL
           |  SELECT 'pq' AS tier, vec_id, cand_id FROM g_ranked WHERE rn <= 3),
           |nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f_qn)
           |SELECT u.tier, nq.n AS n_queries,
           |  CAST(count(ex.vec_id) AS BIGINT) AS n_hits,
           |  round(CAST(count(ex.vec_id) AS DOUBLE) / (3.0 * nq.n), 4) AS recall3
           |FROM u
           |LEFT JOIN ex ON u.vec_id = ex.vec_id AND u.cand_id = ex.cand_id
           |CROSS JOIN nq
           |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    // approximate scores computed ONCE, the shortlist cut swept as a
    // dimension join (srn <= sl — the q201 prn trick), exact rerank
    // cosines computed once over the widest cut; same tail for both
    // quantized tiers (q208 = SQ8 ascore chain, q210 = PQ ADC chain)
    "q213_nlist_sweep" -> nlistSweepSql,
    "q217_replica_sweep" -> replicaSweepSql,
    "q228_fit_sample_sweep" -> fitSweepSql,
    "q208_shortlist_sweep" -> shortlistSweepSql(
      sqAscoreCtes("", s"WHERE vec_id < $SweepBatchMaxId", SqNProbe)),
    "q210_pq_shortlist_sweep" -> shortlistSweepSql(
      pqAscoreCtes("", s"WHERE vec_id < $SweepBatchMaxId", SqNProbe)),
    // truncated-cosine brute force per dim (the k dimension rides a
    // CROSS JOIN into the comprehension bounds), full-dim exact reference
    "q209_dim_ablation" ->
      s"""WITH dims AS (SELECT unnest([${SweepDims.mkString(", ")}]) AS k),
         |q AS (SELECT vec_id, embedding FROM embeddings
         |      WHERE vec_id < $SweepBatchMaxId),
         |sc AS (
         |  SELECT d.k, q.vec_id, b.vec_id AS cand_id,
         |    list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
         |              for i in range(1, d.k + 1)]) /
         |      (sqrt(list_sum([CAST(q.embedding[i] AS DOUBLE) *
         |                      CAST(q.embedding[i] AS DOUBLE)
         |                      for i in range(1, d.k + 1)])) *
         |       sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) *
         |                      CAST(b.embedding[i] AS DOUBLE)
         |                      for i in range(1, d.k + 1)]))) AS cos_raw
         |  FROM q JOIN embeddings b ON b.vec_id <> q.vec_id
         |  CROSS JOIN dims d),
         |rk AS (
         |  SELECT k, vec_id, cand_id,
         |    row_number() OVER (PARTITION BY k, vec_id
         |      ORDER BY cos_raw DESC, cand_id) AS rn
         |  FROM sc WHERE NOT isnan(cos_raw)),
         |${exactTop3Cte(SweepBatchMaxId)},
         |u AS (SELECT k, vec_id, cand_id FROM rk WHERE rn <= 3),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q)
         |SELECT CAST(u.k AS BIGINT) AS dim, nq.n AS n_queries,
         |  CAST(count(ex.vec_id) AS BIGINT) AS n_hits,
         |  round(CAST(count(ex.vec_id) AS DOUBLE) / (3.0 * nq.n), 4) AS recall3
         |FROM u
         |LEFT JOIN ex ON u.vec_id = ex.vec_id AND u.cand_id = ex.cand_id
         |CROSS JOIN nq
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // rotation recomputed from the exported matrix (ascending-i double
    // fold per component, REAL cast — the engine kernel's arithmetic),
    // then the q209 truncated-cosine sweep in the ROTATED space; the
    // exact reference stays in the original space
    "q211_pca_truncation" ->
      s"""WITH vmat AS (
         |  SELECT j, vcol
         |  FROM read_parquet('{GRAFT_OUT}_support/q211_support_pca/*.parquet')),
         |rot AS (
         |  SELECT e.vec_id,
         |    list(CAST(list_sum([CAST(e.embedding[i] AS DOUBLE) * v.vcol[i]
         |                        for i in range(1, len(v.vcol) + 1)]) AS REAL)
         |         ORDER BY v.j) AS remb
         |  FROM embeddings e CROSS JOIN vmat v
         |  WHERE e.embedding IS NOT NULL
         |  GROUP BY e.vec_id),
         |dims AS (SELECT unnest([${SweepDims.mkString(", ")}]) AS k),
         |q AS (SELECT vec_id, remb FROM rot WHERE vec_id < $SweepBatchMaxId),
         |sc AS (
         |  SELECT d.k, q.vec_id, b.vec_id AS cand_id,
         |    list_sum([CAST(q.remb[i] AS DOUBLE) * CAST(b.remb[i] AS DOUBLE)
         |              for i in range(1, d.k + 1)]) /
         |      (sqrt(list_sum([CAST(q.remb[i] AS DOUBLE) *
         |                      CAST(q.remb[i] AS DOUBLE)
         |                      for i in range(1, d.k + 1)])) *
         |       sqrt(list_sum([CAST(b.remb[i] AS DOUBLE) *
         |                      CAST(b.remb[i] AS DOUBLE)
         |                      for i in range(1, d.k + 1)]))) AS cos_raw
         |  FROM q JOIN rot b ON b.vec_id <> q.vec_id
         |  CROSS JOIN dims d),
         |rk AS (
         |  SELECT k, vec_id, cand_id,
         |    row_number() OVER (PARTITION BY k, vec_id
         |      ORDER BY cos_raw DESC, cand_id) AS rn
         |  FROM sc WHERE NOT isnan(cos_raw)),
         |${exactTop3Cte(SweepBatchMaxId)},
         |u AS (SELECT k, vec_id, cand_id FROM rk WHERE rn <= 3),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q)
         |SELECT CAST(u.k AS BIGINT) AS dim, nq.n AS n_queries,
         |  CAST(count(ex.vec_id) AS BIGINT) AS n_hits,
         |  round(CAST(count(ex.vec_id) AS DOUBLE) / (3.0 * nq.n), 4) AS recall3
         |FROM u
         |LEFT JOIN ex ON u.vec_id = ex.vec_id AND u.cand_id = ex.cand_id
         |CROSS JOIN nq
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // The SQ8 two-stage serve recomputed end-to-end: unit-space routing
    // (q45's exported centroids — same codebook), affine decode of the
    // exported codes (q70's scheme: vmin + code·(vmax−vmin)/255, double
    // math, index order), approximate-cosine shortlist cut, exact-cosine
    // rerank of the shortlist only. Every stage mirrors the engine
    // kernel's arithmetic and (score, id) tie-breaks.
    "q100_ann_sq" ->
      (s"WITH $cenCte,\n" +
        sqChainCtes("", s"WHERE vec_id < $ServeBatchMaxId", SqNProbe, SqShortlist) +
        "\n" + top3Select("")),
    // The residual-PQ two-stage serve recomputed end-to-end: q45 routing,
    // code → codebook-centroid expansion per subspace, and the ADC score
    // assembled with the ENGINE'S exact association — per-subspace
    // partials aggregated through an ORDER BY sub list (list_sum walks it
    // left-to-right, the kernel's m-ascending sequence), then added to
    // the per-(query, PRIMARY-cell) base terms dot(q, mean_p) and
    // ‖mean_p‖². Every replica row carries the same primary-encoded
    // codes, so one row per member (the rn=1-by-cell pick) scores it,
    // and the candidate set is the DISTINCT probed reach.
    "q112_ann_pq" ->
      (s"WITH $cenCte,\n" +
        pqChainCtes("", s"WHERE vec_id < $ServeBatchMaxId", SqNProbe, SqShortlist) +
        "\n" + top3Select("")),
    "q81_sql_surface" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${duckDot("a.embedding", "b.embedding")} /
         |    (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}), 4) AS cos
         |FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
         |ORDER BY vec_a""".stripMargin,
    // Transitive closure over the exhaustive cosine>=0.4 pair set — the
    // q56 certification pattern applied to the embedding dedup tier.
    "q74_embed_dedup" ->
      s"""WITH RECURSIVE
         |p AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE ${duckDot("a.embedding", "b.embedding")} /
         |    (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) >= 0.4),
         |e AS (SELECT vec_a AS src, vec_b AS dst FROM p
         |      UNION ALL SELECT vec_b, vec_a FROM p),
         |reach(vec_id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT reach.vec_id, e.dst FROM reach JOIN e ON reach.r = e.src)
         |SELECT vec_id, min(r) AS keep_id FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,
    "q70_quantize" ->
      """WITH t AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS vmin,
        |    CAST(list_max(embedding) AS DOUBLE) AS vmax
        |  FROM embeddings)
        |SELECT vec_id, vmin, vmax,
        |  CAST(CASE WHEN vmax > vmin THEN
        |    list_sum([CAST(floor((CAST(x AS DOUBLE) - vmin) * (255.0 / (vmax - vmin))) AS BIGINT)
        |              for x in embedding])
        |  ELSE 0 END AS BIGINT) AS code_sum
        |FROM t ORDER BY vec_id""".stripMargin,
    "q41_vector_norms" ->
      s"""SELECT vec_id, label, round(${duckNorm("embedding")}, 4) AS norm
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    // the same unit-normalize → per-(label, pos) mean → ‖mean‖² algebra
    // over the FULL vector length (struct-unnest positional explode —
    // `range` can't take a lateral length arg); continuous-valued float
    // fold (the standing boundary discipline)
    "q182_embedding_diversity" ->
      s"""WITH u AS (
         |  SELECT label,
         |    unnest([{'pos': i - 1,
         |             'u': CAST(embedding[i] AS DOUBLE) / ${duckNorm("embedding")}}
         |            for i in range(1, len(embedding) + 1)], recursive := true)
         |  FROM embeddings),
         |c AS (SELECT label, pos, avg(u) AS c, count(*) AS n
         |      FROM u GROUP BY 1, 2)
         |SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
         |  round(1.0 - sum(c * c), 4) AS diversity
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_centroids" ->
      """SELECT label, pos, round(avg(CAST(embedding[pos + 1] AS DOUBLE)), 4) AS avg_v,
        |  count(*) AS n
        |FROM embeddings, range(0, 8) t(pos)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q43_cosine_pairs" ->
      s"""SELECT vec_a, vec_b, round(cos, 4) AS cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${duckDot("a.embedding", "b.embedding")} /
         |      (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.4 ORDER BY vec_a, vec_b""".stripMargin,
    "q44_knn_brute" ->
      s"""SELECT q_id, rn, c_id, round(cos_raw, 4) AS cos FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    ${duckDot("q.embedding", "c.embedding")} /
         |      (${duckNorm("q.embedding")} * ${duckNorm("c.embedding")}) AS cos_raw,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${duckDot("q.embedding", "c.embedding")} /
         |      (${duckNorm("q.embedding")} * ${duckNorm("c.embedding")}) DESC, c.vec_id) AS rn
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10)
         |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
  )
}
