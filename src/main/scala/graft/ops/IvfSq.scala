package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQ8 serving tier for the IVF index (M8 at 100 TB bandwidth): the member
  * scan is the cost of an ANN search once cells are pruned, and scanning
  * float32 embeddings is 4× the bytes the same ranking information needs.
  * This tier derives a scalar-quantized copy of a saved [[IvfIndex]] —
  * per-vector affine int8 codes (the q70-certified quantization: min/max
  * affine, `floor`, cross-engine exact) stored as BINARY, one byte per
  * dimension — and serves top-k in two stages:
  *
  *   1. QUANTIZED COARSE SCAN over the probed cells: decode-on-the-fly
  *      approximate cosine (double math over the affine-decoded values —
  *      deterministic, so the oracle recomputes it exactly), bounded
  *      per-cell best, one-exchange merge → a per-query SHORTLIST of
  *      `shortlist` candidates ranked by approximate score.
  *   2. EXACT RERANK of the shortlist only: the collected candidate-id set
  *      (driver-bounded: batch × shortlist) filters the RAW index cells —
  *      partition-pruned to the probed cells AND row-group-pruned by the
  *      vec_id In-filter — so full-precision vectors are read for the
  *      shortlist, never the corpus. Final ranking is exact cosine.
  *
  * At 100 TB the coarse scan reads ~1/4 the bytes of the float index
  * (measured 3.34× on disk at 16×, NOTES.md Round 9 item 9) and the
  * rerank reads a bounded candidate set; recall is governed by the
  * shortlist factor (a shortlist ≥ k·4 recovered exact agreement with
  * the float tier on the uniform test embeddings — IvfSqSpec). This is a
  * SERVING-shape API: the query batch and batch×shortlist are assumed
  * driver-bounded (the q99 small-batch contract).
  *
  * Maintenance: the SQ copy is a DERIVED artifact of a raw-index
  * snapshot — [[IvfIndex.append]]/compaction on the raw index leave it
  * stale (appended vectors are served by the float tier but invisible to
  * the SQ coarse scan until re-derivation). Re-run [[quantizeTo]] on the
  * compaction cadence: it is one narrow pass over the index, the same
  * cost class as the compaction itself.
  */
object IvfSq {

  /** Derive the SQ8 tier from a saved [[IvfIndex]] directory: copies
    * `centroids`/`meta` (same routing — probe schedules transfer) and
    * writes `sqcells/` partitioned by cell with (vec_id, codes: binary,
    * vmin, vmax). One narrow pass over the index; one file per cell
    * (hash-partitioned like [[IvfIndex.compactTo]]). */
  def quantizeTo(spark: SparkSession, indexDir: String, destDir: String): Unit = {
    import spark.implicits._
    val src = IvfIndex.resolve(spark, indexDir)
    spark.read.parquet(s"$src/centroids").coalesce(1)
      .write.mode("overwrite").parquet(s"$destDir/centroids")
    // only a genuinely ABSENT meta (pre-r7 layout) may be skipped; any
    // other failure propagates (IvfIndex.copyMetaIfPresent)
    IvfIndex.copyMetaIfPresent(spark, src, destDir)
    spark.read.parquet(s"$src/cells")
      .select(col("cell").cast("long").as("cell"), col("vec_id"), col("embedding"))
      // reconcile at-least-once replay residue exactly like compactTo: a
      // duplicate (cell, vec_id) row would occupy two shortlist slots in
      // the coarse scan (silent recall loss) and diverge from the q100
      // oracle's DISTINCT candidates
      .dropDuplicates("cell", "vec_id")
      .as[(Long, Long, Array[Float])]
      .map { case (cell, id, v) =>
        val (codes, vmin, vmax) = quantize(v)
        (cell, id, codes, vmin, vmax)
      }
      .toDF("cell", "vec_id", "codes", "vmin", "vmax")
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$destDir/sqcells")
  }

  /** q70's affine int8 quantization (same floor semantics, so the scheme
    * is already oracle-certified component-wise): code_i = floor((v_i -
    * vmin) * 255 / (vmax - vmin)), all-zero codes for constant vectors. */
  private[graft] def quantize(v: Array[Float]): (Array[Byte], Double, Double) = {
    var mn = v(0); var mx = v(0); var i = 1
    while (i < v.length) {
      val x = v(i)
      if (x < mn) mn = x
      if (x > mx) mx = x
      i += 1
    }
    val vmin = mn.toDouble; val vmax = mx.toDouble
    val codes = new Array[Byte](v.length)
    if (vmax > vmin) {
      val scale = 255.0 / (vmax - vmin)
      i = 0
      while (i < v.length) {
        codes(i) = math.floor((v(i).toDouble - vmin) * scale).toByte
        i += 1
      }
    }
    (codes, vmin, vmax)
  }

  /** Affine decode of one component — THE contract shared with the oracle
    * SQL (vmin + code * ((vmax - vmin) / 255)): double math, same
    * operation order, so approximate scores are bit-comparable. */
  @inline private[ops] def decode(code: Byte, vmin: Double, scale: Double): Double =
    vmin + (code & 0xff).toDouble * scale

  /** Two-stage top-k: quantized coarse scan → exact rerank. `sqDir` is a
    * [[quantizeTo]] output; `rawDir` the float [[IvfIndex]] it derives
    * from (rerank source). Output (vec_id, rn, nn_id, cos) like
    * [[IvfIndex.searchTopK]], ranked by EXACT cosine. */
  /** `maxCandidates` SELF-ENFORCES the serving contract (batch ×
    * `shortlist` candidate ids collect to the driver): an oversized query
    * batch fails fast with the budget in the message instead of silently
    * ballooning the driver — the bound is an invariant, not a caller
    * obligation buried in a comment. */
  /** `excludeSelf` follows the [[IvfIndex.searchThreshold]] id-space
    * contract: skip same-id members only when queries and members share
    * one id space; pass false for a foreign-id query batch, where a
    * numeric collision is an unrelated vector. */
  // nProbe priced by q201 (recall curve over probes); shortlist priced by
  // q208 (SQ8 ranking fidelity is flat from 12 up — the rerank knee)
  def searchTopK(spark: SparkSession, sqDir: String, rawDir: String,
      queries: DataFrame, k: Int = 3, nProbe: Int = 8,
      shortlist: Int = 12, maxCandidates: Int = 1 << 20,
      excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    // resolve BOTH tiers to their committed snapshots up front: the whole
    // two-stage serve then reads immutable version dirs (see
    // IvfIndex.resolve; cells never move between the raw index and its SQ
    // derivation — same codebook — so tier skew during a compaction window
    // only delays visibility of the newest appends, never misranks)
    val sqD = IvfIndex.resolve(spark, sqDir)
    val rawD = IvfIndex.resolve(spark, rawDir)
    val (short, probes, probedCells) =
      coarseShortlist(spark, sqD, queries, nProbe, shortlist, excludeSelf)
    if (probedCells.isEmpty)
      return Seq.empty[(Long, Int, Long, Double)].toDF("vec_id", "rn", "nn_id", "cos")
    // ---- stage 2: exact rerank of the shortlist only (shared with the
    // PQ tier — the rerank contract is identical across coarse tiers)
    exactRerank(spark, rawD, probedCells, short, probes, k, maxCandidates)
  }

  /** One coarse serve, EVERY shortlist cut: the sweep-shaped variant of
    * [[searchTopK]] for knob tables like q208 that price the shortlist
    * knob at several values. Because an SQ member's approximate score is
    * a pure function of the member (codes/vmin/vmax are per-vector, so a
    * replica scores identically in every cell — the documented max-
    * collapse invariant), the approx-rank-ordered shortlist at
    * `shortlists.max` PREFIX-CONTAINS the shortlist the serve would build
    * at any smaller value: cutting the one scored set at rank ≤ s and
    * reranking is EXACTLY the two-stage serve at shortlist = s. One
    * coarse scan + one exact rerank replace |shortlists| full serves.
    * Output (shortlist, vec_id, rn, nn_id, cos) — per sweep value, the
    * [[searchTopK]] rows verbatim. */
  def searchTopKSweep(spark: SparkSession, sqDir: String, rawDir: String,
      queries: DataFrame, shortlists: Seq[Int], k: Int = 3, nProbe: Int = 8,
      maxCandidates: Int = 1 << 20, excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    require(shortlists.nonEmpty, "searchTopKSweep needs at least one shortlist value")
    val sqD = IvfIndex.resolve(spark, sqDir)
    val rawD = IvfIndex.resolve(spark, rawDir)
    val (short, probes, probedCells) =
      coarseShortlist(spark, sqD, queries, nProbe, shortlists.max, excludeSelf)
    if (probedCells.isEmpty)
      return Seq.empty[(Long, Long, Int, Long, Double)]
        .toDF("shortlist", "vec_id", "rn", "nn_id", "cos")
    sweepCuts(
      exactRerankScored(spark, rawD, probedCells, short, probes, maxCandidates),
      shortlists, k)
  }

  /** Stage 1 (coarse scan + one-exchange merge) of the SQ serve, shared
    * by [[searchTopK]] and [[searchTopKSweep]]. Returns the per-query
    * approx-ranked shortlist (qid, cid, apx_rank — rank 1 = best by
    * (score desc, id asc)), the checkpointed probes, and the probed-cell
    * set (empty ⇒ the caller returns its empty frame). */
  private def coarseShortlist(spark: SparkSession, sqD: String,
      queries: DataFrame, nProbe: Int, shortlist: Int,
      excludeSelf: Boolean): (org.apache.spark.sql.Dataset[(Long, Long, Int)],
        org.apache.spark.sql.Dataset[(Long, Long, Array[Float])], Seq[Long]) = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$sqD/centroids")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
    // the shared probe pass (IvfIndex.routeProbes): one scan of the query
    // embeddings, checkpointed — the probed-cell collect, the coarse
    // union, AND the rerank's query vectors all read the blocks
    val (probes, probedCells) =
      IvfIndex.routeProbes(spark, centroids, queries, nProbe)
    if (probedCells.isEmpty)
      return (spark.emptyDataset[(Long, Long, Int)], probes, probedCells)

    // ---- stage 1: quantized coarse scan (partition-pruned, fused per cell)
    // unified row: (cell, id, codes|null, vmin, vmax, rawVec|null) — probes
    // carry the raw vector, members the codes
    val sqMembers = spark.read.parquet(s"$sqD/sqcells")
      .filter(col("cell").isInCollection(probedCells))
      .select(col("cell").cast("long").as("cell"), col("vec_id"),
        col("codes"), col("vmin"), col("vmax"))
      .as[(Long, Long, Array[Byte], Double, Double)]
      .map { case (cell, id, codes, vmin, vmax) =>
        (cell, id, codes, vmin, vmax, null: Array[Float]) }
    val probeRows = probes.map { case (cell, id, v) =>
      (cell, id, null: Array[Byte], 0.0, 0.0, v) }
    val coarse = sqMembers.union(probeRows)
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val mem = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte], Double, Double)]
        val qry = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        it.foreach { case (_, id, codes, vmin, vmax, raw) =>
          if (raw != null) {
            var s2 = 0.0; var i = 0
            while (i < raw.length) { s2 += raw(i).toDouble * raw(i); i += 1 }
            qry += ((id, raw, math.sqrt(s2)))
          } else mem += ((id, codes, vmin, vmax))
        }
        qry.iterator.flatMap { case (qid, qv, qn) =>
          // bounded shortlist via the SHARED insertion helper
          // (IvfIndex.KBest): one copy of the (score desc, id asc)
          // tie-break + NaN contract across the float and SQ kernels
          val best = new IvfIndex.KBest(shortlist)
          var j = 0
          while (j < mem.length) {
            val (cid, codes, vmin, vmax) = mem(j)
            if (!(excludeSelf && cid == qid)) {
              val scale = (vmax - vmin) / 255.0
              var dot = 0.0; var m2 = 0.0; var x = 0
              while (x < qv.length) {
                val d = decode(codes(x), vmin, scale)
                dot += qv(x).toDouble * d; m2 += d * d; x += 1
              }
              best.offer(cid, dot / (qn * math.sqrt(m2)))
            }
            j += 1
          }
          best.result.map { case (cid, sc) => (qid, cid, sc) }
        }
      }
    // merge per query in ONE exchange (replica collapse by max, top-s,
    // rank recorded — [[searchTopKSweep]] cuts on it, searchTopK ignores it)
    val short = coarse
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val best = scala.collection.mutable.HashMap.empty[Long, Double]
        it.foreach { case (_, cid, sc) =>
          if (!best.get(cid).exists(_ >= sc)) best(cid) = sc
        }
        best.toSeq.sortBy { case (cid, sc) => (-sc, cid) }.take(shortlist)
          .iterator.zipWithIndex.map { case ((cid, _), i) => (qid, cid, i + 1) }
      }
      .localCheckpoint(true) // feeds both the collected id set and the join
    (short, probes, probedCells)
  }

  /** Stage 2 of any two-stage serve (SQ8/PQ): exact rerank of a bounded
    * per-query shortlist. Candidate ids are driver-bounded (batch ×
    * shortlist — `maxCandidates` self-enforces it); the raw read
    * partition-prunes to the probed cells and row-group-prunes on the
    * pushed vec_id In-filter — full-precision bytes for the shortlist,
    * never the corpus. Final ranking is exact cosine with the
    * (cos desc, id asc) contract. */
  private[ops] def exactRerank(spark: SparkSession, rawD: String,
      probedCells: Seq[Long],
      short: org.apache.spark.sql.Dataset[(Long, Long, Int)],
      probes: org.apache.spark.sql.Dataset[(Long, Long, Array[Float])],
      k: Int, maxCandidates: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos_raw").desc, col("nn_id"))
    exactRerankScored(spark, rawD, probedCells, short, probes, maxCandidates)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("rn"), col("nn_id"),
        round(col("cos_raw"), 4).as("cos"))
  }

  /** The rerank JOIN alone — every shortlist candidate exact-scored, no
    * top-k cut: (vec_id, apx_rank, nn_id, cos_raw), NaN-filtered before
    * any ranking (the q201 contract). [[exactRerank]] cuts it at k;
    * [[sweepCuts]] cuts it at every sweep value. */
  private[ops] def exactRerankScored(spark: SparkSession, rawD: String,
      probedCells: Seq[Long],
      short: org.apache.spark.sql.Dataset[(Long, Long, Int)],
      probes: org.apache.spark.sql.Dataset[(Long, Long, Array[Float])],
      maxCandidates: Int): DataFrame = {
    import spark.implicits._
    val candIds = short.map(_._2).distinct().collect().sorted
    require(candIds.length <= maxCandidates,
      s"serve shortlist exceeded the driver budget: ${candIds.length} distinct " +
        s"candidates > maxCandidates=$maxCandidates — the two-stage serve is a " +
        s"SMALL-BATCH API (collected ids are bounded by batch × shortlist); shrink " +
        s"the query batch or raise maxCandidates deliberately")
    val rawCands = spark.read.parquet(s"$rawD/cells")
      .filter(col("cell").isInCollection(probedCells) &&
        col("vec_id").isInCollection(candIds))
      .select(col("vec_id").as("nn_id"), col("embedding").as("c_emb"))
      .dropDuplicates("nn_id") // multi-assignment replicas
    // query vectors from the checkpointed probes — the caller's queries
    // DataFrame is never scanned a second time. Per-PARTITION dedup is
    // globally correct and costs no exchange: all nProbe rows of one
    // query come from a single flatMap input row (routeProbes), so a
    // query id never spans partitions; a dropDuplicates would add a hash
    // exchange and break the 2-exchange serving budget (PlanAuditSpec).
    val queryVecs = probes.mapPartitions { it =>
      val seen = scala.collection.mutable.HashSet.empty[Long]
      it.collect { case (_, id, v) if seen.add(id) => (id, v) }
    }.toDF("vec_id", "q_emb")
    short.toDF("vec_id", "nn_id", "apx_rank")
      .join(broadcast(rawCands), Seq("nn_id"))
      .join(broadcast(queryVecs), Seq("vec_id"))
      .withColumn("cos_raw", graft.functions.Vectors.cosine(col("q_emb"), col("c_emb")))
      .filter(!isnan(col("cos_raw")))
      .select(col("vec_id"), col("apx_rank"), col("nn_id"), col("cos_raw"))
  }

  /** Every shortlist cut of ONE scored set: for each sweep value s, the
    * rows [[searchTopK]] at shortlist = s would return — filter the
    * approx-ranked candidates to rank ≤ s, rerank by exact cosine, keep
    * top-k. Row volume is batch × max(shortlists) × |shortlists| (sweep-
    * table-sized), one window over it. Shared by the SQ and PQ tiers. */
  private[ops] def sweepCuts(scored: DataFrame, shortlists: Seq[Int],
      k: Int): DataFrame = {
    // a repeated cut would explode each candidate row twice, duplicating
    // rows inside the (shortlist, vec_id) window and corrupting the
    // row_number top-k — dedup the sweep values up front (r17 ADVICE)
    val cuts = shortlists.map(_.toLong).distinct.sorted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shortlist"), col("vec_id"))
      .orderBy(col("cos_raw").desc, col("nn_id"))
    scored
      .withColumn("shortlist", explode(typedLit(cuts)))
      .filter(col("apx_rank") <= col("shortlist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("shortlist"), col("vec_id"), col("rn"), col("nn_id"),
        round(col("cos_raw"), 4).as("cos"))
  }
}
