package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantized serving tier for the IVF index (M8's memory-bandwidth
  * end-game): where SQ8 ([[IvfSq]]) spends one byte per DIMENSION, PQ
  * spends one byte per SUBSPACE — the 64-dim embedding splits into
  * [[NumSub]] contiguous 8-dim subvectors, each encoded as the id of its
  * nearest subspace centroid from a [[SubK]]-entry codebook (Jégou et al.
  * 2011). At 8 subspaces the code is 8 bytes against 256 float bytes —
  * 32× less scan bandwidth than the raw index, 8× less than SQ8 — and
  * the coarse scan never touches a float vector: approximate cosine is
  * assembled from per-query lookup tables (ADC — asymmetric distance
  * computation), O(NumSub) adds per member.
  *
  * RESIDUAL encoding (the IVF-PQ discipline): what gets quantized is not
  * the vector but its residual against the raw-member MEAN of its
  * PRIMARY (nearest) cell, x ≈ mean(primary(x)) + r̂. Within a tight
  * cluster the members differ only by their residuals — encoding raw
  * vectors would quantize that difference away (all members share codes;
  * measured recall@3 0.40 at a 4k shortlist on the clustered fixture,
  * vs 0.57 residual), while residual codes spend their entire resolution
  * on exactly that difference. Each vector is encoded ONCE, against its
  * primary cell only; a replica row placed in another cell carries the
  * SAME codes plus the primary-cell id (an early cut re-encoded replicas
  * against their second-nearest cell's mean — the large, badly-quantized
  * residual made the replica estimate noise, and max-collapse kept the
  * noise: measured recall@3 dropped to 0.19). Scores are therefore a
  * pure function of the member, identical in every cell that holds it,
  * which also keeps the per-cell bounded k-best cut lossless for the
  * global shortlist. The ADC score decomposes as: dot(q, x̂) =
  * dot(q, mean_p) + Σₘ dot(qₘ, cbₘ[code]) and ‖x̂‖² = ‖mean_p‖² +
  * Σₘ (2·dot(mean_pₘ, cbₘ[code]) + ‖cbₘ[code]‖²), with the per-primary
  * terms memoized per (query, primary) / per primary inside the cell
  * group and the per-member work still O(NumSub) table adds.
  *
  * Serving is the same certified two-stage shape as q100: ADC coarse scan
  * over the probed cells → bounded per-query shortlist → EXACT rerank of
  * the shortlist from the raw index ([[IvfSq.exactRerank]] — shared, so
  * the rerank contract is one piece of code across tiers). Recall is
  * governed by the shortlist factor; the ADC score only ORDERS the cut.
  *
  * Determinism contract with the oracle: cell means, codebooks, and codes
  * are exported; ADC accumulates the per-subspace terms in SUBSPACE ORDER
  * into a partial sum that is then added to the per-cell base term — the
  * oracle reproduces the identical double sequence via ordered-list
  * aggregation plus the same base-term association. A replica member
  * reached through several probed cells has DIFFERENT codes per cell
  * (residuals differ), so replica collapse happens on the SCORE (max),
  * mirrored by the oracle's max() over per-cell scores.
  *
  * Maintenance: like the SQ tier, the PQ copy is a DERIVED artifact of a
  * raw-index snapshot — re-derive on the compaction cadence. The codebook
  * fit is sample-bounded ([[IvfIndex.build]]'s discipline) and the
  * encoding pass is one narrow scan of the index.
  */
object IvfPq {

  /** Subspaces (bytes per code). 64-dim embeddings → 8-dim subvectors. */
  private[graft] val NumSub = 8

  /** Centroids per subspace codebook (the fit may return fewer when a
    * cluster lands empty — every consumer sizes off the exported table,
    * never this constant). 16 keeps the fit honest on the test corpora
    * (hundreds of vectors); production would raise it to 256 (one full
    * byte) with the same code path. */
  private[graft] val SubK = 16

  /** Derive the PQ tier from a saved [[IvfIndex]]: copies
    * `centroids`/`meta` (routing transfers unchanged), computes the
    * per-cell raw-member means, fits [[NumSub]] per-subspace codebooks on
    * a bounded sample of the RESIDUALS, and writes `cellmeans/`
    * (cell, mean), `codebooks/` (sub, code, centroid), and `pqcells/`
    * (vec_id, codes BINARY) partitioned by cell. Serving sizes off the
    * exported `codebooks/` table, so any [[SubK]] ≤ 256 runs the same
    * search path; the SubK curve at 16× is in NOTES.md, "PQ code width
    * (SubK) curve at 16×". */
  def trainTo(spark: SparkSession, indexDir: String, destDir: String,
      seed: Long = 7L, maxFitRows: Long = 50000L): Unit = {
    require(SubK >= 2 && SubK <= 256, s"SubK=$SubK out of the one-byte code range")
    import spark.implicits._
    val src = IvfIndex.resolve(spark, indexDir)
    spark.read.parquet(s"$src/centroids").coalesce(1)
      .write.mode("overwrite").parquet(s"$destDir/centroids")
    IvfIndex.copyMetaIfPresent(spark, src, destDir)
    // reconcile at-least-once replay residue exactly like quantizeTo
    // (no cache of its own: withP below is the only consumer)
    val vecs = spark.read.parquet(s"$src/cells")
      .select(col("cell").cast("long").as("cell"), col("vec_id"), col("embedding"))
      .dropDuplicates("cell", "vec_id")
      .as[(Long, Long, Array[Float])]
    // PRIMARY assignment: every row (replica or not) encodes against the
    // vector's nearest cell — the same coarse routing the index uses
    val coarseCen = spark.read.parquet(s"$destDir/centroids")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
    val bcCen = spark.sparkContext.broadcast(coarseCen)
    val withP = vecs.map { case (cell, id, v) =>
      (cell, id, IvfIndex.nearestCells(bcCen.value, IvfIndex.unit(v), 1)(0).toLong, v)
    }.cache()
    // residual anchor: the mean of each cell's PRIMARY members only.
    // Folding replica members in (an earlier cut) drags the mean toward
    // NEIGHBORING clusters and inflates every residual — measured
    // recall@3 0.32 vs 0.57 at a 4k shortlist on the clustered fixture.
    // Every vector's primary cell has it as a primary member, so the
    // anchor lookup by pcell always resolves.
    val means = withP.filter(r => r._1 == r._3)
      .groupByKey(_._3)
      .mapGroups { (cell, it) =>
        var n = 0L
        var acc: Array[Double] = null
        it.foreach { case (_, _, _, v) =>
          if (acc == null) acc = new Array[Double](v.length)
          var i = 0
          while (i < v.length) { acc(i) += v(i); i += 1 }
          n += 1
        }
        var i = 0
        while (i < acc.length) { acc(i) /= n; i += 1 }
        (cell, acc)
      }.cache()
    // driver-bounded: ≤ nCells × dim doubles, and nCells ∝ √N by the
    // build sizing — codebook-scale state, same budget class as the
    // centroid collect, fine at any plausible corpus size
    val meanMap = means.collect().toMap
    require(meanMap.nonEmpty,
      "cannot derive a PQ tier from an empty index: no cells with primary " +
        "members found under the source index (is the snapshot empty?)")
    val bcMean = spark.sparkContext.broadcast(meanMap)
    means.map { case (cell, m) => (cell, m.toSeq) }.toDF("cell", "mean")
      .coalesce(1).write.mode("overwrite").parquet(s"$destDir/cellmeans")
    val n = withP.count()
    val dim = meanMap.head._2.length
    require(dim % NumSub == 0, s"dim $dim not divisible by $NumSub subspaces")
    val subDim = dim / NumSub
    // materialize the residual cache BEFORE releasing withP — an eager
    // unpersist here recomputed the whole scan+dedup+routing pass under
    // the first KMeans fit (review finding: the heaviest pass of PQ
    // training silently doubled)
    val residuals = withP.map { case (cell, id, pcell, v) =>
      (cell, id, pcell, residual(v, bcMean.value(pcell)))
    }.cache()
    residuals.count()
    withP.unpersist()
    val sampled =
      if (n > maxFitRows) residuals.sample(withReplacement = false, maxFitRows.toDouble / n, seed)
      else residuals
    val fitRows = sampled.map(_._4).toDF("residual").cache()
    // NumSub independent seeded fits over the same cached sample — each a
    // SubK-means on one contiguous residual slice (5 random-init
    // iterations: codebooks partition the subspace, like the IVF coarse
    // codebook they don't need a converged objective). The fits run
    // CONCURRENTLY (guide §2.6 — r21): each is deterministic in
    // (sample, seed+m) alone, so overlapping them changes nothing but the
    // wall-clock; sequential fits on the sample-bounded table were almost
    // entirely per-fit scheduling tail (measured: the 8-fit loop was
    // ~80 % of the 54 s ivf-pq session build on a contended host).
    val codebooks: Array[Array[Array[Double]]] =
      graft.ops.SessionArtifacts.inParallel((0 until NumSub).map { m => () =>
        val sliceUdf = udf { (v: Array[Double]) =>
          java.util.Arrays.copyOfRange(v, m * subDim, (m + 1) * subDim)
        }
        val feats = fitRows.select(
          org.apache.spark.ml.functions.array_to_vector(sliceUdf(col("residual")))
            .as("features"))
        new org.apache.spark.ml.clustering.KMeans()
          .setK(SubK).setSeed(seed + m).setMaxIter(5).setInitMode("random")
          .fit(feats).clusterCenters.map(_.toArray)
      }).toArray
    fitRows.unpersist()
    codebooks.zipWithIndex.flatMap { case (cb, m) =>
      cb.zipWithIndex.map { case (c, code) => (m, code, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$destDir/codebooks")
    val bc = spark.sparkContext.broadcast(codebooks)
    residuals
      .map { case (cell, id, pcell, r) =>
        (cell, id, pcell, encode(bc.value, subDim, r)) }
      .toDF("cell", "vec_id", "pcell", "codes")
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$destDir/pqcells")
    residuals.unpersist()
    means.unpersist()
  }

  /** Residual of a raw vector against its cell mean, double math. */
  private[graft] def residual(v: Array[Float], mean: Array[Double]): Array[Double] = {
    val r = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { r(i) = v(i).toDouble - mean(i); i += 1 }
    r
  }

  /** Nearest-centroid code per subspace: argmin squared L2, strict `<` so
    * ties resolve to the LOWEST code — the oracle's (distance, code)
    * ordering reproduces it. */
  private[graft] def encode(codebooks: Array[Array[Array[Double]]],
      subDim: Int, r: Array[Double]): Array[Byte] = {
    val codes = new Array[Byte](codebooks.length)
    var m = 0
    while (m < codebooks.length) {
      val cb = codebooks(m)
      var bestC = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cen = cb(c)
        var d = 0.0; var i = 0
        while (i < subDim) {
          val diff = r(m * subDim + i) - cen(i)
          d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      codes(m) = bestC.toByte
      m += 1
    }
    codes
  }

  /** Two-stage top-k: ADC coarse scan → exact rerank ([[IvfSq.exactRerank]]).
    * `pqDir` is a [[trainTo]] output; `rawDir` the float [[IvfIndex]] it
    * derives from. Output (vec_id, rn, nn_id, cos) ranked by EXACT cosine,
    * like the SQ tier.
    *
    * `excludeSelf` skips members whose id equals the query id — correct
    * ONLY when queries and members share one id space (the q112 shape:
    * the serving batch is a corpus subset). A query batch from a
    * DIFFERENT id space makes numeric collisions unrelated vectors, and
    * excluding them silently drops real matches — pass
    * `excludeSelf = false` there (the [[IvfIndex.searchThreshold]]
    * contract). */
  // nProbe priced by q201; shortlist priced by q210 (PQ ranking fidelity
  // BINDS hard at the shortlist — the rerank is load-bearing on this tier)
  def searchTopK(spark: SparkSession, pqDir: String, rawDir: String,
      queries: DataFrame, k: Int = 3, nProbe: Int = 8,
      shortlist: Int = 12, maxCandidates: Int = 1 << 20,
      excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    val pqD = IvfIndex.resolve(spark, pqDir)
    val rawD = IvfIndex.resolve(spark, rawDir)
    val (short, probes, probedCells) =
      coarseShortlist(spark, pqD, queries, nProbe, shortlist, excludeSelf)
    if (probedCells.isEmpty)
      return Seq.empty[(Long, Int, Long, Double)].toDF("vec_id", "rn", "nn_id", "cos")
    // ---- stage 2: shared exact rerank
    IvfSq.exactRerank(spark, rawD, probedCells, short, probes, k, maxCandidates)
  }

  /** One ADC coarse serve, EVERY shortlist cut — [[IvfSq.searchTopKSweep]]
    * on the PQ tier, and valid for the same reason: a member's ADC score
    * is a pure function of its primary-cell codes (identical in every
    * replica cell — the documented max-collapse invariant), so the
    * approx-ranked shortlist at `shortlists.max` prefix-contains every
    * smaller serve's shortlist, and cutting one scored set reproduces
    * each serve exactly. Output (shortlist, vec_id, rn, nn_id, cos). */
  def searchTopKSweep(spark: SparkSession, pqDir: String, rawDir: String,
      queries: DataFrame, shortlists: Seq[Int], k: Int = 3, nProbe: Int = 8,
      maxCandidates: Int = 1 << 20, excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    require(shortlists.nonEmpty, "searchTopKSweep needs at least one shortlist value")
    val pqD = IvfIndex.resolve(spark, pqDir)
    val rawD = IvfIndex.resolve(spark, rawDir)
    val (short, probes, probedCells) =
      coarseShortlist(spark, pqD, queries, nProbe, shortlists.max, excludeSelf)
    if (probedCells.isEmpty)
      return Seq.empty[(Long, Long, Int, Long, Double)]
        .toDF("shortlist", "vec_id", "rn", "nn_id", "cos")
    IvfSq.sweepCuts(
      IvfSq.exactRerankScored(spark, rawD, probedCells, short, probes, maxCandidates),
      shortlists, k)
  }

  /** Stage 1 (ADC coarse scan + one-exchange merge), shared by
    * [[searchTopK]] and [[searchTopKSweep]]: the per-query approx-ranked
    * shortlist (qid, cid, apx_rank), checkpointed probes, probed cells. */
  private def coarseShortlist(spark: SparkSession, pqD: String,
      queries: DataFrame, nProbe: Int, shortlist: Int,
      excludeSelf: Boolean): (org.apache.spark.sql.Dataset[(Long, Long, Int)],
        org.apache.spark.sql.Dataset[(Long, Long, Array[Float])], Seq[Long]) = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$pqD/centroids")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
    val cbRows = spark.read.parquet(s"$pqD/codebooks")
      .orderBy("sub", "code").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val codebooks = cbRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    // per-codebook centroid squared norms, index order (the ‖r̂ₘ‖² term)
    val cbNorm2 = codebooks.map(_.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    })
    val meanMap = spark.read.parquet(s"$pqD/cellmeans").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val bcCb = spark.sparkContext.broadcast(codebooks)
    val bcN2 = spark.sparkContext.broadcast(cbNorm2)
    val bcMean = spark.sparkContext.broadcast(meanMap)
    val (probes, probedCells) =
      IvfIndex.routeProbes(spark, centroids, queries, nProbe)
    if (probedCells.isEmpty)
      return (spark.emptyDataset[(Long, Long, Int)], probes, probedCells)

    // pre-compute ‖mean_p‖² for every cell once, driver-side (codebook-
    // sized, ships in the broadcast)
    val meanN2Map = meanMap.map { case (c, m) =>
      var s = 0.0; var i = 0
      while (i < m.length) { s += m(i) * m(i); i += 1 }
      c -> s
    }
    val bcMeanN2 = spark.sparkContext.broadcast(meanN2Map)

    // ---- stage 1: residual-ADC coarse scan (partition-pruned, fused per
    // cell). unified row: (cell, id, pcell, codes|null, rawVec|null)
    val pqMembers = spark.read.parquet(s"$pqD/pqcells")
      .filter(col("cell").isInCollection(probedCells))
      .select(col("cell").cast("long").as("cell"), col("vec_id"),
        col("pcell"), col("codes"))
      .as[(Long, Long, Long, Array[Byte])]
      .map { case (cell, id, pcell, codes) =>
        (cell, id, pcell, codes, null: Array[Float]) }
    val probeRows = probes.map { case (cell, id, v) =>
      (cell, id, -1L, null: Array[Byte], v) }
    val coarse = pqMembers.union(probeRows)
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val cbs = bcCb.value
        val n2 = bcN2.value
        val means = bcMean.value
        val meanN2s = bcMeanN2.value
        val numSub = cbs.length
        val mem = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Array[Byte])]
        val qry = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        it.foreach { case (_, id, pcell, codes, raw) =>
          if (raw != null) {
            var s2 = 0.0; var i = 0
            while (i < raw.length) { s2 += raw(i).toDouble * raw(i); i += 1 }
            qry += ((id, raw, math.sqrt(s2)))
          } else mem += ((id, pcell, codes))
        }
        // cross(p)(m)(c) = dot(mean_pₘ, cbₘ[c]) — memoized per PRIMARY
        // cell present in this group (a cell's members are mostly its own
        // primaries plus a few neighbors' replicas)
        val crossMemo = scala.collection.mutable.HashMap.empty[Long, Array[Array[Double]]]
        def crossFor(pcell: Long): Array[Array[Double]] =
          crossMemo.getOrElseUpdate(pcell, {
            val mean = means(pcell)
            val subDim = mean.length / numSub
            cbs.indices.map { m =>
              cbs(m).indices.map { c =>
                val cen = cbs(m)(c)
                var d = 0.0; var i = 0
                while (i < subDim) { d += mean(m * subDim + i) * cen(i); i += 1 }
                d
              }.toArray
            }.toArray
          })
        qry.iterator.flatMap { case (qid, qv, qn) =>
          val subDim = qv.length / numSub
          // per-query tables: lut(m)(c) = dot(qₘ, cbₘ[c]) and the
          // memoized per-primary base dot(q, mean_p)
          val lut = cbs.map(cb => new Array[Double](cb.length))
          var m = 0
          while (m < numSub) {
            var c = 0
            while (c < cbs(m).length) {
              val cen = cbs(m)(c)
              var d = 0.0; var i = 0
              while (i < subDim) { d += qv(m * subDim + i).toDouble * cen(i); i += 1 }
              lut(m)(c) = d
              c += 1
            }
            m += 1
          }
          val qdmMemo = scala.collection.mutable.HashMap.empty[Long, Double]
          def qdmFor(pcell: Long): Double =
            qdmMemo.getOrElseUpdate(pcell, {
              val mean = means(pcell)
              var d = 0.0; var i = 0
              while (i < qv.length) { d += qv(i).toDouble * mean(i); i += 1 }
              d
            })
          val best = new IvfIndex.KBest(shortlist)
          var j = 0
          while (j < mem.length) {
            val (cid, pcell, codes) = mem(j)
            if (!(excludeSelf && cid == qid)) {
              // SUBSPACE-ORDER partial sums, then base + partial — the
              // oracle's base + ordered-list-sum association exactly
              val cross = crossFor(pcell)
              var sdot = 0.0; var sm2 = 0.0; var s = 0
              while (s < numSub) {
                val code = codes(s) & 0xff
                sdot += lut(s)(code)
                sm2 += 2.0 * cross(s)(code) + n2(s)(code)
                s += 1
              }
              val dot = qdmFor(pcell) + sdot
              val m2 = meanN2s(pcell) + sm2
              best.offer(cid, dot / (qn * math.sqrt(m2)))
            }
            j += 1
          }
          best.result.map { case (cid, sc) => (qid, cid, sc) }
        }
      }
    // merge per query in ONE exchange. A member's score is a pure
    // function of its primary-cell codes — identical in every cell that
    // holds a replica — so the max collapse is exact deduplication and
    // the per-cell bounded k-best above is lossless for the global top-s.
    // Rank recorded for the sweep cut; searchTopK ignores it.
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
      .localCheckpoint(true)
    (short, probes, probedCells)
  }
}
