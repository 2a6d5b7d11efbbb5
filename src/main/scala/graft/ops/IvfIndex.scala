package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistable IVF index for approximate nearest-neighbor search (M8 at
  * deployment shape: a real ANN service BUILDS the index once — codebook +
  * cell assignments — persists it, and serves queries against it; rebuilding
  * per query, as a bare q45 call would, wastes the clustering work).
  *
  * Index = a KMeans CODEBOOK (k × dim doubles — broadcastable at any corpus
  * size, fit on a bounded sample) plus the cell-assigned member table
  * (cell, vec_id, embedding — one row per vector, hash-partitionable by
  * cell). Both persist as plain Parquet: no engine-private format, any
  * Spark session can `load` and serve.
  *
  * Search: each query probes its `nProbe` nearest cells; the member scan is
  * first pruned to the batch's probed-cell set (a partition filter on the
  * saved cell-partitioned layout — unprobed cells are never read), then
  * per-cell search is fused into ONE shuffle via groupByKey over
  * members ∪ probes with a primitive-array cosine kernel (see q45's scale
  * notes).
  */
/** `nReplicas` is the build-time multi-assignment factor — PART OF THE
  * INDEX (persisted by save, restored by load): append must route new
  * vectors with the same replication or appended vectors silently get
  * less reachability than built ones. */
case class IvfIndex(centroids: Array[Array[Double]], cells: DataFrame,
    nReplicas: Int = 1)

object IvfIndex {

  /** Marker file that COMMITS a version directory of a maintained index
    * (see [[resolve]]): its creation is the atomic publish point — no
    * rename window, no partially-visible swap. */
  private[graft] val CommitMarker = "COMMITTED"
  private[graft] val VersionsSubdir = "versions"

  /** Resolve a (possibly maintained) index directory to the layout that
    * should be SERVED: if `dir/versions/` holds committed snapshots
    * (`v<batchId>` dirs containing a [[CommitMarker]] — written by the
    * streaming compaction cadence, [[graft.streaming.Incremental
    * .continuousAnnIngest]]), the highest-numbered committed one wins;
    * otherwise `dir` itself is the plain [[save]] layout. Readers hold the
    * resolved IMMUTABLE snapshot path for their whole query lifetime, so a
    * compaction committing a newer version mid-query cannot yank files out
    * from under them (the maintainer retains the previous snapshot for one
    * full cadence before reclaiming it — an in-flight reader of the old
    * snapshot finishes; only a query older than a whole cadence can lose
    * its files and needs a plain retry). Uncommitted version dirs (crash
    * mid-compaction) are ignored and redone on replay. */
  def resolve(spark: SparkSession, dir: String): String = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    committedVersions(fs, dir).lastOption.fold(dir)(_.toString)
  }

  /** The committed `root/versions/v*` dirs, oldest first (empty when
    * `root` has no versions dir yet) — the one listing under [[resolve]]
    * and every versioned maintainer. */
  private[graft] def committedVersions(fs: FileSystem, root: String): Seq[Path] = {
    val vroot = new Path(root, VersionsSubdir)
    if (!fs.exists(vroot)) Seq.empty
    else fs.listStatus(vroot).filter(_.isDirectory).map(_.getPath)
      .filter(p => fs.exists(new Path(p, CommitMarker)))
      .sortBy(_.getName).toSeq
  }

  /** The version dir a maintenance cadence at `batchId` writes under
    * `root` — named by the checkpointed batchId, so a replayed cadence
    * rewrites the same version. */
  private[graft] def versionPath(root: String, batchId: Long): Path =
    new Path(s"$root/$VersionsSubdir/v${"%012d".format(batchId)}")

  /** Commits the freshly written `version` under `root` (its
    * [[CommitMarker]] create is the publish point), then reclaims every
    * committed version older than the PREVIOUS one, which stays a full
    * cadence for in-flight readers. Returns the committed versions as
    * listed after the commit, the reclaimed ones included. */
  private[graft] def commitAndRetain(fs: FileSystem, root: String,
      version: Path): Seq[Path] = {
    val marker = new Path(version, CommitMarker)
    require(fs.createNewFile(marker) || fs.exists(marker), s"failed to commit $version")
    val committed = committedVersions(fs, root)
    committed.dropRight(2).foreach(fs.delete(_, true))
    committed
  }

  /** Shared by every "absent artifact is a normal state" probe (index
    * bootstrap on first batch, pre-meta layouts): ONLY the missing-path
    * case may be treated as absence — a transient read failure on a real
    * artifact must propagate, or the caller silently rebuilds from
    * scratch (the r9 advice lesson on the meta copy). */
  private[graft] def isMissingPath(e: Throwable): Boolean = e match {
    case _: java.io.FileNotFoundException => true
    case a: org.apache.spark.sql.AnalysisException =>
      a.getCondition != null && a.getCondition.startsWith("PATH_NOT_FOUND")
    case _ => false
  }

  /** Runs `read`; None only when it failed on a missing path
    * ([[isMissingPath]]) — every other failure propagates. The one form
    * of the absent-artifact probe. */
  private[graft] def whenPresent[T](read: => T): Option[T] =
    try Some(read)
    catch { case e: Throwable if isMissingPath(e) => None }

  /** The meta table is absent on pre-r7 layouts (single-assignment era) —
    * ONLY that case may default; a transient read failure on a real meta
    * must propagate (a silently dropped n_replicas makes later appends
    * under-replicate relative to build — the exact failure the scaladoc
    * warns about). */
  private def readMetaReplicas(spark: SparkSession, dir: String): Option[Int] =
    whenPresent(spark.read.parquet(s"$dir/meta").collect().head.getInt(0))

  private[ops] def copyMetaIfPresent(spark: SparkSession, srcDir: String,
      destDir: String): Unit =
    whenPresent(spark.read.parquet(s"$srcDir/meta").coalesce(1)
      .write.mode("overwrite").parquet(s"$destDir/meta"))

  /** Unit-normalize a vector (zero vectors pass through). The index routes
    * by L2 distance but SERVES cosine similarity — on unit vectors the two
    * agree exactly (‖a−b‖² = 2 − 2·cosθ), so clustering/assigning/probing
    * in unit space makes the nearest-centroid cell the max-cosine cell.
    * Routing raw vectors instead lets magnitude bend the cell boundaries
    * away from the angular metric (measured: top-1 agreement 0.81 → ≥0.9
    * at the same nProbe on the sf0.1 embeddings). Member vectors are
    * STORED raw — cosine is scale-invariant, so scores are unchanged. */
  private[ops] def unit(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0 || n == 1.0) v
    else {
      val out = new Array[Float](v.length)
      i = 0
      while (i < v.length) { out(i) = (v(i) / n).toFloat; i += 1 }
      out
    }
  }

  /** Rank the `k` nearest centroids for one vector (squared L2). */
  private[ops] def nearestCells(centroids: Array[Array[Double]],
      v: Array[Float], k: Int): Array[Int] = {
    val d2 = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val ct = centroids(c)
      var acc = 0.0; var i = 0
      while (i < ct.length) { val dv = v(i).toDouble - ct(i); acc += dv * dv; i += 1 }
      d2(c) = acc; c += 1
    }
    d2.zipWithIndex.sortBy(_._1).take(k).map(_._2)
  }

  /** Fit the codebook on a bounded sample and assign every vector to its
    * nearest cell. `emb` must have columns (vec_id: long,
    * embedding: array<float>). */
  /** `nReplicas` > 1 assigns each member to its n nearest cells (IVF
    * multi-assignment): a true neighbor sitting just across a Voronoi
    * boundary from the query's probed cells is still found through its
    * second-nearest cell. Costs nReplicas× index storage and scan per
    * probe — the standard recall lever when the data has weak cluster
    * structure (measured on the uniform sf0.1 embeddings: probe 12,
    * replicas 1 → 0.81 top-1 agreement; see q45 notes). Duplicate
    * candidates reached through several cells are absorbed by search's
    * per-query argmax. */
  // nCells priced by q213 (recall vs member-scan fraction halves per nlist doubling at √N ≈ 32);
  // nReplicas priced by q217 (replication buys recall at CONSTANT scan fraction — storage, not bandwidth);
  // maxFitRows priced by q228 (codebook fit-sample cap vs recall/scan at fixed probes)
  def build(spark: SparkSession, emb: DataFrame, nCells: Int = 32,
      seed: Long = 7L, maxFitRows: Long = 50000L,
      initMode: String = "random", nReplicas: Int = 1): IvfIndex = {
    import spark.implicits._
    val n = emb.count() // parquet metadata count when emb is a plain scan
    val sampled =
      if (n > maxFitRows) emb.sample(withReplacement = false, maxFitRows.toDouble / n, seed)
      else emb
    val unitUdf = udf { (v: Array[Float]) => unit(v) }
    val features = sampled.select(
      org.apache.spark.ml.functions.array_to_vector(unitUdf(col("embedding"))).as("features"))
      .cache()
    // 5 seeded random-init iterations: the codebook partitions space, it
    // does not need a converged objective (q45 scale notes)
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nCells).setSeed(seed).setMaxIter(5).setInitMode(initMode).fit(features)
    features.unpersist()
    val centroids = km.clusterCenters.map(_.toArray)
    val bc = spark.sparkContext.broadcast(centroids)
    val cells = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        nearestCells(bc.value, unit(v), nReplicas).map(c => (c.toLong, id, v))
      }
      .toDF("cell", "vec_id", "embedding")
    IvfIndex(centroids, cells, nReplicas)
  }

  /** Persist as plain Parquet: `dir/centroids` (cell, centroid) and
    * `dir/cells` (vec_id, embedding) PARTITIONED BY cell — one directory
    * per cell, so a search that probes p of nCells cells partition-prunes
    * to the p probed directories and never reads the rest of the index
    * (the layout that makes "serve from the index" true at 100 TB: the
    * scan cost is the probed fraction, not the corpus). Cell count is
    * bounded (the codebook size), so the directory fan-out is too. */
  def save(spark: SparkSession, index: IvfIndex, dir: String): Unit = {
    import spark.implicits._
    index.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq
      .toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    Seq(index.nReplicas).toDF("n_replicas").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    index.cells.write.partitionBy("cell").mode("overwrite").parquet(s"$dir/cells")
  }

  /** Codebook memo (r21, guide §1.2 driver work): every serve call paid
    * one collect job (+ a meta read) to re-load centroids that are
    * IMMUTABLE for a given on-disk state — [[append]] only touches
    * `cells/`, and maintenance ops ([[compactTo]]/[[rebuildTo]]/the swap
    * protocol) publish NEW directories. Keyed by (app, resolved dir,
    * centroids-file signature): a re-[[save]] over the same dir changes
    * the files' (name, length, mtime) listing and takes a fresh entry,
    * so a rewritten index can never serve stale centroids. The `cells`
    * frame is deliberately NOT memoized — it re-reads per call so
    * appended members stay visible. Model-parameter memo only; every
    * query still computes from the index files. */
  private val codebookCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], Int)]()

  def load(spark: SparkSession, dir: String): IvfIndex = {
    val d = resolve(spark, dir)
    def readDirect(): (Array[Array[Double]], Int) = {
      val centroids = spark.read.parquet(s"$d/centroids")
        .orderBy("cell").collect()
        .map(_.getSeq[Double](1).toArray)
      // pre-meta layouts (r6 and earlier) were single-assignment
      (centroids, readMetaReplicas(spark, d).getOrElse(1))
    }
    val sig = try {
      val p = new Path(s"$d/centroids")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString(",")
    } catch { case _: Throwable => null }
    val (centroids, nReplicas) =
      if (sig == null) readDirect() // unreadable listing: no caching, the
                                    // read below throws its original error
      else codebookCache.computeIfAbsent(
        s"${spark.sparkContext.applicationId}|$d|$sig", _ => readDirect())
    IvfIndex(centroids, spark.read.parquet(s"$d/cells"), nReplicas)
  }

  /** Append new vectors to a SAVED index without refitting the codebook —
    * the continuous-ingest maintenance op (the incremental-MinHashIndex
    * pattern applied to ANN): each new vector routes to its `nReplicas`
    * nearest cells with the SAME unit-space routing as [[build]] and
    * appends into the cell-partitioned layout, so searches serve appended
    * vectors exactly like built ones (same probing, same pruning). One
    * narrow pass over the new batch + a partitioned append — the corpus
    * already in the index is never touched. The replication factor comes
    * from the INDEX's persisted metadata, never from the caller: an
    * append that under-replicated relative to build would silently give
    * appended vectors less reachability than built ones. Codebook drift
    * is the documented limit: the codebook partitions space and does not
    * need a converged objective, so drift degrades recall slowly;
    * periodic [[build]] re-centers it. */
  def append(spark: SparkSession, dir: String, emb: DataFrame): Unit = {
    import spark.implicits._
    val d = resolve(spark, dir)
    val idx = load(spark, d)
    val bc = spark.sparkContext.broadcast(idx.centroids)
    val rep = idx.nReplicas
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        nearestCells(bc.value, unit(v), rep).map(c => (c.toLong, id, v))
      }
      .toDF("cell", "vec_id", "embedding")
      .write.partitionBy("cell").mode("append").parquet(s"$d/cells")
  }

  /** Rewrite an appended index into a freshly compacted layout: the many
    * small per-cell files a streaming-append history leaves behind (each
    * [[append]] adds ≥1 file per touched cell) become ONE file per cell —
    * the [[graft.sources.Compaction]] small-files maintenance applied to
    * the index artifact. Hash-partitioning by cell puts each cell wholly
    * in one task, so the partitioned write emits exactly one file per cell
    * directory. Also RECONCILES streaming-replay residue: a driver failure
    * between an [[append]]'s parquet commit and its checkpoint can
    * duplicate a batch (foreachBatch is at-least-once), and compaction
    * drops the duplicate (cell, vec_id) rows — replicas of a vector live
    * in DIFFERENT cells, so this removes only true re-appends.
    * Non-destructive: writes a complete, equivalent index under `destDir`
    * (object-store-friendly — no in-place rewrite). */
  def compactTo(spark: SparkSession, dir: String, destDir: String): Unit = {
    val d = resolve(spark, dir)
    spark.read.parquet(s"$d/centroids").coalesce(1)
      .write.mode("overwrite").parquet(s"$destDir/centroids")
    copyMetaIfPresent(spark, d, destDir) // pre-meta layout: load defaults to 1
    spark.read.parquet(s"$d/cells")
      .select(col("cell").cast("long").as("cell"), col("vec_id"), col("embedding"))
      .dropDuplicates("cell", "vec_id")
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$destDir/cells")
  }

  /** REBUILD the codebook from the index's CURRENT contents — the
    * drift-recovery maintenance op [[append]]'s scaladoc promises: a
    * stream of appends whose distribution wanders away from the build-time
    * sample leaves the old cells straddling the new mass (recall decays
    * slowly — the codebook only partitions space — but it decays), and no
    * amount of compaction fixes it because compaction keeps the codebook.
    * rebuildTo refits KMeans on a bounded sample of what the index holds
    * NOW (deduped across replicas), reassigns every member with the
    * index's own replication factor, and writes a complete equivalent
    * index at `destDir` — same non-destructive contract as [[compactTo]],
    * so the streaming cadence can publish it with the same versioned
    * commit. Cost class: the KMeans fit is bounded by `maxFitRows`
    * (broadcastable sample, like [[build]]); reassignment is the same one
    * narrow pass + partitioned write a compaction already pays. */
  def rebuildTo(spark: SparkSession, dir: String, destDir: String,
      seed: Long = 7L, maxFitRows: Long = 50000L): Unit = {
    val d = resolve(spark, dir)
    val idx = load(spark, d)
    val members = spark.read.parquet(s"$d/cells")
      .select(col("vec_id"), col("embedding"))
      .dropDuplicates("vec_id") // collapse replicas; build() re-replicates
    save(spark,
      build(spark, members, nCells = idx.centroids.length, seed = seed,
        maxFitRows = maxFitRows, nReplicas = idx.nReplicas),
      destDir)
  }

  /** Bounded best-k insertion ranked by (score desc, id asc); NaN scores
    * never enter (zero-norm cosines — unguarded they would survive to the
    * merge, whose BigDecimal rounding throws on NaN). THE single copy of
    * the tie-break + NaN contract, shared by the float top-k kernel and
    * the SQ coarse scan so the two can never drift apart (each has an
    * oracle mirroring exactly this order). */
  private[ops] final class KBest(k: Int) {
    private val ids = new Array[Long](k)
    private val scores = Array.fill(k)(Double.NegativeInfinity)
    private var n = 0
    def offer(id: Long, score: Double): Unit = {
      if (!java.lang.Double.isNaN(score) &&
          (n < k || score > scores(k - 1) ||
          (score == scores(k - 1) && id < ids(k - 1)))) {
        var p = math.min(n, k - 1)
        while (p > 0 && (scores(p - 1) < score ||
            (scores(p - 1) == score && ids(p - 1) > id))) {
          scores(p) = scores(p - 1); ids(p) = ids(p - 1); p -= 1
        }
        scores(p) = score; ids(p) = id
        if (n < k) n += 1
      }
    }
    def result: Iterator[(Long, Double)] =
      (0 until n).iterator.map(i => (ids(i), scores(i)))
  }

  /** Probe routing shared by every serving path (float and SQ), plus the
    * driver-bounded distinct probed-cell set (≤ the codebook size).
    *
    * `checkpoint = true` (the SMALL-BATCH serving shape, q99/q100): the
    * routed flatMap is localCheckpoint'ed eagerly, so the collected
    * probed-cell set and every downstream consumer read the BLOCKS — the
    * query side is scanned exactly once, at a footprint of nProbe rows per
    * query vector (trivial for a serving batch). Lineage truncation means
    * an executor lost mid-search fails the search instead of recomputing —
    * acceptable when a retry is one bounded batch.
    *
    * `checkpoint = false` (the CORPUS-SCALE certification batches, q45/
    * q96): materializing nProbe× the whole corpus into executor
    * MEMORY_AND_DISK is exactly where that trade is worst — the footprint
    * is largest and an executor loss then fails the biggest job. Instead
    * the probed-cell set comes from a VECTOR-FREE projection pass (cell
    * ids only — no embedding ever leaves the scan) and the probe rows stay
    * lazy: the query side is scanned twice (once narrow, once under the
    * shuffle), buying full lineage recovery and zero block-manager
    * footprint for the runs where both matter. */
  private[ops] def routeProbes(spark: SparkSession,
      centroids: Array[Array[Double]], queries: DataFrame, nProbe: Int,
      checkpoint: Boolean = true)
      : (org.apache.spark.sql.Dataset[(Long, Long, Array[Float])], Array[Long]) = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    val routed = queries.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        nearestCells(bc.value, unit(v), nProbe).map(c => (c.toLong, id, v))
      }
    if (checkpoint) {
      val probes = routed.localCheckpoint(true)
      (probes, probes.map(_._1).distinct().collect().sorted)
    } else {
      val cells = queries.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .mapPartitions { it =>
          val seen = scala.collection.mutable.HashSet.empty[Long]
          it.foreach { case (_, v) =>
            nearestCells(bc.value, unit(v), nProbe).foreach(c => seen.add(c.toLong))
          }
          seen.iterator
        }
        .distinct().collect().sorted
      (routed, cells)
    }
  }

  /** The distinct cells a query batch probes (≤ the codebook size): the
    * serving scan-fraction diagnostic — a search against a saved index
    * reads only these partitions (the measured fraction at growing
    * corpus sizes is in NOTES.md, Round 7 item 1). */
  def probedCells(spark: SparkSession, index: IvfIndex, queries: DataFrame,
      nProbe: Int): Array[Long] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index.centroids)
    queries.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (_, v) => nearestCells(bc.value, unit(v), nProbe).map(_.toLong) }
      .distinct().collect().sorted
  }

  /** Probe assignment + pruned member scan, shared by both search entry
    * points. The probed-cell set is DRIVER-BOUNDED (≤ nCells distinct
    * values, independent of corpus and batch size), so collecting it is
    * safe at any scale; filtering the cell table on it becomes a PARTITION
    * filter when the index was loaded from [[save]]'s partitionBy("cell")
    * layout — unprobed cells are never read, so a small query batch scans
    * only its probed fraction of the index. The select
    * normalizes column order and the cell type (partition-column read-back
    * is int, fresh builds are long).
    *
    * The probe routing is computed ONCE: the flatMap feeds both the
    * collected probed-cell set and the search union, so without a barrier
    * the query embeddings would be scanned twice per search (once for the
    * collect, once lazily under the shuffle). localCheckpoint(eager)
    * materializes the routed probes in the block manager
    * (MEMORY_AND_DISK — spills, never OOMs) and truncates lineage, so the
    * query side is READ EXACTLY ONCE and the union serves from blocks
    * ([[routeProbes]]). Size is nProbe rows per query vector —
    * proportional to the query BATCH, not the corpus (the full-corpus
    * certification queries are the worst case and still only nProbe×
    * their own input). Blocks free with the dataset (ContextCleaner) —
    * Dataset.persist would leak instead (CacheManager pins it for the
    * session; no caller-visible unpersist point exists once the search
    * DataFrame is returned). Known trade: lineage truncation means an
    * executor lost mid-search fails the job instead of recomputing the
    * probes — acceptable for a bounded batch (retry re-runs the search);
    * the pre-r9 alternative re-scanned the query embeddings every search
    * on EVERY run to buy recovery on the rare one. */
  private def probedMembersAndProbes(spark: SparkSession, index: IvfIndex,
      queries: DataFrame, nProbe: Int, checkpointProbes: Boolean)
      : (org.apache.spark.sql.Dataset[(Long, Long, Array[Float], Boolean)],
         org.apache.spark.sql.Dataset[(Long, Long, Array[Float], Boolean)]) = {
    import spark.implicits._
    val (routed, probedCells) =
      routeProbes(spark, index.centroids, queries, nProbe, checkpointProbes)
    val probes = routed.map { case (cell, id, v) => (cell, id, v, true) }
    val members =
      if (probedCells.isEmpty) spark.emptyDataset[(Long, Long, Array[Float], Boolean)]
      else index.cells
        .filter(col("cell").isInCollection(probedCells))
        .select(col("cell").cast("long").as("cell"), col("vec_id"), col("embedding"))
        .as[(Long, Long, Array[Float])]
        .map { case (cell, id, v) => (cell, id, v, false) }
    (members, probes)
  }

  /** Top-k in-probed-cells neighbors per query vector:
    * (vec_id, rn, nn_id, cos) with rn 1..k ranked by cosine (doc-id
    * tie-break). Same fused one-shuffle probe as [[searchTop1]]; each cell
    * emits its k best per query (bounded insertion, no per-cell sort of
    * the member list beyond k), the global merge is a window over the
    * ≤ nProbe·k candidate rows per query — bounded input, never the
    * corpus. Replicated members reached through several probed cells
    * collapse via max before ranking. */
  /** `checkpointProbes = false` for corpus-scale query batches — see
    * [[routeProbes]] for the trade. */
  def searchTopK(spark: SparkSession, index: IvfIndex, queries: DataFrame,
      // nProbe priced by q201 (recall-vs-probes curve; 8 of 32 cells reads recall ≈ 0.99)
      k: Int = 3, nProbe: Int = 8, checkpointProbes: Boolean = true): DataFrame =
    searchTopKWithProbes(spark, index, queries, k, nProbe, checkpointProbes)._1

  /** [[searchTopK]] plus the routed probe rows the serve actually used
    * (cell, vec_id, emb, isProbe=true) — callers that also price the
    * scan (q213/q217's sweep row) reuse the SAME routing instead of
    * routing the batch a second time (r17 ADVICE); the probes are
    * localCheckpointed by [[routeProbes]], so both consumers read the
    * same materialized blocks. */
  private[ops] def searchTopKWithProbes(spark: SparkSession, index: IvfIndex,
      queries: DataFrame, k: Int = 3, nProbe: Int = 8,
      checkpointProbes: Boolean = true)
      : (DataFrame, org.apache.spark.sql.Dataset[(Long, Long, Array[Float], Boolean)]) = {
    import spark.implicits._
    val (members, probes) =
      probedMembersAndProbes(spark, index, queries, nProbe, checkpointProbes)
    val cand = members.union(probes)
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val mem = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        val qry = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        it.foreach { case (_, id, v, isProbe) =>
          var i = 0; var s2 = 0.0
          while (i < v.length) { s2 += v(i).toDouble * v(i); i += 1 }
          val entry = (id, v, math.sqrt(s2))
          if (isProbe) qry += entry else mem += entry
        }
        qry.iterator.flatMap { case (qid, qv, qn) =>
          // bounded k-best insertion ([[KBest]]: (cos desc, id asc) with
          // the NaN guard — zero-norm cosines never enter; the merge's
          // BigDecimal rounding would throw on NaN)
          val best = new KBest(k)
          var j = 0
          while (j < mem.length) {
            val (cid, cv, cn) = mem(j)
            if (cid != qid) {
              var dp = 0.0; var x = 0
              while (x < qv.length) { dp += qv(x).toDouble * cv(x); x += 1 }
              best.offer(cid, dp / (qn * cn))
            }
            j += 1
          }
          best.result.map { case (cid, cos) => (qid, cid, cos) }
        }
      }
    (rankCandidates(spark, cand, k), probes)
  }

  /** Global merge in ONE exchange: each query's candidate rows (≤ nProbe·k
    * — bounded, never the corpus) group to one task, which collapses
    * replicas (max cos per candidate) and ranks by (cos desc, id) in
    * memory. The previous groupBy-then-window form paid two exchanges
    * (hash by (vec_id, cand_id), then by vec_id) for the same result.
    * Rounding matches Column round (HALF_UP). */
  private def rankCandidates(spark: SparkSession,
      cand: org.apache.spark.sql.Dataset[(Long, Long, Double)], k: Int): DataFrame = {
    import spark.implicits._
    cand
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val best = scala.collection.mutable.HashMap.empty[Long, Double]
        it.foreach { case (_, cid, cos) =>
          if (!best.get(cid).exists(_ >= cos)) best(cid) = cos
        }
        best.toSeq.sortBy { case (cid, cos) => (-cos, cid) }.take(k)
          .iterator.zipWithIndex.map { case ((cid, cos), i) =>
            (qid, i + 1, cid,
              java.math.BigDecimal.valueOf(cos)
                .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
          }
      }
      .toDF("vec_id", "rn", "nn_id", "cos")
  }

  /** Every probed-cell member with cosine ≥ `minCos` per query — the
    * THRESHOLD search (semantic-decontamination kernel, q111): unlike
    * [[searchTopK]] the result is the full over-threshold match set, not
    * a bounded top-k, because a decontamination pass must surface every
    * contaminated document, however many there are. Same fused
    * one-shuffle probe and partition-pruned member scan; per-cell output
    * is threshold-filtered (matches are rare by construction — a high
    * `minCos` is the operator's contract), replicas reached through
    * several probed cells collapse by a (query, member) max aggregation —
    * per-group state is one double, never a query's whole match set.
    * Output (query_id, vec_id, cos) with [[searchTopK]]'s HALF_UP
    * 4-decimal rounding, cos filtered on the RAW value before rounding
    * (the oracle mirrors that order).
    *
    * `excludeSelf` skips members whose id equals the query id — correct
    * ONLY when queries and members share one id space (q111: the
    * benchmark batch IS a corpus subset). When the query batch comes
    * from a DIFFERENT id space (the streaming twin: corpus vectors
    * against a benchmark index), numeric id collisions are unrelated
    * vectors and excluding them silently drops real matches — pass
    * `excludeSelf = false` there. */
  def searchThreshold(spark: SparkSession, index: IvfIndex, queries: DataFrame,
      minCos: Double, nProbe: Int = 8, checkpointProbes: Boolean = true,
      excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    val (members, probes) =
      probedMembersAndProbes(spark, index, queries, nProbe, checkpointProbes)
    val hits = members.union(probes)
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val mem = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        val qry = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        it.foreach { case (_, id, v, isProbe) =>
          var i = 0; var s2 = 0.0
          while (i < v.length) { s2 += v(i).toDouble * v(i); i += 1 }
          val entry = (id, v, math.sqrt(s2))
          if (isProbe) qry += entry else mem += entry
        }
        qry.iterator.flatMap { case (qid, qv, qn) =>
          mem.iterator.flatMap { case (cid, cv, cn) =>
            if (excludeSelf && cid == qid) Iterator.empty
            else {
              var dp = 0.0; var x = 0
              while (x < qv.length) { dp += qv(x).toDouble * cv(x); x += 1 }
              val cos = dp / (qn * cn)
              // NaN (zero-norm) fails the >= and is excluded, like KBest
              if (cos >= minCos) Iterator.single((qid, cid, cos))
              else Iterator.empty
            }
          }
        }
      }
    // Replica collapse as a (query_id, vec_id) → max(cos) hash aggregate,
    // NOT a per-query group: unlike [[searchTopK]] the match set here is
    // unbounded by contract (every over-threshold member), so grouping by
    // query alone holds one query's FULL match set in a task-local map — a
    // memory cliff for a low threshold or a query parked in a dense region.
    // Keying by the pair bounds per-group state to one double, partial
    // (map-side) aggregation combines replicas before the exchange, and
    // the hash aggregate spills if a batch is ever pathological. Rounding
    // after the max, on the raw double, HALF_UP — identical to Column
    // round(_, 4) and to the per-query merge this replaces.
    hits.toDF("query_id", "vec_id", "cos_raw")
      .groupBy("query_id", "vec_id")
      .agg(round(max(col("cos_raw")), 4).as("cos"))
  }

  /** Top-k among probed-cell members whose GROUP tag differs from the
    * query's — the hard-negative-mining kernel (q106), fused into ONE
    * search: `members` is a (cell, vec_id, embedding, grp) table (cell-
    * partitioned on disk ⇒ the isInCollection filter partition-prunes to
    * the probed cells), `queries` is a small serving batch with its own
    * grp tags. The exclusion runs per candidate PAIR inside the cell
    * group, so each probed cell is read ONCE for the whole batch — the
    * per-group alternative (one label-filtered [[searchTopK]] per
    * distinct batch group) reads every probed cell once per group, a
    * (L−1)× read amplification at L groups for identical answers.
    * Routing, bounded per-cell k-best, replica collapse, and the
    * (cos desc, id) rank all match [[searchTopK]]. */
  def searchTopKExcludingGroup(spark: SparkSession,
      centroids: Array[Array[Double]], members: DataFrame, queries: DataFrame,
      k: Int = 3, nProbe: Int = 8): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    val q = queries.select(col("vec_id"), col("embedding"), col("grp"))
      .as[(Long, Array[Float], Int)]
    val probes = q.flatMap { case (id, v, g) =>
      nearestCells(bc.value, unit(v), nProbe).map(c => (c.toLong, id, v, g, true))
    }
    // probed-cell set via the vector-free second pass (the
    // checkpoint-free routeProbes shape — serving batches are small)
    val cellSet = q.mapPartitions { it =>
        val seen = scala.collection.mutable.HashSet.empty[Long]
        it.foreach { case (_, v, _) =>
          nearestCells(bc.value, unit(v), nProbe).foreach(c => seen.add(c.toLong))
        }
        seen.iterator
      }.distinct().collect().sorted
    val mem =
      if (cellSet.isEmpty) spark.emptyDataset[(Long, Long, Array[Float], Int, Boolean)]
      else members
        .filter(col("cell").isInCollection(cellSet))
        .select(col("cell").cast("long").as("cell"), col("vec_id"),
          col("embedding"), col("grp"))
        .as[(Long, Long, Array[Float], Int)]
        .map { case (c, id, v, g) => (c, id, v, g, false) }
    val cand = mem.union(probes)
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val memB = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Array[Float], Double, Int)]
        val qryB = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Array[Float], Double, Int)]
        it.foreach { case (_, id, v, g, isProbe) =>
          var i = 0; var s2 = 0.0
          while (i < v.length) { s2 += v(i).toDouble * v(i); i += 1 }
          val entry = (id, v, math.sqrt(s2), g)
          if (isProbe) qryB += entry else memB += entry
        }
        qryB.iterator.flatMap { case (qid, qv, qn, qg) =>
          val best = new KBest(k)
          var j = 0
          while (j < memB.length) {
            val (cid, cv, cn, cg) = memB(j)
            if (cid != qid && cg != qg) {
              var dp = 0.0; var x = 0
              while (x < qv.length) { dp += qv(x).toDouble * cv(x); x += 1 }
              best.offer(cid, dp / (qn * cn))
            }
            j += 1
          }
          best.result.map { case (cid, cos) => (qid, cid, cos) }
        }
      }
    rankCandidates(spark, cand, k)
  }

  /** Best in-probed-cells neighbor per query vector: (vec_id, nn_id, cos).
    * `queries` must have columns (vec_id, embedding); a query vector never
    * matches itself. */
  def searchTop1(spark: SparkSession, index: IvfIndex, queries: DataFrame,
      nProbe: Int = 8, checkpointProbes: Boolean = true): DataFrame = {
    import spark.implicits._
    val (members, probes) =
      probedMembersAndProbes(spark, index, queries, nProbe, checkpointProbes)
    // per-cell search fused into one shuffle (q45 scale notes: each vector
    // decoded once per cell, no probes × cell-size intermediate)
    members.union(probes)
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val mem = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        val qry = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        it.foreach { case (_, id, v, isProbe) =>
          var i = 0; var s2 = 0.0
          while (i < v.length) { s2 += v(i).toDouble * v(i); i += 1 }
          val entry = (id, v, math.sqrt(s2))
          if (isProbe) qry += entry else mem += entry
        }
        qry.iterator.flatMap { case (qid, qv, qn) =>
          var bestCos = Double.NegativeInfinity
          var bestId = Long.MaxValue
          var j = 0
          while (j < mem.length) {
            val (cid, cv, cn) = mem(j)
            if (cid != qid) {
              var dp = 0.0; var k = 0
              while (k < qv.length) { dp += qv(k).toDouble * cv(k); k += 1 }
              val cos = dp / (qn * cn)
              if (cos > bestCos || (cos == bestCos && cid < bestId)) {
                bestCos = cos; bestId = cid
              }
            }
            j += 1
          }
          if (bestId == Long.MaxValue) Iterator.empty
          else Iterator.single((qid, bestId, bestCos))
        }
      }
      .toDF("vec_id", "cand_id", "cos_raw")
      // argmax across probed cells; duplicate candidates reached through
      // several probes are absorbed by the same max
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos_raw"), (-col("cand_id")).as("neg_id"))).as("best"))
      .select(col("vec_id"), (-col("best.neg_id")).as("nn_id"),
        round(col("best.cos_raw"), 4).as("cos"))
  }
}
