package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Corpus-curation operators a large-scale training-data pipeline layers on
  * top of the gate/dedup/decontam stack: a TRAINED quality classifier (the
  * fastText-classifier slot — reference anchor: the reference filters with
  * hand rules only, create_metadata_df.py's length/lang cuts), metadata-
  * FILTERED vector search (serve top-k among members satisfying an
  * attribute predicate — the standard vector-store feature), cluster-scoped
  * semantic dedup (SemDeDup, Abbas et al. 2023: prune near-duplicate
  * semantics WITHIN an embedding cluster — the published scalable
  * alternative to global pair search), and prototypicality pruning
  * (Sorscher et al. 2022 "Beyond neural scaling laws": drop the most
  * cluster-prototypical examples, keep the informative tail).
  *
  * All four are index/model-backed: bounded-sample fits, broadcast
  * parameters, partition-pruned index scans — never a corpus × corpus
  * plan. Every query exports its fitted parameters as oracle support so
  * DuckDB recomputes the served answers exactly (the q45/q94 pattern).
  */
object Curation {
  import Relational.Q

  // ---------------------------------------------------------------- q101

  /** Fit bound for the classifier (the IvfIndex.build / Topics.fit
    * `maxFitRows` discipline): the LBFGS fit reads a bounded seeded
    * sample; only the broadcast-weights scoring scan touches the corpus. */
  private[ops] val ClassifierMaxFitRows = 50000L

  /** The feature quadruple, shared by fit and serve so the model scores
    * exactly the features it was trained on: token count, token count
    * SQUARED (a concave weighting of (n, n²) lets the linear margin carve
    * the gate's word-count BAND — without it the distillation tops out
    * ~0.84 agreement), rounded mean word length, rounded stopword ratio.
    * Rounding happens BEFORE scoring so the margin is cross-engine exact
    * (the oracle recomputes from the same rounded values; n and n² are
    * integral doubles — exact by construction). */
  private def features: (Column, Column, Column, Column) = {
    val stop = Seq("the", "a", "of", "and", "or", "to", "in")
    val toks = TextFns.tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isin(stop: _*))).cast("double")
    val charsNoSpace =
      length(regexp_replace(TextFns.normText(col("text")), " ", "")).cast("double")
    (nTok, nTok * nTok, round(charsNoSpace / nTok, 4), round(nStop / nTok, 4))
  }

  /** Once-per-(session, dataset) logistic-regression fit DISTILLING the
    * q97 rule gate into a linear scorer: labels come from
    * [[TextOps.ruleGateKeep]] (no hand-annotation exists for synthetic
    * data, and "learn the hand rules, then generalize them" is exactly
    * how production quality classifiers are bootstrapped). The fitted
    * weights persist as a 1-row parquet — the artifact the serving scan
    * broadcasts and the oracle reads. */
  /** The q101 LR fit over an arbitrary document frame → a 5-value
    * weights row at `t`. ONE fit definition so the full-corpus
    * certification fit (q101) and the train-split fit (q215) can never
    * drift: same features, same weak labels, same sampling cap/seed,
    * same solver. */
  private def fitLrWeightsTo(s: SparkSession, docs: DataFrame, t: String): Unit = {
    import s.implicits._
    val (fTok, fTok2, fWlen, fStop) = features
    val n = docs.count()
    val sampled =
      if (n > ClassifierMaxFitRows)
        docs.sample(withReplacement = false, ClassifierMaxFitRows.toDouble / n, 7L)
      else docs
    val train = sampled
      .select(fTok.as("f1"), fTok2.as("f2"), fWlen.as("f3"), fStop.as("f4"),
        TextOps.ruleGateKeep().cast("double").as("label"))
      .na.drop()
      .select(org.apache.spark.ml.functions.array_to_vector(
        array(col("f1"), col("f2"), col("f3"), col("f4"))).as("features"),
        col("label"))
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(100).setRegParam(1e-4).setFitIntercept(true)
    val m = lr.fit(train)
    val w = m.coefficients.toArray
    Seq((w(0), w(1), w(2), w(3), m.intercept))
      .toDF("w_tokens", "w_tokens2", "w_wlen", "w_stop", "bias")
      .coalesce(1).write.mode("overwrite").parquet(t)
  }

  private def weightsDirOnly(s: SparkSession, d: String): String =
    SessionArtifacts.dir("quality-lr", s, d) { t =>
      fitLrWeightsTo(s, Tables.documents(s, d), t)
    }

  /** Both classifier fits of the session (the q101 full-corpus fit and
    * q215's train-split twin) build CONCURRENTLY on whichever is
    * requested first (r21 verdict #8, guide §2.6 — the ivf-pq pattern):
    * each is ~100 sequential LBFGS driver jobs over a tiny cached
    * sample, so the two fits interleave on an otherwise idle scheduler
    * and the pair's wall is ≈ one fit instead of two. Fits are seeded
    * and sample-bounded — weights bit-identical to the sequential order
    * (the existing classifier-parity specs); the Holder dedups, so a
    * session builds each fit exactly once. */
  private def weightsDir(s: SparkSession, d: String): String = {
    SessionArtifacts.inParallel(Seq(
      () => weightsDirOnly(s, d), () => trainWeightsDirOnly(s, d)))
    weightsDirOnly(s, d)
  }

  /** M9+ trained quality scoring: per-doc linear margin under the fitted
    * classifier + the keep verdict (margin > 0). The serve path is the
    * 100 TB shape: four broadcast scalars folded into a codegen'd
    * projection over one narrow scan — no join, no shuffle (the final
    * ORDER BY is presentation). Margin stays in log-odds space (linear
    * math only — cross-engine exact; a sigmoid would put libm `exp` on
    * the hash path for zero ranking information). */
  /** The fitted linear margin column (log-odds space) under the persisted
    * classifier — 5 broadcast scalars folded into a codegen'd projection;
    * shared by q101 and the retention policy q108 so both score the
    * exact expression the oracle recomputes. */
  private[ops] def marginCol(s: SparkSession, d: String): Column =
    marginFromWeights(s.read.parquet(weightsDir(s, d)).collect().head)

  /** The q101 margin from an explicit 5-value weights row — shared by
    * [[marginCol]] and the streaming gate-agreement monitor (which
    * serves a FROZEN weights table instead of the session fit). */
  private[graft] def marginFromWeights(r: org.apache.spark.sql.Row): Column = {
    val (fTok, fTok2, fWlen, fStop) = features
    lit(r.getDouble(0)) * fTok + lit(r.getDouble(1)) * fTok2 +
      lit(r.getDouble(2)) * fWlen + lit(r.getDouble(3)) * fStop +
      lit(r.getDouble(4))
  }

  val q101QualityClassifier: Q = (s, d) => {
    val margin = marginCol(s, d)
    val (fTok, _, _, _) = features
    Tables.documents(s, d)
      .select(col("doc_id"), fTok.cast("long").as("n_tokens"),
        round(margin, 4).as("margin"), (margin > 0).cast("long").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Oracle support for q101: the fitted weights row. */
  def writeClassifierSupport(s: SparkSession, d: String, outDir: String): Unit =
    s.read.parquet(weightsDir(s, d)).coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q101_support_weights")

  // ---------------------------------------------------------------- q142

  /** q142: classifier calibration report — per integer log-odds bin of
    * the q101 margin, the observed pass rate of the rule gate the
    * classifier was bootstrapped from ([[TextOps.ruleGateKeep]], its
    * training label). The reliability table a production pipeline reads
    * before trusting a learned gate at a new threshold: rates should
    * climb monotonically with the bin, ~0 in deep-negative bins, ~1 in
    * deep-positive ones; a flat or folded profile means the margin does
    * not rank the label and the threshold transfer is unsafe. Bins are
    * `floor` of the ROUNDED margin (the q101-certified value — floor of
    * hash-equal doubles is hash-equal; no ntile/window, so the report is
    * one aggregation over a codegen'd projection at any corpus size). */
  val q142ClassifierCalibration: Q = (s, d) => {
    val margin = marginCol(s, d)
    Tables.documents(s, d)
      .select(floor(round(margin, 4)).cast("long").as("bin"),
        TextOps.ruleGateKeep().cast("long").as("label"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("label")).cast("long").as("n_gate_pass"),
        round(sum(col("label")) / count(lit(1)), 4).as("gate_rate"))
      .orderBy(col("bin"))
  }

  // ---------------------------------------------------------------- q166

  /** q166: per-source classifier AUC — the discrimination metric that
    * completes q142's calibration report (calibration says the margin's
    * PROBABILITIES are honest; AUC says the margin RANKS the label at
    * all, per source — the slice where a learned gate quietly fails on
    * a domain it never saw). Computed as the exact Mann–Whitney
    * statistic with midrank tie handling: group docs by (source,
    * rounded margin), cumulative-count window for the rank floor,
    * midrank = cum_prev + (n+1)/2, AUC = (Σ_pos midrank −
    * n_pos(n_pos+1)/2) / (n_pos·n_neg). Every term before the final
    * division is an exact multiple of ½ far below 2⁻⁵²-loss range, so
    * the sum is order-independent and the metric is bit-stable
    * cross-engine — no sampling, no trapezoid approximation. A
    * single-class source (nothing to rank) reports the chance value
    * 0.5 by convention.
    *
    * Scale shape: one corpus-pass projection (margin is a codegen'd
    * literal-weight expression), one (source, score) pre-aggregation
    * — at most |sources|·10⁴·margin-span rows after rounding — then a
    * source-partitioned window over that AGGREGATED table and a
    * source-sized report. The window never sees per-doc rows. */
  val q166ClassifierAuc: Q = (s, d) => {
    val margin = marginCol(s, d)
    aucBySource(Tables.documents(s, d)
      .select(col("source"), round(margin, 4).as("score"),
        TextOps.ruleGateKeep().cast("long").as("label")))
  }

  /** The q163/q206 hash split (md5-prefix < '4' ≈ 25 % test), reused so
    * every held-out eval in the engine holds out the SAME quarter. */
  private def isTestSplit: Column =
    substring(md5(col("doc_id").cast("string")), 1, 1) < "4"

  /** Once-per-(session, dataset) TRAIN-SPLIT classifier fit: the q101 LR
    * refit on the q163 hash-train half only, through the SHARED
    * [[fitLrWeightsTo]]. */
  private def trainWeightsDirOnly(s: SparkSession, d: String): String =
    SessionArtifacts.dir("quality-lr-train", s, d) { t =>
      fitLrWeightsTo(s, Tables.documents(s, d).filter(!isTestSplit), t)
    }

  /** q215's entry — overlaps the sibling full-corpus fit exactly as
    * [[weightsDir]] does (symmetric: whichever fit is demanded first
    * builds the family). */
  private def trainWeightsDir(s: SparkSession, d: String): String = {
    SessionArtifacts.inParallel(Seq(
      () => trainWeightsDirOnly(s, d), () => weightsDirOnly(s, d)))
    trainWeightsDirOnly(s, d)
  }

  /** Oracle support for q215: the train-split fit's weights row. */
  def writeHeldoutClassifierSupport(s: SparkSession, d: String,
      outDir: String): Unit =
    s.read.parquet(trainWeightsDir(s, d)).coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q215_support_weights")

  /** q215: HELD-OUT classifier AUC — the q206 doctrine applied to the
    * quality classifier: q166's AUC scores the same documents the
    * weights were fit on, so its reading carries the same inferential
    * gap q177's in-sample perplexity ladder did. Here the LR refits on
    * the q163 hash-train half ([[fitLrWeightsTo]] — one fit definition
    * with q101) and the AUC is computed ONLY on the held-out quarter,
    * per source, against the same rule-gate labels. Read next to q166:
    * a source whose held-out AUC sits far under its in-sample reading
    * is one where the classifier memorizes surface statistics instead
    * of ranking quality. The fit is the given (exported weights, the
    * q101/q211 support doctrine); the oracle recomputes features,
    * margin, labels, split, and the exact midrank AUC fold. */
  val q215HeldoutAuc: Q = (s, d) => {
    val margin = marginFromWeights(
      s.read.parquet(trainWeightsDir(s, d)).collect().head)
    aucBySource(Tables.documents(s, d)
      .filter(isTestSplit)
      .select(col("source"), round(margin, 4).as("score"),
        TextOps.ruleGateKeep().cast("long").as("label")))
  }

  /** The q166 midrank Mann–Whitney fold over an arbitrary (source,
    * score, label) frame — factored so specs can pin it against a
    * brute-force pair count on planted fixtures. */
  private[graft] def aucBySource(scored: DataFrame): DataFrame = {
    val g1 = scored
      .groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("n"), sum(col("label")).cast("long").as("npos"))
    val w = Window.partitionBy(col("source")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g1.withColumn("cum_prev", coalesce(sum(col("n")).over(w), lit(0L)))
      .groupBy(col("source"))
      .agg(sum(col("n")).cast("long").as("n_docs"),
        sum(col("npos")).cast("long").as("n_pos"),
        sum(col("npos") * (col("cum_prev") + (col("n") + 1) / lit(2.0)))
          .as("rank_sum"))
      .select(col("source"), col("n_docs"), col("n_pos"),
        (col("n_docs") - col("n_pos")).as("n_neg"),
        when(col("n_pos") === 0 || col("n_docs") === col("n_pos"), 0.5)
          .otherwise(round(
            (col("rank_sum") - col("n_pos") * (col("n_pos") + 1) / lit(2.0)) /
              (col("n_pos") * (col("n_docs") - col("n_pos"))), 4)).as("auc"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q102

  /** The metadata predicate q102 certifies (labels come from the
    * embeddings table): interpolated into the engine filter AND the
    * oracle's IN list, the [[Similarity.AnnNProbe]] single-knob
    * discipline. */
  private[graft] val FilteredLabels = Seq(0, 2, 4, 6, 8)
  private[graft] val FilteredNProbe = 3

  /** Once-per-(session, dataset) ATTRIBUTE-CARRYING cell table derived
    * from the q45 serving index: members joined to their label and
    * rewritten cell-partitioned, so a filtered search reads probed-cell
    * partitions with the label predicate pushed into the parquet scan
    * (row-group pruning) — the "filtered vector search" storage shape.
    * One join at artifact-build time; serving never joins. */
  private def filteredCellsDir(s: SparkSession, d: String): String =
    SessionArtifacts.dir("ivf-filtered-cells", s, d) { t =>
      val idx = IvfIndex.load(s, Similarity.ivfDir(s, d))
      idx.cells
        .select(col("cell").cast("long").as("cell"), col("vec_id"), col("embedding"))
        .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")), Seq("vec_id"))
        .select(col("cell"), col("vec_id"), col("embedding"), col("label"))
        .write.partitionBy("cell").mode("overwrite").parquet(t)
    }

  /** M8's FILTERED serving tier: top-k among index members whose label
    * satisfies the predicate — same pruned small-batch shape as q99
    * (batch × nProbe < nCells ⇒ strict-subset partition pruning), plus
    * the label filter PUSHED into the member scan (plan-asserted:
    * partition filter on cell AND PushedFilters In(label) — the scan
    * reads only probed cells, and within them only row groups that can
    * hold allowed labels). Query vectors are NOT filtered — the contract
    * is "neighbors among members with label ∈ S". Oracle recomputes the
    * whole path from the exported membership restricted by the same
    * predicate. */
  val q102AnnFiltered: Q = (s, d) => {
    val base = IvfIndex.load(s, Similarity.ivfDir(s, d))
    val cells = s.read.parquet(filteredCellsDir(s, d))
      .filter(col("label").isInCollection(FilteredLabels))
      .select(col("cell"), col("vec_id"), col("embedding"))
    IvfIndex.searchTopK(s, IvfIndex(base.centroids, cells, base.nReplicas),
        Tables.embeddings(s, d)
          .filter(col("vec_id") < Similarity.ServeBatchMaxId)
          .select(col("vec_id"), col("embedding")),
        k = 3, nProbe = FilteredNProbe)
      .orderBy(col("vec_id"), col("rn"))
  }

  // ---------------------------------------------------------------- q103

  /** SemDeDup cosine threshold — within-cluster near-duplicate cut.
    * Lower than q74's 0.4: within-cell pairs are a SUBSET of all pairs,
    * and the diffuse certification embeddings need a looser cut to
    * exercise non-trivial group structure (production settings are ~0.9
    * on real, clustered embeddings). */
  private[graft] val SemDedupCosT = 0.3

  /** Cluster-scoped semantic dedup (SemDeDup): near-duplicate groups are
    * found WITHIN each cluster of the single-assignment dedup index —
    * the published trade (cross-cluster duplicates are missed BY DESIGN;
    * the clustering is the blocking step that makes the sweep linear-ish:
    * Σ|cell|² at bounded cell size, vs q74's exhaustive-equal cell-pair
    * bound). Each group collapses to its min vec_id via the same
    * [[ConnectedComponents]] as q74/q56; edges never cross cells, so
    * components are cluster-scoped automatically. Output rows are the
    * vectors that participate in at least one within-cell near-dup pair
    * (the q74 contract). */
  val q103SemDedup: Q = (s, d) => {
    val idx = IvfIndex.load(s, Similarity.dedupIvfDir(s, d))
    val members = idx.cells
      .select(col("cell").cast("long").as("cell"), col("vec_id"), col("embedding"))
    val edges = withinCellEdges(s, members, SemDedupCosT)
    ConnectedComponents.run(edges)
      .select(col("vertex").as("vec_id"), col("label").as("keep_id"))
      .join(members.select(col("cell"), col("vec_id")), Seq("vec_id"))
      .select(col("vec_id"), col("cell"),  col("keep_id"),
        (col("vec_id") =!= col("keep_id")).cast("long").as("is_dup"))
      .orderBy(col("vec_id"))
  }

  /** Hot-cell guard bound for [[withinCellEdges]]: cells above this size
    * split into hash-group sub-tasks (the [[Dedup.bucketedCandidates]]
    * triangle discipline). The dedup index sizes cells ~64 (nCells =
    * n/64), so the guard is dormant on the certified path; it exists for
    * the adversarial case — KMeans imbalance or naturally clustered
    * embeddings piling one Voronoi cell far past the design size, which
    * at 100 TB would otherwise stall the stage on one quadratic task. */
  private[graft] val CellCap = 512

  /** Within-cell exact-cosine pair generation: the cell is the blocking
    * key — single assignment means each unordered pair is examined
    * exactly once. Cells ≤ `cap` sweep in one task; a hot cell of m
    * members splits into ⌈m/cap⌉ hash-groups and one task per UNORDERED
    * GROUP PAIR (gi ≤ gj), so per-task work is bounded ~cap² with zero
    * recall loss: a cross-group pair meets exactly in its (min,max)
    * task, a same-group pair in every task touching the group but is
    * emitted only on the diagonal (gi = gj = grp). Exactness under
    * forced splitting is unit-asserted (`CurationSpec`). The split ships
    * each member vector ng× through the shuffle — O(m²/cap) rows for a
    * hot cell, strictly smaller than the O(m²·dim) pair compute that
    * exactness requires anyway; what the guard changes is the MAX-TASK
    * share, which is what stalls a stage at scale. */
  private[graft] def withinCellEdges(s: SparkSession, members: DataFrame,
      t: Double, cap: Int = CellCap): DataFrame = {
    import s.implicits._
    val sizes = members.groupBy(col("cell")).agg(count(lit(1)).as("ccnt"))
    val tasks = members.join(sizes, Seq("cell"))
      .withColumn("ng",
        greatest(lit(1L), ceil(col("ccnt").cast("double") / cap)).cast("int"))
      .withColumn("grp", pmod(xxhash64(col("vec_id")), col("ng")).cast("int"))
      .withColumn("sub", explode(sequence(lit(0), col("ng") - 1)))
      .select(col("cell"), least(col("grp"), col("sub")).as("t1"),
        greatest(col("grp"), col("sub")).as("t2"), col("grp"),
        col("vec_id"), col("embedding"))
    tasks.as[(Long, Int, Int, Int, Long, Array[Float])]
      .groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroups { (key: (Long, Int, Int), rows) =>
        val (_, t1, t2) = key
        val a = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        rows.foreach { case (_, _, _, grp, id, v) =>
          var i = 0; var s2 = 0.0
          while (i < v.length) { s2 += v(i).toDouble * v(i); i += 1 }
          if (grp == t1) a += ((id, v, math.sqrt(s2)))
          else b += ((id, v, math.sqrt(s2)))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        def emit(x: (Long, Array[Float], Double), y: (Long, Array[Float], Double)): Unit = {
          val (ia, va, na) = x; val (ib, vb, nb) = y
          var dp = 0.0; var k = 0
          while (k < va.length) { dp += va(k).toDouble * vb(k); k += 1 }
          if (dp / (na * nb) >= t)
            out += ((math.min(ia, ib), math.max(ia, ib)))
        }
        if (t1 == t2) { // diagonal: all rows share grp = t1; sweep all pairs
          var i = 0
          while (i < a.length) {
            var j = i + 1
            while (j < a.length) { emit(a(i), a(j)); j += 1 }
            i += 1
          }
        } else { // off-diagonal: only cross-group pairs belong to this task
          var i = 0
          while (i < a.length) {
            var j = 0
            while (j < b.length) { emit(a(i), b(j)); j += 1 }
            i += 1
          }
        }
        out.iterator
      }
      .toDF("vec_a", "vec_b")
  }

  /** One semantic-dedup ADMISSION step over a bounded batch (the kernel of
    * [[graft.streaming.Incremental.continuousSemanticDedup]]): drop batch
    * vectors that near-duplicate (cosine ≥ t) an EARLIER batch vector —
    * within-batch blocking by 2-way cell assignment under `codebook` (a
    * boundary pair still meets in a shared second-nearest cell; duplicate
    * edges across the two cells are harmless to the closure) — or any
    * member of the persisted index (probe-pruned [[IvfIndex.searchTop1]]:
    * only the batch's probed cells are read, never the corpus). Returns
    * the surviving rows of `batch` unchanged. */
  def semanticAdmit(s: SparkSession, batch: DataFrame, idx: Option[IvfIndex],
      codebook: Array[Array[Double]], t: Double, nProbe: Int): DataFrame = {
    import s.implicits._
    val bcC = s.sparkContext.broadcast(codebook)
    val blockReplicas = math.min(2, codebook.length)
    val blocked = batch.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        IvfIndex.nearestCells(bcC.value, IvfIndex.unit(v), blockReplicas)
          .map(c => (c.toLong, id, v))
      }
      .toDF("cell", "vec_id", "embedding")
    val selfDups = ConnectedComponents.run(withinCellEdges(s, blocked, t))
      .filter(col("vertex") =!= col("label"))
      .select(col("vertex").as("vec_id"))
    val inBatch = batch.join(selfDups, Seq("vec_id"), "left_anti")
    idx match {
      case Some(i) =>
        // searchTop1's cos is round-4 (its serving contract); a true
        // cosine within 5e-5 of t may round across the cut — pick t away
        // from a meaningful boundary, as any threshold knob here
        val hits = IvfIndex.searchTop1(s, i,
            inBatch.select(col("vec_id"), col("embedding")), nProbe)
          .filter(col("cos") >= t).select(col("vec_id"))
        inBatch.join(hits, Seq("vec_id"), "left_anti")
      case None => inBatch
    }
  }

  // ---------------------------------------------------------------- q104

  /** Fraction of each cluster's MOST prototypical members to drop. */
  private[graft] val PruneFrac = 0.3

  /** Prototypicality pruning (SSL-prototypes): rank every vector by its
    * unit-space squared distance to its own cluster centroid and drop the
    * closest [[PruneFrac]] per cluster — easy, redundant examples go, the
    * informative tail stays. One narrow pass over the index computes the
    * distance (broadcast codebook), then a PER-CELL window ranks it
    * (partitioned — parallel across cells, bounded by cell size, no
    * global sort). Exact given the exported assignment + codebook, so the
    * oracle certifies the ranking and the cut, not just row counts. */
  val q104ProtoPrune: Q = (s, d) => {
    val idx = IvfIndex.load(s, Similarity.dedupIvfDir(s, d))
    protoPrune(s,
      idx.cells.select(col("cell").cast("long").as("cell"), col("vec_id"),
        col("embedding")),
      idx.centroids)
      .orderBy(col("vec_id"))
  }

  /** The q104 kernel over an explicit (cell, vec_id, embedding) member
    * table: one narrow distance pass (broadcast codebook) + the per-cell
    * rank window + the ceil cut. */
  private[graft] def protoPrune(s: SparkSession, members: DataFrame,
      centroids: Array[Array[Double]], frac: Double = PruneFrac): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(centroids)
    val dists = members
      .as[(Long, Long, Array[Float])]
      .map { case (cell, id, v) =>
        val u = IvfIndex.unit(v)
        val ct = bc.value(cell.toInt)
        var d2 = 0.0; var i = 0
        while (i < u.length) { val dv = u(i).toDouble - ct(i); d2 += dv * dv; i += 1 }
        (cell, id, d2)
      }
      .toDF("cell", "vec_id", "d2")
    val byCell = Window.partitionBy(col("cell"))
    val rn = row_number().over(byCell.orderBy(col("d2"), col("vec_id")))
    val nCell = count(lit(1)).over(byCell)
    dists
      .select(col("vec_id"), col("cell"), round(col("d2"), 4).as("dist2"),
        rn.as("rn"), nCell.as("n_cell"))
      .withColumn("keep",
        (col("rn") > ceil(lit(frac) * col("n_cell"))).cast("long"))
  }

  // ---------------------------------------------------------------- q105

  /** DSIR's hashed-feature space (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): bigrams hashed into a
    * fixed bucket space. The bucket key is the md5 2-hex-char prefix —
    * 256 buckets, string-keyed, so the engine and the DuckDB oracle hash
    * identically (the q67 md5-prefix discipline; a numeric modulus would
    * need a cross-engine hex→int that DuckDB lacks). */
  private[graft] val DsirTargetLang = "en"
  private[graft] val DsirBuckets = 256

  /** Whitespace-token bigram stream of `text`, as hashed bucket INDEXES
    * (0..255 — the md5 first byte), via the native codegen kernel
    * ([[graft.plans.DsirBuckets]] — the HOF `transform`+`md5` form runs
    * interpreted per gram and measured 10× slower on exactly this
    * column). Computed identically at fit and serve (the q101
    * shared-features discipline); the export/oracle boundary renders the
    * index as the 2-hex-char string. */
  private def dsirBuckets: Column =
    org.apache.spark.sql.graft.GraftInternal.column(
      graft.plans.DsirBuckets(
        org.apache.spark.sql.graft.GraftInternal.expression(col("text"))))

  /** Once-per-(session, dataset) DSIR importance model: per-bucket
    * log-ratio of the target bigram distribution (docs whose lang is
    * [[DsirTargetLang]] — the reference's own English-only cut,
    * create_metadata_df.py's lang filter, recast as a soft importance
    * weight) against the raw corpus distribution, add-1 smoothed. Stored
    * as MICRO-UNITS (round(ln-ratio · 1e6) as BIGINT) so per-doc weights
    * are integer sums — order-independent and cross-engine EXACT, with no
    * libm `ln` on the oracle's hash path (the engine's ln lives only in
    * this exported fit, which the oracle reads as a given — the q101
    * weights pattern). One explode + one 256-group aggregation over the
    * corpus; the model itself is 256 rows. */
  /** The DSIR model fit over an explicit (doc_id, text, lang) corpus —
    * one explode + one 256-group aggregation; only the 256-row model
    * reaches the driver. Shared by the session artifact and the scaling
    * smoke (which fits on inflated corpora). */
  private[graft] def fitDsir(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val counts = docs
      .select((col("lang") === DsirTargetLang).as("is_t"),
        explode(dsirBuckets).as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .collect()
    val nt = counts.map(_.getLong(1)).sum.toDouble
    val nr = counts.map(_.getLong(2)).sum.toDouble
    counts.toSeq.map { r =>
      val lr = math.log((r.getLong(1) + 1.0) / (nt + DsirBuckets)) -
        math.log((r.getLong(2) + 1.0) / (nr + DsirBuckets))
      (f"${r.getInt(0)}%02x", math.round(lr * 1e6))
    }.toDF("bucket", "lr_micro")
  }

  private[graft] def dsirDir(s: SparkSession, d: String): String =
    SessionArtifacts.dir("dsir-logratio", s, d) { t =>
      fitDsir(s, Tables.documents(s, d))
        .coalesce(1).write.mode("overwrite").parquet(t)
    }

  /** M9+ importance-weighted data selection (DSIR): per-doc importance
    * weight = Σ over its hashed bigrams of the bucket's log-ratio
    * micro-units; `selected` keeps docs that look more target-like than
    * raw (w > 0 — a threshold cut, not a global rank, so selection stays
    * embarrassingly parallel). The serve path is the q101 shape scaled to
    * a 256-slot model: one narrow scan, the whole model folded into the
    * projection as an array literal indexed by the bucket byte — no join,
    * no shuffle (the final ORDER BY is presentation). Integer summation
    * in array order ⇒ bit-exact regardless of partitioning. */
  val q105DsirWeights: Q = (s, d) => {
    // 256-SLOT model array indexed by the bucket byte, fused with the
    // bigram walk in ONE compiled pass ([[graft.plans.DsirWeight]]): a
    // string-keyed MAP literal + HOF sum measured 32 s warm at sf0.1
    // (linear 256-way key scan per gram, interpreted); the native kernel
    // serves the same scan in ~1 s
    val pair = dsirWeightPair(dsirModelSlots(s, dsirDir(s, d)))
    // barrier (the q66 discipline): three output columns derive from the
    // pair, and CollapseProject would otherwise re-run the bigram kernel
    // once per reference; the cached column is two longs per doc
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), pair.as("p"))
      .cache()
    Caching.materializeAndRelease(
      scored
        .select(col("doc_id"),
          element_at(col("p"), 1).as("n_grams"),
          element_at(col("p"), 2).as("w_micro"),
          (element_at(col("p"), 2) > 0).cast("long").as("selected"))
        .orderBy(col("doc_id")),
      scored)
  }

  /** Load a persisted DSIR log-ratio table (the [[dsirDir]] layout:
    * 2-hex-char bucket, micro-unit log ratio) into the 256-slot array
    * the fused kernel indexes by bucket byte. Shared by q105 and the
    * streaming scorer ([[graft.streaming.Incremental
    * .continuousDsirScoring]]) so batch and stream can never disagree on
    * the model decode. */
  def dsirModelSlots(s: SparkSession, modelDir: String): Array[Long] = {
    val slots = new Array[Long](DsirBuckets)
    s.read.parquet(modelDir).collect()
      .foreach(r => slots(Integer.parseInt(r.getString(0), 16)) = r.getLong(1))
    slots
  }

  /** The fused (n_grams, w_micro) scoring column over `text` for a
    * 256-slot model array — ONE compiled pass per document. */
  def dsirWeightPair(slots: Array[Long]): Column =
    org.apache.spark.sql.graft.GraftInternal.column(
      graft.plans.DsirWeight(
        org.apache.spark.sql.graft.GraftInternal.expression(col("text")), slots))

  /** Oracle support for q105: the fitted 256-row log-ratio table. */
  def writeDsirSupport(s: SparkSession, d: String, outDir: String): Unit =
    s.read.parquet(dsirDir(s, d)).coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q105_support_logratio")

  // ---------------------------------------------------------------- q106

  /** Negatives per query for q106. */
  private[graft] val HardNegK = 3

  /** M8's contrastive-mining tier: for each query vector, the top-k
    * highest-cosine index members whose label DIFFERS from the query's —
    * hard negatives for embedding/contrastive training (the ANN-mining
    * shape of e.g. DPR/SimCSE pipelines). Served by the FUSED
    * group-exclusion kernel ([[IvfIndex.searchTopKExcludingGroup]]):
    * members come from the q102 label-carrying cell table (partition
    * filter on the probed cells — each probed cell is read ONCE for the
    * whole batch, where a per-label loop of filtered searches would read
    * it once per distinct batch label), and the label-mismatch test runs
    * per candidate pair inside the cell group. Routing is
    * label-independent (same codebook), so the result equals the
    * specification "rank label-mismatched probed-cell members by
    * (cos desc, id)" — exactly what the oracle recomputes from the
    * exported index + the embeddings table's labels. */
  val q106HardNegatives: Q = (s, d) => {
    val base = IvfIndex.load(s, Similarity.ivfDir(s, d))
    IvfIndex.searchTopKExcludingGroup(s, base.centroids,
        s.read.parquet(filteredCellsDir(s, d))
          .select(col("cell"), col("vec_id"), col("embedding"),
            col("label").as("grp")),
        Tables.embeddings(s, d)
          .filter(col("vec_id") < Similarity.ServeBatchMaxId)
          .select(col("vec_id"), col("embedding"), col("label").as("grp")),
        k = HardNegK, nProbe = Similarity.ServeNProbe)
      .select(col("vec_id"), col("rn"), col("nn_id").as("neg_id"), col("cos"))
      .orderBy(col("vec_id"), col("rn"))
  }

  // ---------------------------------------------------------------- q107

  /** Temperature for the language-rebalancing mixture. τ = 0.5 means the
    * per-lang sampling mass is the SQUARE ROOT of its token share,
    * renormalized — the standard multilingual-pretraining rebalance
    * (upweight tail languages, damp the head). sqrt is IEEE-correctly
    * rounded, so the fit is reproducible bit-for-bit; the value is
    * deliberately not a free knob (τ ≠ 0.5 would put libm `pow` in the
    * fit — still exported, still oracle-safe, but no longer bit-stable
    * across libm builds). */
  private[graft] val MixTau = 0.5

  /** Fraction of the corpus token mass the rebalanced sample targets. */
  private[graft] val MixBudgetFrac = 0.5

  /** Once-per-(session, dataset) temperature-mixture fit: per-language
    * token mass → share^τ renormalized → per-language admit RATE that
    * spends a [[MixBudgetFrac]] token budget at the rebalanced
    * proportions (capped at 1 — a tail language whose rebalanced
    * allocation exceeds its supply keeps everything; the budget is a
    * target, not a constraint solver, matching the published practice).
    * Rates export as 16-bit integer thresholds (round(rate·65536)) so
    * the admit test is an INTEGER compare against the first 4 md5 hex
    * chars — deterministic across engines, reruns, and partitionings
    * (the q83/q86 hash-admit discipline; no RNG state). One aggregation
    * over the corpus; the model is one row per language. */
  /** The temperature-mixture fit over an explicit (doc_id, text, lang)
    * corpus — one aggregation; only the per-language row set reaches the
    * driver. Shared by the session artifact and the scaling smoke. */
  private[graft] def fitTempMix(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val agg = docs
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFns.tokenCount(col("text"))).cast("long").as("tokens_in"))
      .collect()
    val total = agg.map(_.getLong(2)).sum.toDouble
    val mass = agg.map(r => math.sqrt(r.getLong(2) / total)) // share^τ, τ=0.5
    val z = mass.sum
    val budget = total * MixBudgetFrac
    agg.toSeq.zip(mass).map { case (r, m) =>
      val p = m / z
      val toks = r.getLong(2)
      val rate = if (toks == 0L) 1.0 else math.min(1.0, p * budget / toks)
      (r.getString(0), r.getLong(1), toks,
        math.round(p * 1e6), math.min(65536L, math.round(rate * 65536)))
    }.toDF("lang", "n_docs", "tokens_in", "p_micro", "thr16")
  }

  private[ops] def tempMix(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.table("temp-mix", s, d)(
      fitTempMix(s, Tables.documents(s, d)).coalesce(1))

  /** M9+ temperature-rebalanced language mixture (the τ-sampling of
    * multilingual pretraining, cf. mBERT/XLM-R exponent-smoothed
    * sampling): per-doc deterministic admit under the fitted per-lang
    * rate, reported as a per-language funnel (docs/tokens in vs kept).
    * The serve path is one narrow scan + a broadcast join against the
    * ≤|langs|-row rate table + the final small rollup — no corpus
    * shuffle before the aggregate's own map-side combine. Unlike q83
    * (static mixing config), the rates here are FIT from the corpus and
    * exported, the q101/q105 model-artifact pattern. */
  val q107TempMix: Q = (s, d) => {
    val rates = tempMix(s, d).select(col("lang"), col("thr16"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), TextFns.tokenCount(col("text")).as("ntoks"))
      .join(broadcast(rates), Seq("lang"))
      .withColumn("admitted", tempMixAdmit.cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntoks")).cast("long").as("tokens_in"),
        sum(col("admitted")).cast("long").as("docs_kept"),
        sum(col("ntoks") * col("admitted")).cast("long").as("tokens_kept"))
      .orderBy(col("lang"))
  }

  /** The q107 admit decision of a row joined to its language's rate: the
    * md5-prefix integer of `doc_id` under `thr16` — deterministic per
    * document, so the batch report and the streaming admission
    * ([[graft.streaming.Incremental.continuousTempMixAdmit]]) decide
    * identically. */
  private[graft] val tempMixAdmit: Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") < col("thr16")

  // ---------------------------------------------------------------- q108

  /** Quality-aware dedup retention (the FineWeb/DataComp refinement of
    * min-id canonicalization): within each near-duplicate component
    * (q56's trigram-Jaccard ≥ 0.8 closure), keep the member the q101
    * classifier scores HIGHEST — dedup should discard the redundant
    * copies, not the best-written one. Components come from the
    * certified MinHash candidates→verify→closure stack (bucketed, never
    * all-pairs); margins are the q101 broadcast-scalar projection; the
    * retention pick is a per-component rank window (partitioned by
    * component — parallel across groups, bounded by group size; the
    * corpus-side margin scan is narrow and the join against the
    * component table is duplicate-docs-sized, which AQE broadcasts at
    * runtime). Ranking uses the ROUNDED margin (the certified q101
    * output convention) with doc_id as the tie-break, so the pick is
    * cross-engine deterministic. */
  val q108QualityRetention: Q = (s, d) => {
    val comp = Dedup.dedupComponents(s, d)
      .select(col("vertex").as("doc_id"), col("label").as("group_id"))
    val margins = Tables.documents(s, d)
      .select(col("doc_id"), round(marginCol(s, d), 4).as("margin"))
    val byGrp = Window.partitionBy(col("group_id"))
      .orderBy(col("margin").desc, col("doc_id"))
    comp.join(margins, Seq("doc_id"))
      .withColumn("keep", (row_number().over(byGrp) === 1).cast("long"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q109

  /** Validation share for the leakage-safe split: groups whose md5 2-hex
    * prefix falls under this go to `val` (0x1a/0x100 ≈ 10.2%). */
  private[graft] val ValThr = "1a"

  /** Leakage-safe train/validation split (the GroupShuffleSplit
    * discipline every eval pipeline needs): the unit of assignment is
    * the NEAR-DUPLICATE COMPONENT (q56's trigram-Jaccard closure), not
    * the document — a near-dup pair straddling the split boundary leaks
    * training text into evaluation, the exact failure train/test
    * contamination checks exist to catch. Docs outside any component
    * are singleton groups (their own id). Assignment is the
    * deterministic md5-prefix admit on the GROUP id, so group members
    * agree by construction (unit-asserted) and the split is stable
    * across reruns and cluster sizes. The component table is
    * duplicate-docs-sized — AQE broadcasts the join; everything else is
    * one narrow pass. */
  val q109LeakageSplit: Q = (s, d) => {
    val comp = Dedup.dedupComponents(s, d)
      .select(col("vertex").as("doc_id"), col("label").as("grp"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("grp"), col("doc_id")))
      .select(col("doc_id"), col("group_id"),
        when(substring(md5(col("group_id").cast("string")), 1, 2) < ValThr,
          "val").otherwise("train").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Oracle support for q107: the fitted per-language rate table. */
  def writeTempMixSupport(s: SparkSession, d: String, outDir: String): Unit =
    tempMix(s, d).coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q107_support_rates")

  /** Oracle support for q103/q104: the single-assignment dedup index as
    * plain parquet — membership (cell, vec_id) and the codebook. Given
    * these, within-cell pairing, closure, and centroid distances are
    * fully deterministic (the q45 exported-index pattern). */
  def writeDedupIndexSupport(s: SparkSession, d: String, outDir: String): Unit = {
    import s.implicits._
    val idx = IvfIndex.load(s, Similarity.dedupIvfDir(s, d))
    idx.cells.select(col("cell").cast("long").as("cell"), col("vec_id"))
      .write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q103_support_cells")
    idx.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq
      .toDF("cell", "centroid").coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q103_support_centroids")
  }

  // ---------------------------------------------------------------- q111

  /** Every 50th vec_id is the held-out benchmark set q111 decontaminates
    * against (deterministic, so the oracle recomputes the same batch). */
  private[graft] val DecontamEvalMod = 50

  /** Semantic-contamination cosine floor. Deliberately LOOSER than q74's
    * 0.4 near-duplicate threshold (an independent constant — retuning
    * one does not move the other): decontamination errs toward flagging,
    * since a missed leak poisons an eval while a spurious flag only
    * quarantines one document. 0.35 sits just under the synthetic
    * corpus's top cosine tail so the certified output is non-trivial at
    * test scale; production embeddings would run ~0.9. */
  private[graft] val DecontamCos = 0.35

  /** Semantic decontamination (the embedding-space complement of the
    * n-gram passes q69/q82): flag every corpus member whose cosine to any
    * held-out benchmark embedding clears [[DecontamCos]] — paraphrased or
    * lightly-edited benchmark leakage that exact and Bloom n-gram
    * matching cannot see. Serving shape: the benchmark batch (corpus/50
    * vectors) probes the persisted q45 IVF index via the THRESHOLD search
    * ([[IvfIndex.searchThreshold]]) — partition-pruned member scan, one
    * fused probe shuffle, full over-threshold match set (a decontam pass
    * must report every hit, so no top-k bound). At 100 TB the scan cost
    * is the probed fraction of the index; the output is leak-sized, not
    * corpus-sized. Oracle: the q99 serve CTEs (routing + candidates +
    * cosine recomputed from the exported index) with the rn-cut replaced
    * by the threshold predicate on the RAW cosine — same filter-then-
    * round order as the kernel. */
  val q111SemDecontam: Q = (s, d) => {
    val idx = IvfIndex.load(s, Similarity.ivfDir(s, d))
    IvfIndex.searchThreshold(s, idx,
        Tables.embeddings(s, d)
          .filter(col("vec_id") % DecontamEvalMod === 0)
          .select(col("vec_id"), col("embedding")),
        minCos = DecontamCos,
        nProbe = Similarity.probeSchedule(idx.centroids.length))
      .select(col("vec_id"), col("query_id").as("eval_id"), col("cos"))
      .orderBy(col("vec_id"), col("eval_id"))
  }

  // ---------------------------------------------------------------- maps

  def queries: Map[String, Q] = Map(
    "q101_quality_classifier" -> q101QualityClassifier,
    "q142_classifier_calibration" -> q142ClassifierCalibration,
    "q166_classifier_auc" -> q166ClassifierAuc,
    "q215_heldout_auc" -> q215HeldoutAuc,
    "q102_ann_filtered"       -> q102AnnFiltered,
    "q103_semdedup"           -> q103SemDedup,
    "q104_proto_prune"        -> q104ProtoPrune,
    "q105_dsir_weights"       -> q105DsirWeights,
    "q106_hard_negatives"     -> q106HardNegatives,
    "q107_temp_mix"           -> q107TempMix,
    "q108_quality_retention"  -> q108QualityRetention,
    "q109_leakage_split"      -> q109LeakageSplit,
    "q111_sem_decontam"       -> q111SemDecontam,
  )

  import Similarity.{duckDot, duckNorm}

  def oracle: Map[String, String] = Map(
    // Features recomputed exactly as q34's oracle (same tokenization, same
    // rounding BEFORE scoring); margin = w·f + b over the exported weights
    // in the engine's operand order, so the double math is bit-identical.
    "q101_quality_classifier" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_tok,
        |    CAST(len(toks) AS DOUBLE) * CAST(len(toks) AS DOUBLE) AS n_tok2,
        |    round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks), 4) AS awl,
        |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE) / len(toks), 4) AS sr
        |  FROM t),
        |w AS (
        |  SELECT w_tokens, w_tokens2, w_wlen, w_stop, bias
        |  FROM read_parquet('{GRAFT_OUT}_support/q101_support_weights/*.parquet'))
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
        |  round(w.w_tokens * f.n_tok + w.w_tokens2 * f.n_tok2 + w.w_wlen * f.awl + w.w_stop * f.sr + w.bias, 4) AS margin,
        |  CAST(w.w_tokens * f.n_tok + w.w_tokens2 * f.n_tok2 + w.w_wlen * f.awl + w.w_stop * f.sr + w.bias > 0 AS BIGINT) AS keep
        |FROM f CROSS JOIN w ORDER BY doc_id""".stripMargin,
    // q101's margin CTE binned + the q97 gate CASE (default config) as
    // the label — identical rounding order on both sides of both columns
    "q142_classifier_calibration" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_tok,
        |    CAST(len(toks) AS DOUBLE) * CAST(len(toks) AS DOUBLE) AS n_tok2,
        |    round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks), 4) AS awl,
        |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE) / len(toks), 4) AS sr
        |  FROM t),
        |w AS (
        |  SELECT w_tokens, w_tokens2, w_wlen, w_stop, bias
        |  FROM read_parquet('{GRAFT_OUT}_support/q101_support_weights/*.parquet')),
        |mg AS (
        |  SELECT f.doc_id,
        |    CAST(floor(round(w.w_tokens * f.n_tok + w.w_tokens2 * f.n_tok2 + w.w_wlen * f.awl + w.w_stop * f.sr + w.bias, 4)) AS BIGINT) AS bin
        |  FROM f CROSS JOIN w),
        |gt AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN len(toks) BETWEEN 30 AND 90
        |      AND round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks), 4) BETWEEN 3 AND 10
        |      AND (CAST(list_contains(toks, 'the') AS BIGINT)
        |           + CAST(list_contains(toks, 'a') AS BIGINT)
        |           + CAST(list_contains(toks, 'of') AS BIGINT)) >= 1
        |      AND round((length(text) - length(replace(text, '#', ''))) * 1.0 / len(toks), 4) <= 0.1
        |      THEN 1 ELSE 0 END AS BIGINT) AS label
        |  FROM t)
        |SELECT bin, count(*) AS n_docs,
        |  CAST(sum(label) AS BIGINT) AS n_gate_pass,
        |  round(sum(label) / count(*), 4) AS gate_rate
        |FROM mg JOIN gt USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q142's margin + gate-label CTEs, then the exact midrank
    // Mann-Whitney fold: per-(source, score) counts, cumulative-count
    // window over the aggregated table, AUC from the rank sum — every
    // term an exact half-integer, so only the final division rounds
    // q166's AUC statement with two changes: weights from the TRAIN-split
    // fit's export, every scored/labeled doc restricted to the held-out
    // quarter (the q163 md5-prefix split, same literal both engines)
    "q215_heldout_auc" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
        |  FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'),
        |f AS (
        |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_tok,
        |    CAST(len(toks) AS DOUBLE) * CAST(len(toks) AS DOUBLE) AS n_tok2,
        |    round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks), 4) AS awl,
        |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE) / len(toks), 4) AS sr
        |  FROM t),
        |w AS (
        |  SELECT w_tokens, w_tokens2, w_wlen, w_stop, bias
        |  FROM read_parquet('{GRAFT_OUT}_support/q215_support_weights/*.parquet')),
        |sc AS (
        |  SELECT f.doc_id,
        |    round(w.w_tokens * f.n_tok + w.w_tokens2 * f.n_tok2 + w.w_wlen * f.awl + w.w_stop * f.sr + w.bias, 4) AS score
        |  FROM f CROSS JOIN w),
        |gt AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN len(toks) BETWEEN 30 AND 90
        |      AND round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks), 4) BETWEEN 3 AND 10
        |      AND (CAST(list_contains(toks, 'the') AS BIGINT)
        |           + CAST(list_contains(toks, 'a') AS BIGINT)
        |           + CAST(list_contains(toks, 'of') AS BIGINT)) >= 1
        |      AND round((length(text) - length(replace(text, '#', ''))) * 1.0 / len(toks), 4) <= 0.1
        |      THEN 1 ELSE 0 END AS BIGINT) AS label
        |  FROM t),
        |j AS (
        |  SELECT d.source, sc.score, gt.label
        |  FROM sc JOIN gt USING (doc_id) JOIN documents d USING (doc_id)),
        |g1 AS (
        |  SELECT source, score, count(*) AS n, CAST(sum(label) AS BIGINT) AS npos
        |  FROM j GROUP BY 1, 2),
        |r1 AS (
        |  SELECT source, n, npos,
        |    coalesce(sum(n) OVER (PARTITION BY source ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        |  FROM g1),
        |u AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |    CAST(sum(npos) AS BIGINT) AS n_pos,
        |    sum(npos * (cum_prev + (n + 1) / 2.0)) AS rank_sum
        |  FROM r1 GROUP BY 1)
        |SELECT source, n_docs, n_pos, n_docs - n_pos AS n_neg,
        |  CASE WHEN n_pos = 0 OR n_docs = n_pos THEN 0.5
        |       ELSE round((rank_sum - n_pos * (n_pos + 1) / 2.0)
        |         / (n_pos * (n_docs - n_pos)), 4) END AS auc
        |FROM u ORDER BY source""".stripMargin,
    "q166_classifier_auc" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_tok,
        |    CAST(len(toks) AS DOUBLE) * CAST(len(toks) AS DOUBLE) AS n_tok2,
        |    round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks), 4) AS awl,
        |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE) / len(toks), 4) AS sr
        |  FROM t),
        |w AS (
        |  SELECT w_tokens, w_tokens2, w_wlen, w_stop, bias
        |  FROM read_parquet('{GRAFT_OUT}_support/q101_support_weights/*.parquet')),
        |sc AS (
        |  SELECT f.doc_id,
        |    round(w.w_tokens * f.n_tok + w.w_tokens2 * f.n_tok2 + w.w_wlen * f.awl + w.w_stop * f.sr + w.bias, 4) AS score
        |  FROM f CROSS JOIN w),
        |gt AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN len(toks) BETWEEN 30 AND 90
        |      AND round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks), 4) BETWEEN 3 AND 10
        |      AND (CAST(list_contains(toks, 'the') AS BIGINT)
        |           + CAST(list_contains(toks, 'a') AS BIGINT)
        |           + CAST(list_contains(toks, 'of') AS BIGINT)) >= 1
        |      AND round((length(text) - length(replace(text, '#', ''))) * 1.0 / len(toks), 4) <= 0.1
        |      THEN 1 ELSE 0 END AS BIGINT) AS label
        |  FROM t),
        |j AS (
        |  SELECT d.source, sc.score, gt.label
        |  FROM sc JOIN gt USING (doc_id) JOIN documents d USING (doc_id)),
        |g1 AS (
        |  SELECT source, score, count(*) AS n, CAST(sum(label) AS BIGINT) AS npos
        |  FROM j GROUP BY 1, 2),
        |r1 AS (
        |  SELECT source, n, npos,
        |    coalesce(sum(n) OVER (PARTITION BY source ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        |  FROM g1),
        |u AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |    CAST(sum(npos) AS BIGINT) AS n_pos,
        |    sum(npos * (cum_prev + (n + 1) / 2.0)) AS rank_sum
        |  FROM r1 GROUP BY 1)
        |SELECT source, n_docs, n_pos, n_docs - n_pos AS n_neg,
        |  CASE WHEN n_pos = 0 OR n_docs = n_pos THEN 0.5
        |       ELSE round((rank_sum - n_pos * (n_pos + 1) / 2.0)
        |         / (n_pos * (n_docs - n_pos)), 4) END AS auc
        |FROM u ORDER BY source""".stripMargin,
    // q99's serve CTEs with the member set restricted by the label
    // predicate — the engine's filtered member scan, recomputed.
    "q102_ann_filtered" -> (Similarity.annRankedCtes(
      s"WHERE vec_id < ${Similarity.ServeBatchMaxId}", FilteredNProbe,
      Some(
        s"""SELECT c.cell, c.vec_id
           |  FROM read_parquet('{GRAFT_OUT}_support/q45_support_cells/*.parquet') c
           |  JOIN embeddings e ON c.vec_id = e.vec_id
           |  WHERE e.label IN (${FilteredLabels.mkString(", ")})""".stripMargin)) +
      """
        |SELECT vec_id, CAST(rn AS INTEGER) AS rn, cand_id AS nn_id,
        |  round(cos_raw, 4) AS cos
        |FROM ranked WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin),
    // Within-cell pairs over the exported assignment, transitive closure,
    // min-id representative — q74's recursive-CTE pattern cluster-scoped.
    "q103_semdedup" ->
      s"""WITH RECURSIVE
         |mem AS (
         |  SELECT cell, vec_id
         |  FROM read_parquet('{GRAFT_OUT}_support/q103_support_cells/*.parquet')),
         |p AS (
         |  SELECT m1.vec_id AS vec_a, m2.vec_id AS vec_b
         |  FROM mem m1 JOIN mem m2
         |    ON m1.cell = m2.cell AND m1.vec_id < m2.vec_id
         |  JOIN embeddings a ON m1.vec_id = a.vec_id
         |  JOIN embeddings b ON m2.vec_id = b.vec_id
         |  WHERE ${duckDot("a.embedding", "b.embedding")} /
         |    (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) >= $SemDedupCosT),
         |e AS (SELECT vec_a AS src, vec_b AS dst FROM p
         |      UNION ALL SELECT vec_b, vec_a FROM p),
         |reach(vec_id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT reach.vec_id, e.dst FROM reach JOIN e ON reach.r = e.src)
         |SELECT reach.vec_id, m.cell, min(reach.r) AS keep_id,
         |  CAST(reach.vec_id <> min(reach.r) AS BIGINT) AS is_dup
         |FROM reach JOIN mem m ON reach.vec_id = m.vec_id
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // Hashed bigram buckets recomputed with the same md5-prefix key; the
    // per-doc weight is an exact BIGINT sum over the exported micro-unit
    // log-ratios (the ln lives in the exported fit, not on the hash path).
    "q105_dsir_weights" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 2
        |    THEN [substr(md5(toks[i] || ' ' || toks[i+1]), 1, 2)
        |          for i in range(1, len(toks))]
        |    ELSE [] END AS buckets FROM t),
        |w AS (
        |  SELECT bucket, lr_micro
        |  FROM read_parquet('{GRAFT_OUT}_support/q105_support_logratio/*.parquet')),
        |u AS (SELECT doc_id, unnest(buckets) AS bucket FROM g),
        |sums AS (
        |  SELECT u.doc_id, CAST(sum(w.lr_micro) AS BIGINT) AS w_micro
        |  FROM u JOIN w USING (bucket) GROUP BY 1)
        |SELECT g.doc_id, CAST(len(g.buckets) AS BIGINT) AS n_grams,
        |  coalesce(sums.w_micro, 0) AS w_micro,
        |  CAST(coalesce(sums.w_micro, 0) > 0 AS BIGINT) AS selected
        |FROM g LEFT JOIN sums ON g.doc_id = sums.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    // The q99 serve CTEs with labels carried through: members keep their
    // label (exported index ⋈ embeddings), candidates additionally require
    // label mismatch against the query's label — everything else (routing,
    // replica collapse, cosine, tie-break) is the certified ANN path.
    "q106_hard_negatives" ->
      s"""WITH cen AS (
         |  SELECT cell, centroid
         |  FROM read_parquet('{GRAFT_OUT}_support/q45_support_centroids/*.parquet')),
         |mem AS (
         |  SELECT c.cell, c.vec_id, e.label
         |  FROM read_parquet('{GRAFT_OUT}_support/q45_support_cells/*.parquet') c
         |  JOIN embeddings e ON c.vec_id = e.vec_id),
         |qn AS (
         |  SELECT vec_id, embedding, label, ${duckNorm("embedding")} AS nrm
         |  FROM embeddings WHERE vec_id < ${Similarity.ServeBatchMaxId}),
         |qu AS (
         |  SELECT vec_id, label,
         |    [CASE WHEN nrm = 0 THEN x
         |          ELSE CAST(CAST(x AS DOUBLE) / nrm AS REAL) END
         |     for x in embedding] AS uv
         |  FROM qn),
         |probes AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT qu.vec_id, cen.cell,
         |      row_number() OVER (PARTITION BY qu.vec_id ORDER BY
         |        list_sum([(CAST(uv[i] AS DOUBLE) - centroid[i]) *
         |                  (CAST(uv[i] AS DOUBLE) - centroid[i])
         |                  for i in range(1, len(centroid) + 1)]), cen.cell) AS prn
         |    FROM qu CROSS JOIN cen)
         |  WHERE prn <= ${Similarity.ServeNProbe}),
         |cand AS (
         |  SELECT DISTINCT p.vec_id, m.vec_id AS cand_id
         |  FROM probes p
         |  JOIN qu q ON p.vec_id = q.vec_id
         |  JOIN mem m ON p.cell = m.cell AND m.vec_id <> p.vec_id
         |    AND m.label <> q.label),
         |scored AS (
         |  SELECT c.vec_id, c.cand_id,
         |    ${duckDot("a.embedding", "b.embedding")} /
         |      (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) AS cos_raw
         |  FROM cand c
         |  JOIN embeddings a ON c.vec_id = a.vec_id
         |  JOIN embeddings b ON c.cand_id = b.vec_id),
         |ranked AS (
         |  SELECT vec_id, cand_id, cos_raw,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_raw DESC, cand_id) AS rn
         |  FROM scored
         |  WHERE NOT isnan(cos_raw))
         |SELECT vec_id, CAST(rn AS INTEGER) AS rn, cand_id AS neg_id,
         |  round(cos_raw, 4) AS cos
         |FROM ranked WHERE rn <= $HardNegK ORDER BY vec_id, rn""".stripMargin,
    // q56's closure CTEs (exhaustive >=0.8-Jaccard pairs + recursive
    // min-label reach) composed with q101's margin CTEs, then the
    // per-component argmax by (rounded margin DESC, doc_id).
    "q108_quality_retention" ->
      s"""WITH RECURSIVE
         |t AS (
         |  SELECT doc_id, ${Dedup.DuckShingles} AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(doc_id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src),
         |comp AS (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY 1),
         |tf AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks,
         |    trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_tok,
         |    CAST(len(toks) AS DOUBLE) * CAST(len(toks) AS DOUBLE) AS n_tok2,
         |    round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks), 4) AS awl,
         |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE) / len(toks), 4) AS sr
         |  FROM tf),
         |w AS (
         |  SELECT w_tokens, w_tokens2, w_wlen, w_stop, bias
         |  FROM read_parquet('{GRAFT_OUT}_support/q101_support_weights/*.parquet')),
         |m AS (
         |  SELECT doc_id,
         |    round(w.w_tokens * f.n_tok + w.w_tokens2 * f.n_tok2 + w.w_wlen * f.awl + w.w_stop * f.sr + w.bias, 4) AS margin
         |  FROM f CROSS JOIN w),
         |rr AS (
         |  SELECT comp.doc_id, comp.group_id, m.margin,
         |    row_number() OVER (PARTITION BY comp.group_id
         |      ORDER BY m.margin DESC, comp.doc_id) AS rn
         |  FROM comp JOIN m USING (doc_id))
         |SELECT doc_id, group_id, margin, CAST(rn = 1 AS BIGINT) AS keep
         |FROM rr ORDER BY doc_id""".stripMargin,
    // q56's closure CTEs give the groups; singletons default to their own
    // id; the split is the md5-prefix admit on the GROUP id.
    // The q99 serve CTEs over the exported q45 index, with the ranked cut
    // replaced by the threshold predicate on the RAW cosine (filter before
    // round, the kernel's order). ORDER BY is positional: the output
    // aliases swap the CTE's column names (cand_id → vec_id), and a named
    // ORDER BY would resolve against the aliases.
    "q111_sem_decontam" -> (Similarity.annRankedCtes(
      s"WHERE vec_id % $DecontamEvalMod = 0", Similarity.AnnNProbe) +
      s"""
         |SELECT cand_id AS vec_id, vec_id AS eval_id, round(cos_raw, 4) AS cos
         |FROM scored WHERE NOT isnan(cos_raw) AND cos_raw >= $DecontamCos
         |ORDER BY 1, 2""".stripMargin),
    "q109_leakage_split" ->
      s"""WITH RECURSIVE
         |t AS (
         |  SELECT doc_id, ${Dedup.DuckShingles} AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(doc_id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src),
         |comp AS (SELECT doc_id, min(r) AS grp FROM reach GROUP BY 1)
         |SELECT d.doc_id, coalesce(comp.grp, d.doc_id) AS group_id,
         |  CASE WHEN substr(md5(CAST(coalesce(comp.grp, d.doc_id) AS VARCHAR)), 1, 2) < '$ValThr'
         |       THEN 'val' ELSE 'train' END AS split
         |FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // Same tokenization as q83's oracle; admit = integer compare of the
    // first 4 md5 hex chars against the EXPORTED threshold (the fit's
    // sqrt/renormalize math lives in the exported table, not on the hash
    // path), then the per-language funnel rollup.
    "q107_temp_mix" ->
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS ntoks,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS h16
        |  FROM documents),
        |r AS (
        |  SELECT lang, thr16
        |  FROM read_parquet('{GRAFT_OUT}_support/q107_support_rates/*.parquet'))
        |SELECT w.lang, count(*) AS n_docs,
        |  CAST(sum(ntoks) AS BIGINT) AS tokens_in,
        |  CAST(sum(CASE WHEN h16 < thr16 THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
        |  CAST(sum(CASE WHEN h16 < thr16 THEN ntoks ELSE 0 END) AS BIGINT) AS tokens_kept
        |FROM w JOIN r USING (lang) GROUP BY 1 ORDER BY 1""".stripMargin,
    // Unit-space squared centroid distance (float32 unit rounding, the
    // q45 qu-CTE convention), per-cell rank, and the ceil cut recomputed.
    "q104_proto_prune" ->
      s"""WITH mem AS (
         |  SELECT cell, vec_id
         |  FROM read_parquet('{GRAFT_OUT}_support/q103_support_cells/*.parquet')),
         |cen AS (
         |  SELECT cell, centroid
         |  FROM read_parquet('{GRAFT_OUT}_support/q103_support_centroids/*.parquet')),
         |qn AS (
         |  SELECT vec_id, embedding, ${duckNorm("embedding")} AS nrm
         |  FROM embeddings),
         |qu AS (
         |  SELECT vec_id,
         |    [CASE WHEN nrm = 0 THEN x
         |          ELSE CAST(CAST(x AS DOUBLE) / nrm AS REAL) END
         |     for x in embedding] AS uv
         |  FROM qn),
         |dd AS (
         |  SELECT m.vec_id, m.cell,
         |    list_sum([(CAST(uv[i] AS DOUBLE) - centroid[i]) *
         |              (CAST(uv[i] AS DOUBLE) - centroid[i])
         |              for i in range(1, len(centroid) + 1)]) AS d2
         |  FROM mem m JOIN qu ON m.vec_id = qu.vec_id
         |  JOIN cen ON m.cell = cen.cell),
         |r AS (
         |  SELECT vec_id, cell, d2,
         |    row_number() OVER (PARTITION BY cell ORDER BY d2, vec_id) AS rn,
         |    count(*) OVER (PARTITION BY cell) AS n_cell
         |  FROM dd)
         |SELECT vec_id, cell, round(d2, 4) AS dist2, CAST(rn AS INTEGER) AS rn,
         |  n_cell, CAST(rn > ceil($PruneFrac * n_cell) AS BIGINT) AS keep
         |FROM r ORDER BY vec_id""".stripMargin,
  )
}
