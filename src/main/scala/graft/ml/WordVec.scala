package graft.ml

import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
import org.apache.spark.mllib.linalg.distributed.{IndexedRow, IndexedRowMatrix}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns
import graft.ops.{Caching, SessionArtifacts}

/** Corpus-TRAINED word embeddings — PPMI + truncated SVD (Levy &
  * Goldberg 2014's classic result: SGNS implicitly factorizes the
  * shifted PMI matrix, so PPMI-SVD is the exact-arithmetic member of the
  * word2vec family). This upgrades the engine's embedding story from
  * "deterministic stand-in" to a REAL model learned from corpus
  * statistics, end-to-end offline:
  *
  *   1. ONE corpus pass emits (word, context) skip-gram pairs within a
  *      ±`window` token window (positional self-join per document via
  *      array HOFs — no UDF in the pair generation).
  *   2. Pair counts + marginals → PPMI = max(0, ln(n_wc·T / (n_w·n_c)))
  *      — Zipf²-sparse (observed pairs only, never V²).
  *   3. Rank-`dim` truncated SVD of the PPMI matrix
  *      (`IndexedRowMatrix.computeSVD` — ARPACK on sparse rows, the
  *      standard distributed factorization; rows are vocab-sized, so the
  *      matrix is vocab × vocab REGARDLESS of corpus size).
  *   4. Embedding(w) = U(w) · diag(√σ) (the symmetric weighting), rows
  *      exported as a (word, vec) table.
  *
  * Certification follows the model-backed discipline (topics, KMeans
  * codebooks): the FIT is taken as given, the fitted vectors are
  * exported as oracle support, and the serving query (q154 nearest
  * neighbors) is recomputed end-to-end by DuckDB from that export. The
  * fit is session-memoized (SessionArtifacts), so query + support writer
  * + bench passes share one training run.
  *
  * 100 TB posture: the corpus-sized stage is the single pair-emission
  * pass (map-side combined into the Zipf²-sparse count table);
  * everything after is vocab-bounded. For web-scale vocabularies, cap
  * with `minCount` (rare words fold out before the matrix forms).
  */
object WordVec {

  /** Hard ceiling on the post-`minCount` vocabulary. The SVD row index
    * is collected to the driver (the one vocab-sized driver structure in
    * the fit), so the cap must be CODE-guarded, not scaladoc-guarded
    * (r15 verdict #2): a web-scale corpus fit with too small a
    * `minCount` fails loudly with the remedy named instead of OOMing
    * the driver. 2M words ≈ tens of MB of index — far above any curated
    * vocabulary, far below driver-heap danger. */
  val MaxVocab: Long = 2_000_000L

  /** Fitted vectors as (word: string, vec: array<double>), dim columns. */
  def fit(docs: DataFrame, dim: Int = 16, window: Int = 2,
      minCount: Long = 1L, maxVocab: Long = MaxVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // skip-gram pairs: for each position i, contexts i±1..i±window.
    // flatten(transform(...)) keeps generation inside SQL HOFs; the
    // explode is the one corpus-sized shuffle input (map-side combined)
    val pairExpr = expr(
      s"""flatten(transform(sequence(0, size(toks) - 1), i ->
         |  filter(transform(sequence(greatest(0, i - $window),
         |                            least(size(toks) - 1, i + $window)),
         |    j -> IF(j = i, null, struct(toks[i] AS w, toks[j] AS c))),
         |    p -> p IS NOT NULL)))""".stripMargin)
    val pairs = docs
      .select(TextFns.tokens(col("text")).as("toks"))
      .select(explode(pairExpr).as("p"))
      .groupBy(col("p.w").as("w"), col("p.c").as("c"))
      .agg(count(lit(1)).as("n_wc"))
      .cache()
    // minCount drops a rare word ENTIRELY — as center and as context —
    // before any marginal forms: a half-filtered vocabulary would leave
    // context words without a matrix index (and skew the marginals)
    val kept = pairs.groupBy(col("w")).agg(sum(col("n_wc")).as("n_all"))
      .filter(col("n_all") >= minCount).select(col("w"))
    val kp = pairs
      .join(kept, Seq("w"))
      .join(kept.select(col("w").as("c")), Seq("c"))
      .cache()
    val nw = kp.groupBy(col("w")).agg(sum(col("n_wc")).as("n_w"))
    val nc = kp.groupBy(col("c")).agg(sum(col("n_wc")).as("n_c"))
    val total = kp.agg(sum(col("n_wc")).cast("double").as("t"))
    val ppmi = kp
      .join(nw, Seq("w")).join(nc, Seq("c")).crossJoin(broadcast(total))
      .withColumn("ppmi",
        greatest(lit(0.0), log(col("n_wc") * col("t") / (col("n_w") * col("n_c")))))
      .filter(col("ppmi") > 0.0)
      .select(col("w"), col("c"), col("ppmi"))
    // vocab index: deterministic (sorted) word <-> row/col ids. Vocab-
    // sized; collected only to broadcast the column index (the matrix
    // dimensions themselves are vocab-bounded by construction). The
    // guard runs BEFORE the collect: one count over the vocab-bounded
    // marginal table, so an uncapped web-scale fit dies with the remedy
    // named rather than with a driver OOM (r15 verdict #2)
    val nVguard = nw.count()
    require(nVguard <= maxVocab,
      s"WordVec.fit: post-minCount vocabulary has $nVguard words, above " +
        s"the $maxVocab driver-index cap — raise minCount (currently " +
        s"$minCount) to fold out rare words, or raise maxVocab if the " +
        "driver heap is provisioned for a larger index")
    val vocab = nw.select(col("w")).orderBy(col("w")).as[String].collect()
    val idx = vocab.zipWithIndex.toMap
    val bIdx = spark.sparkContext.broadcast(idx)
    val nV = vocab.length
    // row assembly: aggregateByKey with a growable buffer — map-side
    // combined, so a hot row ("the" has ~vocab contexts) accumulates
    // incrementally instead of materializing a grouped iterator per key
    // (the r13 groupByKey shape)
    val rows = ppmi.select(col("w"), col("c"), col("ppmi"))
      .as[(String, String, Double)].rdd
      .map { case (w, c, v) => (bIdx.value(w), (bIdx.value(c), v)) }
      .aggregateByKey(scala.collection.mutable.ArrayBuffer.empty[(Int, Double)])(
        (acc, x) => { acc += x; acc }, (a, b) => { a ++= b; a })
      .map { case (r, cols) =>
        IndexedRow(r.toLong, MlVectors.sparse(nV, cols.sortBy(_._1).toSeq))
      }
    val k = math.min(dim, nV)
    val svd = new IndexedRowMatrix(rows).computeSVD(k, computeU = true)
    val sqrtS = svd.s.toArray.map(math.sqrt)
    val vecs = svd.U.rows.map { r =>
      val u = r.vector.toArray
      (vocab(r.index.toInt), u.indices.map(i => u(i) * sqrtS(i)).toArray)
    }.toDF("word", "vec")
    // a word whose PPMI row is entirely zero has no matrix row, hence no
    // U row — but an all-zero row of M factorizes to u_r = 0 exactly
    // (u_r Σ = m_r V = 0, Σ positive), so its MODEL embedding is the zero
    // vector. Left-join the vocab back with zero vectors so the exported
    // table really is "one row per vocabulary word" (r13 ADVICE); the
    // serving queries exclude zero-NORM vectors before any division, so
    // neighbor rankings are unchanged while q155's pooling now counts the
    // word as in-vocab-with-zero-vector rather than silently OOV.
    val full = vocab.toSeq.toDF("word")
      .join(vecs, Seq("word"), "left")
      .select(col("word"),
        coalesce(col("vec"), array_repeat(lit(0.0), lit(k))).as("vec"))
    Caching.materializeAndRelease(full, pairs, kp)
  }

  /** Session-memoized fit over the documents table — query, support
    * writer, and bench passes share one training run. `minCount` is the
    * web-scale knob (fold rare words out BEFORE the driver index forms);
    * the default 1 keeps the certified small-corpus hashes, and a
    * non-default cap keys its own session artifact so the two fits never
    * collide. */
  def fitted(s: SparkSession, d: String, minCount: Long = 1L): DataFrame = {
    val key = if (minCount == 1L) "wordvec" else s"wordvec_mc$minCount"
    SessionArtifacts.table(key, s, d)(fit(Tables.documents(s, d), minCount = minCount))
  }
}
