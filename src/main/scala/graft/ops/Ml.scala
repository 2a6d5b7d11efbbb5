package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{Embed, Topics}

/** ML operator surface (SURVEY §2.10 M1-M5): the embedding operator and the
  * topic-modeling report tables. Driver check is rows-only (model outputs
  * aren't ANSI-SQL-expressible); invariants are unit-tested (MlSpec). */
object Ml {
  import Relational.Q

  /** M1: batched per-partition embedding of the documents table. Output is
    * the per-doc L2 norm (the reference's normalization invariant,
    * embeddings.py:119) plus the leading component. */
  val q49EmbedDocs: Q = (s, d) => {
    val emb = Embed.embedDocuments(s, d)
    emb.select(col("doc_id"),
        round(graft.functions.Vectors.norm2(col("embedding")), 4).as("norm"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("c0"))
      .orderBy(col("doc_id"))
  }

  /** M3/M4: topic table (topic id incl. -1 outliers, count, pct —
    * bertopicTest.py:57,107-112 contract). Oracle-certified via the
    * support tables: DuckDB re-derives every doc's assignment from the
    * exported centroids and counts per topic. */
  val q50TopicInfo: Q = (s, d) =>
    Topics.fit(s, d).topicInfo

  /** M4/A7: per-topic top-5 weighted terms (bertopicTest.py:93-100).
    * Oracle-certified via the support tables: DuckDB recomputes the
    * vocabulary-scoped term counts and the c-TF-IDF ranking from the
    * exported centroids + vocabulary + stopwords. */
  val q51TopicTerms: Q = (s, d) =>
    Topics.fit(s, d).topTerms

  /** M3's distribution half: per-doc assigned topic + softmax confidence —
    * the `(topics, probs)` pair BERTopic's fit_transform returns
    * (bertopicTest.py:53-54). Outliers (-1) carry a null prob: they have
    * no cluster membership. ORACLE-CERTIFIED (the one model output that
    * is): given the fitted parameters — centroids, the feature table, the
    * stopword list, exported by [[writeQ94Support]] — the distance →
    * softmax → argmin computation AND the outlier channel are
    * deterministic, so DuckDB recomputes them from the support tables and
    * the documents text (see the oracle SQL). prob ∈ (0,1], Σprobs = 1,
    * argmax = topic stay unit-asserted (MlSpec). */
  val q94TopicProbs: Q = (s, d) =>
    Topics.fit(s, d).assignments
      .select(col("doc_id"), col("topic").cast("long").as("topic"),
        round(col("prob"), 4).as("prob"))
      .orderBy(col("doc_id"))

  /** Oracle support for q49 AND the topic oracles' feature input: the
    * per-doc embedding table (the M1 model output, taken as the given —
    * everything downstream is recomputed). Split from
    * [[writeTopicSupport]] so a q49-only Verify run exports the features
    * without fitting a topic model; the embedding itself is memoized per
    * (session, dataset), so runs selecting both pay one encode. */
  def writeEmbedSupport(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String): Unit =
    Embed.embedDocuments(s, d)
      .write.mode("overwrite").parquet(s"${graft.Verify.supportDir(outDir)}/q94_support_features")

  /** Oracle support for the topic-model queries (run by Verify before the
    * DuckDB compare): the fitted model PARAMETERS as plain parquet under
    * `$outDir/_support/` — the k centroids, the stopword list that
    * defines the outlier channel, and the fitted vocabulary that scopes
    * the term reports (the per-doc features come from
    * [[writeEmbedSupport]], whose trigger set is a superset of this
    * one's). The oracle recomputes everything downstream (tokenize →
    * outlier flag; distance → softmax → argmin; counts → pct; term
    * counts → c-TF-IDF ranking; centroid cosines), certifying the
    * engine's serving math rather than trusting it. The nested
    * `_support` dir keeps the parameter tables out of the driver
    * checker's query enumeration (it treats every top-level parquet dir
    * in outDir as a query result — array-typed columns crash its pandas
    * sort); the same layout as the ANN support tables
    * (Similarity.writeAnnSupport). */
  def writeTopicSupport(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String): Unit = {
    import s.implicits._
    val model = Topics.fit(s, d)
    model.centroids.zipWithIndex.map { case (c, t) => (t, c) }.toSeq
      .toDF("ctopic", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"${graft.Verify.supportDir(outDir)}/q94_support_centroids")
    Topics.CustomStopwords.toSeq.toDF("sw").coalesce(1)
      .write.mode("overwrite").parquet(s"${graft.Verify.supportDir(outDir)}/q94_support_stopwords")
    model.vocab.toSeq.toDF("term").coalesce(1)
      .write.mode("overwrite").parquet(s"${graft.Verify.supportDir(outDir)}/q51_support_vocab")
  }

  /** K6 viz data: topic-similarity heatmap table (the data behind the
    * reference's visualize_heatmap, bertopicTest.py:153-158). k×k rows —
    * trivially small; the companion 2D maps/hierarchy live in
    * [[graft.ml.TopicViz.save]] (sinks, exercised in TopicVizSpec).
    * Oracle-certified: DuckDB recomputes the k×k cosines from the
    * exported centroids; symmetry/diagonal/range invariants stay
    * unit-asserted. */
  val q95TopicHeatmap: Q = (s, d) =>
    graft.ml.TopicViz.heatmap(s, Topics.fit(s, d))
      .orderBy(col("topic_a"), col("topic_b"))

  /** q154: nearest neighbors under the corpus-TRAINED word embedding
    * ([[graft.ml.WordVec]] — PPMI+SVD, a real model learned from corpus
    * statistics, not the hashing stand-in): per vocabulary word, the
    * top-3 neighbors by cosine. Rank on the ROUNDED score (the q125
    * discipline) with neighbor tiebreak so the order is engine-
    * independent; zero-norm vectors are excluded on both sides before
    * any division. Model-backed certification: the fitted vectors export
    * as oracle support and DuckDB recomputes cosine + ranking from them
    * end-to-end — only the factorization itself is taken as given (the
    * KMeans-codebook precedent). Pair enumeration is vocab × vocab —
    * bounded by the vocabulary, never the corpus. */
  val q154WordvecNeighbors: Q = (s, d) => {
    val vecs = graft.ml.WordVec.fitted(s, d)
      .withColumn("nrm", sqrt(expr(
        "aggregate(zip_with(vec, vec, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")))
      .filter(col("nrm") > 0.0)
      .cache()
    val a = vecs.select(col("word"), col("vec").as("va"), col("nrm").as("na"))
    val b = vecs.select(col("word").as("neighbor"), col("vec").as("vb"),
      col("nrm").as("nb"))
    import org.apache.spark.sql.expressions.Window
    Caching.materializeAndRelease(
      a.join(b, col("word") =!= col("neighbor"))
        .withColumn("cos", round(expr(
          "aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)") /
          (col("na") * col("nb")), 4))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("word")).orderBy(col("cos").desc, col("neighbor"))))
        .filter(col("rank") <= 3)
        .select(col("word"), col("neighbor"), col("rank").cast("long").as("rank"),
          col("cos"))
        .orderBy(col("word"), col("rank")),
      vecs)
  }

  /** q155: document similarity under the TRAINED embedding — each doc
    * embeds as the mean of its tokens' [[graft.ml.WordVec]] vectors
    * (token INSTANCES, so repetition weights; OOV tokens drop at the
    * join), and a 10-doc probe batch retrieves its top-3 cosine
    * neighbors from the corpus. Stronger certification than q154's:
    * the oracle recomputes the POOLING as well as the serving from the
    * exported word vectors — only the SVD itself is taken as given.
    * Scale shape: pooling is one tokenize pass + a broadcast word-vector
    * join + per-(doc, dim) partial aggregation (map-side combined,
    * vocab-bounded build side); the serve is probe × corpus with the
    * probe side 10 rows (the q140 probe discipline). */
  val q155DocvecSimilar: Q = (s, d) => {
    val wv = graft.ml.WordVec.fitted(s, d)
    val dvecs = graft.Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(graft.functions.TextFns.tokens(col("text"))).as(Seq("pos", "word")))
      .join(broadcast(wv), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("vec")))).as("pv"))
      .select(col("doc_id"), transform(col("pv"), _.getField("vec")).as("vs"))
      .select(col("doc_id"),
        meanPoolOf(col("vs"), size(element_at(col("vs"), 1))).getField("dvec").as("dv"))
      .withColumn("nrm", sqrt(expr(
        "aggregate(zip_with(dv, dv, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")))
      .filter(col("nrm") > 0.0)
      .cache()
    val probe = dvecs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("probe_id"), col("dv").as("pv"), col("nrm").as("pn"))
    import org.apache.spark.sql.expressions.Window
    Caching.materializeAndRelease(
      broadcast(probe)
        .join(dvecs, col("probe_id") =!= col("doc_id"))
        .withColumn("cos", round(expr(
          "aggregate(zip_with(pv, dv, (x, y) -> x * y), 0D, (acc, v) -> acc + v)") /
          (col("pn") * col("nrm")), 4))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("doc_id"))))
        .filter(col("rank") <= 3)
        .select(col("probe_id"), col("doc_id"), col("rank").cast("long").as("rank"),
          col("cos"))
        .orderBy(col("probe_id"), col("rank")),
      dvecs)
  }

  /** The q155 pooling of one doc's in-model token vectors `vs`
    * (array<array<double>>, token order): struct(dvec = their mean over
    * `dim` components, n_known = how many); no vector pools to zeros.
    * Shared with the streaming embedders. */
  private[graft] def meanPoolOf(vs: Column, dim: Column): Column = {
    val n = size(vs)
    val total = aggregate(vs, array_repeat(lit(0.0), dim),
      (acc, v) => zip_with(acc, v, _ + _))
    struct(transform(total, _ / greatest(n, lit(1))).as("dvec"),
      n.cast("long").as("n_known"))
  }

  /** q161: SIF-weighted document embeddings (Arora, Liang & Ma 2017,
    * "A Simple but Tough-to-Beat Baseline for Sentence Embeddings") —
    * the standard tier above q155's plain mean: each token instance
    * contributes its [[graft.ml.WordVec]] vector weighted by
    * a/(a + p(w)) with a = 1e-3 and p(w) the corpus unigram
    * probability, so frequent words (whose vectors dominate a plain
    * mean) are damped toward stopword-invisibility. Published SIF also
    * removes the first principal component; that half is a FIT (like
    * the SVD itself) and is deliberately left out so the whole pooling
    * stays oracle-recomputable from the exported word vectors + corpus
    * frequencies — the strongest certification available for a
    * doc-embedding tier. Serve = the q155 probe contract (10 probes,
    * top-3 by rounded cosine, doc tiebreak).
    *
    * Scale shape: one corpus tokenize pass feeds BOTH the frequency
    * table (vocab-sized, broadcast) and the pooling join; pooling is
    * per-(doc, dim) partial aggregation, map-side combined; the weight
    * is two broadcast scalars per word; the serve is a 10-row broadcast
    * probe × corpus. */
  val q161SifDocvec: Q = (s, d) => {
    val (dvecs, tf) = sifDocvecsOf(s, d)
    val probe = dvecs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("probe_id"), col("dv").as("pv"), col("nrm").as("pn"))
    import org.apache.spark.sql.expressions.Window
    Caching.materializeAndRelease(
      broadcast(probe)
        .join(dvecs, col("probe_id") =!= col("doc_id"))
        .withColumn("cos", round(expr(
          "aggregate(zip_with(pv, dv, (x, y) -> x * y), 0D, (acc, v) -> acc + v)") /
          (col("pn") * col("nrm")), 4))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("doc_id"))))
        .filter(col("rank") <= 3)
        .select(col("probe_id"), col("doc_id"), col("rank").cast("long").as("rank"),
          col("cos"))
        .orderBy(col("probe_id"), col("rank")),
      dvecs, tf)
  }

  /** The q161 SIF pooling fold, shared verbatim by q161 and q184:
    * returns (dvecs = (doc_id, dv, nrm) cached, tf = the cached
    * token-instance frame — caller releases BOTH via
    * materializeAndRelease). One corpus tokenize pass feeds both the
    * frequency table and the pooling join. */
  /** Session-memoized SIF doc-vector table — the pooling fold runs ONCE
    * per (session, dataset) and q161/q184 (plus the bench's repeated
    * passes) read the (doc_id, dv, nrm) parquet (the `nll2`/`nllkn`
    * artifact discipline: a pipeline embeds its corpus once, every
    * consumer joins the table). Parquet doubles round-trip exactly, so
    * the artifact is bit-identical to the live fold. */
  private def sifDocvecsOf(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val p = SessionArtifacts.dir("sifdocvec", s, d) { t =>
      val (dvecs, tf) = sifDocvecsOver(
        graft.Tables.documents(s, d), graft.ml.WordVec.fitted(s, d))
      dvecs.write.mode("overwrite").parquet(t)
      dvecs.unpersist(); tf.unpersist()
    }
    val cached = s.read.parquet(p)
    (cached, cached)
  }

  /** The same fold over an arbitrary (doc_id, text) frame and a fitted
    * (word, vec) table — the streaming diversity monitor's parity
    * reference runs through this exact definition. */
  private[graft] def sifDocvecsOver(docs: org.apache.spark.sql.DataFrame,
      wv: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val tf = docs
      .select(col("doc_id"),
        explode(graft.functions.TextFns.tokens(col("text"))).as("word"))
      .cache()
    // the SIF weight's p(w) denominator is the WHOLE corpus token count —
    // computed before any vocabulary restriction (1-row scalar)
    val tot = tf.agg(count(lit(1)).cast("double").as("t"))
    // in-model token stream FIRST, frequencies second: the freq broadcast
    // is then bounded by the trained (minCount-cappable) vocabulary, never
    // the raw Heaps-law corpus vocabulary (r15 verdict #1 — at web scale
    // the unrestricted term-frequency table is 10^8-10^9 junk-heavy rows,
    // an executor OOM, while wv stays model-sized). Counting from the
    // joined stream is exact: the equi-join keeps every occurrence of an
    // in-model word, and SIF weights are only ever read for in-model words.
    val tfm = tf.join(broadcast(wv), Seq("word"))
    val freq = tfm.groupBy(col("word")).agg(count(lit(1)).as("n"))
    val dvecs = sifPoolOf(
        tfm.join(broadcast(freq), Seq("word")).crossJoin(broadcast(tot)),
        Seq("doc_id"), col("t"))
      .cache()
    (dvecs, tf)
  }

  /** The q161 SIF pooling of token rows carrying the word's `vec` and
    * corpus count `n` (corpus total `tot`): per `keys` group, dv = the
    * mean of a/(a + n/tot)·vec (a = 1e-3) and its norm `nrm`; zero
    * vectors drop. Shared with the streaming diversity monitor. */
  private[graft] def sifPoolOf(tokVecs: DataFrame,
      keys: Seq[String], tot: Column): DataFrame =
    tokVecs
      .select(keys.map(col) ++ Seq(
        (lit(0.001) / (lit(0.001) + col("n") / tot)).as("wt"),
        posexplode(col("vec")).as(Seq("i", "x"))): _*)
      .groupBy((keys :+ "i").map(col): _*)
      .agg((sum(col("wt") * col("x")) / count(lit(1))).as("x"))
      .groupBy(keys.map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(i, x))), s -> s.x)").as("dv"))
      .withColumn("nrm", sqrt(expr(
        "aggregate(zip_with(dv, dv, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")))
      .filter(col("nrm") > 0.0)

  /** q184: per-SOURCE diversity of the TRAINED doc embeddings — the q182
    * collapse diagnostic pointed at the corpus itself: for each source,
    * 1 − ‖mean(dv/‖dv‖)‖² over its q161 SIF document vectors. The
    * release-review reading: a source whose trained-embedding diversity
    * is near 0 is a template farm the near-dup tier under-collapsed
    * (read next to q181's diagonal and q174's bias audit); the number is
    * on the MODEL's geometry, not raw shingles, so it sees paraphrase
    * collapse the lexical tiers can't. Same O(n) algebra as q182 (the
    * ‖Σu‖²/n² identity); docs whose every token is OOV have no vector
    * and are excluded (the q161 nrm > 0 contract), reported as n_docs.
    * Oracle recomputes the pooling from the exported q154 word vectors
    * (the q161 certification contract) + the q182 fold per source. */
  val q184SourceDocvecDiversity: Q = (s, d) => {
    val (dvecs, tf) = sifDocvecsOf(s, d)
    Caching.materializeAndRelease(
      diversityFoldOf(dvecs,
        graft.Tables.documents(s, d).select(col("doc_id"), col("source"))),
      dvecs, tf)
  }

  /** The q184 fold over arbitrary (doc_id, text, source) docs and a
    * fitted (word, vec) table — shared with the streaming monitor's
    * parity test (which must control the fit, so it bypasses the
    * session artifact). */
  private[graft] def sourceDocvecDiversityOver(
      docs: org.apache.spark.sql.DataFrame,
      wv: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (dvecs, tf) = sifDocvecsOver(docs, wv)
    Caching.materializeAndRelease(
      diversityFoldOf(dvecs, docs.select(col("doc_id"), col("source"))),
      dvecs, tf)
  }

  /** The per-source ‖mean-unit-vector‖² over a (doc_id, dv, nrm) table
    * and its (doc_id, source) map: the fold of one partial. */
  private def diversityFoldOf(dvecs: DataFrame,
      src: DataFrame): DataFrame =
    diversityFold(diversityPartialOf(dvecs.join(src, Seq("doc_id"))))

  /** The q184 partial of (source, dv, nrm) rows: per (source, pos), the
    * unit-component sum `s_u` and doc count `n`. */
  private[graft] def diversityPartialOf(dvecs: DataFrame): DataFrame =
    dvecs
      .select(col("source"), col("nrm"), posexplode(col("dv")).as(Seq("pos", "x")))
      .select(col("source"), col("pos"), (col("x") / col("nrm")).as("u"))
      .groupBy(col("source"), col("pos"))
      .agg(sum(col("u")).as("s_u"), count(lit(1)).as("n"))

  /** The q184 fold of (source, pos, s_u, n) partials → (source, n_docs,
    * diversity = 1 − ‖Σu/n‖²), shared with the streaming report. */
  private[graft] def diversityFold(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("source"), col("pos"))
      .agg((sum(col("s_u")) / sum(col("n"))).as("c"), sum(col("n")).as("n"))
      .groupBy(col("source"))
      .agg(max(col("n")).cast("long").as("n_docs"),
        round(lit(1.0) - sum(col("c") * col("c")), 4).as("diversity"))
      .orderBy(col("source"))

  /** Oracle support for q154: the fitted (word, vec) table. */
  def writeWordvecSupport(s: SparkSession, d: String, outDir: String): Unit =
    graft.ml.WordVec.fitted(s, d)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q154_support_wordvec")

  def queries: Map[String, Q] = Map(
    "q154_wordvec_neighbors" -> q154WordvecNeighbors,
    "q155_docvec_similar" -> q155DocvecSimilar,
    "q161_sif_docvec" -> q161SifDocvec,
    "q184_source_docvec_diversity" -> q184SourceDocvecDiversity,
    "q49_embed_docs"  -> q49EmbedDocs,
    "q50_topic_info"  -> q50TopicInfo,
    "q51_topic_terms" -> q51TopicTerms,
    "q94_topic_probs" -> q94TopicProbs,
    "q95_topic_heatmap" -> q95TopicHeatmap,
  )

  /** Shared oracle CTEs: re-derive the per-doc topic ASSIGNMENT in DuckDB
    * from the exported model parameters — euclidean distance to each
    * centroid (identical accumulation: element-wise square loop),
    * min-shifted softmax, argmin topic (ties to the lowest id, matching
    * the kernel's strict-< scan), and the outlier channel recomputed from
    * documents.text with the same \W+ tokenize + stopword filter the
    * pipeline fits. `{GRAFT_OUT}` is substituted by Verify with the dump
    * directory (where [[writeTopicSupport]] put the parameter tables). */
  private val assignCtes: String =
    """WITH f AS (
      |  SELECT doc_id, embedding
      |  FROM read_parquet('{GRAFT_OUT}_support/q94_support_features/*.parquet')),
      |c AS (
      |  SELECT ctopic, centroid
      |  FROM read_parquet('{GRAFT_OUT}_support/q94_support_centroids/*.parquet')),
      |sw AS (
      |  SELECT list(sw) AS sws
      |  FROM read_parquet('{GRAFT_OUT}_support/q94_support_stopwords/*.parquet')),
      |outl AS (
      |  SELECT d.doc_id,
      |    len([t for t in regexp_split_to_array(lower(d.text), '\W+')
      |         if len(t) > 0 AND NOT list_contains(sw.sws, t)]) = 0 AS is_outlier
      |  FROM documents d CROSS JOIN sw),
      |dist AS (
      |  SELECT f.doc_id, c.ctopic,
      |    sqrt(list_sum([
      |      (CAST(f.embedding[i] AS DOUBLE) - c.centroid[i]) *
      |      (CAST(f.embedding[i] AS DOUBLE) - c.centroid[i])
      |      for i in range(1, len(c.centroid) + 1)])) AS dd
      |  FROM f CROSS JOIN c),
      |mn AS (SELECT doc_id, min(dd) AS mnd FROM dist GROUP BY 1),
      |ez AS (
      |  SELECT dist.doc_id, ctopic, dd, exp(mn.mnd - dd) AS e
      |  FROM dist JOIN mn ON dist.doc_id = mn.doc_id),
      |z AS (SELECT doc_id, sum(e) AS zs FROM ez GROUP BY 1),
      |best AS (
      |  SELECT doc_id, ctopic, e FROM (
      |    SELECT doc_id, ctopic, e,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY dd, ctopic) AS rn
      |    FROM ez) WHERE rn = 1),
      |assigned AS (
      |  SELECT b.doc_id,
      |    CASE WHEN o.is_outlier THEN -1 ELSE b.ctopic END AS topic
      |  FROM best b JOIN outl o ON b.doc_id = o.doc_id)""".stripMargin

  /** q94: the full distribution; q50: topic sizes + percentages; q51: the
    * c-TF-IDF top-terms ranking over the vocabulary-scoped token stream;
    * q95: k×k centroid cosine — all recomputed downstream of the exported
    * parameters, so the oracle certifies the engine's serving math rather
    * than trusting it. */
  def oracle: Map[String, String] = Map(
    // cosine + ranking recomputed end-to-end from the exported fitted
    // vectors; rank on the rounded score with neighbor tiebreak
    "q154_wordvec_neighbors" ->
      """WITH v AS (
        |  SELECT word, vec
        |  FROM read_parquet('{GRAFT_OUT}_support/q154_support_wordvec/*.parquet')),
        |n AS (
        |  SELECT word, sqrt(list_sum([x * x for x in vec])) AS nrm FROM v),
        |nz AS (SELECT v.word, v.vec, n.nrm FROM v JOIN n USING (word) WHERE n.nrm > 0),
        |p AS (
        |  SELECT a.word AS word, b.word AS neighbor,
        |    round(list_sum([a.vec[i] * b.vec[i]
        |                    for i in range(1, len(a.vec) + 1)]) / (a.nrm * b.nrm), 4) AS cos
        |  FROM nz a JOIN nz b ON a.word != b.word),
        |r AS (
        |  SELECT word, neighbor, cos, row_number() OVER (
        |    PARTITION BY word ORDER BY cos DESC, neighbor) AS rank
        |  FROM p)
        |SELECT word, neighbor, CAST(rank AS BIGINT) AS rank, cos
        |FROM r WHERE rank <= 3 ORDER BY word, rank""".stripMargin,
    // pooling AND serving recomputed from the exported word vectors:
    // per-(doc, dim) token-instance mean -> norm -> probe x corpus
    // cosine -> rounded-score rank. Only the SVD fit is taken as given.
    "q155_docvec_similar" ->
      """WITH v AS (
        |  SELECT word, vec
        |  FROM read_parquet('{GRAFT_OUT}_support/q154_support_wordvec/*.parquet')),
        |tk AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |dim AS (
        |  SELECT tk.doc_id, i, avg(v.vec[i]) AS x
        |  FROM tk JOIN v USING (word), unnest(range(1, len(v.vec) + 1)) AS r(i)
        |  GROUP BY 1, 2),
        |dv AS (
        |  SELECT doc_id, list(x ORDER BY i) AS dv FROM dim GROUP BY 1),
        |nz AS (
        |  SELECT doc_id, dv, sqrt(list_sum([y * y for y in dv])) AS nrm
        |  FROM dv WHERE sqrt(list_sum([y * y for y in dv])) > 0),
        |p AS (
        |  SELECT a.doc_id AS probe_id, b.doc_id,
        |    round(list_sum([a.dv[i] * b.dv[i]
        |                    for i in range(1, len(a.dv) + 1)]) / (a.nrm * b.nrm), 4) AS cos
        |  FROM nz a JOIN nz b ON a.doc_id < 10 AND a.doc_id != b.doc_id),
        |r AS (
        |  SELECT probe_id, doc_id, cos, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY cos DESC, doc_id) AS rank
        |  FROM p)
        |SELECT probe_id, doc_id, CAST(rank AS BIGINT) AS rank, cos
        |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,
    // q155's serve contract with SIF weights: w = a/(a + n/t) from the
    // corpus unigram table, pooling = sum(w·vec[i])/count per dim —
    // identical operand order to the engine; only the SVD is given
    "q161_sif_docvec" ->
      """WITH v AS (
        |  SELECT word, vec
        |  FROM read_parquet('{GRAFT_OUT}_support/q154_support_wordvec/*.parquet')),
        |tk AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |fr AS (SELECT word, count(*) AS n FROM tk GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM fr),
        |dim AS (
        |  SELECT tk.doc_id, i,
        |    sum((0.001 / (0.001 + fr.n / tt.t)) * v.vec[i]) / count(*) AS x
        |  FROM tk JOIN v USING (word) JOIN fr USING (word) CROSS JOIN tt,
        |    unnest(range(1, len(v.vec) + 1)) AS r(i)
        |  GROUP BY 1, 2),
        |dv AS (
        |  SELECT doc_id, list(x ORDER BY i) AS dv FROM dim GROUP BY 1),
        |nz AS (
        |  SELECT doc_id, dv, sqrt(list_sum([y * y for y in dv])) AS nrm
        |  FROM dv WHERE sqrt(list_sum([y * y for y in dv])) > 0),
        |p AS (
        |  SELECT a.doc_id AS probe_id, b.doc_id,
        |    round(list_sum([a.dv[i] * b.dv[i]
        |                    for i in range(1, len(a.dv) + 1)]) / (a.nrm * b.nrm), 4) AS cos
        |  FROM nz a JOIN nz b ON a.doc_id < 10 AND a.doc_id != b.doc_id),
        |r AS (
        |  SELECT probe_id, doc_id, cos, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY cos DESC, doc_id) AS rank
        |  FROM p)
        |SELECT probe_id, doc_id, CAST(rank AS BIGINT) AS rank, cos
        |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,
    // q161's pooling CTEs verbatim (recomputed from the exported word
    // vectors + corpus frequencies) + the q182 per-source diversity fold
    "q184_source_docvec_diversity" ->
      """WITH v AS (
        |  SELECT word, vec
        |  FROM read_parquet('{GRAFT_OUT}_support/q154_support_wordvec/*.parquet')),
        |tk AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |fr AS (SELECT word, count(*) AS n FROM tk GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM fr),
        |dim AS (
        |  SELECT tk.doc_id, i,
        |    sum((0.001 / (0.001 + fr.n / tt.t)) * v.vec[i]) / count(*) AS x
        |  FROM tk JOIN v USING (word) JOIN fr USING (word) CROSS JOIN tt,
        |    unnest(range(1, len(v.vec) + 1)) AS r(i)
        |  GROUP BY 1, 2),
        |dv AS (
        |  SELECT doc_id, list(x ORDER BY i) AS dv FROM dim GROUP BY 1),
        |nz AS (
        |  SELECT doc_id, dv, sqrt(list_sum([y * y for y in dv])) AS nrm
        |  FROM dv WHERE sqrt(list_sum([y * y for y in dv])) > 0),
        |u AS (
        |  SELECT d.source, r.i - 1 AS pos, nz.dv[r.i] / nz.nrm AS u
        |  FROM nz JOIN documents d USING (doc_id),
        |    unnest(range(1, len(nz.dv) + 1)) AS r(i)),
        |c AS (SELECT source, pos, avg(u) AS c, count(*) AS n
        |      FROM u GROUP BY 1, 2)
        |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        |  round(1.0 - sum(c * c), 4) AS diversity
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // q49 certified GIVEN the embedding (the exported features table —
    // the one model output among the inputs): DuckDB recomputes the norm
    // and leading component with the same left-fold double accumulation
    // as functions.Vectors.norm2, so the normalization invariant and the
    // report math are checked; only the encoder itself is taken as given
    // (same contract as the topic/ANN oracles).
    "q49_embed_docs" ->
      """SELECT doc_id,
        |  round(sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |                       for x in embedding])), 4) AS norm,
        |  round(CAST(embedding[1] AS DOUBLE), 4) AS c0
        |FROM read_parquet('{GRAFT_OUT}_support/q94_support_features/*.parquet')
        |ORDER BY doc_id""".stripMargin,
    "q94_topic_probs" -> (assignCtes +
      """
        |SELECT a.doc_id,
        |  CAST(a.topic AS BIGINT) AS topic,
        |  CASE WHEN a.topic = -1 THEN NULL ELSE round(b.e / z.zs, 4) END AS prob
        |FROM assigned a
        |JOIN best b ON a.doc_id = b.doc_id
        |JOIN z ON a.doc_id = z.doc_id
        |ORDER BY a.doc_id""".stripMargin),
    "q50_topic_info" -> (assignCtes +
      """,
        |counts AS (SELECT topic, count(*) AS n FROM assigned GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM assigned)
        |SELECT CAST(topic AS INTEGER) AS topic, n,
        |  round(n * 100.0 / total, 2) AS pct
        |FROM counts CROSS JOIN tot ORDER BY topic""".stripMargin),
    "q51_topic_terms" -> (assignCtes +
      """,
        |vocab AS (
        |  SELECT term FROM read_parquet('{GRAFT_OUT}_support/q51_support_vocab/*.parquet')),
        |toks AS (
        |  SELECT d.doc_id,
        |    unnest([t for t in regexp_split_to_array(lower(d.text), '\W+')
        |            if len(t) > 0 AND NOT list_contains(sw.sws, t)]) AS term
        |  FROM documents d CROSS JOIN sw),
        |tt AS (
        |  SELECT a.topic, t.term, count(*) AS tf
        |  FROM toks t
        |  JOIN assigned a ON t.doc_id = a.doc_id AND a.topic <> -1
        |  JOIN vocab v ON t.term = v.term
        |  GROUP BY 1, 2),
        |tdf AS (SELECT term, count(DISTINCT topic) AS df_topics FROM tt GROUP BY 1),
        |scored AS (
        |  SELECT tt.topic, tt.term, round(tf * ln(11.0 / df_topics), 4) AS score
        |  FROM tt JOIN tdf ON tt.term = tdf.term),
        |ranked AS (
        |  SELECT topic, term, score,
        |    row_number() OVER (PARTITION BY topic ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |SELECT CAST(topic AS INTEGER) AS topic, CAST(rn AS INTEGER) AS rn,
        |  term, score
        |FROM ranked WHERE rn <= 5 ORDER BY topic, rn""".stripMargin),
    "q95_topic_heatmap" ->
      """WITH c AS (
        |  SELECT ctopic, centroid
        |  FROM read_parquet('{GRAFT_OUT}_support/q94_support_centroids/*.parquet'))
        |SELECT a.ctopic AS topic_a, b.ctopic AS topic_b,
        |  round(
        |    list_sum([a.centroid[i] * b.centroid[i]
        |              for i in range(1, len(a.centroid) + 1)]) /
        |    (sqrt(list_sum([a.centroid[i] * a.centroid[i]
        |                    for i in range(1, len(a.centroid) + 1)])) *
        |     sqrt(list_sum([b.centroid[i] * b.centroid[i]
        |                    for i in range(1, len(b.centroid) + 1)]))), 6) AS cos
        |FROM c a CROSS JOIN c b
        |ORDER BY topic_a, topic_b""".stripMargin,
  )
}
