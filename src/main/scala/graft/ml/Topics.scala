package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{CountVectorizer, RegexTokenizer, StopWordsRemover}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Topic-modeling pipeline (SURVEY M2-M5; reference
  * /root/reference/code/bertopicTest.py — BERTopic with custom stopwords,
  * 1-2-grams, min_df=2, max 5000 features; outputs: per-doc topic incl. -1
  * outliers, per-topic counts/percentages, top-k weighted terms).
  *
  * BERTopic ≈ embed → cluster → c-TF-IDF. The Spark-native pipeline matches
  * that output contract (not HDBSCAN internals): Spark ML tokenizer →
  * stopword removal (reference's custom list union, bertopicTest.py:30-42) →
  * CountVectorizer(minDF=2, vocabSize=5000) → KMeans(seed fixed) on the
  * hashing embedding; topic terms come from per-cluster term sums ranked by
  * a c-TF-IDF-style score (A7 window). Small docs that lose every token to
  * the stopword filter land in topic -1 — the outlier channel
  * (bertopicTest.py:127).
  */
object Topics {

  /** Reference custom stopwords (bertopicTest.py:33-41 shape) unioned with
    * the Spark ML english list (U2). */
  val CustomStopwords: Array[String] =
    StopWordsRemover.loadDefaultStopWords("english") ++
      Array("im", "dont", "amp", "thats", "gonna", "yall")

  /** `centroids(t)` is topic t's KMeans center in embedding space (k×dim
    * doubles — driver-bounded); the -1 outlier channel has no centroid.
    * `vocab` is the fitted CountVectorizer vocabulary (minDF=2, ≤5000
    * terms — driver-bounded), the term universe of the report tables. */
  case class TopicModel(assignments: DataFrame, topicInfo: DataFrame,
      topTerms: DataFrame, centroids: Array[Array[Double]],
      vocab: Array[String])

  /** Memoized fit: the report queries (topic info, top terms) share one
    * fitted model per (session, dir, k) — M5's model persistence in-process.
    * The model is deterministic (fixed seed), so reuse is semantics-free. */
  private val fitted =
    scala.collection.concurrent.TrieMap.empty[(String, String, Int, Int), TopicModel]

  def fit(spark: SparkSession, dir: String, k: Int = 10, topTermsK: Int = 5): TopicModel =
    fitted.getOrElseUpdate((spark.sparkContext.applicationId, dir, k, topTermsK), {
      // cold-chain attribution, the SessionArtifacts discipline
      val t0 = System.nanoTime()
      val m = fitUncached(spark, dir, k, topTermsK)
      graft.ops.SessionArtifacts.recordCost(
        "topics", (System.nanoTime() - t0) / 1e9, dir)
      m
    })

  /** Cap on the rows the iterative KMeans fit reads (the codebook
    * sample-fit bound — see the fit-input note in [[fitUncached]]). Test
    * corpora sit far below it, so the certified report hashes are
    * unaffected; at corpus scale the fit cost is bounded by this, not N. */
  private[graft] val maxFitRows: Long = 50000L

  /** Fit the pipeline and produce the three reference report tables. */
  private def fitUncached(spark: SparkSession, dir: String, k: Int, topTermsK: Int): TopicModel = {
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))

    val tok = new RegexTokenizer().setInputCol("text").setOutputCol("raw_toks")
      .setPattern("\\W+").setToLowercase(true)
    val stop = new StopWordsRemover().setInputCol("raw_toks").setOutputCol("toks")
      .setStopWords(CustomStopwords)
    val cv = new CountVectorizer().setInputCol("toks").setOutputCol("tf")
      .setMinDF(2).setVocabSize(5000)
    val fittedPipe = new Pipeline().setStages(Array(tok, stop, cv)).fit(docs)
    val counted = fittedPipe.transform(docs)
    // the fitted vocabulary (min_df=2, 5000 features) scopes the term-report
    // universe, like BERTopic's vectorizer does (bertopicTest.py:44-46)
    val vocab = fittedPipe.stages.last
      .asInstanceOf[org.apache.spark.ml.feature.CountVectorizerModel].vocabulary

    // cluster on the deterministic hashing embedding (M1), mirroring
    // BERTopic's embed-then-cluster structure
    val toVec = org.apache.spark.ml.functions.array_to_vector(col("emb_arr"))
    // cache: KMeans.fit iterates over the features and transform reads them
    // again — without the barrier the embedding kernel reruns per pass
    val features = Embed.embedDocuments(spark, dir)
      .withColumnRenamed("embedding", "emb_arr")
      .select(col("doc_id"), toVec.as("features"))
      .cache()
    // Random init (seeded) instead of k-means||: the parallel init costs ~5
    // extra full passes over the features for no report-level difference
    // here — measured 3.2 s → 1.3 s on the sf0.1 fit (q50). 5
    // iterations: the topic report needs a stable partition of the space,
    // not a converged objective (same argument as the q45 IVF codebook);
    // determinism comes from the seed either way.
    // SAMPLE-FIT (the IvfIndex.build maxFitRows pattern): the centroids
    // partition space — they don't need every row, so the iterative fit
    // reads a bounded seeded sample and only the single-pass assign kernel
    // below touches the full corpus. At 100× scale the 5 KMeans iterations
    // cost 5 passes over maxFitRows rows, not 5 corpus passes. Below the
    // bound the sample IS the corpus (sample() would change the fit input
    // ordering and thus the report hashes for nothing).
    val nDocs = features.count() // materializes the cache in the same pass
    val fitInput =
      if (nDocs > maxFitRows)
        features.sample(withReplacement = false, maxFitRows.toDouble / nDocs, 42L)
      else features
    val km = new KMeans().setK(k).setSeed(42L).setMaxIter(5).setInitMode("random")
      .setFeaturesCol("features")
      .fit(fitInput)
    // per-doc topic ASSIGNMENT + DISTRIBUTION from ONE kernel: euclidean
    // distance to each centroid → argmin = the topic, softmax over negative
    // distance = the probs — the engine twin of BERTopic's
    // `(topics, probs)` return (bertopicTest.py:53-54). Computing both from
    // the same distance array makes argmax(probs) = topic true by
    // CONSTRUCTION (deriving the topic from KMeansModel.transform instead
    // would couple the invariant to its norm-accelerated distance agreeing
    // with the direct one — a near-equidistant doc could split them).
    // Ties break to the lowest topic id. Centroids are k×dim doubles —
    // broadcast-bounded at any corpus scale; unit-asserted in MlSpec.
    val centersB = spark.sparkContext.broadcast(km.clusterCenters.map(_.toArray))
    val assignKernel = udf { (v: org.apache.spark.ml.linalg.Vector) =>
      val arr = v.toArray
      val ds = centersB.value.map { c =>
        var s = 0.0; var i = 0
        while (i < arr.length) { val dd = arr(i) - c(i); s += dd * dd; i += 1 }
        math.sqrt(s)
      }
      var best = 0; var i = 1
      while (i < ds.length) { if (ds(i) < ds(best)) best = i; i += 1 }
      val mn = ds(best) // shift for numeric stability: exp(mn - d) ∈ (0, 1]
      val es = ds.map(dd => math.exp(mn - dd))
      val z = es.sum
      (best, es.map(_ / z))
    }
    val clustered = features
      .select(col("doc_id"), assignKernel(col("features")).as("a"))
      .select(col("doc_id"), col("a._1").as("topic"), col("a._2").as("probs"))

    // outlier channel: docs whose token set was emptied by filtering
    // (cache: topicInfo and topTerms both re-read this join)
    val withTopics = counted
      .withColumn("n_toks", size(col("toks")))
      .join(clustered, Seq("doc_id"))
      .withColumn("topic", when(col("n_toks") === 0, lit(-1)).otherwise(col("topic")))
      // outliers carry no cluster membership: null distribution, null prob
      .withColumn("probs",
        when(col("topic") === -1, lit(null)).otherwise(col("probs")))
      .select(col("doc_id"), col("topic"), col("toks"), col("probs"))
      .cache()

    // pct via the broadcast-scalar-total pattern (q04) — NOT an
    // unpartitioned window, which would funnel the aggregate through one task
    val counts = withTopics.groupBy(col("topic")).agg(count(lit(1)).as("n"))
    val total = withTopics.agg(count(lit(1)).as("total"))
    val info = counts.crossJoin(broadcast(total))
      .select(col("topic"), col("n"),
        round(col("n") * 100.0 / col("total"), 2).as("pct"))
      .orderBy(col("topic"))

    // c-TF-IDF-ish top terms: per-topic token counts weighted by inverse
    // topic frequency, ranked per topic (A7); terms outside the fitted
    // vocabulary are excluded, mirroring the vectorizer-scoped term
    // universe of the reference (min_df=2, max 5000 features)
    val vocabSet = spark.sparkContext.broadcast(vocab.toSet)
    val inVocab = udf { (t: String) => vocabSet.value.contains(t) }
    val exploded = withTopics
      .select(col("topic"), explode(col("toks")).as("term"))
      .filter(col("topic") =!= -1 && inVocab(col("term")))
    val termTopic = exploded.groupBy(col("topic"), col("term")).agg(count(lit(1)).as("tf"))
    val termTopics = termTopic.groupBy(col("term"))
      .agg(countDistinct(col("topic")).as("df_topics"))
    val w = Window.partitionBy(col("topic")).orderBy(col("score").desc, col("term"))
    val top = termTopic.join(termTopics, Seq("term"))
      .withColumn("score", round(col("tf") * log(lit(k.toDouble + 1) / col("df_topics")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topTermsK)
      .select(col("topic"), col("rn"), col("term"), col("score"))
      .orderBy(col("topic"), col("rn"))

    // materialize the three report tables eagerly (localCheckpoint: tiny —
    // per-doc assignments, k rows, k·topTermsK rows — and lineage-free, so
    // repeated report queries against the memoized model stay free), then
    // release the fit-time caches: the features and joined-token tables
    // must not stay pinned in the session for the model's lifetime
    val model = TopicModel(
      withTopics.select(col("doc_id"), col("topic"),
        col("probs").getItem(col("topic")).as("prob"), col("probs"))
        .localCheckpoint(true),
      info.localCheckpoint(true),
      top.localCheckpoint(true),
      km.clusterCenters.map(_.toArray),
      vocab)
    withTopics.unpersist()
    features.unpersist()
    model
  }
}
