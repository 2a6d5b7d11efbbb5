package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Caching
import graft.pipelines.TrainingData
import graft.sources.ShardExport

/** Integration test for the full training-data pipeline composition:
  * planted clones, near-dups, short docs, and a contaminated doc must be
  * dropped at the right stages; survivors mix and shard deterministically. */
class TrainingDataPipelineSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def md5hex2(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .take(1).map(b => f"${b & 0xff}%02x").mkString

  test("pipeline drops clones, near-dups, short and contaminated docs; shards the rest") {
    val evalText = "held out benchmark question answer pair secret eval items " * 5
    val longText = (tag: String) =>
      (s"alpha$tag beta$tag gamma$tag delta$tag epsilon$tag zeta$tag eta$tag theta$tag " * 6).trim
    val rows = Seq.newBuilder[(Long, String, String)]
    rows += ((1L, longText("one"), "srcA"))
    rows += ((2L, longText("one"), "srcA")) // exact clone of 1
    rows += ((3L, longText("one") + " smalltail", "srcA")) // near-dup of 1
    rows += ((4L, "too short", "srcA")) // quality gate
    rows += ((5L, "prefix " + evalText + " suffix", "srcB")) // contaminated
    (6L to 25L).foreach(i => rows += ((i, longText(s"u$i"), if (i % 2 == 0) "srcA" else "srcB")))
    val docs = rows.result().toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val evalDocs = Seq(evalText).toDF("text")
    val weights = Seq(("srcA", 2, "80"), ("srcB", 1, "00"))
      .toDF("source", "base_copies", "thr")
    val outDir = java.nio.file.Files.createTempDirectory("graft-tdp").toString

    // the rule gate is PARAMETERIZED per corpus: the planted docs carry no
    // english stopwords, so this calibration keeps only the word-count and
    // mean-word-length bounds (doc 4's two words fail the floor)
    val gate = graft.ops.TextOps.RuleGateConfig(
      minWords = 30L, maxWords = 1000L,
      minMeanWordLen = 0.0, maxMeanWordLen = 20.0,
      stopwords = Nil, minStopHits = 0L,
      maxSymbolRatio = Double.MaxValue)
    val reportDir = java.nio.file.Files.createTempDirectory("graft-tdy").toString
    // pplGate off: this fixture exercises the OTHER stages (the planted
    // contaminated doc must reach decontamination, not fall to the LM
    // tail first); the ppl stage has its own q156-parity test below
    val summary = TrainingData.run(spark, docs, evalDocs, weights, outDir,
        nShards = 8, maxRecordsPerFile = 10, gate = gate,
        pplGate = false, tokenReportDir = Some(reportDir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // the run report IS the certified q143 cascade on the pipeline input
    val wantYield = graft.ops.TextOps.tokenYieldOf(
        docs.select(col("doc_id"), col("source"), col("text")))
      .collect().map(_.toSeq).toSet
    val gotYield = spark.read.parquet(reportDir)
      .select(col("source"), col("n_raw"), col("n_collapsed"),
        col("n_scrubbed"), col("n_yield"))
      .collect().map(_.toSeq).toSet
    assert(gotYield == wantYield, s"token report != q143 kernel: $gotYield vs $wantYield")
    assert(gotYield.map(_.head).toSet == Set("srcA", "srcB"))

    // funnel: 25 in, all structurally valid => 25 validated; -1 short
    // (rule gate) => 24 gated; -1 exact clone, -1 near-dup => 22 clean;
    // -1 contaminated => 21
    assert(summary("input") == 25L)
    assert(summary("validated") == 25L, s"validated stage: $summary")
    assert(summary("gated") == 24L, s"gate stage: $summary")
    assert(summary("ppl_gated") == 24L, s"disabled ppl gate must pass through: $summary")
    assert(summary("clean") == 22L, s"clean stage: $summary")
    assert(summary("decontaminated") == 21L, s"decontam stage: $summary")

    val out = spark.read.parquet(graft.sources.ShardExport.resolve(spark, outDir)).cache()
    val outDocs = out.select("doc_id").distinct().as[Long].collect().sorted.toSeq
    assert(!outDocs.exists(Seq(2L, 3L, 4L, 5L).contains(_)),
      "dropped docs must not reach the shards")
    assert(outDocs == (Seq(1L) ++ (6L to 25L)), s"unexpected survivors: $outDocs")

    // mixing reference: srcA 2+(h2<80), srcB 1 copy
    val srcOf = (Seq((1L, "srcA")) ++ (6L to 25L).map(i =>
      i -> (if (i % 2 == 0) "srcA" else "srcB"))).toMap
    val wantRows = srcOf.map { case (id, src) =>
      if (src == "srcA") 2L + (if (md5hex2(id) < "80") 1L else 0L) else 1L
    }.sum
    assert(summary("mixed_rows") == wantRows)
    assert(out.count() == wantRows)

    // copies of a doc stay in one md5-assigned shard
    val bad = out.filter(
      col("shard") =!= ShardExport.shardAssignment(col("doc_id"), 8)).count()
    assert(bad == 0)
    out.unpersist()
  }

  test("decontam='scrub' cuts the shared spans and keeps the doc; fully-covered docs drop") {
    val evalText = "held out benchmark question answer pair secret eval items " * 5
    val evalText2 = "another hidden benchmark prompt completion pair withheld test cases " * 5
    val longText = (tag: String) =>
      (s"alpha$tag beta$tag gamma$tag delta$tag epsilon$tag zeta$tag eta$tag theta$tag " * 6).trim
    val rows = Seq.newBuilder[(Long, String, String)]
    rows += ((1L, longText("one"), "srcA"))
    rows += ((2L, longText("one"), "srcA")) // exact clone of 1
    rows += ((3L, longText("one") + " smalltail", "srcA")) // near-dup of 1
    rows += ((4L, "too short", "srcA")) // quality gate
    rows += ((5L, "prefix " + evalText + " suffix", "srcB")) // PARTIALLY contaminated
    rows += ((26L, evalText2.trim, "srcB")) // FULLY covered by eval
    (6L to 25L).foreach(i => rows += ((i, longText(s"u$i"), if (i % 2 == 0) "srcA" else "srcB")))
    val docs = rows.result().toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val evalDocs = Seq(evalText, evalText2).toDF("text")
    val weights = Seq(("srcA", 2, "80"), ("srcB", 1, "00"))
      .toDF("source", "base_copies", "thr")
    val outDir = java.nio.file.Files.createTempDirectory("graft-tdscrub").toString
    val gate = graft.ops.TextOps.RuleGateConfig(
      minWords = 30L, maxWords = 1000L,
      minMeanWordLen = 0.0, maxMeanWordLen = 20.0,
      stopwords = Nil, minStopHits = 0L,
      maxSymbolRatio = Double.MaxValue)
    val reportDir = java.nio.file.Files
      .createTempDirectory("graft-tdscrub-report").toString
    val summary = TrainingData.run(spark, docs, evalDocs, weights, outDir,
        nShards = 8, maxRecordsPerFile = 10, gate = gate,
        pplGate = false, decontam = "scrub",
        decontamReportDir = Some(reportDir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // 26 in; -1 short => 25 gated; -1 clone, -1 near-dup => 23 clean;
    // scrub KEEPS doc 5 (spans cut) and drops only fully-covered 26 => 22
    assert(summary("gated") == 25L, s"gate stage: $summary")
    assert(summary("clean") == 23L, s"clean stage: $summary")
    assert(summary("decontaminated") == 22L, s"scrub stage: $summary")

    val out = spark.read.parquet(graft.sources.ShardExport.resolve(spark, outDir)).cache()
    val outDocs = out.select("doc_id").distinct().as[Long].collect().sorted.toSeq
    assert(outDocs.contains(5L), "partially-contaminated doc must survive scrub")
    assert(!outDocs.contains(26L), "fully-covered doc must still drop")
    // the surviving doc's text is exactly the uncovered remainder, and
    // its n_chars was recomputed to match
    val d5 = out.filter(col("doc_id") === 5L)
      .select(col("text"), col("n_chars")).distinct().collect()
    assert(d5.length == 1 && d5(0).getString(0) == "prefix suffix", d5.mkString)
    assert(d5(0).getLong(1) == "prefix suffix".length.toLong, d5.mkString)
    // untouched docs keep their ORIGINAL text verbatim
    val d1 = out.filter(col("doc_id") === 1L)
      .select(col("text")).distinct().as[String].collect()
    assert(d1.toSeq == Seq(longText("one")))
    out.unpersist()

    // the q178 run report (r15 verdict #8): per-source loss accounting of
    // THIS run's post-dedup corpus — srcB carries both planted hits (doc
    // 5 span-touched, doc 26 fully gutted); srcA is untouched
    val rep = spark.read.parquet(reportDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(5))))
      .toMap // source -> (n_affected, n_gutted, tok_cut)
    assert(rep.keySet == Set("srcA", "srcB"), rep.toString)
    assert(rep("srcB")._1 == 2L && rep("srcB")._2 == 1L && rep("srcB")._3 > 0L,
      s"srcB must show the two planted hits: $rep")
    assert(rep("srcA") == ((0L, 0L, 0L)), s"srcA must be untouched: $rep")
  }

  // a batch with structural breaches: doc 2 duplicates doc 1's id, doc 4
  // lies about its length, doc 5 has no text, one row has a NULL id, doc
  // 8 has a NULL n_chars — only 3 and 6 are admissible (their texts are
  // unrelated, so dedup keeps both). The null-id and null-n_chars rows
  // are the three-valued-logic traps: a gate that only handles non-null
  // breaches silently LOSES them instead of quarantining.
  private def breachedDocs = {
    val longA = ("alpha beta gamma delta epsilon zeta eta theta " * 8).trim
    val longB = ("north south east west river mountain valley plain " * 8).trim
    Seq(
      (Option(1L), Option(longA + " one"), "srcA", Option((longA + " one").length)),
      (Option(1L), Option(longA + " dup"), "srcA", Option((longA + " dup").length)), // duplicate id
      (Option(3L), Option(longA + " three"), "srcA", Option((longA + " three").length)),
      (Option(4L), Option(longA + " four"), "srcA", Option(7)),    // n_chars lie
      (Option(5L), None: Option[String], "srcA", Option(12)),      // null text
      (Option(6L), Option(longB + " six"), "srcB", Option((longB + " six").length)),
      (None: Option[Long], Option(longB + " seven"), "srcB",
        Option((longB + " seven").length)),                        // null id
      (Option(8L), Option(longA + " eight"), "srcA", None: Option[Int]), // null n_chars
    ).toDF("doc_id", "text", "source", "n_chars")
  }

  private val cleanEval =
    Seq("completely unrelated held out eval question answer text").toDF("text")

  test("quality-aware retention keeps the best-scored clone through the whole pipeline") {
    val longText = (tag: String) =>
      (s"alpha$tag beta$tag gamma$tag delta$tag epsilon$tag zeta$tag eta$tag theta$tag " * 6).trim
    val rows = Seq.newBuilder[(Long, String, String)]
    rows += ((1L, longText("one"), "srcA"))
    rows += ((2L, longText("one"), "srcA")) // exact clone of 1
    (6L to 15L).foreach(i => rows += ((i, longText(s"u$i"), "srcA")))
    val docs = rows.result().toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val evalDocs = Seq("completely unrelated eval ngram material here " * 4).toDF("text")
    val weights = TrainingData.flatWeights(spark, Seq("srcA"))
    val gate = graft.ops.TextOps.RuleGateConfig(
      minWords = 30L, maxWords = 1000L,
      minMeanWordLen = 0.0, maxMeanWordLen = 20.0,
      stopwords = Nil, minStopHits = 0L,
      maxSymbolRatio = Double.MaxValue)
    val scores = (Seq((1L, 0.1), (2L, 0.9)) ++ (6L to 15L).map(i => (i, 0.5)))
      .toDF("doc_id", "score")
    val outDir = java.nio.file.Files.createTempDirectory("graft-tdp-ret").toString
    TrainingData.run(spark, docs, evalDocs, weights, outDir,
      nShards = 4, maxRecordsPerFile = 10, gate = gate,
      retentionScores = Some(scores))
    val kept = spark.read.parquet(graft.sources.ShardExport.resolve(spark, outDir)).select("doc_id").as[Long]
      .collect().toSet
    assert(kept.contains(2L) && !kept.contains(1L),
      s"retention must keep the higher-scored clone (got $kept)")
  }

  test("ppl gate drops exactly q156's tail bucket on the pipeline input") {
    // 9 FLUENT docs each repeat their own 8-word phrase 6 times (their
    // bigrams recur -> head/middle under the bigram LM); 3 SALAD docs use
    // 40 distinct words once each in a unique order (every bigram count
    // is 1 -> tail). Texts are pairwise shingle-disjoint, so the dedup
    // and decontamination stages are pass-through and the ONLY drops in
    // the funnel are the ppl gate's.
    val fluent = (1L to 9L).map { i =>
      (i, (s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i " * 6).trim, "srcA")
    }
    val salad = (10L to 12L).map { i =>
      (i, (1 to 40).map(j => s"w${i}x$j").mkString(" "), "srcB")
    }
    val docs = (fluent ++ salad).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val evalDocs = Seq("completely unrelated held out benchmark material").toDF("text")
    val weights = TrainingData.flatWeights(spark, Seq("srcA", "srcB"))
    val outDir = java.nio.file.Files.createTempDirectory("graft-tdp-ppl").toString

    val summary = TrainingData.run(spark, docs, evalDocs, weights, outDir,
        nShards = 4, maxRecordsPerFile = 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // the reference assignment IS the q156 kernel on the pipeline input:
    // score with the certified bigram arithmetic, cut at
    // percentile_disc(2/3), tail = nll2 > c2
    val scores = graft.ops.Scoring.bigramNllOf(docs).cache()
    val c2 = scores
      .agg(expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2)"))
      .head.getDouble(0)
    val tail = scores.filter(col("nll2") > c2).select("doc_id")
      .as[Long].collect().toSet
    scores.unpersist()
    assert(tail == (10L to 12L).toSet, s"fixture: salad docs must be tail, got $tail")

    assert(summary("gated") == 12L, s"rule gate must pass all: $summary")
    assert(summary("ppl_gated") == 12L - tail.size, s"ppl stage: $summary")
    assert(summary("clean") == summary("ppl_gated"), s"dedup must not drop: $summary")
    val shipped = spark.read.parquet(graft.sources.ShardExport.resolve(spark, outDir)).select("doc_id").distinct()
      .as[Long].collect().toSet
    assert(shipped == (1L to 12L).toSet.diff(tail),
      s"exported set must be exactly the non-tail docs: $shipped")

    // a session that already scored the corpus passes the artifact in —
    // identical decision, no refit
    val outDir2 = java.nio.file.Files.createTempDirectory("graft-tdp-ppl2").toString
    val summary2 = TrainingData.run(spark, docs, evalDocs, weights, outDir2,
        nShards = 4, maxRecordsPerFile = 100,
        pplScores = Some(graft.ops.Scoring.bigramNllOf(docs)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary2("ppl_gated") == summary("ppl_gated"))

    // gate off: the stage is pass-through
    val outDir3 = java.nio.file.Files.createTempDirectory("graft-tdp-ppl3").toString
    val summary3 = TrainingData.run(spark, docs, evalDocs, weights, outDir3,
        nShards = 4, maxRecordsPerFile = 100, pplGate = false)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary3("ppl_gated") == 12L && summary3("clean") == 12L)

    // the KN tier: same fixture, cut from the q165 kernel — salad docs
    // (all-singleton bigrams, maximally discounted) must still be the
    // tail, and the stage's drops must equal that KN tail exactly
    val knScores = graft.ops.Scoring.knNllOf(docs).cache()
    val knC2 = knScores
      .agg(expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn)"))
      .head.getDouble(0)
    val knTail = knScores.filter(col("nll_kn") > knC2).select("doc_id")
      .as[Long].collect().toSet
    knScores.unpersist()
    assert(knTail == (10L to 12L).toSet, s"fixture: salad must be KN tail, got $knTail")
    val outDir4 = java.nio.file.Files.createTempDirectory("graft-tdp-ppl4").toString
    val summary4 = TrainingData.run(spark, docs, evalDocs, weights, outDir4,
        nShards = 4, maxRecordsPerFile = 100, pplSmoothing = "kn")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary4("ppl_gated") == 12L - knTail.size,
      s"KN-tier stage must drop exactly the KN tail: $summary4")
  }

  test("expectations gate FAILS the run on a breached batch by default") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-tdp-fail").toString
    val ex = intercept[IllegalStateException] {
      TrainingData.run(spark, breachedDocs, cleanEval,
        TrainingData.flatWeights(spark, Seq("srcA", "srcB")), outDir)
    }
    assert(ex.getMessage.contains("expectations breach: 6 rows"), ex.getMessage)
  }

  test("expectations gate quarantines breaching rows and admits the rest") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-tdp-q").toString
    val qDir = java.nio.file.Files.createTempDirectory("graft-tdp-quar").toString + "/q"
    val summary = TrainingData.run(spark, breachedDocs, cleanEval,
        TrainingData.flatWeights(spark, Seq("srcA", "srcB")), outDir,
        quarantineDir = Some(qDir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary("input") == 8L)
    assert(summary("validated") == 2L, s"only docs 3 and 6 admit: $summary")
    val quarantined = spark.read.parquet(qDir)
    // all six breaches accounted for — INCLUDING the null-id and
    // null-n_chars rows (input == validated + quarantined: no row is lost)
    assert(quarantined.count() == 6L)
    assert(quarantined.select("doc_id").as[Option[Long]].collect().sorted.toSeq ==
      Seq(None, Some(1L), Some(1L), Some(4L), Some(5L), Some(8L)))
    // no breaching row reaches the shards
    val shipped = spark.read.parquet(graft.sources.ShardExport.resolve(spark, outDir)).select("doc_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(shipped == Seq(3L, 6L), s"unexpected shards: $shipped")

    // a subsequent CLEAN run over the same quarantine dir clears it —
    // stale breaches must not read as this run's
    val outDir2 = java.nio.file.Files.createTempDirectory("graft-tdp-q2").toString
    TrainingData.run(spark, breachedDocs.filter(col("doc_id").isin(3L, 6L)),
      cleanEval, TrainingData.flatWeights(spark, Seq("srcA", "srcB")),
      outDir2, quarantineDir = Some(qDir))
    assert(spark.read.parquet(qDir).count() == 0L,
      "clean run must clear the quarantine dir")
  }

  // 40 docs over 30 distinct texts, two sources: every doc passes the
  // default gate and the clones give dedup something to drop
  private def wordyDocs =
    (0L until 40L).map(i =>
        (i, s"document number ${i % 30} with some words the gate can count " * 8,
          s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))

  test("TrainingData.run: same answers eager or deferred, conf untouched") {
    val docs = wordyDocs
    val evalDocs = Seq((1000L, "held out eval sentence that matches nothing"))
      .toDF("doc_id", "text")
    val weights = Seq(("src0", 1L, "ff"), ("src1", 1L, "ff"))
      .toDF("source", "base_copies", "thr")
    // the caller picks the cache lifecycle; the run only reads DeferKey
    def runWith(defer: Option[String]) = {
      defer.foreach(spark.conf.set(Caching.DeferKey, _))
      try {
        val out = java.nio.file.Files.createTempDirectory("graft-tdp-defer").toString
        val funnel = TrainingData.run(spark, docs, evalDocs,
            weights, out, nShards = 2)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(spark.conf.getOption(Caching.DeferKey) == defer)
        val rows = spark.read.parquet(graft.sources.ShardExport.resolve(spark, out))
          .select("doc_id", "source", "text", "n_chars", "copy_no", "shard")
          .collect().map(_.toSeq).toSet
        (funnel, rows)
      } finally spark.conf.unset(Caching.DeferKey)
    }
    assert(spark.conf.getOption(Caching.DeferKey).isEmpty)
    val (eagerFunnel, eagerRows) = runWith(None)
    val (deferFunnel, deferRows) = runWith(Some("true"))
    assert(eagerFunnel("clean") < eagerFunnel("input"))
    assert(deferFunnel == eagerFunnel)
    assert(eagerRows.nonEmpty && deferRows == eagerRows)
  }

  test("a run that fails mid-funnel releases every stage barrier it cached") {
    import SparkTestSession.cachedRdds
    // no text column: the run fails at decontamination, after the input,
    // checked, validated, gated, ppl_gated and clean barriers are cached
    val noTextEval = Seq(1000L).toDF("doc_id")
    val before = cachedRdds
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      TrainingData.run(spark, wordyDocs, noTextEval,
        TrainingData.flatWeights(spark, Seq("src0", "src1")),
        java.nio.file.Files.createTempDirectory("graft-tdp-leak").toString,
        nShards = 2)
    }
    assert(ex.getMessage.contains("text"), ex.getMessage)
    assert(cachedRdds == before, s"leaked: ${cachedRdds -- before}")
  }
}
