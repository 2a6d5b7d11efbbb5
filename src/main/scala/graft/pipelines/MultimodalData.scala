package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.ops.{BloomSketch, Caching, Multimodal, Scoring, TextOps}
import graft.sources.ShardExport

/** The UNIFIED multimodal capstone — one funnel over documents that
  * carry text AND (optionally) media, superseding the sibling
  * [[TrainingData]] (text-only) and [[MediaData]] (media-only) runs for
  * a corpus where the two modalities must dedup JOINTLY: a doc that
  * survives text dedup can still be a near-dup of another doc's image,
  * and only the q144 cross-modal closure collapses that pair.
  *
  *   structural expectations gate (q98)           (Scoring.expectationsChecked —
  *     breaches FAIL the run unless diverted, the TrainingData contract)
  *   → media profile (ONE decode per blob)        (Multimodal.decodeProfile)
  *   → text rule gate (q97) + CCNet ppl gate      (Scoring.pplGateKeep, q156/q157)
  *   → media admission + metadata gate (q149)     (doc drops when its media
  *     fails; docs WITHOUT media pass as text-only; quarantine channel)
  *   → cross-modal NEAR canonicalization          (q144's edge union: text fp
  *     ∪ exact image hash ∪ hamming ≤ 3 representative edges → one CC)
  *   → eval-set decontamination (optional)        (q82 Bloom tier)
  *   → weighted source mixing                     (q83 semantics)
  *   → hash-sharded, size-bounded parquet export  (ShardExport, q86 twin)
  *
  * Certification: the funnel's stage semantics are q158's (the
  * per-source funnel-count query whose oracle replays gate + admission +
  * closure end-to-end in DuckDB); the composition is pinned to the q158
  * kernel and exercised with planted fixtures (a pair collapsed ONLY by
  * the cross-modal near edge) in MultimodalDataPipelineSpec.
  *
  * Scale notes: each blob is decoded ONCE (profile fuses admission +
  * gate metadata + hash); every later stage is metadata-only until the
  * export rewrites surviving bytes. The closure is star edges per
  * equality group plus near edges between DISTINCT-hash representatives
  * — never doc-pair cliques. The only driver values are the funnel
  * counts; mixing is a broadcast join + explode; the export is one
  * shuffle.
  */
object MultimodalData {

  /** Run the funnel over (doc_id, text, source, n_chars,
    * media: binary nullable) — the [[TrainingData]] input contract plus
    * the media column.
    *
    * @param evalDocs when given, decontaminate survivors against this
    *        eval split's 5-gram Bloom sketch (the [[TrainingData]] tier)
    * @param weights (source, base_copies, thr) mixing config — q83
    *        semantics, same as [[TrainingData]]
    * @param textGate rule-gate calibration (q97 structure)
    * @param mediaGate media-metadata thresholds (q149 structure)
    * @param pplGate drop the worst bigram-LM tercile of the rule-gated
    *        corpus (the CCNet stage shared with [[TrainingData]])
    * @param hashBits perceptual-hash width for the near tier's banding
    *        (64 for real pooled images)
    * @param quarantineDir docs whose media fails admission or the
    *        metadata gate land here with a triage reason (`no_magic` /
    *        `decode_failed` / `gate`); otherwise counted and dropped
    * @param structuralQuarantineDir where rows breaching the q98
    *        structural expectations (duplicate/null doc_id, null text,
    *        inconsistent n_chars) are diverted; None (default) FAILS
    *        the run on any breach — the [[TrainingData]] contract
    * @param retentionScores optional (doc_id, score) table — each
    *        cross-modal component keeps its HIGHEST-scoring member
    *        instead of the smallest id (the q108 retention policy,
    *        extended to the joint text∪image components)
    * @param tokenReportDir when given, also writes the q143 token-yield
    *        report of the input corpus (the [[TrainingData]] run report)
    * @param componentHistDir when given, also writes the q164
    *        component-size histogram of THIS run's cross-modal closure
    *        (the q153/histDir precedent) — the over-collapse release
    *        diagnostic read next to the funnel summary: mass in large
    *        components means the near threshold is percolating and the
    *        export is about to over-collapse
    * @param gateVennDir when given, also writes the q190-style gate
    *        VENN over THIS run's three gates — rule (q97), ppl (q156
    *        tercile), media admission (q149) — as INDEPENDENT verdicts
    *        on the validated corpus: the 2³ ablation table that says
    *        what each gate uniquely removes here. Opting in widens the
    *        decode population from ppl-survivors to all validated docs
    *        with media (still ONE decode per blob — the admission stage
    *        reuses the same profile), and scores the whole validated
    *        corpus with the bigram LM: the report costs what it
    *        measures, and nothing when off
    * @return funnel summary (stage, docs, secs): input, validated,
    *         gated, ppl_gated, media_ok, canonical, decontaminated,
    *         mixed_rows. The input count is observed on the expectations
    *         pass, so input's secs are 0.0 and that pass is timed in
    *         validated's
    */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
      evalDocs: Option[DataFrame] = None,
      weights: Option[DataFrame] = None,
      nShards: Int = 8, maxRecordsPerFile: Int = 1 << 20,
      textGate: TextOps.RuleGateConfig = TrainingData.DefaultGate,
      mediaGate: Multimodal.MediaGateConfig = Multimodal.MediaGateConfig(),
      pplGate: Boolean = true,
      hashBits: Int = 64,
      quarantineDir: Option[String] = None,
      structuralQuarantineDir: Option[String] = None,
      retentionScores: Option[DataFrame] = None,
      tokenReportDir: Option[String] = None,
      componentHistDir: Option[String] = None,
      gateVennDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // stage barriers, as in TrainingData.run: every stage below is cached,
    // counted once and handed on as a leaf, and all of them are released
    // in the finally, failure or not
    val barrier = new Caching.Barriers
    try {
    // 0. EXPECTATIONS GATE (q98 structural admission — the TrainingData
    // contract verbatim: breaches fail the run unless diverted). The input
    // has one consumer, so its count is observed on the admission pass;
    // the admitted set feeds several stages, so it stays a barrier
    val expectations =
      new Funnel.Expectations(docs, structuralQuarantineDir, "structuralQuarantineDir")
    val ((_, validated), tValidated) = timed(barrier(expectations.validated))
    val (nInput, nValidated) = expectations.settle()

    // 1. TEXT GATES first — narrow predicate passes, so the decode stage
    // below only ever touches blobs whose documents can survive at all
    val ((nGated, gated), tGated) =
      timed(barrier(validated.filter(TextOps.ruleGateKeep(textGate))))
    val ((nPplGated, pplGated), tPplGated) =
      timed(if (!pplGate) (nGated, gated) else barrier(Scoring.pplGateKeep(gated)))

    // 2. MEDIA PROFILE + ADMISSION + GATE: one decode per surviving blob
    // (decodeProfile fuses admission, gate metadata, and the hash). A doc
    // with NULL media is text-only and passes; a doc whose media is
    // undecodable or gate-failing DROPS (the export is a paired set — a
    // broken pair is quarantine material, not a silent text-only row)
    // decode population: ppl-survivors normally; ALL validated docs with
    // media when the gate-Venn report needs the independent media verdict
    // (still one decode per blob — admission below filters back to the
    // cascade population by doc_id, metadata-only)
    val decodePop = if (gateVennDir.isDefined) validated else pplGated
    // the decode is media_ok's work: its lap is added to that stage's secs
    val ((_, profileAll), tProfile) = timed(barrier(Multimodal.decodeProfile(
        decodePop.filter(col("media").isNotNull).select(col("doc_id"), col("media")))
      .withColumn("n_frames", lit(1))
      .select(Seq(col("doc_id"), col("decoded"), col("reason"), col("ahash")) ++
        Multimodal.mediaGateFlags(mediaGate): _*)
      .select(col("doc_id"), col("ahash"),
        (col("decoded") && col("keep")).as("media_keep"),
        when(!col("decoded"), col("reason")).otherwise(lit("gate")).as("fail_reason"))))
    val profile =
      if (gateVennDir.isEmpty) profileAll
      else profileAll.join(pplGated.select(col("doc_id")), Seq("doc_id"), "left_semi")
    quarantineDir.foreach(qd =>
      profile.filter(!col("media_keep"))
        .join(pplGated.select(col("doc_id"), col("media")), Seq("doc_id"))
        .select(col("doc_id"), col("media"), col("fail_reason").as("reason"))
        .write.mode("overwrite").parquet(qd))
    // run report: the q190 ablation over THIS run's gates as INDEPENDENT
    // verdicts on the validated corpus (r15 verdict #8) — rule/ppl are
    // narrow scans, media reads the one decode's profile; docs without
    // media count as kept by the media gate (they export text-only), and
    // with pplGate off that gate keeps everything by definition
    gateVennDir.foreach { dir =>
      val pplKept =
        (if (pplGate) Scoring.pplGateKeep(validated) else validated)
          .select(col("doc_id"), lit(1L).as("ppl_kept"))
      Scoring.vennOf(
        validated
          .select(col("doc_id"),
            TextFns.tokenCount(col("text")).cast("long").as("n_tok"),
            TextOps.ruleGateKeep(textGate).cast("long").as("rule"))
          .join(pplKept, Seq("doc_id"), "left")
          .join(profileAll.select(col("doc_id"),
            col("media_keep").cast("long").as("mk")), Seq("doc_id"), "left")
          .select(col("n_tok"), col("rule"),
            coalesce(col("ppl_kept"), lit(0L)).as("ppl"),
            coalesce(col("mk"), lit(1L)).as("media")),
        Seq("rule", "ppl", "media"))
        .write.mode("overwrite").parquet(dir)
    }
    val ((nMediaOk, mediaOk), tMediaOk) = timed(barrier(pplGated
      .join(profile.select(col("doc_id"), col("media_keep"), col("ahash")),
        Seq("doc_id"), "left")
      .withColumn("keep_media", coalesce(col("media_keep"), lit(true)))
      .filter(col("keep_media"))))

    // 3. CROSS-MODAL NEAR CANONICALIZATION (q144): one closure over text
    // fingerprint edges ∪ exact image-hash edges ∪ hamming ≤ 3
    // representative edges. Default retention: each component keeps its
    // min doc_id (keep_id IS the component label); with retentionScores,
    // each component keeps its highest-scoring member (q108's policy on
    // the JOINT components — a window per component, component-sized)
    val keep = Multimodal.crossModalNearKeepOf(
      mediaOk.select(col("doc_id"), col("text")),
      mediaOk.filter(coalesce(col("media_keep"), lit(false)))
        .select(col("doc_id"), lit(true).as("decoded"), col("ahash")),
      hashBits)
    // run diagnostic: the q164 histogram of THIS closure (one kernel,
    // two consumers — the certified query and the release report)
    componentHistDir.foreach(hd =>
      Multimodal.componentHistOf(keep).write.mode("overwrite").parquet(hd))
    val keptIds = retentionScores match {
      case None => keep.filter(col("doc_id") === col("keep_id")).select("doc_id")
      case Some(sc) =>
        import org.apache.spark.sql.expressions.Window
        keep.join(sc.select(col("doc_id"), col("score")), Seq("doc_id"), "left")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("keep_id"))
              .orderBy(coalesce(col("score"), lit(Double.MinValue)).desc,
                col("doc_id"))))
          .filter(col("rn") === 1).select("doc_id")
    }
    val ((nCanonical, canonical), tCanonical) = timed(barrier(mediaOk
      .join(keptIds, Seq("doc_id"))
      .drop("media_keep", "keep_media")))

    // 4. optional decontamination (the TrainingData Bloom tier)
    val ((nDecontaminated, decontaminated), tDecontaminated) = timed(evalDocs match {
      case None => (nCanonical, canonical)
      case Some(ev) =>
        barrier(canonical.filter(!BloomSketch.contaminated(
          barrier.broadcast(spark, BloomSketch.ofEvalGrams(ev)))))
    })

    // 5. weighted mixing (q83 semantics) + sharded export; flat 1-copy
    // mix when no weights are given
    val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    val mixed = weights match {
      case None => decontaminated.withColumn("copy_no", lit(1))
      case Some(w) =>
        decontaminated
          .join(broadcast(w), Seq("source"))
          .withColumn("n_copies",
            col("base_copies") + when(h2 < col("thr"), 1).otherwise(0))
          .filter(col("n_copies") > 0)
          .withColumn("copy_no", explode(sequence(lit(1), col("n_copies"))))
          .drop("base_copies", "thr", "n_copies")
    }
    val (nMixed, tMixed) = timed {
      val exportPath =
        ShardExport.write(mixed, "doc_id", outDir, nShards, maxRecordsPerFile)
      spark.read.parquet(exportPath).count()
    }

    // run report: q143 token yield of the input corpus (the TrainingData
    // report contract — computed after the export, never contending)
    tokenReportDir.foreach(dir =>
      TextOps.tokenYieldOf(docs.select(col("doc_id"), col("source"), col("text")))
        .write.mode("overwrite").parquet(dir))

    val summary = Seq(
      ("input", nInput, 0.0),
      ("validated", nValidated, tValidated),
      ("gated", nGated, tGated),
      ("ppl_gated", nPplGated, tPplGated),
      ("media_ok", nMediaOk, tProfile + tMediaOk),
      ("canonical", nCanonical, tCanonical),
      ("decontaminated", nDecontaminated, tDecontaminated),
      ("mixed_rows", nMixed, tMixed),
    ).toDF("stage", "docs", "secs")
    summary
    } finally barrier.release()
  }
}
