package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.ops.{BloomSketch, Caching, Dedup, Scoring, TextOps}
import graft.sources.ShardExport

/** END-TO-END training-data preparation — the full composition a
  * pretraining-data team actually runs, wired from the engine's certified
  * operators into one callable pipeline:
  *
  *   rule gate (parameterized Gopher-style heuristics)     (TextOps.ruleGate, q97)
  *   → CCNet perplexity gate (drop the bigram-LM tail)     (Scoring kernel, q147/q156/q157)
  *   → quality gate → exact dedup → fuzzy canonicalization (Dedup.cleanCorpus, q79)
  *   → eval-set decontamination                            (BloomSketch probe, q82 tier)
  *   → weighted source mixing                              (q83 semantics)
  *   → hash-sharded, size-bounded parquet export           (ShardExport, q86 twin)
  *
  * Every stage is deterministic (md5-derived decisions, no RNG state), so
  * the whole pipeline is reproducible run-to-run and cluster-size-
  * independent; each stage's semantics are oracle-certified through its
  * query twin, and the composition itself is integration-tested with
  * planted clones / near-dups / contaminated docs
  * (TrainingDataPipelineSpec).
  *
  * Scale notes: the funnel never collects data to the driver — the only
  * driver values are the stage counts in the returned summary and the
  * fixed-size Bloom sketch. Dedup is candidates-by-bucket (MinHash bands →
  * ConnectedComponents), the decontamination probe is a broadcast-sketch
  * scan filter, mixing is a broadcast join + explode, and the export is
  * one shuffle. */
object TrainingData {

  /** Default mixing config: keep every source as-is. */
  def flatWeights(spark: SparkSession, sources: Seq[String]): DataFrame = {
    import spark.implicits._
    sources.map(src => (src, 1, "00")).toDF("source", "base_copies", "thr")
  }

  /** Default rule-gate calibration for the pipeline: a word-count floor
    * only — the corpus-profile signals (stopword presence, symbol ratio,
    * mean word length) are opt-in per corpus, exactly like the thresholds
    * in the Gopher appendix are re-tuned per source. The gate STRUCTURE is
    * q97's oracle-certified operator either way. */
  val DefaultGate: TextOps.RuleGateConfig = TextOps.RuleGateConfig(
    minWords = 5L, maxWords = Long.MaxValue,
    minMeanWordLen = 0.0, maxMeanWordLen = Double.MaxValue,
    stopwords = Nil, minStopHits = 0L,
    maxSymbolRatio = Double.MaxValue)

  /** Run the full pipeline.
    *
    * @param docs     corpus with (doc_id: long, text, source, n_chars)
    * @param evalDocs held-out eval corpus with a text column; its distinct
    *                 5-gram hashes become the decontamination sketch
    * @param weights  mixing config (source, base_copies: int, thr: 2-hex
    *                 string) — a doc gets base_copies (+1 iff
    *                 md5(doc_id) prefix < thr) copies
    * @param outDir   shard export destination (`outDir/shard=K/...`)
    * @param gate     rule-gate calibration for stage 0 (the q97-certified
    *                 Gopher-style gate; [[DefaultGate]] keeps only a
    *                 word-count floor)
    * @param retentionScores optional (doc_id, score) table — when given,
    *                 both dedup tiers keep the HIGHEST-scoring member of
    *                 each duplicate group instead of the smallest id (the
    *                 q108 quality-aware retention policy; see
    *                 [[graft.ops.Dedup.cleanCorpus]])
    * @param pplGate drop the worst-scoring perplexity tercile before
    *                 dedup (the CCNet stage: fit the q147 bigram LM on
    *                 the rule-gated corpus, cut at the q156
    *                 percentile_disc(2/3) tercile, drop `tail`). Docs
    *                 with < 2 tokens carry no score and PASS — the gate
    *                 never judges what it cannot score. q157 is the
    *                 per-source loss accounting for this stage; the
    *                 bucket assignment is spec-pinned to q156's
    *                 (TrainingDataPipelineSpec). Default ON — it is the
    *                 standard pretraining stage (CCNet, Wenzek et al.)
    * @param pplScores optional pre-computed (doc_id, nll2) table — a
    *                 session that already scored the corpus (the q147
    *                 artifact) passes it here so the pipeline reuses the
    *                 fit instead of refitting on the gated subset
    * @param pplSmoothing scoring tier when the gate fits its own model:
    *                 "add1" (q147) or "kn" (q165's Kneser–Ney); the
    *                 q168 ladder and the q157/q171 funnel pair are the
    *                 tables that justify the choice per corpus
    * @param decontam "drop" (default) removes any doc sharing a 5-gram
    *                 with the eval set (the q82 Bloom tier — conservative,
    *                 cheap, map-side); "scrub" CUTS the shared 8-token
    *                 spans instead and keeps the rest of the doc (the
    *                 q175 span kernels — `Dedup.spanKernel/cleanKernel`,
    *                 the SAME definitions q175 and maintainer #19
    *                 certify), dropping only fully-covered docs. Scrub
    *                 retains the tokens drop throws away — the q178
    *                 funnel is the table that prices the choice
    * @param decontamReportDir when given, the run also writes the q178
    *                 decontamination FUNNEL (per-source docs touched,
    *                 docs gutted, tokens cut, cut share — priced with
    *                 the same q175 span kernels the scrub mode runs) of
    *                 THIS run's post-dedup corpus against the eval set:
    *                 the per-source loss accounting a release review
    *                 reads next to the funnel summary, and the table
    *                 that decides between scrubbing a source and
    *                 dropping it from the mix
    * @param tokenReportDir when given, the run also writes the TOKEN
    *                 YIELD report (q143's certified cascade — raw →
    *                 run-collapsed → boilerplate-scrubbed → dedup-
    *                 canonical tokens per source, computed on the
    *                 pipeline's input) as parquet there: the number a
    *                 mixture planner (q121/q137) should budget against
    *                 is effective tokens, not document counts
    * @param quarantineDir where rows breaching the data EXPECTATIONS
    *                 (duplicate doc_id, null text, inconsistent n_chars —
    *                 the q98-certified gate's structural rules) are
    *                 written; None (the default) makes any breach FAIL the
    *                 run instead — a corrupt batch should stop a
    *                 training-data export, not silently shrink it
    * @return funnel summary (stage, docs, secs) — input, validated, gated,
    *         ppl_gated, clean, decontaminated, mixed rows. Each count is
    *         taken ONCE, at the pass that materializes the stage, and
    *         reused here. A stage with several consumers (gated, ppl_gated,
    *         clean) is a barrier: its secs are the wall-clock of its
    *         construction (including eager work such as the dedup
    *         closure's checkpoint) plus its one count job. A stage with one
    *         consumer (input, validated, decontaminated) and the export
    *         (mixed_rows) have their counts OBSERVED on the pass that runs
    *         them anyway, with no job of their own: such a stage's secs
    *         are only its construction (the eval-sketch build, for
    *         decontaminated; ~0 for input and validated), and its pass is
    *         timed inside the stage whose action runs it — input and
    *         validated inside gated, decontaminated inside mixed_rows,
    *         whose secs are the export's write pass
    */
  def run(spark: SparkSession, docs: DataFrame, evalDocs: DataFrame,
      weights: DataFrame, outDir: String, nShards: Int = 8,
      maxRecordsPerFile: Int = 1 << 20,
      gate: TextOps.RuleGateConfig = DefaultGate,
      quarantineDir: Option[String] = None,
      retentionScores: Option[DataFrame] = None,
      pplGate: Boolean = true,
      pplScores: Option[DataFrame] = None,
      pplSmoothing: String = "add1",
      decontam: String = "drop",
      tokenReportDir: Option[String] = None,
      decontamReportDir: Option[String] = None): DataFrame = {
    require(decontam == "drop" || decontam == "scrub",
      s"decontam must be 'drop' or 'scrub', got '$decontam'")
    import spark.implicits._
    // stage timer: wall-clock of a stage's construction and the ONE
    // action that materializes it — the per-stage scaling signal
    // (NOTES.md, Round 10 item 5: a stage whose secs stop tracking its
    // input volume is the fixed bottleneck the funnel must not have)
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      // deferred-mode bookkeeping: each stage is FULLY materialized by
      // its one timed action, so intermediates the composed operators
      // registered (signature tables, span tables, pair verifies) can be
      // released here — later stages read this stage's own cache, never
      // a released intermediate (a re-read would recompute, correctly,
      // from deterministic plans)
      Caching.releasePending()
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // cache lifecycle is the CALLER's choice: this run never writes the
    // session conf, so concurrent runs cannot flip each other's mode. A
    // single-threaded driver that sets Caching.DeferKey (Bench, perfbench)
    // gets deferred release at each stage action; otherwise composed
    // operators take the eager localCheckpoint path. Results are
    // identical either way (lifecycle only). The funnel's multi-consumer
    // stages are Caching.Barriers: each later stage plans over a leaf of
    // the cached rows, and every barrier (and the eval-sketch broadcast)
    // is released in the finally, failure or not.
    val barrier = new Caching.Barriers
    try {
    val (input, tInput) = timed(Funnel.partitioned(docs))

    // -1. EXPECTATIONS GATE (the q98-certified deequ-style validation as
    // admission control): the structural rules every later stage depends
    // on. Its one consumer is the rule gate, so its counts are observed on
    // the gate's pass; breaches then either fail the run (default —
    // garbage in must not become training data out) or quarantine for
    // offline triage, before any later stage runs. Either way no
    // breaching row proceeds.
    val (expectations, tValidated) = timed(
      new Funnel.Expectations(input, quarantineDir, "quarantineDir"))

    // 0. RULE GATE — the q97-certified Gopher-style heuristic filter as a
    // narrow predicate pass (TextOps.ruleGateKeep, one kernel call per
    // doc): no shuffle, runs ahead of every shuffling stage so
    // dedup/decontam never see gated docs
    val ((nGated, gated), tGated) =
      timed(barrier(expectations.validated.filter(TextOps.ruleGateKeep(gate))))
    val (nInput, nValidated) = expectations.settle()

    // 0.5. CCNet PERPLEXITY GATE (q156's tercile discipline on the q147
    // bigram LM): score the rule-gated corpus, cut at percentile_disc(2/3)
    // — ONE 1-row agg broadcast, no global sort — and drop `tail` (the
    // worst-scoring third: word-salad the rule gate cannot see). Runs
    // BEFORE dedup so the expensive candidate generation never touches
    // tail docs; unscored (< 2 token) docs pass through the LEFT join
    val ((nPplGated, pplGated), tPplGated) = timed(
      if (!pplGate) (nGated, gated)
      else barrier(Scoring.pplGateKeep(gated, pplScores, pplSmoothing)))

    // 1. quality gate + exact dedup + fuzzy canonicalization (q79).
    // barrier: the clean set feeds BOTH the funnel count and the
    // decontamination scan — without it the whole dedup candidate
    // generation (MinHash pairs + components) replays per consumer
    val ((nClean, clean), tClean) = timed {
      val disposition =
        Dedup.cleanCorpus(pplGated, Dedup.minhashPairsOf(pplGated), retentionScores)
      barrier(pplGated.join(
        disposition.filter(col("status") === "kept").select("doc_id"), Seq("doc_id")))
    }

    // 2. decontamination — drop: sketch the eval set's gram vocabulary,
    // probe the clean corpus map-side (q82's streaming-tier decision:
    // conservative, no false negatives); scrub: cut shared spans, keep
    // the doc (q175). Its one consumer is the mix, so its count is
    // observed on the export's pass
    val ((decontaminated, nDecontaminated), tDecontaminated) = timed(Funnel.counted(decontam match {
      case "drop" =>
        clean.filter(!BloomSketch.contaminated(
          barrier.broadcast(spark, BloomSketch.ofEvalGrams(evalDocs))))
      case _ =>
        // span scrub (q175's kernels, maintainer #19's batch twin): cut
        // the 8-token spans shared with the eval set, keep the rest of
        // the doc; only fully-covered docs drop. Touched docs carry the
        // kernel's normalized token-joined text and a recomputed n_chars
        // (the expectations gate already certified the ORIGINAL lengths
        // upstream — downstream consumers must see consistent rows).
        val K = 8
        val norm = TextFns.normText(col("text"))
        val evalSp = evalDocs
          .select(explode(Dedup.spanKernel(K)(norm)).as("sp"))
          .select(col("sp._2").as("h")).distinct()
        val starts = clean
          .select(col("doc_id"), explode(Dedup.spanKernel(K)(norm)).as("sp"))
          .select(col("doc_id"), col("sp._1").as("start"), col("sp._2").as("h"))
          .join(evalSp, Seq("h"), "left_semi")
          .groupBy(col("doc_id")).agg(collect_list(col("start")).as("starts"))
        clean.join(starts, Seq("doc_id"), "left")
          .withColumn("text", when(col("starts").isNull, col("text"))
            .otherwise(Dedup.cleanKernel(K)(norm, col("starts")).getField("_3")))
          .withColumn("n_chars", when(col("starts").isNull, col("n_chars"))
            .otherwise(length(col("text")).cast("long")))
          .drop("starts")
          .filter(col("text").isNotNull)
    }, "decontaminated"))

    // 3. weighted mixing (q83 semantics): deterministic per-doc multiplicity
    val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    val (mixed, nMixed) = Funnel.counted(decontaminated
      .join(broadcast(weights), Seq("source"))
      .withColumn("n_copies",
        col("base_copies") + when(h2 < col("thr"), 1).otherwise(0))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"),
        explode(sequence(lit(1), col("n_copies"))).as("copy_no")), "mixed_rows")

    // 4. shard export: copies of the same doc share a shard (assignment is
    // by doc_id), files bounded, id-sorted; the write pass is the one
    // action over decontaminated and mixed, and it observes both counts
    val (_, tMixed) = timed(
      ShardExport.write(mixed, "doc_id", outDir, nShards, maxRecordsPerFile))

    // run report: token yield of the INPUT corpus through the certified
    // q143 cascade — what the funnel's document counts are worth in
    // effective training tokens (computed once, after the export, so it
    // never contends with the funnel's own caches)
    tokenReportDir.foreach(dir =>
      TextOps.tokenYieldOf(input.select(col("doc_id"), col("source"), col("text")))
        .write.mode("overwrite").parquet(dir))
    // run report: the q178 decontamination funnel of the corpus the
    // decontam stage actually saw (post-dedup), against this run's eval
    // set — the per-source loss table the stage's drop/scrub choice is
    // priced by (computed after the export, off the funnel's caches)
    decontamReportDir.foreach(dir =>
      Dedup.decontamFunnelOf(
          clean.select(col("doc_id"), col("source"), col("text")), evalDocs)
        .write.mode("overwrite").parquet(dir))

    val summary = Seq(
      ("input", nInput, tInput),
      ("validated", nValidated, tValidated),
      ("gated", nGated, tGated),
      ("ppl_gated", nPplGated, tPplGated),
      ("clean", nClean, tClean),
      ("decontaminated", nDecontaminated(), tDecontaminated),
      ("mixed_rows", nMixed(), tMixed),
    ).toDF("stage", "docs", "secs")
    summary
    } finally {
      barrier.release()
      // release anything the report writers registered after the last
      // timed stage (a no-op in eager mode)
      Caching.releasePending()
    }
  }
}
