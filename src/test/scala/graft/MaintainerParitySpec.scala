package graft

import org.scalatest.funsuite.AnyFunSuite

/** The streaming parity MATRIX tripwire (r15 verdict #4) — the
  * PlanAuditSpec discipline applied to maintainers.
  *
  * Every `continuous*` member of [[graft.streaming.Incremental]] claims
  * batch parity with a named batch kernel, but the parity tests are
  * hand-written per maintainer — exactly the per-query gap that let
  * r14's q171 land red. This spec closes the class structurally: it
  * REFLECTS over Incremental's public `continuous*` methods and fails
  * unless each one is mapped here to (its batch twin, the StreamingSpec
  * test that asserts the parity), AND each referenced test actually
  * exists in StreamingSpec. A new maintainer added without a parity
  * test fails this suite by name; a renamed/deleted parity test fails
  * it from the other side.
  */
class MaintainerParitySpec extends AnyFunSuite {

  /** maintainer method -> (batch twin it must reproduce,
    *                        the StreamingSpec test name asserting it). */
  private val parity: Map[String, (String, String)] = Map(
    "continuousFuzzyDedup" -> (("ops.Dedup minhash keep-set (q38)",
      "continuous fuzzy dedup drops near-dups within and across batches")),
    "continuousSemanticDedup" -> (("ops.Dedup.semanticKeepOf (q103)",
      "continuous semantic dedup drops near-dup embeddings")),
    "continuousDecontam" -> (("ops.Dedup bloom decontam (q82)",
      "continuous decontamination quarantines sketch hits")),
    "continuousBoilerplateScrub" -> (("ops.TextOps boilerplate (q110)",
      "continuous boilerplate scrub equals the batch q110")),
    "continuousRunCollapse" -> (("ops.TextOps run collapse (q133)",
      "continuous run collapse equals the batch q133")),
    "continuousMediaHash" -> (("ops.Multimodal aHash table (q139)",
      "continuous media hashing equals the batch aHash")),
    "continuousDocEmbed" -> (("ops.Ml SIF pooling over frozen WordVec (q155)",
      "continuous doc-embed pools the frozen WordVec model")),
    "continuousDocEmbedRefresh" -> (("ml.WordVec refit + same pooling",
      "doc-embed refresh cadence: vocab shift degrades coverage")),
    "continuousCrossModalDedup" -> (("ops.Multimodal.crossModalNearKeepOf (q144)",
      "continuous cross-modal dedup admits on joint")),
    "continuousPplGateJoined" -> (("ops.Scoring bigram/KN/KN3 folds (q147/q165/q176)",
      "joined ppl gate: stream-static join reproduces q147 AND q165")),
    "continuousDecontamScrub" -> (("ops.Dedup span scrub (q175)",
      "decontam scrub maintainer: stream-static join reproduces the q175")),
    "continuousDiversityMonitor" -> (("ops.Ml.sourceDocvecDiversityOver (q184)",
      "diversity monitor: streamed partial sums fold to the q184")),
    "continuousGateAgreement" -> (("ops.Scoring kappa kernels (q185)",
      "gate-agreement monitor folds to the q185")),
    "continuousMediaGate" -> (("ops.Multimodal media gate (q149)",
      "continuous media gate equals the batch q149")),
    "continuousMediaNearDup" -> (("ml.PhashIndex serve (q140)",
      "continuous media near-dup probe equals the PhashIndex")),
    "continuousEvalSaturation" -> (("ops.Scoring eval saturation (q117)",
      "continuous eval saturation equals batch q117")),
    "continuousGateFunnel" -> (("ops.Scoring gate funnel (q127)",
      "continuous gate funnel equals batch q127")),
    "continuousSemanticDecontam" -> (("ops.Dedup semantic decontam (q111)",
      "continuous semantic decontam quarantines near-benchmark")),
    "continuousDsirScoring" -> (("ops.Curation DSIR weights (q105)",
      "continuous DSIR scoring routes by the persisted model")),
    "continuousTempMixAdmit" -> (("ops.Curation temperature mix (q183)",
      "continuous temp-mix admission matches the batch admit")),
    "continuousAnnIngest" -> (("ml.IvfIndex serve (q45/q99)",
      "continuous ANN ingest appends micro-batches")),
    "continuousNoveltyMonitor" -> (("ops.CorpusReports novelty fold (q197)",
      "novelty monitor folds to the q197 kernel's table")),
    "continuousVocabGrowth" -> (("ops.CorpusReports q200 totals (final curve point)",
      "vocab-growth monitor: cumulative curve ends at the batch totals")),
    "continuousExactNnRef" -> (("ops.Similarity.exactTop3Scored (q201/q207/q208/q209 reference)",
      "exact-NN reference maintainer equals the batch exactTop3Scored")),
    "continuousDistinctMonitor" -> (("plans.KmvDistinct via ops.Relational.mdUniform (q92/q212)",
      "distinct monitor equals the certified kmv_distinct under any split")),
    "continuousQuantileMonitor" -> (("ops.CorpusReports bottom-k sample kernel (q219)",
      "quantile monitor equals the batch bottom-k sample under any split")))

  test("every continuous* maintainer is mapped to a batch twin + parity test") {
    val reflected = graft.streaming.Incremental.getClass.getDeclaredMethods
      .map(_.getName)
      .filter(n => n.startsWith("continuous") && !n.contains("$"))
      .toSet
    val unmapped = reflected -- parity.keySet
    assert(unmapped.isEmpty,
      s"maintainers with NO registered batch twin/parity test: " +
        s"${unmapped.toSeq.sorted.mkString(", ")} — add the parity test " +
        "to StreamingSpec and register it here")
    val stale = parity.keySet -- reflected
    assert(stale.isEmpty,
      s"registry entries with no matching maintainer (renamed/removed?): " +
        s"${stale.toSeq.sorted.mkString(", ")}")
  }

  test("every registered parity test exists in StreamingSpec") {
    val testNames = (new StreamingSpec).testNames
    val missing = parity.collect {
      case (m, (_, t)) if !testNames.exists(_.contains(t)) => s"$m -> '$t'"
    }
    assert(missing.isEmpty,
      s"parity tests referenced but not found in StreamingSpec: " +
        s"${missing.mkString("; ")}")
  }
}
