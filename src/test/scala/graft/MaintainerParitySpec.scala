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
  * unless each one is mapped here to (its batch kernel, the StreamingSpec
  * test that asserts the parity), each named kernel exists, AND each
  * referenced test actually exists in StreamingSpec. A new maintainer
  * added without a parity test fails this suite by name; a
  * renamed/deleted parity test or kernel fails it from the other side.
  */
class MaintainerParitySpec extends AnyFunSuite {

  /** maintainer method -> (the batch kernel it must reproduce, the
    * StreamingSpec test name asserting it). The kernel is the member the
    * maintainer calls ("graft.ops.TextOps.runCollapseKernel") or, where
    * it runs its own copy of the arithmetic, its batch twin's registered
    * query ("q110_boilerplate", a [[SparkEntry.queries]] key). */
  private val parity: Map[String, (String, String)] = Map(
    "continuousFuzzyDedup" -> (("graft.ops.MinHashIndex.query",
      "continuous fuzzy dedup drops near-dups within and across batches")),
    "continuousSemanticDedup" -> (("graft.ops.Curation.semanticAdmit",
      "continuous semantic dedup drops near-dup embeddings")),
    "continuousDecontam" -> (("q82_bloom_decontam",
      "continuous decontamination quarantines sketch hits")),
    "continuousBoilerplateScrub" -> (("q110_boilerplate",
      "continuous boilerplate scrub equals the batch q110")),
    "continuousRunCollapse" -> (("graft.ops.TextOps.runCollapseKernel",
      "continuous run collapse equals the batch q133")),
    "continuousMediaHash" -> (("graft.ops.Multimodal.imageAHash",
      "continuous media hashing equals the batch aHash")),
    "continuousDocEmbed" -> (("q155_docvec_similar",
      "continuous doc-embed pools the frozen WordVec model")),
    "continuousDocEmbedRefresh" -> (("q155_docvec_similar",
      "doc-embed refresh cadence: vocab shift degrades coverage")),
    "continuousCrossModalDedup" -> (("graft.ops.Multimodal.crossModalNearKeepOf",
      "continuous cross-modal dedup admits on joint")),
    "continuousPplGateJoined" -> (("graft.ops.Scoring.bigramFoldOf",
      "joined ppl gate: stream-static join reproduces q147 AND q165")),
    "continuousDecontamScrub" -> (("graft.ops.Dedup.cleanKernel",
      "decontam scrub maintainer: stream-static join reproduces the q175")),
    "continuousDiversityMonitor" -> (("q184_source_docvec_diversity",
      "diversity monitor: streamed partial sums fold to the q184")),
    "continuousGateAgreement" -> (("graft.ops.Scoring.gateCountsOf",
      "gate-agreement monitor folds to the q185")),
    "continuousMediaGate" -> (("graft.ops.Multimodal.mediaGate",
      "continuous media gate equals the batch q149")),
    "continuousMediaNearDup" -> (("graft.ops.Multimodal.withPhashProbes",
      "continuous media near-dup probe equals the PhashIndex")),
    "continuousEvalSaturation" -> (("q117_eval_saturation",
      "continuous eval saturation equals batch q117")),
    "continuousGateFunnel" -> (("q127_gate_funnel",
      "continuous gate funnel equals batch q127")),
    "continuousSemanticDecontam" -> (("graft.ops.IvfIndex.searchThreshold",
      "continuous semantic decontam quarantines near-benchmark")),
    "continuousDsirScoring" -> (("graft.ops.Curation.dsirWeightPair",
      "continuous DSIR scoring routes by the persisted model")),
    "continuousTempMixAdmit" -> (("q107_temp_mix",
      "continuous temp-mix admission matches the batch admit")),
    "continuousAnnIngest" -> (("graft.ops.IvfIndex.append",
      "continuous ANN ingest appends micro-batches")),
    "continuousNoveltyMonitor" -> (("graft.ops.CorpusReports.gramCountsOf",
      "novelty monitor folds to the q197 kernel's table")),
    "continuousVocabGrowth" -> (("q200_heaps_fit",
      "vocab-growth monitor: cumulative curve ends at the batch totals")),
    "continuousExactNnRef" -> (("graft.ops.Similarity.exactTop3Scored",
      "exact-NN reference maintainer equals the batch exactTop3Scored")),
    "continuousDistinctMonitor" -> (("graft.ops.Relational.mdUniform",
      "distinct monitor equals the certified kmv_distinct under any split")),
    "continuousQuantileMonitor" -> (("q219_sample_quantile_sweep",
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

  test("every named kernel is a registered query or an existing member") {
    val queries = SparkEntry.queries.keySet
    val missing = parity.values.map(_._1).toSeq.distinct.filterNot { k =>
      if (k.matches("q[0-9]+_.*")) queries.contains(k)
      else {
        val (obj, member) = k.splitAt(k.lastIndexOf('.'))
        scala.util.Try(Class.forName(obj + "$")).toOption
          .exists(_.getMethods.exists(_.getName == member.drop(1)))
      }
    }
    assert(missing.isEmpty,
      s"kernels named in the registry that do not exist: ${missing.sorted.mkString(", ")}")
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
