package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Caching, ConnectedComponents, Multimodal}
import graft.sources.ShardExport

/** END-TO-END media training-data preparation — the multimodal twin of
  * [[TrainingData]], wired from the engine's certified media tiers into
  * one callable funnel:
  *
  *   decode + profile (ONE decode per blob)        (Multimodal.decodeProfile)
  *   → admission quarantine (no_magic/decode_failed)  (partitionMedia channel, q149 discipline)
  *   → metadata rule gate (dims/bytes/aspect)      (mediaGateFlags, q149)
  *   → exact perceptual-hash dedup                 (q139 tier — one groupBy)
  *   → optional hamming≤3 near-dup collapse        (q144's image arm: banded
  *     representative edges → ConnectedComponents, saturated-space-safe)
  *   → hash-sharded, size-bounded parquet export   (ShardExport, q86 twin)
  *
  * The standalone query tiers each decode their input; the PIPELINE
  * decodes each blob exactly once — [[Multimodal.decodeProfile]] fuses
  * admission, gate metadata, and the aHash into a single pass, and every
  * later stage is metadata-only until the export rewrites the surviving
  * bytes. Deterministic throughout (no RNG); each stage's semantics are
  * oracle-certified through its query twin (q139/q140/q144/q149), and the
  * composition is integration-tested with planted corrupt / undersized /
  * re-encoded / edited images (MediaDataPipelineSpec).
  *
  * Scale notes: the only driver values are the funnel counts; dedup is
  * one groupBy on the 64-bit key; the near tier joins DISTINCT hashes
  * (each qualifying hash pair contributes one edge, never doc pairs);
  * the export is one shuffle. Nothing re-reads blob bytes after the
  * profile pass except the final export of keepers.
  */
object MediaData {

  /** Run the funnel over (doc_id, media: binary).
    *
    * @param quarantineDir undecodable blobs (with triage reason) land
    *        here when given; otherwise they are counted and dropped —
    *        undecodable media is ROUTINE ingest noise (unlike
    *        TrainingData's structural breaches, which fail the run)
    * @param nearDup also collapse near-duplicate groups within the
    *        lattice radius ([[Multimodal.phashHamMax]]: hd ≤ 3 on
    *        16-bit, hd ≤ 8 on the pooled 64-bit lattice per q229 —
    *        re-encodes, light edits, watermarks) via the q144
    *        representative-edge closure; exact-hash dedup always runs
    * @param hashBits perceptual-hash width for the near tier's banding
    *        (64 for real pooled images; 16 for the 4×4 test corpus)
    * @param histDir when given, the run also writes the q153 hamming
    *        histogram of the GATED hash population there — the LSH
    *        operating-point diagnostic read next to the funnel summary
    *        (mass piling at ≤ 3 means the hash space is saturating and
    *        the near tier needs a wider hash). Distinct-hash pairs only,
    *        computed from hashes already in hand — no extra decode
    * @return funnel summary (stage, docs, secs): input, admitted, gated,
    *         deduped, exported rows
    */
  def run(spark: SparkSession, media: DataFrame, outDir: String,
      nShards: Int = 8, maxRecordsPerFile: Int = 1 << 20,
      gate: Multimodal.MediaGateConfig = Multimodal.MediaGateConfig(),
      quarantineDir: Option[String] = None,
      nearDup: Boolean = true, hashBits: Int = 64,
      histDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // stage barriers (as in TrainingData.run): released in the finally,
    // failure or not
    val barrier = new Caching.Barriers
    try {
    // ONE decode pass: admission + gate metadata + perceptual hash
    val ((nInput, profile), tInput) = timed(barrier(Multimodal.decodeProfile(media)))

    quarantineDir.foreach(qd =>
      profile.filter(!col("decoded"))
        .select(col("doc_id"), col("media"), col("reason"))
        .write.mode("overwrite").parquet(qd))
    val admitted = profile.filter(col("decoded"))
    val (nAdmitted, tAdmitted) = timed(admitted.count())

    // metadata-only from here to the export: bytes are not re-read
    val ((nGated, gated), tGated) = timed(barrier(admitted.withColumn("n_frames", lit(1))
      .select(Seq(col("doc_id"), col("ahash")) ++ Multimodal.mediaGateFlags(gate): _*)
      .filter(col("keep"))
      .select(col("doc_id"), col("ahash"))))

    // run diagnostic: the q153 hamming histogram of the gated hash
    // population (no extra decode — hashes are already in hand)
    histDir.foreach(hd =>
      Multimodal.hammingHistOf(gated).write.mode("overwrite").parquet(hd))

    // exact tier (q139): one groupBy on the 64-bit key
    val exactKeep = gated.groupBy(col("ahash")).agg(min(col("doc_id")).as("keep_id"))
    val keepIds =
      if (!nearDup) exactKeep.select(col("keep_id").as("doc_id"))
      else {
        // near tier (q144's image arm): distinct-hash representative
        // edges -> components; each component keeps its min doc
        val reps = exactKeep.select(col("ahash"), col("keep_id").as("rep")).cache()
        val hamMax = Multimodal.phashHamMax(hashBits) // lattice-aware radius
        // probe-vs-exact self-join (the q144 discipline): one side
        // multi-probes at 64-bit, the other stays one exact row per band
        val nearEdges = Multimodal.withPhashProbes(reps, hashBits)
          .select(col("band"), col("bhash"),
            col("ahash").as("ha"), col("rep").as("doc_a"))
          .join(Multimodal.withPhashBands(reps, hashBits)
            .select(col("band"), col("bhash"),
              col("ahash").as("hb"), col("rep").as("doc_b")), Seq("band", "bhash"))
          .filter(col("ha") < col("hb"))
          .select(col("doc_a"), col("doc_b"), col("ha"), col("hb")).distinct()
          .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= hamMax)
          .select(col("doc_a"), col("doc_b"))
        val cc = ConnectedComponents.run(nearEdges)
        val kept = Caching.materializeAndRelease(
          exactKeep.select(col("keep_id").as("doc_id"))
            .join(cc.select(col("vertex").as("doc_id"), col("label")), Seq("doc_id"), "left")
            .withColumn("comp", coalesce(col("label"), col("doc_id")))
            .groupBy(col("comp")).agg(min(col("doc_id")).as("doc_id"))
            .select(col("doc_id")),
          reps)
        kept
      }
    val ((nDeduped, dedupKeep), tDeduped) = timed(barrier(keepIds))

    // export: rewrite ONLY the keepers' bytes, hash-sharded + bounded
    val (exportPath, tExport) = timed(
      ShardExport.write(
        profile.join(dedupKeep, Seq("doc_id"))
          .select(col("doc_id"), col("media"), col("n_bytes"),
            col("width"), col("height"), col("ahash")),
        "doc_id", outDir, nShards, maxRecordsPerFile))
    val nExported = spark.read.parquet(exportPath).count()

    val summary = Seq(
      ("input", nInput, tInput),
      ("admitted", nAdmitted, tAdmitted),
      ("gated", nGated, tGated),
      ("deduped", nDeduped, tDeduped),
      ("exported", nExported, tExport),
    ).toDF("stage", "docs", "secs")
    summary
    } finally barrier.release()
  }
}
