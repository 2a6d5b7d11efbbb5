package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.ops.Caching
import graft.ops.IvfIndex.whenPresent
import graft.sources.SwapProtocol

/** Incremental / resumable processing — SURVEY §2.9.
  *
  * The reference hand-rolls checkpoint/restart everywhere (row-count resume
  * ID_matching_metadata.py:25-30,78-83; index checkpoints
  * embeddingsWithGPU.py:67-103; skip-if-output-exists htmlConverter.py:53-54).
  * Structured Streaming's file source + checkpointLocation subsumes all of
  * it: each file is processed exactly once across restarts, progress lives in
  * the checkpoint, and `Trigger.AvailableNow` gives the batch-job-that-
  * resumes shape the reference scripts actually are.
  */
object Incremental {

  /** Run `transform` incrementally over a parquet directory: processes only
    * files not yet recorded in the checkpoint, appends to `outDir`, returns
    * after draining (Trigger.AvailableNow). Re-running after new files land
    * processes just the delta — the T1/T2/T4 resume patterns with zero
    * hand-rolled state. */
  def runOnce(spark: SparkSession, inDir: String, schema: org.apache.spark.sql.types.StructType,
      outDir: String, checkpointDir: String)(transform: DataFrame => DataFrame): StreamingQuery =
    drive(spark, inDir, schema, checkpointDir, None)(
      transform(_).writeStream.format("parquet").option("path", outDir))

  /** The one streaming drive: reads `schema`-typed parquet under `inDir`
    * as a file source (`maxFilesPerTrigger` caps each micro-batch), hands
    * it to `sink`, checkpoints in `checkpointDir` and drains it under
    * `Trigger.AvailableNow`, returning after the drain. */
  private def drive(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpointDir: String,
      maxFilesPerTrigger: Option[Int])(
      sink: DataFrame => DataStreamWriter[Row]): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    val q = sink(maxFilesPerTrigger
        .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
        .parquet(inDir))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q // recentProgress stays readable after drain — see progressReport (T3)
  }

  /** [[drive]] into a `foreachBatch` maintainer: `body` gets each
    * micro-batch, its checkpointed batchId, and `hold`, the batch's cache
    * handle ([[graft.ops.Caching.Barriers.hold]]). Every frame the body
    * holds is released when the batch ends, in a `finally`, so a batch
    * that throws fails the stream and leaks nothing into the session. */
  private def drain(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None)(
      body: (DataFrame, Long, DataFrame => DataFrame) => Unit): StreamingQuery =
    drive(spark, inDir, schema, checkpointDir, maxFilesPerTrigger)(
      _.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val held = new Caching.Barriers
        try body(batch, batchId, held.hold) finally held.release()
      })

  /** One merge of a swap-published state table (maintainers #25/#26/#27):
    * completes a crashed swap, unions the live state (absent before the
    * first drain) with the batch's partial `part`, and publishes
    * `merge(union)` through [[graft.sources.SwapProtocol.writeSwapped]].
    * The merge plan reads the LIVE state; it stays in place (readable,
    * crash-intact) until the tmp write has fully materialized. */
  private def mergeSwapped(s: SparkSession, stateDir: String, part: DataFrame)(
      merge: DataFrame => DataFrame): Unit = {
    val dst = new Path(stateDir)
    val fs = dst.getFileSystem(s.sparkContext.hadoopConfiguration)
    SwapProtocol.recover(fs, dst)
    val next = merge(
      if (fs.exists(dst)) s.read.parquet(stateDir).unionByName(part) else part)
    SwapProtocol.writeSwapped(fs, dst) { tmp => next.write.parquet(tmp.toString) }
  }

  /** The READER side of a swap-published table: completes a crashed swap
    * only if the live dir is gone (recoverForRead) — a report racing a
    * live compaction must never delete the writer's in-flight tmp (r19
    * review) — then reads it. */
  private def readSwapped(spark: SparkSession, dir: String): DataFrame = {
    val dst = new Path(dir)
    SwapProtocol.recoverForRead(
      dst.getFileSystem(spark.sparkContext.hadoopConfiguration), dst)
    spark.read.parquet(dir)
  }

  /** T3 (embeddingsWithGPU.py:231-247): the reference hand-computes rows/sec
    * and ETA from wall-clock deltas around each batch. The engine-native
    * equivalent reads the query's progress events — per-batch input counts
    * and durations the engine already tracks — so rate instrumentation is a
    * read, not bookkeeping woven through the job. */
  case class ProgressReport(batches: Int, rows: Long, totalSec: Double, rowsPerSec: Double)

  def progressReport(q: StreamingQuery): ProgressReport = {
    val ps = q.recentProgress.toSeq
    val rows = ps.map(_.numInputRows).sum
    val ms = ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)).sum
    val sec = ms / 1e3
    ProgressReport(ps.size, rows, sec, if (sec > 0) rows / sec else 0.0)
  }

  /** Watermarked tumbling-window aggregation over an event stream — the
    * streaming twin of ops.Temporal.q46 (same expressions, incremental
    * execution, late data beyond 10 minutes dropped by the watermark). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Streaming exact dedup (north-star M6 in incremental form): each record
    * passes exactly once per key across micro-batches, with the dedup state
    * AGED OUT by the event-time watermark — the incremental content-dedup a
    * training-data ingest pipeline runs continuously. Key on the content
    * fingerprint (functions.TextFns.fingerprint) to dedup by content; state
    * is bounded by (keys seen within the watermark horizon), not history. */
  def streamingDedup(docs: DataFrame, tsCol: String, delay: String,
      keyCols: Seq[String]): DataFrame =
    docs.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Continuous FUZZY dedup (M7 in incremental form — the shape a 100 TB
    * ingest pipeline actually runs): each micro-batch is near-dup-checked
    * first WITHIN itself (keep the earliest doc_id of a near-dup group)
    * and then AGAINST the persisted MinHash signature index
    * ([[graft.ops.MinHashIndex]]); survivors land in `outDir` and their
    * signatures append to the index, so corpus text is never re-read.
    * Exactly-once per input file via the checkpoint; the index is the
    * operator's state, stored as plain Parquet — restartable, inspectable,
    * and shared with the batch API (q78).
    *
    * `retentionScores` ((doc_id, score), optional) applies the q108
    * quality-aware retention policy to the WITHIN-BATCH pick: a doc loses
    * to a near-dup with a higher score (tie → lower doc_id; unscored docs
    * rank below every scored one, like [[graft.ops.Dedup.cleanCorpus]]).
    * DOCUMENTED DIVERGENCE from the batch policy, inherent to admission
    * streaming: (1) ACROSS batches the first-admitted doc always wins —
    * an already-shipped survivor cannot be retracted when a higher-scored
    * near-dup arrives later, where batch cleanCorpus would re-pick; the
    * reconciliation for that is a periodic batch re-run, not the stream.
    * (2) Within a batch the pick is pairwise (drop on losing any single
    * comparison), identical to cleanCorpus's per-component rank window on
    * clique-shaped groups — the overwhelmingly common near-dup shape —
    * but on a CHAIN a middle doc can knock out an end doc before itself
    * losing; running ConnectedComponents per micro-batch would close
    * that gap at an iterative-job-per-batch cost this maintainer
    * deliberately avoids. Groups that arrive within one batch as cliques
    * get exactly the batch keep-set (StreamingSpec asserts it). */
  def continuousFuzzyDedup(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      indexDir: String, checkpointDir: String,
      retentionScores: Option[DataFrame] = None): StreamingQuery = {
    import graft.ops.MinHashIndex
    drain(spark, inDir, schema, checkpointDir) { (batch, _, hold) =>
      val s = batch.sparkSession
      val b = hold(batch)
      // within-batch: the self-query pairs every near-dup in BOTH
      // orientations — drop each doc that loses its pairwise pick
      // (retention rank when scored, earliest doc_id otherwise)
      val selfPairs = MinHashIndex.query(MinHashIndex.build(b), b)
        .filter(col("corpus_id") =!= col("batch_id"))
      val selfDups = (retentionScores match {
        case None => selfPairs.filter(col("corpus_id") < col("batch_id"))
        case Some(sc) =>
          val scores = sc.select(col("doc_id"), col("score"))
          selfPairs
            .join(scores.select(col("doc_id").as("batch_id"),
              col("score").as("score_b")), Seq("batch_id"), "left")
            .join(scores.select(col("doc_id").as("corpus_id"),
              col("score").as("score_c")), Seq("corpus_id"), "left")
            .na.fill(Map("score_b" -> Double.MinValue,
              "score_c" -> Double.MinValue))
            .filter(col("score_c") > col("score_b") ||
              (col("score_c") === col("score_b") &&
                col("corpus_id") < col("batch_id")))
      }).select(col("batch_id").as("doc_id")).distinct()
      val inBatch = b.join(selfDups, Seq("doc_id"), "left_anti")
      // against the index: absent on the very first batch — ONLY that
      // case may bootstrap; a transient read failure on a real index must
      // fail the batch, not silently re-admit the whole corpus as novel
      val kept = whenPresent(MinHashIndex.load(s, indexDir)) match {
        case Some(idx) =>
          val hits = MinHashIndex.query(idx, inBatch)
            .select(col("batch_id").as("doc_id")).distinct()
          inBatch.join(hits, Seq("doc_id"), "left_anti")
        case None => inBatch
      }
      val keptC = hold(kept)
      keptC.write.mode("append").parquet(outDir)
      MinHashIndex.build(keptC).write.mode("append").parquet(indexDir)
    }
  }

  /** Continuous SEMANTIC dedup (the embedding twin of
    * [[continuousFuzzyDedup]] — SemDeDup as an ingest admission gate):
    * each micro-batch of (vec_id, embedding) rows is near-dup-checked
    * first WITHIN itself and then AGAINST the persisted IVF index via
    * [[graft.ops.Curation.semanticAdmit]] (probe-pruned search — only the
    * batch's probed cells are read, never the corpus); survivors append
    * to `outDir` AND route into the index ([[graft.ops.IvfIndex.append]]),
    * so corpus embeddings are never re-read. The FIRST batch bootstraps
    * the index: codebook fit on the batch (bounded sample inside
    * `IvfIndex.build`), survivors as initial members, single assignment
    * (the dedup-index convention — [[graft.ops.Similarity.dedupIvfDir]]).
    * Exactly-once per input file via the checkpoint; the index is the
    * operator's state, shared with the batch API (q103). Failure replay
    * is AT-LEAST-ONCE within a batch (the foreachBatch contract): a crash
    * between the parquet append and the checkpoint can duplicate a
    * batch's rows in `outDir` and its (cell, vec_id) rows in the index —
    * the same residue class as [[continuousAnnIngest]], reconciled by
    * [[graft.ops.IvfIndex.compactTo]]'s dropDuplicates on a maintenance
    * cadence. */
  def continuousSemanticDedup(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      indexDir: String, checkpointDir: String, t: Double = 0.9,
      nProbe: Int = 4): StreamingQuery = {
    import graft.ops.{Curation, IvfIndex}
    drain(spark, inDir, schema, checkpointDir) { (batch, _, hold) =>
      val s = batch.sparkSession
      val b = hold(batch.select(col("vec_id"), col("embedding")))
      val nB = b.count()
      if (nB > 0L) {
        // missing-path-only bootstrap probe (see the fuzzy twin above)
        val idxOpt = whenPresent(IvfIndex.load(s, indexDir))
        // codebook size never exceeds the rows it is fit on (a tiny
        // first batch must not ask KMeans for more centers than points)
        def fitCells(n: Long): Int =
          math.min(n, math.min(1024L, math.max(4L, n / 64L))).toInt
        // blocking codebook: the index's if it exists (batch routing
        // must agree with member routing), else a fresh fit on the batch
        val codebook = idxOpt.map(_.centroids).getOrElse(
          IvfIndex.build(s, b, nCells = fitCells(nB), seed = 7L,
            nReplicas = 1).centroids)
        val kept = hold(Curation.semanticAdmit(s, b, idxOpt, codebook, t, nProbe))
        val nKept = kept.count()
        kept.write.mode("append").parquet(outDir)
        idxOpt match {
          case Some(_) => IvfIndex.append(s, indexDir, kept)
          case None if nKept > 0L =>
            // bootstrap: survivors as initial members (codebook refit on
            // the kept set — the admission codebook served only blocking)
            IvfIndex.save(s, IvfIndex.build(s, kept,
              nCells = fitCells(nKept), seed = 7L, nReplicas = 1), indexDir)
          case None => () // nothing admitted: bootstrap on a later batch
        }
      }
    }
  }

  /** Continuous DECONTAMINATION (the streaming tier of q82): each
    * micro-batch's documents are probed against a persisted eval-set Bloom
    * sketch ([[graft.ops.BloomSketch]]); any document with an admitted
    * 5-gram routes to `quarantineDir`, the rest append to `cleanDir`.
    * Sketch-only decision — no false negatives, so contaminated documents
    * NEVER reach the clean output; ~fpp of clean documents quarantine
    * spuriously, the conservative trade a streaming gate wants (the exact
    * batch tier, q82's verify join, re-checks quarantine offline). The
    * probe is the pipelines' Bloom drop predicate
    * ([[graft.ops.BloomSketch.contaminated]]) — no explode, no shuffle: a
    * pure scan pass per batch, with the fixed-size sketch broadcast once.
    * Exactly-once per input file via the checkpoint. */
  def continuousDecontam(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, cleanDir: String,
      quarantineDir: String, sketchDir: String,
      checkpointDir: String): StreamingQuery = {
    val sketch = spark.sparkContext.broadcast(
      graft.ops.BloomSketch.load(spark, sketchDir))
    val contaminated = graft.ops.BloomSketch.contaminated(sketch)
    try drain(spark, inDir, schema, checkpointDir) { (batch, _, hold) =>
      val flagged = hold(batch.withColumn("contaminated", contaminated))
      flagged.filter(!col("contaminated")).drop("contaminated")
        .write.mode("append").parquet(cleanDir)
      flagged.filter(col("contaminated")).drop("contaminated")
        .write.mode("append").parquet(quarantineDir)
    } finally sketch.destroy()
  }

  /** Continuous boilerplate scrub (the streaming tier of q110): each
    * micro-batch of ingested documents is scrubbed under a FROZEN
    * boilerplate gram set exported by the batch fit
    * ([[graft.ops.TextOps.boilerplateGramsOf]]) — template frequency is
    * a corpus-global statistic, so the stream serves a batch fit rather
    * than re-estimating per batch (the DSIR frozen-model discipline).
    * The set is bounded by construction (≤ grams-per-doc / df-fraction,
    * corpus-size independent) and read once. The per-batch work is the
    * q110 row kernel ([[graft.ops.TextOps.boilerplateScrubUnder]]: the
    * batch scrub's tokens, trigrams and reassembly, coverage by a set
    * probe) — no explode, no shuffle, so the append file sink takes it.
    * Stream output on a corpus equals the batch q110 output given the
    * same gram set, null text included, which StreamingSpec asserts row
    * for row. Exactly-once per input file via the checkpoint. */
  def continuousBoilerplateScrub(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      gramsDir: String, checkpointDir: String): StreamingQuery = {
    val grams = spark.read.parquet(gramsDir).select("gram").collect().map(_.getString(0)).toSeq
    runOnce(spark, inDir, schema, outDir, checkpointDir)(
      graft.ops.TextOps.boilerplateScrubUnder(grams))
  }

  /** Continuous in-document repetition scrub — the streaming twin of q133
    * and the simplest twin in the family: the kernel is a STATELESS
    * narrow map with no corpus-global fit (unlike q110's gram set or
    * q117's frozen suite), so the stream runs the batch kernel's very
    * Column tree ([[graft.ops.TextOps.runCollapseKernel]]) inside each
    * micro-batch. Stream output is row-identical to batch BY CONSTRUCTION
    * — one definition, two execution modes — which StreamingSpec still
    * asserts (the contract, not the plumbing). Exactly-once per input
    * file via the checkpoint. */
  def continuousRunCollapse(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      checkpointDir: String): StreamingQuery =
    runOnce(spark, inDir, schema, outDir, checkpointDir)(
      graft.ops.TextOps.runCollapseKernel)

  /** Continuous media ingest hashing — the streaming twin of q139's hash
    * stage: decode + aHash each incoming binary blob inside the
    * micro-batch via the batch kernel itself
    * ([[graft.ops.Multimodal.imageAHash]] — a stateless mapPartitions,
    * legal in streaming as-is; decoder state initializes once per
    * partition exactly as in batch). The output is the per-image hash
    * table an incremental image-dedup maintains: join a day's hashes
    * against the persisted corpus hash table and duplicates collapse
    * without re-decoding history — decode cost follows the INGEST, never
    * the corpus (the M6-index discipline, media tier). Undecodable blobs
    * pass through flagged, exactly-once per input file. */
  def continuousMediaHash(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      checkpointDir: String): StreamingQuery =
    runOnce(spark, inDir, schema, outDir, checkpointDir)(
      graft.ops.Multimodal.imageAHash(_))

  /** The q155 pooling ([[graft.ops.Ml.meanPoolOf]]) of (doc_id, text)
    * rows under a broadcast word→vector map: (doc_id, dvec, n_known) —
    * ONE copy shared by the frozen-model maintainer and the refreshing
    * one. The map lookup is the only per-row JVM code: the append file
    * sink forbids the batch twin's join-and-group. */
  private def poolDocs(df: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Map[String, Array[Double]]],
      dim: Int): DataFrame = {
    val known = udf { (toks: Seq[String]) =>
      if (toks == null) Seq.empty[Array[Double]] else toks.flatMap(bc.value.get)
    }
    df.select(col("doc_id"), graft.ops.Ml.meanPoolOf(
        known(graft.functions.TextFns.tokens(col("text"))), lit(dim)).as("p"))
      .select(col("doc_id"), col("p.dvec").as("dvec"), col("p.n_known").as("n_known"))
  }

  /** A (word, vec) model table as the driver-side map [[poolDocs]] broadcasts. */
  private def vecMapOf(wordVecs: DataFrame): Map[String, Array[Double]] =
    wordVecs.select(col("word"), col("vec")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap

  /** Continuous document EMBEDDING under a FROZEN trained model — model
    * INFERENCE riding the ingest (the continuousAnnIngest maintainer
    * routes vectors into the index; this one PRODUCES them): each
    * incoming document pools the [[graft.ml.WordVec]] vectors of its
    * tokens through q155's pooling ([[poolDocs]]), a stateless narrow
    * map: no explode, no aggregation, streaming-legal as-is. The model is
    * trained once in batch and broadcast (vocab-bounded driver state —
    * the DSIR frozen-model discipline); per-batch cost is tokenize + hash
    * lookups. Emits (doc_id, dvec, n_known); n_known = 0 rows carry a
    * zero vector for downstream quarantine. Exactly-once per input file. */
  def continuousDocEmbed(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, wordVecs: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val vecMap = vecMapOf(wordVecs)
    val dim = vecMap.headOption.map(_._2.length).getOrElse(0)
    val bc = spark.sparkContext.broadcast(vecMap)
    runOnce(spark, inDir, schema, outDir, checkpointDir)(poolDocs(_, bc, dim))
  }

  /** [[continuousDocEmbed]] with a REFRESH CADENCE — the operational
    * answer to the frozen-model drift limit (a vocabulary shift in the
    * ingest degrades pooling coverage — new words are OOV under the old
    * model — until a refit sees them): every `refitEvery`-th batch
    * refits [[graft.ml.WordVec]] on EVERYTHING ingested so far and
    * publishes it under the versioned commit of
    * [[graft.ops.IvfIndex.commitAndRetain]] (version dir named by the
    * checkpointed batchId — idempotent under replay; COMMITTED marker;
    * previous version retained one full cadence for in-flight readers; a
    * restart resolves the highest committed version, so the serving
    * model survives the process). Rows embedded between refits serve the
    * current committed model — the bounded-lag contract every serving
    * tier here shares (the SQ/PQ re-derivation note) — and each output
    * row carries `model_v` so downstream can re-embed stale rows after a
    * refresh. Exactly-once: each batch writes `outDir/batch=<id>` with
    * overwrite — a replayed batch rewrites the same path (and re-lands on
    * the same refit schedule, rewriting the same version dir).
    *
    * Scale shape: per-batch cost is the narrow pooling map; the refit is
    * one corpus-sized pair pass + vocab-bounded factorization (the
    * WordVec scaling result: fit wall decouples from corpus size), paid
    * once per cadence. */
  def continuousDocEmbedRefresh(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, modelDir: String,
      outDir: String, checkpointDir: String, refitEvery: Int,
      dim: Int = 16, minCount: Long = 1L): StreamingQuery = {
    import graft.ops.IvfIndex
    val fs = new Path(modelDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resolve the highest committed model (restart-safe); empty map before
    // the first refit — every token OOV, zero vectors, n_known = 0
    def loadServed(s: SparkSession): (Long, Map[String, Array[Double]]) =
      IvfIndex.committedVersions(fs, modelDir).lastOption match {
        case None => (-1L, Map.empty)
        case Some(p) =>
          (p.getName.stripPrefix("v").toLong, vecMapOf(s.read.parquet(s"$p/vecs")))
      }
    var (servedV, servedMap) = loadServed(spark)
    var bc = spark.sparkContext.broadcast(servedMap)

    drain(spark, inDir, schema, checkpointDir) { (batch, batchId, _) =>
      val s = batch.sparkSession
      val dimNow = bc.value.headOption.map(_._2.length).getOrElse(dim)
      poolDocs(batch, bc, dimNow)
        .withColumn("model_v", lit(servedV))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      if (refitEvery > 0 && (batchId + 1) % refitEvery == 0) {
        val v = IvfIndex.versionPath(modelDir, batchId)
        fs.delete(v, true)
        graft.ml.WordVec.fit(
            s.read.schema(schema).parquet(inDir).filter(col("text").isNotNull),
            dim = dim, minCount = minCount)
          .write.mode("overwrite").parquet(s"$v/vecs")
        IvfIndex.commitAndRetain(fs, modelDir, v)
        val (nv, nm) = loadServed(s)
        servedV = nv
        // release the superseded model's broadcast blocks — this
        // batch's pooling already completed (the write above is an
        // action), so nothing references it; without the release,
        // stale vector maps accumulate across refits (r14 ADVICE).
        // unpersist, NOT destroy: a failure-recovery replay of a batch
        // whose captured plan still holds the old handle can re-fetch
        // under unpersist (Spark re-broadcasts on demand) but fails
        // hard after destroy — same executor-memory release either
        // way (r15 ADVICE)
        val prev = bc
        bc = s.sparkContext.broadcast(nm)
        prev.unpersist()
      }
    }
  }

  /** Continuous CROSS-MODAL dedup — maintainer #18, the q144 closure as
    * an ingest admission gate (the [[continuousFuzzyDedup]] discipline on
    * BOTH modalities at once): each micro-batch of (doc_id, text,
    * media: binary nullable) is canonicalized first WITHIN itself by the
    * batch kernel ([[graft.ops.Multimodal.crossModalNearKeepOf]] — full
    * closure over text-fp ∪ exact-image ∪ hamming ≤ 3 edges, cheap at
    * batch size), then checked AGAINST the persisted canonical state on
    * both axes: exact text fingerprint against the fp table, and banded
    * hamming ≤ 3 against the phash table (the q140 candidate layout).
    * Survivors land in `outDir` and their fingerprints/hashes append to
    * the state tables, so neither text nor blobs are ever re-read.
    *
    * A doc whose text duplicates history is dropped even when its image
    * is novel, and vice versa — the joint-modality admission q144 makes
    * in batch. ACROSS batches the first-admitted doc wins (the
    * documented admission-streaming divergence of continuousFuzzyDedup:
    * no retraction, no cross-batch transitivity — the periodic batch
    * closure is the reconciliation). Exactly-once per input file via
    * the checkpoint, with the foreachBatch residue class of
    * [[continuousSemanticDedup]]: a crash between the parquet appends
    * and the checkpoint can duplicate one batch's rows in `outDir` and
    * the state tables on replay — reconciled by a dropDuplicates
    * compaction on a maintenance cadence. State is plain parquet,
    * restartable and inspectable. First batch bootstraps both tables. */
  def continuousCrossModalDedup(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      fpDir: String, phashDir: String, checkpointDir: String,
      hashBits: Int = 64): StreamingQuery = {
    import graft.ops.Multimodal
    drain(spark, inDir, schema, checkpointDir) { (batch, _, hold) =>
      val s = batch.sparkSession
      val b = hold(batch)
      // one decode per blob; undecodable media = no image identity
      // (the doc still dedups on text — admission noise handling is
      // the funnel's job, not the dedup maintainer's)
      val hashed = hold(Multimodal.imageAHash(
          b.filter(col("media").isNotNull).select(col("doc_id"), col("media")))
        .filter(col("decoded"))
        .select(col("doc_id"), col("ahash")))
      // within-batch: the full q144 closure at batch size
      val selfKeep = Multimodal.crossModalNearKeepOf(
        b.select(col("doc_id"), col("text")),
        hashed.select(col("doc_id"), lit(true).as("decoded"), col("ahash")),
        hashBits)
      val inBatch = hold(b
        .join(selfKeep.filter(col("doc_id") === col("keep_id")).select("doc_id"),
          Seq("doc_id"))
        .withColumn("fp", graft.functions.TextFns.fingerprint(col("text"))))
      // against the persisted state (absent only on the very first
      // batch — a transient read failure must fail the batch, not
      // re-admit the corpus as novel)
      def loadState(dir: String): Option[DataFrame] = whenPresent(s.read.parquet(dir))
      val textHit = loadState(fpDir) match {
        case Some(fps) => inBatch
          .join(fps.select(col("fp")).distinct(), Seq("fp"), "left_semi")
          .select(col("doc_id"))
        case None => s.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
      }
      val mediaHit = loadState(phashDir) match {
        case Some(ph) =>
          val qBands = Multimodal.withPhashProbes(
              inBatch.select(col("doc_id")).join(hashed, Seq("doc_id")), hashBits)
            .select(col("band"), col("bhash"), col("doc_id"),
              col("ahash").as("bh"))
          val iBands = Multimodal.withPhashBands(
              ph.select(col("ahash")).distinct(), hashBits)
            .select(col("band"), col("bhash"), col("ahash").as("ih"))
          qBands.join(iBands, Seq("band", "bhash"))
            .filter(bit_count(col("bh").bitwiseXOR(col("ih"))) <=
              Multimodal.phashHamMax(hashBits))
            .select(col("doc_id")).distinct()
        case None => s.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
      }
      val kept = hold(inBatch
        .join(textHit.unionByName(mediaHit).distinct(), Seq("doc_id"), "left_anti"))
      kept.drop("fp").write.mode("append").parquet(outDir)
      kept.select(col("fp"), col("doc_id")).write.mode("append").parquet(fpDir)
      kept.select(col("doc_id"))
        .join(hashed, Seq("doc_id"))
        .write.mode("append").parquet(phashDir)
    }
  }

  /** Persist the FROZEN LM model layout the ppl-gate maintainers serve
    * from (r14 verdict #3 — the continuousMediaNearDup band discipline
    * applied to the language model). One corpus pass through the shared
    * [[graft.ops.Scoring.bigramFoldOf]] kernel, then the
    * [[graft.ops.Scoring.knModel]] / [[graft.ops.Scoring.kn3Model]]
    * tables the batch KN queries fit:
    *
    *   bigrams/abkt=K/       (a, b, cab)   — hash-bucketed by LEFT token
    *   contexts/abkt=K/      (a, ca, n1a)  — same bucketing
    *   continuations/bbkt=K/ (b, n1pre)    — bucketed by RIGHT token
    *   meta/                 1 row: v, dd, tt, nbkt + the q156 tercile
    *                         cuts for BOTH smoothing tiers (add-1, KN)
    *
    * The bucket column is `pmod(xxhash64(token), nbkt)` — a serving
    * batch computes its own touched-bucket set (≤ nbkt integers, the
    * only driver data in the path) and the parquet scan partition-prunes
    * to just those directories. Size `nBuckets` so one bucket of the
    * bigram table fits an executor comfortably (~model rows / nbkt);
    * growing the corpus grows the model, so re-materialize with
    * proportionally more buckets to hold per-batch join cost flat — the
    * cuts, discount, and type totals are 1-row scalars either way.
    * All model quantities carry the q147/q165 certified arithmetic
    * (counts as longs; D = n1/(n1+2·n2) with the degenerate-corpus
    * guard; cuts are percentile_disc over the ROUNDED per-doc scores). */
  def writePplModel(spark: SparkSession, corpus: DataFrame, modelDir: String,
      nBuckets: Int = 64): Unit = {
    import spark.implicits._
    import graft.ops.Scoring
    val held = new Caching.Barriers
    try {
      val tfb = held.hold(Scoring.bigramFoldOf(corpus))
      val bg = held.hold(tfb.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cab")))
      val (ctx, pre, discDf) = Scoring.knModel(bg)
      val vocab = corpus
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("w"))
        .agg(count_distinct(col("w")).cast("double").as("v"))
      val v = vocab.head().getDouble(0)
      val disc = discDf.head()
      // the cuts run through the *From kernels over the SAME cached
      // tfb/bg/tft/tg the model tables write from — one corpus tokenize
      // pass per order instead of one per scoring tier (r15 ADVICE)
      val cutsA = Scoring.bigramNllFrom(tfb, bg, vocab).agg(
        expr("percentile_disc(0.33333333) WITHIN GROUP (ORDER BY nll2)"),
        expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2)")).head()
      val cutsK = Scoring.knNllFrom(tfb, bg).agg(
        expr("percentile_disc(0.33333333) WITHIN GROUP (ORDER BY nll_kn)"),
        expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn)")).head()
      require(!cutsA.isNullAt(0),
        "writePplModel needs a training corpus with at least one scorable " +
          "(>= 2 token) document to place the tercile cuts")
      val abkt = pmod(xxhash64(col("a")), lit(nBuckets.toLong)).as("abkt")
      bg.select(col("a"), col("b"), col("cab"), abkt)
        .write.mode("overwrite").partitionBy("abkt").parquet(s"$modelDir/bigrams")
      ctx.select(col("a"), col("ca"), col("n1a"), abkt)
        .write.mode("overwrite").partitionBy("abkt").parquet(s"$modelDir/contexts")
      pre.select(col("b"), col("n1pre"),
          pmod(xxhash64(col("b")), lit(nBuckets.toLong)).as("bbkt"))
        .write.mode("overwrite").partitionBy("bbkt")
        .parquet(s"$modelDir/continuations")
      // the order-3 layer (the q176 model): trigram counts + (a,b) contexts
      // in the same left-token bucket layout, D3 and the kn3 cuts in meta.
      // Nullable cuts: a corpus with no >= 3-token doc still serves the
      // order-2 tiers; requesting smoothing="kn3" against it fails loudly.
      val tft = held.hold(Scoring.trigramFoldOf(corpus))
      val tg = held.hold(tft.groupBy(col("a"), col("b"), col("c"))
        .agg(sum(col("tf")).as("cabc")))
      val (ctx3, disc3Df) = Scoring.kn3Model(tg)
      val disc3 = disc3Df.head()
      tg.select(col("a"), col("b"), col("c"), col("cabc"), abkt)
        .write.mode("overwrite").partitionBy("abkt").parquet(s"$modelDir/trigrams")
      ctx3.select(col("a"), col("b"), col("cab2"), col("n1ab"), abkt)
        .write.mode("overwrite").partitionBy("abkt").parquet(s"$modelDir/contexts3")
      val cutsK3 = Scoring.kn3NllFrom(tfb, bg, tft, tg).agg(
        expr("percentile_disc(0.33333333) WITHIN GROUP (ORDER BY nll_kn3)"),
        expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn3)")).head()
      def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      // a corpus with no >= 3-token document has an EMPTY trigram table, so
      // the D3 aggregate is null — record 0.0 (the kn3 cuts are null too,
      // so the kn3 tier refuses loudly) and keep the order-2 promise: such
      // a corpus still writes a servable add-1/KN model (r15 ADVICE)
      val dd3v = if (disc3.isNullAt(0)) 0.0 else disc3.getDouble(0)
      Seq((v, disc.getDouble(0), disc.getDouble(1), nBuckets.toLong,
          cutsA.getDouble(0), cutsA.getDouble(1),
          cutsK.getDouble(0), cutsK.getDouble(1),
          dd3v, opt(cutsK3, 0), opt(cutsK3, 1)))
        .toDF("v", "dd", "tt", "nbkt", "c1_add1", "c2_add1", "c1_kn", "c2_kn",
          "dd3", "c1_kn3", "c2_kn3")
        .coalesce(1).write.mode("overwrite").parquet(s"$modelDir/meta")
    } finally held.release()
  }

  /** A [[writePplModel]] layout loaded for serving at one smoothing tier
    * — the ONE per-batch scorer every streaming ppl gate runs (the
    * joined gate's three tiers, the gate-agreement monitor's add-1 leg).
    * Construction reads the 1-row meta on the driver and fails fast on an
    * unknown tier, so a typo never serves the wrong model. Each batch
    * folds through the shared [[graft.ops.Scoring]] kernels, collects its
    * touched-bucket sets (≤ nbkt integers — the only collect in the
    * path) and LEFT-joins partition-pruned scans of just those buckets:
    * the model never transits the driver, and AQE broadcasts the batch
    * side when it is small — the model side is never broadcast.
    *
    *  - "add1": the q147 arithmetic — unseen pairs/contexts degrade
    *    through (c+1)/(c_a+V) with counts defaulting 0 (the q163
    *    LEFT-join convention; batch-parity with q147's rounded scores).
    *    Joins bigrams + contexts.
    *  - "kn": the q165 Kneser–Ney fold for IN-MODEL pairs — verbatim
    *    ((c−D) + D·N1+(a,·)·Pcont(b)) / c(a,·), so replaying the fit
    *    corpus reproduces q165's rounded scores exactly; a pair the
    *    model never saw has no continuation mass to interpolate, so
    *    out-of-model pairs fall back to the add-1 tier's smoothing —
    *    total, positive, and documented rather than a log(0) surprise.
    *    Adds the continuations join.
    *  - "kn3": the q176 trigram fold for in-model trigrams (replaying
    *    the fit corpus reproduces q176's rounded scores exactly), with
    *    the documented degradation ladder below it: unseen trigram
    *    under a seen context → continuation term only; unseen context
    *    → P_KN2(c|b) alone (the dd3 = 0 totality guard included);
    *    unseen bigram inside P2 → add-1. The batch folds to TRIGRAMS and
    *    the static side adds the trigrams/contexts3 tables plus the
    *    bigram tables reprojected onto (b, c) — three bucket sets. A
    *    model fit on a corpus with no ≥ 3-token document has null kn3
    *    cuts and refuses this tier at construction. */
  private final class ServedPplModel(spark: SparkSession, modelDir: String,
      smoothing: String) {
    import spark.implicits._
    import graft.ops.Scoring
    require(Seq("add1", "kn", "kn3").contains(smoothing),
      s"smoothing must be one of add1, kn, kn3 (got '$smoothing')")
    private val meta = spark.read.parquet(s"$modelDir/meta").head()
    require(smoothing != "kn3" || !meta.isNullAt(meta.fieldIndex("c1_kn3")),
      "smoothing=kn3 needs a model fit on a corpus with at least one " +
        ">= 3-token document (the kn3 cuts are null)")
    /** The tier's q156 tercile cuts. */
    val c1: Double = meta.getAs[Double](s"c1_$smoothing")
    val c2: Double = meta.getAs[Double](s"c2_$smoothing")
    private val nbkt = meta.getAs[Long]("nbkt")
    private def stat(k: String): Column = lit(meta.getAs[Double](k))
    private val (v, dd, tt, dd3) = (stat("v"), stat("dd"), stat("tt"), stat("dd3"))
    // lazy: a trigram-free model has no readable trigram tables, and the
    // order-2 tiers never touch them
    private lazy val bigrams = spark.read.parquet(s"$modelDir/bigrams")
    private lazy val contexts = spark.read.parquet(s"$modelDir/contexts")
    private lazy val continuations = spark.read.parquet(s"$modelDir/continuations")
    private lazy val trigrams = spark.read.parquet(s"$modelDir/trigrams")
    private lazy val contexts3 = spark.read.parquet(s"$modelDir/contexts3")

    /** `bkt` ∈ the buckets `fold`'s token column `c` touches. */
    private def touched(fold: DataFrame, c: String, bkt: String): Column =
      col(bkt).isin(fold.select(pmod(xxhash64(col(c)), lit(nbkt)))
        .distinct().as[Long].collect(): _*)

    /** Scores one micro-batch `b` (doc_id, text): (doc_id, n_pairs, nll2)
      * for every doc long enough for the tier's order. The batch's fold is
      * cached through `hold`, the batch's cache handle. */
    def score(b: DataFrame, hold: DataFrame => DataFrame): DataFrame = {
      val (served, lnP) = if (smoothing == "kn3") {
        val tft = hold(Scoring.trigramFoldOf(b))
        val inA = touched(tft, "a", "abkt")
        val inB = touched(tft, "b", "abkt")
        val p2v = Scoring.p2vExpr(col("cbc"), col("cb"), col("n1b"),
          col("n1pre"), dd, tt, v)
        (tft
          .join(trigrams.filter(inA)
            .select(col("a"), col("b"), col("c"), col("cabc")),
            Seq("a", "b", "c"), "left")
          .join(contexts3.filter(inA)
            .select(col("a"), col("b"), col("cab2"), col("n1ab")),
            Seq("a", "b"), "left")
          .join(bigrams.filter(inB)
            .select(col("a").as("b"), col("b").as("c"), col("cab").as("cbc")),
            Seq("b", "c"), "left")
          .join(contexts.filter(inB)
            .select(col("a").as("b"), col("ca").as("cb"), col("n1a").as("n1b")),
            Seq("b"), "left")
          .join(continuations.filter(touched(tft, "c", "bbkt"))
            .select(col("b").as("c"), col("n1pre")), Seq("c"), "left"),
          Scoring.lnP3Expr(col("cabc"), col("cab2"), col("n1ab"), p2v, dd3))
      } else {
        val tfb = hold(Scoring.bigramFoldOf(b))
        val inA = touched(tfb, "a", "abkt")
        val withCtx = tfb
          .join(bigrams.filter(inA).select(col("a"), col("b"), col("cab")),
            Seq("a", "b"), "left")
          .join(contexts.filter(inA).select(col("a"), col("ca"), col("n1a")),
            Seq("a"), "left")
        if (smoothing == "add1")
          (withCtx, Scoring.lnAdd1Expr(col("cab"), col("ca"), v))
        else (
          withCtx.join(continuations.filter(touched(tfb, "b", "bbkt"))
            .select(col("b"), col("n1pre")), Seq("b"), "left"),
          Scoring.lnP2Expr(col("cab"), col("ca"), col("n1a"), col("n1pre"),
            dd, tt, v))
      }
      served.groupBy(col("doc_id"))
        .agg(sum(col("tf")).cast("long").as("n_pairs"),
          round(-sum(col("tf") * lnP) / sum(col("tf")), 4).as("nll2"))
    }
  }

  /** Continuous CCNet perplexity gate — maintainer #17, the q147/q156
    * pair (and its q165/q176 Kneser–Ney tiers) serving on the ingest:
    * each incoming document scores under the FROZEN corpus LM that
    * [[writePplModel]] laid out in bucketed parquet, through the
    * stream-static join of [[ServedPplModel]] — a web-scale
    * (corpus-superlinear) bigram table costs executor scans, never a
    * driver collect. `smoothing` picks the certified tier: "add1"
    * (q147), "kn" (q165) or "kn3" (q176); any other name is rejected.
    *
    * Buckets against the meta cuts of the chosen tier (q156's
    * percentile_disc values). Emits (doc_id, n_pairs, nll2, bucket);
    * docs too short for the tier's order emit `unscored` with a null
    * score — the gate never judges what it cannot score (the
    * TrainingData.pplGate contract). A word-salad document — common
    * words, impossible orders — lands in `tail` AT INGEST TIME, before
    * it ever reaches a batch pipeline. Batch parity: replaying the
    * training corpus reproduces the q147/q165/q176 score tables'
    * rounded values exactly (StreamingSpec). foreachBatch residue class
    * of [[continuousSemanticDedup]]: a crash between the append and the
    * checkpoint can duplicate one batch's rows on replay. */
  def continuousPplGateJoined(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, modelDir: String,
      outDir: String, checkpointDir: String,
      smoothing: String = "add1"): StreamingQuery = {
    val model = new ServedPplModel(spark, modelDir, smoothing)
    drain(spark, inDir, schema, checkpointDir) { (batch, _, hold) =>
      val b = hold(batch.select(col("doc_id"), col("text")))
      b.select(col("doc_id"))
        .join(model.score(b, hold), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          col("nll2"),
          when(col("nll2").isNull, "unscored")
            .when(col("nll2") <= lit(model.c1), "head")
            .when(col("nll2") <= lit(model.c2), "middle")
            .otherwise("tail").as("bucket"))
        .write.mode("append").parquet(outDir)
    }
  }

  /** The frozen eval-gram index the streaming decontamination scrub
    * serves: every distinct K-token span hash of the held-out set, in
    * the [[writePplModel]] bucketed parquet layout (hash-bucketed so
    * ingest joins scan only touched buckets). Eval sets are REVISED, not
    * appended — a new benchmark release rewrites the index wholesale,
    * which is why this is a batch writer, not a maintainer. The span
    * kernel is [[graft.ops.Dedup.spanKernel]] — the same definition the
    * certified batch scrub (q175) and ExactSubstr (q91) run, so the
    * index is exactly the batch pass's eval vocabulary. */
  def writeEvalGramIndex(spark: SparkSession, evalDocs: DataFrame,
      indexDir: String, nBuckets: Int = 64, K: Int = 8): Unit = {
    import spark.implicits._
    val norm = graft.functions.TextFns.normText(col("text"))
    evalDocs.filter(col("text").isNotNull)
      .select(explode(graft.ops.Dedup.spanKernel(K)(norm)).as("sp"))
      .select(col("sp._2").as("h")).distinct()
      .withColumn("hbkt", pmod(xxhash64(col("h")), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("hbkt").parquet(s"$indexDir/spans")
    Seq((nBuckets.toLong, K.toLong)).toDF("nbkt", "k")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
    ()
  }

  /** Continuous span-level decontamination (maintainer #19) — the
    * streaming twin of q175 ([[graft.ops.Dedup.decontamScrub]]): each
    * micro-batch of ingested documents is scrubbed against the FROZEN
    * [[writeEvalGramIndex]] span index — any K-token span that occurs in
    * the held-out set is cut, and the batch emits (doc_id, n_tokens,
    * n_cov, clean_text) with the cleaned text ready for downstream
    * admission (null when the whole doc was contaminated — the drop
    * signal).
    *
    * Scale shape: stream-static join, the [[continuousPplGateJoined]]
    * discipline — the index never transits the driver (an eval suite of
    * many benchmarks times paraphrase expansions is NOT broadcast-sized
    * at 100 TB); per batch it's one span-kernel pass, a touched-bucket
    * collect (≤ nbkt integers), a partition-pruned semi-join, and a
    * length-bounded per-doc fold. Batch parity: replaying a corpus
    * through this maintainer reproduces the batch scrub's (n_tokens,
    * n_cov, md5) row-for-row, which StreamingSpec asserts. foreachBatch
    * residue class of [[continuousSemanticDedup]]: a crash between the
    * append and the checkpoint can duplicate one batch's rows on
    * replay. */
  def continuousDecontamScrub(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, indexDir: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$indexDir/meta").head()
    val nbkt = meta.getAs[Long]("nbkt")
    val k = meta.getAs[Long]("k").toInt
    val idx = spark.read.parquet(s"$indexDir/spans")
    val norm = graft.functions.TextFns.normText(col("text"))
    drain(spark, inDir, schema, checkpointDir) { (batch, _, hold) =>
      val b = hold(batch.select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull))
      val spans = hold(b
        .select(col("doc_id"), explode(graft.ops.Dedup.spanKernel(k)(norm)).as("sp"))
        .select(col("doc_id"), col("sp._1").as("start"), col("sp._2").as("h"))
        .withColumn("hbkt", pmod(xxhash64(col("h")), lit(nbkt))))
      // the touched-bucket set: bounded by nbkt, never by the index
      val touched = spans.select(col("hbkt")).distinct().as[Long].collect()
      val perDoc = spans
        .join(idx.filter(col("hbkt").isin(touched: _*)).select(col("h")),
          Seq("h"), "left_semi")
        .groupBy(col("doc_id")).agg(collect_list(col("start")).as("starts"))
      b.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          graft.ops.Dedup.cleanKernel(k)(norm, col("starts")).as("r"))
        .select(col("doc_id"), col("r._1").as("n_tokens"),
          col("r._2").as("n_cov"), col("r._3").as("clean_text"))
        .write.mode("append").parquet(outDir)
    }
  }

  /** The frozen SIF doc-embedding model the streaming diversity monitor
    * serves: the fitted (word, vec) table joined with the fit corpus's
    * unigram counts, hash-bucketed by word (the [[writePplModel]]
    * layout), plus the corpus-total scalar in meta. Pass `wordvecs` to
    * reuse an existing fit (the parity test's determinism contract);
    * None fits [[graft.ml.WordVec]] on the corpus. */
  def writeDocvecModel(spark: SparkSession, corpus: DataFrame,
      modelDir: String, nBuckets: Int = 64,
      wordvecs: Option[DataFrame] = None, minCount: Long = 1L): Unit = {
    import spark.implicits._
    val wv = wordvecs.getOrElse(
      graft.ml.WordVec.fit(corpus.filter(col("text").isNotNull),
        minCount = minCount))
    val held = new Caching.Barriers
    try {
      val freq = held.hold(corpus
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n")))
      val tot = freq.agg(sum(col("n")).cast("double")).head().getDouble(0)
      wv.join(freq, Seq("word"))
        .select(col("word"), col("vec"), col("n"),
          pmod(xxhash64(col("word")), lit(nBuckets.toLong)).as("wbkt"))
        .write.mode("overwrite").partitionBy("wbkt").parquet(s"$modelDir/vecs")
      Seq((tot, nBuckets.toLong)).toDF("tot", "nbkt")
        .coalesce(1).write.mode("overwrite").parquet(s"$modelDir/meta")
    } finally held.release()
  }

  /** Continuous embedding-DIVERSITY monitor (maintainer #20) — the
    * ingest-side drift alarm for the q184 release diagnostic: each
    * micro-batch's documents pool to SIF vectors under the FROZEN
    * [[writeDocvecModel]] tables (stream-static join with touched-bucket
    * pruning — the [[continuousPplGateJoined]] discipline; the model is
    * vocabulary-sized and never driver-collected) through q161's pooling
    * ([[graft.ops.Ml.sifPoolOf]]), and the batch APPENDS q184's
    * per-(source, dim) partial ([[graft.ops.Ml.diversityPartialOf]]).
    * [[diversityReport]] folds the accumulated partials into the q184
    * table at read time through q184's own fold — per source,
    * 1 − ‖mean unit vector‖² over every doc streamed so far. A source
    * whose diversity collapses mid-stream is a feed gone template (the
    * monitor catches it between releases;
    * q184 certifies the same number on the batch corpus). State is the
    * APPEND LOG, not a mutable table — replaying the fit corpus through
    * the monitor reproduces q184's rounded report, which StreamingSpec
    * asserts. foreachBatch residue class of [[continuousSemanticDedup]]:
    * a crash between append and checkpoint can duplicate one batch's
    * partial rows on replay. */
  def continuousDiversityMonitor(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, modelDir: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$modelDir/meta").head()
    val tot = meta.getAs[Double]("tot")
    val nbkt = meta.getAs[Long]("nbkt")
    val vecs = spark.read.parquet(s"$modelDir/vecs")
    drain(spark, inDir, schema, checkpointDir) { (batch, batchId, hold) =>
      val tf = hold(batch.filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("word"))
        .withColumn("wbkt", pmod(xxhash64(col("word")), lit(nbkt))))
      val touched = tf.select(col("wbkt")).distinct().as[Long].collect()
      val dv = graft.ops.Ml.sifPoolOf(
        tf.join(vecs.filter(col("wbkt").isin(touched: _*))
          .select(col("word"), col("vec"), col("n")), Seq("word")),
        Seq("doc_id", "source"), lit(tot))
      graft.ops.Ml.diversityPartialOf(dv)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outDir)
    }
  }

  /** Continuous GATE-AGREEMENT monitor (maintainer #21) — q185's κ
    * table on the ingest path: each micro-batch flags every doc under
    * the three FROZEN gates (the q97 rule predicate — stateless; the
    * q101 margin from an explicit frozen weights row; the add-1 ppl
    * tercile against [[writePplModel]]'s c2_add1 cut, scored by the
    * joined gate's add-1 tier, [[ServedPplModel]]) and APPENDS
    * its 1-row count partial (n, keeps, pairwise agreements).
    * [[gateAgreementReport]] folds the log into q185's 3-row κ table on
    * demand. The drift alarm this buys: gates that agreed at
    * certification time drifting apart on live traffic (κ collapsing)
    * means the incoming distribution moved — recalibrate before the
    * corpus skews. Counts are integers, so the fold is EXACT regardless
    * of batch boundaries (replaying any corpus in any split reproduces
    * the batch table row-for-row — StreamingSpec asserts it against
    * q185's shared kernel). foreachBatch residue class of
    * [[continuousSemanticDedup]]. */
  def continuousGateAgreement(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, pplModelDir: String,
      weights: DataFrame, outDir: String, checkpointDir: String): StreamingQuery = {
    val model = new ServedPplModel(spark, pplModelDir, "add1")
    val wRow = weights.head()
    drain(spark, inDir, schema, checkpointDir) { (batch, batchId, hold) =>
      val b = hold(batch.select(col("doc_id"), col("text")))
      // add-1 scores through the frozen model (the joined gate's add1
      // tier): in-model pairs replay the q147 fold, unseen pairs take
      // the smoothed floor
      val flags = b
        .join(model.score(b, hold), Seq("doc_id"), "left")
        .select(
          graft.ops.TextOps.ruleGateKeep().cast("long").as("rule"),
          (graft.ops.Curation.marginFromWeights(wRow) > 0)
            .cast("long").as("clf"),
          (col("nll2").isNull || col("nll2") <= lit(model.c2))
            .cast("long").as("ppl"))
      graft.ops.Scoring.gateCountsOf(flags)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outDir)
    }
  }

  /** Read-side fold of the gate-agreement log → q185's 3-row κ table
    * over every doc streamed so far (exact integer sums, the shared
    * [[graft.ops.Scoring.kappaPairsOf]] algebra). */
  def gateAgreementReport(spark: SparkSession, outDir: String): DataFrame =
    graft.ops.Scoring.kappaPairsOf(
      spark.read.parquet(outDir).agg(
        sum(col("n")).cast("long").as("n"),
        sum(col("kr")).cast("long").as("kr"),
        sum(col("kc")).cast("long").as("kc"),
        sum(col("kp")).cast("long").as("kp"),
        sum(col("a_rc")).cast("long").as("a_rc"),
        sum(col("a_rp")).cast("long").as("a_rp"),
        sum(col("a_cp")).cast("long").as("a_cp")))

  /** Read-side fold of the monitor's append log → the q184 table
    * (source, n_docs, diversity) over every doc streamed so far. */
  def diversityReport(spark: SparkSession, outDir: String): DataFrame =
    graft.ops.Ml.diversityFold(spark.read.parquet(outDir))

  /** Continuous 4-GRAM NOVELTY monitor — maintainer #23, the q197
    * template-farm detector as an ingest alarm: a source whose novelty
    * (distinct/total 4-grams) collapses mid-stream started syndicating a
    * phrase bank, and the mixture should hear about it before the next
    * export. Each micro-batch folds to (source, gram, n) occurrence
    * PARTIALS through the exact q197 pass
    * ([[graft.ops.CorpusReports.gramCountsOf]] — integer counts, so
    * re-aggregation is lossless across any batch split) and appends
    * them; [[noveltyReport]] folds the log through the same per-source
    * definition the certified query uses. Scale: the partial table is
    * per-batch-Zipf-bounded and the report is executor-side folds —
    * nothing vocabulary-sized transits the driver. foreachBatch residue
    * class of [[continuousSemanticDedup]]. */
  def continuousNoveltyMonitor(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      checkpointDir: String): StreamingQuery =
    drain(spark, inDir, schema, checkpointDir) { (batch, batchId, _) =>
      graft.ops.CorpusReports.gramCountsOf(
          batch.select(col("source"), col("text")))
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outDir)
    }

  /** Read-side fold of the novelty log → the q197 table over every doc
    * streamed so far (per-(source, gram) totals re-aggregated from the
    * integer partials, then the shared per-source fold). Completes any
    * compaction swap a crash left in flight before reading, so the
    * report never sees a missing live path. */
  def noveltyReport(spark: SparkSession, outDir: String): DataFrame =
    graft.ops.CorpusReports.noveltyFoldOf(
      readSwapped(spark, outDir)
        .groupBy(col("source"), col("g"))
        .agg(sum(col("n")).as("n")))

  /** Compact the novelty log: unlike maintainers #20/#21 (whose partials
    * are sources×dim- or 1-row-per-batch-bounded), #23's per-batch
    * partial is a GRAM table — the log grows with Σ batch-distinct grams
    * until compacted. The counts are re-aggregable integers, so
    * compaction is exact: roll the log up to one (source, g, n) table
    * and publish it through the crash-recoverable swap protocol
    * ([[graft.sources.SwapProtocol]]: tmp write → retire dst → publish
    * tmp → reclaim — the live log is never deleted before its
    * replacement is in place, and a crash at ANY step is completed by
    * the next reader or compaction, from `__swap_old`/`__swap_tmp`;
    * closes the r16 delete-then-rename window). Run between drains (the
    * AvailableNow trigger stops the stream); the checkpoint tracks INPUT
    * files, so compacting the output never causes a replay, and
    * subsequent batches append alongside the rollup. [[noveltyReport]]
    * is invariant under compaction. */
  def compactNoveltyLog(spark: SparkSession, outDir: String): Unit = {
    val dst = new Path(outDir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapProtocol.writeSwapped(fs, dst) { tmp =>
      // the rollup plan reads the LIVE dst — it stays in place (readable,
      // crash-intact) until the tmp write below has fully materialized
      spark.read.parquet(outDir)
        .groupBy(col("source"), col("g"))
        .agg(sum(col("n")).as("n"))
        .withColumn("batch_id", lit(-1L))
        .select(col("source"), col("g"), col("n"), col("batch_id"))
        .write.parquet(tmp.toString)
    }
  }

  /** Compaction POLICY for maintainer #23 (r16 verdict #7): compact when
    * the appended-partial rows outgrow the last rollup by `growthRatio`.
    * The drain loop consults this instead of remembering to compact —
    * the log's growth is bounded by policy, not operator discipline.
    * The trigger read scans ONE int64 column (`batch_id` — rollup rows
    * carry -1, appended partials their real batch id), nothing
    * gram-sized. An uncompacted log (no rollup yet) triggers
    * once the appended rows alone exceed `growthRatio` × `minRollupRows`
    * (the floor keeps a tiny fresh log from compacting every drain).
    * Returns whether a compaction ran. */
  // sized by: rewrite amortization — each compaction rewrites
  // rolled + appended rows, so triggering only once appended > 4× rolled
  // bounds TOTAL rewrite work at a constant factor of ingest (the
  // geometric-series argument every log-structured merge policy rests
  // on; ratio 2 halves read amplification for ~2× the write cost, 8
  // the reverse); minRollupRows floors the trigger so a tiny fresh log
  // does not compact on every drain
  def compactNoveltyLogIfNeeded(spark: SparkSession, outDir: String,
      growthRatio: Double = 4.0, minRollupRows: Long = 1000L): Boolean = {
    val dst = new Path(outDir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapProtocol.recover(fs, dst)
    if (!fs.exists(dst)) return false
    val byKind = spark.read.parquet(outDir)
      .groupBy(col("batch_id") === -1L)
      .count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val rolled = byKind.getOrElse(true, 0L)
    val appended = byKind.getOrElse(false, 0L)
    val due = appended > growthRatio * math.max(rolled, minRollupRows)
    if (due) compactNoveltyLog(spark, outDir)
    due
  }

  /** Continuous VOCABULARY-GROWTH monitor — maintainer #24, the
    * streaming face of q200's Heaps diagnostic: per source, the
    * cumulative (tokens seen, distinct terms seen) curve across
    * micro-batches. A source whose curve bends toward linear (β → 1)
    * mid-stream started minting unique junk tokens — the q197 signal in
    * exponent form, caught at ingest instead of at the next corpus
    * audit, and the alarm that protects every vocab-capacity assumption
    * downstream (WordVec's maxVocab guard, the SIF broadcast bound).
    *
    * State is a BUCKETED first-seen term log (`pmod(xxhash64(source ‖
    * term), nbkt)` — the writePplModel layout discipline): each batch
    * folds to per-source term counts through q200's term fold
    * ([[graft.ops.CorpusReports.sourceTermsOf]]), anti-joins the touched
    * buckets of the log (≤ nbkt ints are the only driver data), and
    * appends its NEW terms plus one per-source token-count row IN ONE
    * WRITE (term rows and stat rows share the table, `term IS NULL`
    * marking stats, so there is no torn-state window between two logs).
    * The log is Heaps-bounded (vocabulary-sized, never corpus-sized);
    * [[vocabGrowthReport]] folds it into the per-batch cumulative curve
    * with a per-source window over batch-count-bounded rows. foreachBatch
    * residue class of [[continuousSemanticDedup]]. */
  def continuousVocabGrowth(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      checkpointDir: String, nBuckets: Int = 64,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import spark.implicits._
    val logDir = s"$outDir/terms"
    // the curve's batch granularity is the source's read limit —
    // AvailableNow honors maxFilesPerTrigger, so a deployment picks the
    // curve resolution here (None = one point per drain)
    drain(spark, inDir, schema, checkpointDir, maxFilesPerTrigger) { (batch, batchId, hold) =>
      val toks = hold(graft.ops.CorpusReports.sourceTermsOf(batch)
        .withColumn("tbkt", pmod(
          xxhash64(concat_ws("\u0000", col("source"), col("term"))),
          lit(nBuckets.toLong))))
      val nTok = toks.groupBy(col("source"))
        .agg(sum(col("n")).cast("long").as("n_tok"))
      val fs = new Path(logDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val touched = toks.select(col("tbkt")).distinct().as[Long].collect()
      val newTerms =
        if (!fs.exists(new Path(logDir))) toks.select(col("source"), col("term"), col("tbkt"))
        else toks.select(col("source"), col("term"), col("tbkt"))
          .join(spark.read.parquet(logDir)
              .filter(col("term").isNotNull && col("tbkt").isin(touched: _*))
              .select(col("source"), col("term")),
            Seq("source", "term"), "left_anti")
      newTerms
        .select(lit(batchId).as("batch_id"), col("source"), col("term"),
          col("tbkt"), lit(null).cast("long").as("n_tok"))
        .unionByName(nTok.select(lit(batchId).as("batch_id"), col("source"),
          lit(null).cast("string").as("term"), lit(-1L).as("tbkt"),
          col("n_tok")))
        .write.mode("append").partitionBy("tbkt").parquet(logDir)
    }
  }

  /** Read-side fold of the vocab-growth log → (source, batch_id,
    * n_tok_cum, v_cum): the per-source cumulative Heaps curve. The
    * window runs per source over batch-count-bounded rows; replaying a
    * corpus in ANY split ends each source's curve at the same totals the
    * batch q200 fold reads (the parity contract). */
  def vocabGrowthReport(spark: SparkSession, outDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val log = spark.read.parquet(s"$outDir/terms")
    val stats = log.filter(col("term").isNull)
      .groupBy(col("source"), col("batch_id"))
      .agg(sum(col("n_tok")).as("n_b"))
    val news = log.filter(col("term").isNotNull)
      .groupBy(col("source"), col("batch_id"))
      .agg(count(lit(1)).as("v_b"))
    val w = Window.partitionBy(col("source")).orderBy(col("batch_id"))
    stats.join(news, Seq("source", "batch_id"), "left")
      .withColumn("n_tok_cum", sum(col("n_b")).over(w).cast("long"))
      .withColumn("v_cum", sum(coalesce(col("v_b"), lit(0L))).over(w).cast("long"))
      .select(col("source"), col("batch_id"), col("n_tok_cum"), col("v_cum"))
      .orderBy(col("source"), col("batch_id"))
  }

  /** Continuous EXACT-NN reference maintainer — maintainer #25, the
    * missing denominator of the q201/q207/q208 recall tables as an
    * ingest companion: those curves are computable offline because the
    * exact brute-force top-3 is affordable at certification scale; at
    * 100 TB it is not — UNLESS maintained incrementally. Exact top-k
    * DECOMPOSES: top3(corpus ∪ batch) = top3(state ∪ top3(batch)) —
    * any global top-3 neighbor is either already in the kept state or
    * inside the new batch's own top-3. So the maintainer keeps, per
    * fixed probe query, the exact top-3 over everything ingested so far
    * (state: nProbes×3 rows, corpus-independent) and each drain pays
    * probes×batch scores through the SAME
    * [[graft.ops.Similarity.exactTop3Scored]] kernel the certified
    * recall tables use — one definition, two execution modes. Recall of
    * any live index serve against a certified-exact reference is then a
    * bounded per-drain read instead of a corpus rescan. State publishes
    * through [[graft.sources.SwapProtocol]] (crash-recoverable swap);
    * replay is idempotent (per-(query, candidate) scores are
    * deterministic, merged by groupBy-max before re-ranking). foreachBatch
    * residue class of [[continuousSemanticDedup]]. */
  def continuousExactNnRef(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, probes: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery = {
    // register on the OUTER session before start(): the micro-batch
    // executes in a cloned session whose function registry snapshots the
    // outer one — an inside-only registration leaves cosine_sim
    // unresolvable on the first drain
    graft.plans.GraftExtensions.register(spark)
    drain(spark, inDir, schema, checkpointDir) { (batch, _, _) =>
      val s = batch.sparkSession
      graft.plans.GraftExtensions.register(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"))
        .orderBy(col("cos_raw").desc, col("nn_id"))
      mergeSwapped(s, s"$outDir/top3", graft.ops.Similarity.exactTop3Scored(
          batch.select(col("vec_id"), col("embedding")), probes)) {
        _.groupBy(col("vec_id"), col("nn_id"))
          .agg(max(col("cos_raw")).as("cos_raw"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("vec_id"), col("nn_id"), col("cos_raw"))
      }
    }
  }

  /** Read the maintained exact reference: (vec_id, nn_id, cos_raw),
    * completing any crashed swap first. Equals the batch
    * `exactTop3Scored` over everything ingested — the parity contract
    * (StreamingSpec maintainer #25). */
  def exactNnRefReport(spark: SparkSession, outDir: String): DataFrame =
    readSwapped(spark, s"$outDir/top3")
      .orderBy(col("vec_id"), col("cos_raw").desc, col("nn_id"))

  /** The per-drain RECALL read maintainer #25 exists for: serve the
    * probe batch through a live [[graft.ops.IvfIndex]] (the q99 pruned
    * small-batch shape) and score it against the MAINTAINED exact
    * reference — the q201 recall arithmetic with the brute-force
    * denominator replaced by #25's state. Cost per call: one pruned
    * serve + a state-sized join; nothing corpus-sized. Run after each
    * drain (index ingest + #25 both caught up) and the serving tier's
    * recall is a continuously-watchable number instead of an offline
    * certification artifact. */
  def annRecallReport(spark: SparkSession, outDir: String, indexDir: String,
      probes: DataFrame, nProbe: Int = 8): DataFrame = {
    val exact = exactNnRefReport(spark, outDir)
      .select(col("vec_id"), col("nn_id"), lit(1L).as("hit"))
    val nq = probes.count()
    graft.ops.IvfIndex.searchTopK(spark,
        graft.ops.IvfIndex.load(spark, indexDir), probes, k = 3, nProbe = nProbe)
      .select(col("vec_id"), col("nn_id"))
      .join(exact, Seq("vec_id", "nn_id"), "left")
      .agg(lit(nq).as("n_queries"),
        count(col("hit")).cast("long").as("n_hits"))
      .select(col("n_queries"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(3.0 * nq), 4).as("recall3"))
  }

  /** Maintainer #26: continuous DISTINCT-CONTENT monitor — the streaming
    * face of the q92/q212 KMV family: per source, the k smallest
    * md5-uniforms over the content fingerprint, maintained exactly-once
    * across drains. Bottom-k DECOMPOSES the way #25's top-k does:
    * bottomK(corpus ∪ batch) = bottomK(state ∪ bottomK(batch)), so the
    * state is ≤ sources × k rows (corpus-independent) and each drain
    * pays one batch fingerprint pass plus a state-sized merge — the
    * property that makes a continuously-watchable distinct-count
    * affordable at 100 TB (the batch-exact countDistinct is a
    * full-cardinality shuffle per read). The uniform is the SHARED
    * [[graft.ops.Relational.mdUniform]] over
    * [[graft.functions.TextFns.fingerprint]] — one definition with the
    * certified aggregates, so [[distinctReport]] equals the q92
    * `kmv_distinct` UDAF over everything ingested, exactly, under any
    * split (StreamingSpec maintainer #26). Replay is idempotent (u is
    * deterministic per fingerprint; the merge is a distinct-union).
    * State publishes through [[graft.sources.SwapProtocol]]. */
  def continuousDistinctMonitor(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      checkpointDir: String, k: Int = 256): StreamingQuery = {
    require(k >= 2, s"kmv k must be >= 2, got $k")
    drain(spark, inDir, schema, checkpointDir) { (batch, _, _) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("u"))
      def bottomK(df: DataFrame): DataFrame = df.distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("source"), col("u"))
      // batch-side bottom-k FIRST (the decomposition): the merge then
      // ranks ≤ 2k rows per source, never the batch's distinct set
      mergeSwapped(batch.sparkSession, s"$outDir/kmv", bottomK(batch
        .select(col("source"), graft.ops.Relational.mdUniform(
          graft.functions.TextFns.fingerprint(col("text"))).as("u"))))(bottomK)
    }
  }

  /** Read the maintained sketch as the per-source distinct estimate:
    * (source, n_kept, kmv_nd) with the SAME estimator the certified
    * `kmv_distinct` aggregate evaluates — exact (= n_kept) below k,
    * floor((k-1)/u_k) saturated — so the report equals the batch UDAF
    * over everything ingested (the parity contract). `k` must match the
    * maintainer's. */
  def distinctReport(spark: SparkSession, outDir: String, k: Int = 256): DataFrame =
    readSwapped(spark, s"$outDir/kmv")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_kept"), max(col("u")).as("u_k"))
      .select(col("source"), col("n_kept"),
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(floor(lit((k - 1).toDouble) / col("u_k")).cast("long"))
          .as("kmv_nd"))
      .orderBy(col("source"))

  /** Maintainer #27: continuous SAMPLED-QUANTILE monitor — the
    * streaming tier q219 prices: per source, the (u, doc_id, n_chars)
    * rows of the k smallest md5-uniforms over doc_id — a uniform
    * k-sample of everything ingested, because bottom-k is mergeable
    * (bottomK(corpus ∪ batch) = bottomK(state ∪ bottomK(batch)), the
    * #25/#26 decomposition) and hash-deterministic. State is ≤
    * sources × k rows through [[graft.sources.SwapProtocol]]; each
    * drain pays one batch pass + a state-sized merge. Unlike a GK/
    * t-digest sketch the sample is engine-neutral: the batch side and
    * every merge rank through q219's own window
    * ([[graft.ops.CorpusReports.sampleBottomKOf]]), so [[quantileReport]]
    * equals the q219 batch kernel over everything ingested, exactly,
    * under any split (StreamingSpec maintainer #27). Replay is
    * idempotent: u is deterministic per doc_id, and the merge keys on
    * (source, u, doc_id) taking min(n_chars) — a DETERMINISTIC
    * aggregate, so even if a doc_id were re-ingested with a mutated
    * n_chars the kept row is order-independent (a dropDuplicates would
    * keep an arbitrary one — r17 ADVICE). Under the normal
    * immutable-attribute contract the min is the only value anyway. */
  def continuousQuantileMonitor(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      checkpointDir: String, k: Int = 128): StreamingQuery = { // k priced by q219 (k=128 holds every per-source quartile within the certified band)
    require(k >= 1, s"sample size k must be >= 1, got $k")
    drain(spark, inDir, schema, checkpointDir) { (batch, _, _) =>
      def bottomK(df: DataFrame): DataFrame =
        graft.ops.CorpusReports.sampleBottomKOf(df, k)
          .select(col("source"), col("u"), col("doc_id"), col("n_chars"))
      def mergeKeys(df: DataFrame): DataFrame = df
        .groupBy(col("source"), col("u"), col("doc_id"))
        .agg(min(col("n_chars")).as("n_chars"))
      mergeSwapped(batch.sparkSession, s"$outDir/sample", bottomK(mergeKeys(batch
        .select(col("source"), graft.ops.Relational.mdUniform(col("doc_id")).as("u"),
          col("doc_id"), col("n_chars")))))(df => bottomK(mergeKeys(df)))
    }
  }

  /** Read the maintained sample as per-source quantiles: (source,
    * n_sample, p25, p50, p75) via the same percentile_disc the q72/q219
    * certified kernels use — equals the q219 batch sample at the same k
    * over everything ingested (the parity contract). */
  def quantileReport(spark: SparkSession, outDir: String): DataFrame =
    readSwapped(spark, s"$outDir/sample")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_sample"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)")
          .cast("long").as("p25"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
          .cast("long").as("p50"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)")
          .cast("long").as("p75"))
      .orderBy(col("source"))

  /** Continuous media admission gate — the streaming twin of q149 (the
    * media rule gate): each micro-batch's blobs decode to metadata
    * in-stream (the batch extractFeatures kernel, stateless) and the
    * gate flags ride along via the SAME column bundle
    * ([[graft.ops.Multimodal.mediaGateFlags]] — one definition, two
    * execution modes). Narrow end-to-end: no shuffle, no state; a
    * malformed blob degrades through the decode fallback, never fails
    * the stream. Exactly-once per input file via the checkpoint. */
  def continuousMediaGate(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      checkpointDir: String,
      cfg: graft.ops.Multimodal.MediaGateConfig =
        graft.ops.Multimodal.MediaGateConfig()): StreamingQuery =
    runOnce(spark, inDir, schema, outDir, checkpointDir) { df =>
      graft.ops.Multimodal.mediaGate(
        graft.ops.Multimodal.extractFeatures(df), cfg)
    }

  /** Continuous media NEAR-dup probing — the streaming twin of the
    * [[graft.ops.PhashIndex]] serve (and of q140's probe shape): each
    * micro-batch of (doc_id, media) blobs is decoded + aHashed in-stream
    * (the batch kernel, stateless), banded, and equi-joined against the
    * FROZEN corpus band table (a stream-static inner join — the index
    * side never re-scans); hamming-verified hits append through the file
    * sink, so exactly-once comes from the sink's checkpoint-atomic
    * commit. Streaming-legal by construction: no distinct (a pair
    * sharing k intact bands emits k hit rows — expected, collapsed by
    * [[mediaNearDupHits]] exactly as the eval-saturation maintainer's
    * repeats are), no caching, no stateful operator; per-batch cost is
    * decode + a broadcast-able band join, independent of corpus history.
    * `index` is the PLAIN `PhashIndex.load(...)` table (doc_id, ahash):
    * banding happens HERE, from the same scheme the probe side uses, so
    * a persisted pre-banded frame can never drift out of layout-sync
    * with the probe generation across upgrades (r20 review: a stale
    * band layout joined against new probes would silently match
    * nothing). At cluster scale, partition the saved (doc_id, ahash)
    * parquet by an ahash prefix; the band explode adds one exact row
    * per scheme band. */
  def continuousMediaNearDup(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, index: DataFrame,
      hitsDir: String, checkpointDir: String,
      hashBits: Int = 64): StreamingQuery =
    runOnce(spark, inDir, schema, hitsDir, checkpointDir) { df =>
      graft.ops.Multimodal.withPhashProbes(
          graft.ops.Multimodal.imageAHash(df).filter(col("decoded")), hashBits)
        .select(col("doc_id").as("batch_id"), col("ahash").as("ha"),
          col("band"), col("bhash"))
        .join(graft.ops.Multimodal.withPhashBands(index, hashBits)
          .select(col("doc_id").as("corpus_id"),
            col("ahash").as("hb"), col("band"), col("bhash")), Seq("band", "bhash"))
        .filter(col("batch_id") =!= col("corpus_id"))
        .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .filter(col("hamming") <= graft.ops.Multimodal.phashHamMax(hashBits))
        .select(col("batch_id"), col("corpus_id"), col("hamming"))
    }

  /** The maintained near-dup hit table, band-repeats collapsed — row-set
    * identical to [[graft.ops.PhashIndex.query]] on the same batch ∪
    * index (StreamingSpec asserts the parity). Missing path (no ingest
    * yet) reads as empty, the bootstrap-probe discipline. */
  def mediaNearDupHits(spark: SparkSession, hitsDir: String): DataFrame = {
    import spark.implicits._
    whenPresent(spark.read.parquet(hitsDir))
      .getOrElse(Seq.empty[(Long, Long, Long)].toDF("batch_id", "corpus_id", "hamming"))
      .dropDuplicates("batch_id", "corpus_id")
  }

  /** Continuous benchmark-saturation maintenance (the streaming twin of
    * q117): the eval suite is FROZEN, and each corpus micro-batch
    * contributes the eval grams it contains as (eval doc, gram) hit rows —
    * a stream-static inner join of the batch's gram rows against the eval
    * suite's (doc_id, gh) table, both from q117's gram kernel
    * ([[graft.ops.CorpusReports.evalGramsOf]]). The join is legal under
    * the append FILE SINK, so exactly-once comes from the sink's
    * checkpoint-atomic commit (no foreachBatch replay residue), and the
    * eval table never transits the driver. Duplicate hits (the same gram
    * seen in later batches) are expected and collapse in
    * [[evalSaturationReport]]'s aggregation; saturation is monotone in
    * ingest — the live form of "this eval number is expiring". Contract:
    * stream the TRAIN split — the maintainer does not filter eval ids out
    * of the stream (the two id spaces may be unrelated, the
    * searchThreshold excludeSelf lesson), so streaming the eval docs
    * themselves would trivially saturate them. */
  def continuousEvalSaturation(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType,
      evalDocs: DataFrame, hitsDir: String, checkpointDir: String): StreamingQuery = {
    val evalG = graft.ops.CorpusReports.evalGramsOf(evalDocs)
    runOnce(spark, inDir, schema, hitsDir, checkpointDir) { df =>
      graft.ops.CorpusReports.evalGramsOf(df).select(col("gh"))
        .join(evalG, Seq("gh"))
        .select(col("doc_id"), col("gh"))
    }
  }

  /** The q117 report over the maintained hit table, through q117's own
    * fold ([[graft.ops.CorpusReports.saturationFoldOf]]): per eval doc,
    * total distinct grams, grams seen anywhere in the ingested corpus,
    * and the saturation ratio — row-identical to the batch q117 on the
    * same corpus (StreamingSpec asserts it). dropDuplicates absorbs the
    * cross-batch repeat hits by design. Before any ingest (no hit table
    * yet) the report is all-zeros rather than an error — only a MISSING
    * path takes that branch; a transient read failure on a real table
    * still fails loudly (the bootstrap-probe discipline). */
  def evalSaturationReport(spark: SparkSession, evalDocs: DataFrame,
      hitsDir: String): DataFrame = {
    import spark.implicits._
    graft.ops.CorpusReports.saturationFoldOf(
      graft.ops.CorpusReports.evalGramsOf(evalDocs),
      whenPresent(spark.read.parquet(hitsDir))
        .getOrElse(Seq.empty[(Long, Long)].toDF("doc_id", "gh"))
        .dropDuplicates("doc_id", "gh"))
  }

  /** Continuous gate-funnel accounting (the streaming twin of q127): each
    * micro-batch of documents is annotated with its curation-cascade
    * verdicts by q127's own flag kernel
    * ([[graft.ops.CorpusReports.gateFlagsOf]]) — rule gate (stateless
    * predicate), exact-dedup canonical (within-batch min doc_id per
    * fingerprint, then against the PERSISTED fingerprint set:
    * first-admitted-wins, the streaming-dedup admission convention), and
    * decontamination (a semi-join against the FROZEN eval gram
    * vocabulary, exact, as in the batch query). Per-doc flag rows append
    * to `flagsDir`; admitted canonical fingerprints append to `fpDir`
    * (the operator's restartable state). [[gateFunnelReport]] aggregates
    * the flag table by source — row-identical to the batch q127 when
    * ingestion is doc_id-ordered (then first-admitted = min doc_id);
    * out-of-order ingestion diverges only in WHICH clone is canonical,
    * never in the counts' stage telescoping. Exactly-once per input file
    * via the checkpoint.
    *
    * Scale note: the per-batch fingerprint lookup joins the batch against
    * the FULL persisted fp table (corpus-sized at 100 TB). The join side
    * is one 32-char column and the batch side is small, but a deployment
    * at that scale should write `fpDir` BUCKETED by fingerprint (the
    * [[graft.sources.Compaction]] layout discipline) so each batch reads
    * only its buckets — the contract and the report are unchanged; only
    * the state layout tightens. */
  def continuousGateFunnel(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, evalDocs: DataFrame,
      flagsDir: String, fpDir: String, checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    import graft.ops.CorpusReports
    drain(spark, inDir, schema, checkpointDir) { (batch, _, hold) =>
      // absent only before the first batch — the bootstrap-probe
      // discipline: a transient read failure on real state must fail
      // the batch, not re-admit every clone as canonical
      val seen = whenPresent(batch.sparkSession.read.parquet(fpDir))
        .getOrElse(Seq.empty[String].toDF("fp"))
      val flags = hold(CorpusReports.gateFlagsOf(
        hold(CorpusReports.gateColumnsOf(batch)), evalDocs, Some(seen)))
      flags.drop("fp").write.mode("append").parquet(flagsDir)
      flags.filter(col("s2") === 1L).select(col("fp"))
        .write.mode("append").parquet(fpDir)
    }
  }

  /** The q127 report over the maintained flag table: per-source survivor
    * counts through the cascade, through q127's own fold
    * ([[graft.ops.CorpusReports.gateFunnelFoldOf]]). Before any ingest
    * (no flag table yet) the report is empty rather than an error —
    * missing-path-only, like [[evalSaturationReport]].
    *
    * Replay residue (the foreachBatch contract — a crash between the
    * flags append and the checkpoint commit replays the batch
    * AT-LEAST-ONCE) is reconciled here by a per-doc max: a REPLAYED row
    * can only demote s2/s3 (the first attempt's own fingerprints are in
    * the state by then, so the clone test re-fails), so max-per-doc
    * recovers the first attempt's verdict exactly — the same
    * reconcile-downstream discipline as the DSIR twin. */
  def gateFunnelReport(spark: SparkSession, flagsDir: String): DataFrame = {
    import spark.implicits._
    graft.ops.CorpusReports.gateFunnelFoldOf(
      whenPresent(spark.read.parquet(flagsDir))
        .getOrElse(Seq.empty[(Long, String, Long, Long, Long)]
          .toDF("doc_id", "source", "s1", "s2", "s3"))
        .groupBy(col("doc_id"), col("source"))
        .agg(max(col("s1")).as("s1"), max(col("s2")).as("s2"), max(col("s3")).as("s3")))
  }

  /** Continuous SEMANTIC decontamination (the streaming tier of q111, and
    * the embedding-space complement of [[continuousDecontam]]): each
    * micro-batch of ingested embeddings queries a FROZEN, persisted IVF
    * index of the held-out benchmark set through the threshold kernel
    * ([[graft.ops.IvfIndex.searchThreshold]]); any vector whose cosine to
    * some benchmark item clears `t` routes to `quarantineDir` WITH its
    * evidence (best-match cosine and match count — triage needs to know
    * how contaminated, not just that), the rest append to `cleanDir`.
    * Direction is reversed from the batch query (the batch streams AS the
    * query set against the small eval index, rather than eval querying a
    * corpus index) — cosine is symmetric, so the flag set is the same,
    * and the per-batch cost is the probed fraction of a benchmark-sized
    * index regardless of corpus history. The index is deliberately frozen
    * for the stream's lifetime: the benchmark is a release artifact, and
    * a mid-stream index swap would make early and late batches
    * incomparable. Exactly-once per input file via the checkpoint;
    * at-least-once within a replayed batch, reconciled downstream like
    * the DSIR twin (deterministic scores → exact duplicate rows). */
  def continuousSemanticDecontam(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, cleanDir: String,
      quarantineDir: String, evalIndexDir: String, checkpointDir: String,
      t: Double = 0.35, nProbe: Int = 8): StreamingQuery = {
    import graft.ops.IvfIndex
    val idx = IvfIndex.load(spark, evalIndexDir)
    drain(spark, inDir, schema, checkpointDir) { (batch, _, hold) =>
      val s = batch.sparkSession
      val b = hold(batch.select(col("vec_id"), col("embedding")))
      if (b.count() > 0L) {
        // excludeSelf = false: corpus vec_ids and benchmark-index ids
        // are UNRELATED id spaces here — a numeric collision is a real
        // match, not a self-pair (the batch q111 direction, where the
        // benchmark is a corpus subset, keeps the default)
        val hits = IvfIndex.searchThreshold(s, idx, b, t, nProbe,
            excludeSelf = false)
          .groupBy(col("query_id").as("vec_id"))
          .agg(max(col("cos")).as("max_cos"), count(lit(1)).as("n_matches"))
        val flagged = hold(b.join(broadcast(hits), Seq("vec_id"), "left"))
        flagged.filter(col("max_cos").isNotNull)
          .write.mode("append").parquet(quarantineDir)
        flagged.filter(col("max_cos").isNull).drop("max_cos", "n_matches")
          .write.mode("append").parquet(cleanDir)
      }
    }
  }

  /** Continuous DSIR importance scoring (q105 in incremental form): each
    * micro-batch of ingested documents is scored under the PERSISTED
    * log-ratio model and routed to `selectedDir` (w > 0 — more
    * target-like than raw) or `rejectedDir`, with the n-gram count and
    * micro-unit weight carried as columns. The model is decoded ONCE at
    * stream start into the 256-slot array the fused codegen kernel
    * indexes ([[graft.ops.Curation.dsirModelSlots]] — the same decode as
    * the batch query, so batch and stream scores are bit-identical); the
    * per-batch work is one compiled scan, no joins, no shuffle, so
    * stream throughput is scan-bound regardless of corpus history.
    * Exactly-once per input file via the checkpoint; failure replay is
    * AT-LEAST-ONCE within a batch (the foreachBatch contract — a crash
    * between a sink append and the checkpoint can duplicate that batch's
    * rows in the sinks; integer scoring makes the replayed rows exact
    * copies, so the downstream exact-dedup pass reconciles them). The
    * model is deliberately FROZEN for the stream's lifetime: importance
    * weights must be comparable across the whole ingest, so refreshing
    * the fit is a restart-with-new-model decision, not a per-batch one. */
  def continuousDsirScoring(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, modelDir: String,
      selectedDir: String, rejectedDir: String,
      checkpointDir: String): StreamingQuery = {
    val slots = graft.ops.Curation.dsirModelSlots(spark, modelDir)
    drain(spark, inDir, schema, checkpointDir) { (batch, _, hold) =>
      // barrier (the q105 discipline): three derived columns; without it
      // CollapseProject re-runs the bigram kernel once per reference
      val scored = hold(batch
        .withColumn("p", graft.ops.Curation.dsirWeightPair(slots)))
      val routed = scored
        .withColumn("n_grams", element_at(col("p"), 1))
        .withColumn("w_micro", element_at(col("p"), 2))
        .drop("p")
      routed.filter(col("w_micro") > 0).write.mode("append").parquet(selectedDir)
      routed.filter(col("w_micro") <= 0).write.mode("append").parquet(rejectedDir)
    }
  }

  /** Continuous temperature-mix ADMISSION (q107 in incremental form):
    * each micro-batch of documents is admitted under the PERSISTED
    * per-language rate table (the q107 fit — broadcast, ≤|languages|
    * rows) via the batch query's own admit column
    * ([[graft.ops.Curation.tempMixAdmit]], an md5-prefix integer compare),
    * so batch and stream decide identically for the same document.
    * Rejected docs are DROPPED — this is sampling, not gating; there is
    * nothing to quarantine. The rates are FROZEN for the stream's
    * lifetime (admission probabilities must be comparable across the
    * whole ingest; a refreshed mix is a restart-with-new-rates
    * decision). Exactly-once per input file via the checkpoint; failure
    * replay is AT-LEAST-ONCE within a batch (exact duplicate rows,
    * reconciled by downstream exact dedup). */
  def continuousTempMixAdmit(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, ratesDir: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val rates = spark.read.parquet(ratesDir).select(col("lang"), col("thr16"))
    drain(spark, inDir, schema, checkpointDir) { (batch, _, _) =>
      batch.join(broadcast(rates), Seq("lang"))
        .filter(graft.ops.Curation.tempMixAdmit)
        .drop("thr16")
        .write.mode("append").parquet(outDir)
    }
  }

  /** Continuous ANN INGEST (M8 in incremental form — the third persisted-
    * index streaming maintainer beside fuzzy dedup and decontamination):
    * each micro-batch of new vectors routes into the SAVED IVF index via
    * [[graft.ops.IvfIndex.append]] — the same unit-space routing as the
    * offline build, no codebook refit, the indexed corpus never re-read;
    * replication comes from the index's persisted metadata. The index is
    * the operator's state, plain parquet shared with the batch API
    * (q45/q96 serve appended vectors unchanged). Delivery is
    * AT-LEAST-ONCE on failure replay (foreachBatch's contract: a crash
    * between the parquet commit and the checkpoint re-appends that
    * batch); duplicates never change top-1 answers (argmax) and
    * [[graft.ops.IvfIndex.compactTo]] reconciles them exactly —
    * `compactEvery` automates that maintenance: every N appended batches
    * the index is compacted into a sibling directory and swapped in, so
    * the per-cell file count stays bounded by N×(files per append) and
    * replay-duplicated rows are reconciled ON CADENCE, not by an operator
    * remembering to run a tool. The cadence keys off the CHECKPOINTED
    * batchId, so it survives restarts (a replayed batch re-lands on the
    * same schedule).
    *
    * PUBLICATION is versioned, not a rename swap: each compaction writes
    * `dir/versions/v<batchId>/` and then creates its COMMITTED marker —
    * a single file create is the atomic publish point, there is NO window
    * in which the serving layout is absent (the earlier two-rename swap
    * had one: a reader resolving mid-swap, or a crash between the
    * renames, saw a missing dir). [[graft.ops.IvfIndex.resolve]] serves
    * the highest committed version; readers hold their resolved immutable
    * snapshot for the query lifetime, and the PREVIOUS snapshot is
    * retained for one full cadence before reclamation, so in-flight
    * searches against it finish (only a query outliving a whole cadence
    * needs a retry). A crash mid-compaction leaves an uncommitted version
    * dir that resolve ignores and the replayed cadence redoes — no
    * startup recovery step, no renames at all (object-store friendly).
    * Codebook drift is the documented limit (periodic offline rebuild
    * re-centers the cells).
    *
    * `sqDir`: when set, the [[graft.ops.IvfSq]] bandwidth tier is
    * RE-DERIVED after each cadence compaction (same versioned-commit
    * discipline), so the quantized copy tracks the ingested index instead
    * of going stale — the operational answer to IvfSq's derived-artifact
    * note. Between compactions the SQ tier lags by the appended batches
    * (bounded by the cadence), which is the usual serving-index refresh
    * contract.
    *
    * `rebuildEvery`: every Mth cadence compaction becomes a full
    * [[graft.ops.IvfIndex.rebuildTo]] — codebook refit on the CURRENT
    * contents, the automated answer to append-drift (the refit sample is
    * bounded, so the extra cost over a plain compaction is one
    * broadcast-sized KMeans fit). Keyed off the checkpointed batchId like
    * the compaction cadence, so a replayed batch re-lands on the same
    * schedule and rewrites the same version.
    *
    * `pqDir`: when set, the [[graft.ops.IvfPq]] compression tier is
    * RE-DERIVED after each cadence compaction, exactly like `sqDir`
    * (same versioned commit, same lag bound). Cell means, codebooks, and
    * codes all re-anchor to the raw snapshot just committed; a stale PQ
    * copy DEGRADES recall, never misserves — the two-stage serve's exact
    * rerank always reads the raw index. */
  def continuousAnnIngest(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, indexDir: String,
      checkpointDir: String, compactEvery: Int = 0,
      sqDir: Option[String] = None, rebuildEvery: Int = 0,
      pqDir: Option[String] = None): StreamingQuery = {
    import graft.ops.IvfIndex
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // commit a freshly-written version dir and reclaim older snapshots;
    // the pre-versioning base layout (cells/centroids/meta — sqcells for
    // the SQ tier) is the oldest snapshot of all: once two committed
    // versions exist it has been stale ≥ one cadence
    def publish(root: String, version: Path): Unit =
      if (IvfIndex.commitAndRetain(fs, root, version).length >= 2)
        fs.listStatus(new Path(root)).map(_.getPath)
          .filter(_.getName != IvfIndex.VersionsSubdir)
          .foreach(fs.delete(_, true))

    drain(spark, inDir, schema, checkpointDir) { (batch, batchId, _) =>
      val s = batch.sparkSession
      IvfIndex.append(s, indexDir, batch)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
        // version name = batchId → a replayed cadence batch rewrites the
        // SAME version (deleted first if half-written) — idempotent
        val v = IvfIndex.versionPath(indexDir, batchId)
        fs.delete(v, true)
        // every rebuildEvery-th compaction refits the codebook on the
        // current contents (drift recovery); count is derived from the
        // checkpointed batchId, so replay is schedule-stable
        val nthCompaction = (batchId + 1) / compactEvery
        if (rebuildEvery > 0 && nthCompaction % rebuildEvery == 0)
          IvfIndex.rebuildTo(s, indexDir, v.toString)
        else
          IvfIndex.compactTo(s, indexDir, v.toString)
        publish(indexDir, v)
        sqDir.foreach { sd =>
          val sv = IvfIndex.versionPath(sd, batchId)
          fs.delete(sv, true)
          graft.ops.IvfSq.quantizeTo(s, indexDir, sv.toString)
          publish(sd, sv)
        }
        // the PQ tier re-derives on the same cadence and publication
        // discipline — cell means, codebooks, and codes all anchor to
        // the raw snapshot just committed (residuals drift with the
        // codebook, so a stale PQ copy degrades, never misserves: the
        // exact rerank reads the raw index)
        pqDir.foreach { pd =>
          val pv = IvfIndex.versionPath(pd, batchId)
          fs.delete(pv, true)
          graft.ops.IvfPq.trainTo(s, indexDir, pv.toString)
          publish(pd, pv)
        }
      }
    }
  }

  /** Custom stateful streaming operator (§2.9's stateful-ops completion):
    * per-user running statistics maintained across micro-batches via
    * flatMapGroupsWithState — the Spark-native form of the reference's
    * hand-carried per-key progress state (resume counters, per-record
    * status). Emits one updated row per user per batch. */
  case class UserState(n: Long, total: Double)
  case class UserUpdate(user_id: Long, n: Long, total: Double)

  def runningUserStats(events: org.apache.spark.sql.Dataset[(Long, Double)])
      : org.apache.spark.sql.Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var n = prev.n
          var total = prev.total
          rows.foreach { case (_, v) => n += 1; total += v }
          state.update(UserState(n, total))
          Iterator(UserUpdate(user, n, total))
      }
  }

  /** Start the windowed aggregation against a memory sink for tests/demos:
    * returns the query; caller drives it with processAllAvailable(). */
  def startMemoryWindowed(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, name: String): StreamingQuery = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream.schema(schema).parquet(inDir)
    // normalize ts exactly like Tables.events: the testdata's physical
    // type has shipped as nanos-as-Long, timestamp[us]/NTZ, and UTC micros
    // across generations — the stream twin must track all three
    val events = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
    windowedCounts(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
  }
}
