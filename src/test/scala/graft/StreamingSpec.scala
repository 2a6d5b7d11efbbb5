package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Incremental

/** Structured Streaming incremental semantics (§2.9 T1-T4): exactly-once per
  * file across restarts, and watermarked windowed aggregation. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._
  import SparkTestSession.cachedRdds

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  test("file-source checkpoint gives exactly-once per file across reruns (T1/T2/T4)") {
    val base = Files.createTempDirectory("graft-stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()

    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").write.parquet(s"$in/batch1")
    Incremental.runOnce(spark, s"$in/*", schema, out, ck)(df => df.withColumn("v2", col("v") * 2))
    assert(spark.read.parquet(out).count() == 2)

    // re-run with no new files: nothing reprocessed
    Incremental.runOnce(spark, s"$in/*", schema, out, ck)(df => df.withColumn("v2", col("v") * 2))
    assert(spark.read.parquet(out).count() == 2)

    // new file lands: only the delta is processed
    Seq((3L, 3.0)).toDF("id", "v").write.parquet(s"$in/batch2")
    Incremental.runOnce(spark, s"$in/*", schema, out, ck)(df => df.withColumn("v2", col("v") * 2))
    val rows = spark.read.parquet(out).orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("T3: progress metrics (rows, batches, rate) are readable from a drained run") {
    val base = Files.createTempDirectory("graft-progress").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v").write.parquet(s"$in/batch1")
    val q = Incremental.runOnce(spark, s"$in/*", schema, out, ck)(identity)
    val report = Incremental.progressReport(q)
    assert(report.batches >= 1)
    assert(report.rows == 3, s"expected 3 input rows in progress, got ${report.rows}")
    assert(report.totalSec > 0.0)
    assert(report.rowsPerSec > 0.0) // the reference's rows/sec (embeddingsWithGPU.py:231-247)
  }

  test("flatMapGroupsWithState keeps per-user running stats across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val q = Incremental.runningUserStats(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("user_stats").start()
    try {
      input.addData((1L, 10.0), (1L, 5.0), (2L, 1.0))
      q.processAllAvailable()
      input.addData((1L, 2.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM user_stats").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // batch 1: user 1 -> (2, 15.0), user 2 -> (1, 1.0)
      assert(rows.contains((1L, 2L, 15.0)) && rows.contains((2L, 1L, 1.0)))
      // batch 2 carried user 1's state forward: (3, 17.0)
      assert(rows.contains((1L, 3L, 17.0)))
    } finally q.stop()
  }

  test("EP2 incremental: embedding pipeline runs exactly-once through the file source") {
    // the reference's GPU embedding job with hand-rolled index checkpoints
    // (embeddingsWithGPU.py:67-103) as a checkpointed streaming transform:
    // new corpus files embed exactly once per run, resumes process the delta
    val base = Files.createTempDirectory("graft-ep2-stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
      .write.parquet(s"$in/b1")
    Incremental.runOnce(spark, s"$in/*", docSchema, out, ck) { df =>
      graft.ml.Embed.embed(df.as[(Long, String)])
    }
    assert(spark.read.parquet(out).count() == 2)
    Seq((3L, "epsilon")).toDF("doc_id", "text").write.parquet(s"$in/b2")
    Incremental.runOnce(spark, s"$in/*", docSchema, out, ck) { df =>
      graft.ml.Embed.embed(df.as[(Long, String)])
    }
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3) // delta only: doc 3 embedded once, 1 and 2 not re-run
    val v = rows.filter(col("doc_id") === 1L).head().getSeq[Float](1)
    assert(v.length == graft.ml.Embed.Dim)
    assert(math.abs(math.sqrt(v.map(x => x.toDouble * x).sum) - 1.0) < 1e-5)
  }

  test("streaming dedup suppresses duplicate content within and across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val docs = input.toDF().toDF("ts", "text")
      .withColumn("fp", graft.functions.TextFns.fingerprint(col("text")))
    val q = Incremental.streamingDedup(docs, "ts", "1 hour", Seq("fp"))
      .writeStream.outputMode("append").format("memory").queryName("dedup_stream").start()
    try {
      // batch 1: an in-batch duplicate pair + a unique doc
      input.addData((t(100), "alpha doc"), (t(101), "alpha doc"), (t(102), "beta doc"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate (suppressed) + genuinely new doc
      input.addData((t(200), "alpha doc"), (t(201), "gamma doc"))
      q.processAllAvailable()
      val texts = spark.sql("SELECT text FROM dedup_stream")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(texts == Seq("alpha doc", "beta doc", "gamma doc"),
        s"each content must pass exactly once, got $texts")
    } finally q.stop()
  }

  test("continuous fuzzy dedup drops near-dups within and across batches via the persisted index") {
    val base = Files.createTempDirectory("graft-fdedup").toString
    val in = s"$base/in"; val out = s"$base/out"
    val idx = s"$base/index"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val baseText = "alpha beta gamma delta epsilon zeta eta theta " * 8

    // batch 1: doc 2 is a near-dup of doc 1 (within-batch), doc 3 distinct
    Seq((1L, baseText), (2L, baseText + "iota"),
      (3L, ("omega psi chi phi upsilon tau sigma rho " * 8).trim))
      .toDF("doc_id", "text").write.parquet(s"$in/b1")
    val q1 = Incremental.continuousFuzzyDedup(spark, s"$in/*", docSchema, out, idx, ck)
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L), "within-batch near-dup must be dropped")
    // T3 covers the foreachBatch maintainers too: the drained query's
    // progress (batches, rows, rate) is readable like any other stream's
    val fr = Incremental.progressReport(q1)
    assert(fr.batches >= 1 && fr.rows == 3L && fr.rowsPerSec > 0.0, fr.toString)

    // batch 2: doc 4 near-dups INDEXED doc 1, doc 5 is new
    Seq((4L, baseText + "kappa"),
      (5L, ("one two three four five six seven eight " * 8).trim))
      .toDF("doc_id", "text").write.parquet(s"$in/b2")
    Incremental.continuousFuzzyDedup(spark, s"$in/*", docSchema, out, idx, ck)
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 5L), "cross-batch near-dup must be dropped via the index")

    // re-run with no new files: checkpoint makes it a no-op
    Incremental.continuousFuzzyDedup(spark, s"$in/*", docSchema, out, idx, ck)
    assert(spark.read.parquet(out).count() == 3)
    // the index holds exactly the kept docs' signatures
    assert(spark.read.parquet(idx).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 5L))
  }

  test("retention-scored streaming dedup matches the batch q108 keep-set for batch-contained groups") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-retdedup").toString
    val in = s"$base/in"; val out = s"$base/out"
    val idx = s"$base/index"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val tmpl = "alpha beta gamma delta epsilon zeta eta theta " * 8
    // near-dup clique {1, 2, 3}; the retention scores make doc 3 the
    // winner — the id-order default would keep doc 1, so the test fails
    // if the policy isn't actually applied. 7 and 9 are scored
    // singletons, 9 unscored (ranks below every scored doc, like batch).
    val b1 = Seq(
      (1L, tmpl + "one"), (2L, tmpl + "two"), (3L, tmpl + "three"),
      (7L, ("omega psi chi phi upsilon tau sigma rho " * 8).trim),
      (9L, ("one two three four five six seven eight " * 8).trim))
    b1.toDF("doc_id", "text").write.parquet(s"$in/b1")
    val scores = Seq((1L, 0.1), (2L, 0.5), (3L, 0.9), (7L, 0.7))
      .toDF("doc_id", "score")
    Incremental.continuousFuzzyDedup(spark, s"$in/*", docSchema, out, idx, ck,
      retentionScores = Some(scores))
    val streamKept = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // the batch policy on the same corpus + scores (q108 / cleanCorpus):
    // keep-set equality is the parity contract for batch-contained groups
    val batchDocs =
      b1.toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val batchKept = graft.ops.Dedup.cleanCorpus(
        batchDocs, graft.ops.Dedup.minhashPairsOf(batchDocs), Some(scores))
      .filter(col("status") === "kept")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamKept == batchKept,
      s"stream keep-set $streamKept must equal batch keep-set $batchKept")
    assert(streamKept.contains(3L) && !streamKept.contains(1L),
      s"retention rank (not id order) must pick the clique survivor: $streamKept")

    // cross-batch divergence (documented in the scaladoc): doc 4 near-dups
    // INDEXED doc 3 with a HIGHER score — the stream cannot retract the
    // shipped survivor, so first-admitted wins; batch cleanCorpus over the
    // full corpus would re-pick doc 4
    Seq((4L, tmpl + "four")).toDF("doc_id", "text").write.parquet(s"$in/b2")
    Incremental.continuousFuzzyDedup(spark, s"$in/*", docSchema, out, idx, ck,
      retentionScores = Some(scores.union(Seq((4L, 1.0)).toDF("doc_id", "score"))))
    val after = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(after == streamKept,
      s"cross-batch: first-admitted survivor must stand, got $after")
  }

  test("continuous semantic dedup drops near-dup embeddings within and across batches") {
    val base = Files.createTempDirectory("graft-semstream").toString
    val in = s"$base/in"; val out = s"$base/out"
    val idx = s"$base/index"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val dim = 16
    def oneHot(axis: Int, jitterAxis: Int = -1, jitter: Float = 0f): Array[Float] = {
      val v = new Array[Float](dim)
      v(axis) = 1f
      if (jitterAxis >= 0) v(jitterAxis) = jitter
      v
    }
    // batch 1: vec 2 near-dups vec 1 (cos ≈ 0.999) within the batch;
    // 3..10 are mutually orthogonal (cos 0)
    val b1 = Seq(1L -> oneHot(0), 2L -> oneHot(0, 1, 0.05f)) ++
      (3L to 10L).map(i => i -> oneHot(i.toInt - 1))
    b1.toDF("vec_id", "embedding").write.parquet(s"$in/b1")
    Incremental.continuousSemanticDedup(spark, s"$in/*", embSchema, out, idx, ck)
    assert(spark.read.parquet(out).select("vec_id").as[Long].collect().sorted
      .toSeq == (1L +: (3L to 10L)), "within-batch near-dup must be dropped (min id kept)")

    // batch 2: vec 11 near-dups INDEXED vec 1; vec 12 is a new direction
    Seq(11L -> oneHot(0, 2, 0.03f), 12L -> oneHot(10))
      .toDF("vec_id", "embedding").write.parquet(s"$in/b2")
    Incremental.continuousSemanticDedup(spark, s"$in/*", embSchema, out, idx, ck)
    val kept = spark.read.parquet(out).select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept == (1L +: (3L to 10L)) :+ 12L,
      s"cross-batch near-dup must be dropped via the index, got $kept")

    // replay with no new files: checkpoint makes it a no-op, and the
    // index holds exactly the admitted vectors (single assignment)
    Incremental.continuousSemanticDedup(spark, s"$in/*", embSchema, out, idx, ck)
    assert(spark.read.parquet(out).count() == 10)
    assert(spark.read.parquet(s"$idx/cells").select("vec_id").as[Long]
      .collect().sorted.toSeq == kept)
  }

  test("continuous eval saturation equals batch q117 after the corpus streams through") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-satstream").toString
    val in = s"$base/in"; val hits = s"$base/hits"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val evalDocs = docs.filter(col("doc_id") < 50)
    // the train split streams in two micro-batches
    docs.filter(col("doc_id") >= 50 && col("doc_id") < 75)
      .write.parquet(s"$in/b1")
    Incremental.continuousEvalSaturation(spark, s"$in/*", docSchema, evalDocs, hits, ck)
    val mid = Incremental.evalSaturationReport(spark, evalDocs, hits)
      .select("doc_id", "n_hit").as[(Long, Long)].collect().toMap
    docs.filter(col("doc_id") >= 75).write.parquet(s"$in/b2")
    Incremental.continuousEvalSaturation(spark, s"$in/*", docSchema, evalDocs, hits, ck)
    val fin = Incremental.evalSaturationReport(spark, evalDocs, hits)
    // monotone: more corpus can only raise a doc's hit count
    fin.select("doc_id", "n_hit").as[(Long, Long)].collect()
      .foreach { case (id, h) => assert(h >= mid.getOrElse(id, 0L), s"doc $id regressed") }
    // row-identical to the batch q117 over the full corpus
    val batch = graft.ops.CorpusReports.q117EvalSaturation(spark, sf)
    assert(fin.collect().map(_.toSeq).toSeq == batch.collect().map(_.toSeq).toSeq)
    // replay with no new files: checkpoint makes it a no-op
    val before = spark.read.parquet(hits).count()
    Incremental.continuousEvalSaturation(spark, s"$in/*", docSchema, evalDocs, hits, ck)
    assert(spark.read.parquet(hits).count() == before)
  }

  test("continuous boilerplate scrub equals the batch q110 output under the exported gram set") {
    val base = Files.createTempDirectory("graft-boilstream").toString
    val in = s"$base/in"; val out = s"$base/out"
    val gd = s"$base/grams"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // the q110 unit's planted-template corpus: 30 template carriers + 120
    // unique docs (threshold df·100 ≥ 150 ⇒ df ≥ 2)
    val template = "all rights reserved worldwide"
    // doc 149 carries NULL text: both tiers must agree on the null row
    // too (batch: size(null) → null counts, concat_ws → "")
    val docs = ((0 until 30).map { i =>
      (i.toLong, s"alpha$i beta$i $template gamma$i delta$i")
    } ++ (30 until 149).map { i =>
      (i.toLong, s"unique$i content$i here$i stays$i intact$i")
    } ++ Seq((149L, null.asInstanceOf[String]))).toDF("doc_id", "text")
    // batch fit: the frozen gram set + the batch scrub as ground truth
    graft.ops.TextOps.boilerplateGramsOf(docs).write.parquet(gd)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      def nl(i: Int): java.lang.Long = if (r.isNullAt(i)) null else r.getLong(i)
      (r.getLong(0), nl(1), nl(2), r.getString(3))
    }.toSet
    val batchOut = rows(graft.ops.TextOps.boilerplateScrubOf(docs))

    // stream the same corpus in two files; the scrubbed union must equal
    // the batch output row-for-row (same kernel semantics, frozen set)
    docs.filter(col("doc_id") < 75).write.parquet(s"$in/b1")
    Incremental.continuousBoilerplateScrub(spark, s"$in/*", docSchema, out, gd, ck)
    docs.filter(col("doc_id") >= 75).write.parquet(s"$in/b2")
    val q2 = Incremental.continuousBoilerplateScrub(spark, s"$in/*", docSchema, out, gd, ck)
    val r2 = Incremental.progressReport(q2)
    assert(r2.rows == 75L, s"resume must process only the second file: $r2")
    val streamOut = rows(spark.read.parquet(out))
    assert(streamOut == batchOut,
      s"stream/batch divergence: ${streamOut.diff(batchOut).take(3)} vs ${batchOut.diff(streamOut).take(3)}")
    // replay with no new files: checkpoint makes it a no-op
    Incremental.continuousBoilerplateScrub(spark, s"$in/*", docSchema, out, gd, ck)
    assert(spark.read.parquet(out).count() == 150)
  }

  test("continuous run collapse equals the batch q133 output and resumes exactly-once") {
    val base = Files.createTempDirectory("graft-runcollapse").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // planted runs + a null-text row (the two kernels are ONE definition,
    // but the contract — row equality incl. the null row — stays pinned)
    val docs = ((0 until 60).map { i =>
      (i.toLong, s"tok$i tok$i keep$i keep$i keep$i end$i")
    } ++ Seq((60L, null.asInstanceOf[String]))).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      def nl(i: Int): java.lang.Long = if (r.isNullAt(i)) null else r.getLong(i)
      (r.getLong(0), nl(1), nl(2), nl(3), r.getString(4))
    }.toSet
    val batchOut = rows(graft.ops.TextOps.runCollapseOf(docs))
    docs.filter(col("doc_id") < 40).write.parquet(s"$in/b1")
    Incremental.continuousRunCollapse(spark, s"$in/*", docSchema, out, ck)
    docs.filter(col("doc_id") >= 40).write.parquet(s"$in/b2")
    val q2 = Incremental.continuousRunCollapse(spark, s"$in/*", docSchema, out, ck)
    assert(Incremental.progressReport(q2).rows == 21L,
      "resume must process only the second file")
    val streamOut = rows(spark.read.parquet(out))
    assert(streamOut == batchOut,
      s"stream/batch divergence: ${streamOut.diff(batchOut).take(3)} vs ${batchOut.diff(streamOut).take(3)}")
  }

  test("continuous media hashing equals the batch aHash table and resumes exactly-once") {
    val base = Files.createTempDirectory("graft-mediahash").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    import org.apache.spark.sql.types.BinaryType
    val mediaSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("media", BinaryType)))
    import spark.implicits._
    // real BMPs (incl. a duplicate pair) + one undecodable blob
    val media = ((0 until 40).map(i => (i.toLong, graft.ops.Multimodal.bmpOf(s"img $i body"))) ++
      Seq((40L, graft.ops.Multimodal.bmpOf("img 7 body")),
        (41L, "not an image".getBytes("UTF-8")))).toDF("doc_id", "media")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    val batchOut = rows(graft.ops.Multimodal.imageAHash(media))
    media.filter(col("doc_id") < 20).write.parquet(s"$in/b1")
    Incremental.continuousMediaHash(spark, s"$in/*", mediaSchema, out, ck)
    media.filter(col("doc_id") >= 20).write.parquet(s"$in/b2")
    val q2 = Incremental.continuousMediaHash(spark, s"$in/*", mediaSchema, out, ck)
    assert(Incremental.progressReport(q2).rows == 22L,
      "resume must process only the second file")
    val streamOut = rows(spark.read.parquet(out))
    assert(streamOut == batchOut,
      s"stream/batch divergence: ${streamOut.diff(batchOut).take(3)} vs ${batchOut.diff(streamOut).take(3)}")
    // the incremental-dedup read: the byte-identical pair shares its hash
    // (near-identical texts may too — aHash is perceptual, that's its job)
    val byId = streamOut.map(r => r._1 -> r).toMap
    assert(byId(7L)._3 == byId(40L)._3 && byId(7L)._2 && byId(40L)._2)
    assert(streamOut.filter(!_._2).map(_._1) == Set(41L))
  }

  test("continuous doc-embed pools the frozen WordVec model, equals batch pooling, resumes") {
    val base = Files.createTempDirectory("graft-docembed").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    import spark.implicits._
    // train ONCE in batch on a small corpus; the stream serves the model
    val train = (0 until 20).flatMap(i => Seq(
        s"alpha dog beta$i gamma", s"alpha cat beta$i gamma"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val wv = graft.ml.WordVec.fit(train, dim = 8).cache()
    val vecMap = wv.collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    // ingest: known tokens, mixed known/OOV, all-OOV, null text
    val batch = Seq((100L, "alpha dog gamma"), (101L, "dog unknownword cat"),
      (102L, "totally novel words"), (103L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    batch.filter(col("doc_id") < 102).write.parquet(s"$in/b1")
    Incremental.continuousDocEmbed(spark, s"$in/*", docSchema, wv, out, ck)
    batch.filter(col("doc_id") >= 102).write.parquet(s"$in/b2")
    val q2 = Incremental.continuousDocEmbed(spark, s"$in/*", docSchema, wv, out, ck)
    assert(Incremental.progressReport(q2).rows == 2L,
      "resume must process only the second file")
    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Double](1).toArray, r.getLong(2)))).toMap
    // hand-poolable reference: mean of the known tokens' vectors
    def mean(words: String*): Array[Double] = {
      val vs = words.map(vecMap)
      vs.head.indices.map(i => vs.map(_(i)).sum / vs.size).toArray
    }
    def close(a: Array[Double], b: Array[Double]) =
      a.length == b.length && a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 }
    assert(got(100L)._2 == 3L && close(got(100L)._1, mean("alpha", "dog", "gamma")))
    assert(got(101L)._2 == 2L && close(got(101L)._1, mean("dog", "cat")),
      "OOV tokens must drop from the pool")
    assert(got(102L)._2 == 0L && got(102L)._1.forall(_ == 0.0),
      "all-OOV docs carry the zero vector + n_known=0 for quarantine")
    assert(got(103L)._2 == 0L, "null text must not crash the stream")
  }

  test("continuous cross-modal dedup admits on joint text+image identity across batches") {
    val base = Files.createTempDirectory("graft-xmodal").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    val fpd = s"$base/fp"; val phd = s"$base/phash"
    new java.io.File(in).mkdirs()
    import spark.implicits._
    import java.awt.image.BufferedImage
    def img(pattern: Long): Array[Byte] = {
      val im = new BufferedImage(256, 256, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 256; x <- 0 until 256)
        im.setRGB(x, y,
          if (((pattern >>> ((y / 32) * 8 + (x / 32))) & 1L) == 1L) 0xffffff else 0)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("media", BinaryType)))
    val a = 0xF0F0F0F0F0F0F0F0L
    val far = 0x00000000FFFFFFFFL
    def run() = Incremental.continuousCrossModalDedup(
      spark, s"$in/*", docSchema, out, fpd, phd, ck)

    // batch 1: two novel docs (one with media) + a within-batch pair
    // folded ONLY by the cross-modal near edge (distinct texts,
    // hamming-2 images)
    Seq((1L, "alpha one text", img(a)),
      (2L, "beta two text", img(a ^ 0x11L)),
      (3L, "gamma three text", null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "text", "media").write.parquet(s"$in/b1")
    run()
    val kept1 = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(kept1 == Set(1L, 3L), s"in-batch near-fold must keep min ids: $kept1")

    // batch 2: a text dup of doc 3 (novel image!), an image near-dup of
    // doc 1 (novel text!), and a genuinely novel doc — the JOINT check
    // drops the first two on different axes
    Seq((10L, "gamma three text", img(far)),
      (11L, "delta eleven text", img(a ^ 0x3L)),
      (12L, "epsilon twelve text", null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "text", "media").write.parquet(s"$in/b2")
    run()
    val kept2 = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(1L, 3L, 12L),
      s"10 is a text dup, 11 a media near-dup — only 12 admits: $kept2")

    // replay with no new files: exactly-once, state unchanged
    run()
    assert(spark.read.parquet(out).count() == 3L)
    assert(spark.read.parquet(fpd).count() == 3L, "one fp row per survivor")
    assert(spark.read.parquet(phd).count() == 1L, "one hash row per mediated survivor")
  }

  test("joined ppl gate: stream-static join reproduces q147 AND q165 rounded scores (r14 #3/#4)") {
    val base = Files.createTempDirectory("graft-pplgate-joined").toString
    val in = s"$base/in"; val model = s"$base/model"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val corpus = (0 until 30).map { i =>
      (i.toLong, s"alpha beta gamma delta alpha beta gamma delta tag$i")
    }.toDF("doc_id", "text").cache()
    // the frozen model materializes ONCE into the bucketed layout; both
    // tiers serve from the same tables
    Incremental.writePplModel(spark, corpus, model, nBuckets = 8)

    val refA = graft.ops.Scoring.bigramNllOf(corpus)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val refK = graft.ops.Scoring.knNllOf(corpus)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    corpus.write.parquet(s"$in/b1")
    Seq((100L, "alpha beta gamma delta"),
      (101L, "delta alpha gamma beta delta gamma alpha"),
      (102L, "solo"),
      // out-of-model mass: unseen pair with seen context, unseen context
      (103L, "alpha zzz qqq www")).toDF("doc_id", "text")
      .write.parquet(s"$in/b2")

    def drain(tier: String): Map[Long, (Long, Option[Double], String)] = {
      val out = s"$base/out_$tier"; val ck = s"$base/ck_$tier"
      Incremental.continuousPplGateJoined(
        spark, s"$in/*", docSchema, model, out, ck, smoothing = tier)
      spark.read.parquet(out).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getString(3))))
        .toMap
    }

    // add-1 tier: batch parity with the q147 kernel on the replayed corpus
    val gotA = drain("add1")
    refA.foreach { case (id, (nPairs, nll2)) =>
      assert(gotA(id)._1 == nPairs && gotA(id)._2.contains(nll2),
        s"add1 doc $id: stream ${gotA(id)} != batch ($nPairs, $nll2)")
    }
    assert(gotA(100L)._3 != "tail", gotA(100L).toString)
    assert(gotA(101L)._3 == "tail", s"word-salad must tail: ${gotA(101L)}")
    assert(gotA(102L)._3 == "unscored" && gotA(102L)._2.isEmpty, gotA(102L).toString)
    assert(gotA(103L)._2.nonEmpty, "out-of-model pairs must still score")

    // KN tier: batch parity with the q165 kernel (every replayed pair is
    // in-model, so the serve is the certified fold verbatim)
    val gotK = drain("kn")
    refK.foreach { case (id, (nPairs, nllKn)) =>
      assert(gotK(id)._1 == nPairs && gotK(id)._2.contains(nllKn),
        s"kn doc $id: stream ${gotK(id)} != batch ($nPairs, $nllKn)")
    }
    assert(gotK(102L)._3 == "unscored", gotK(102L).toString)
    // the out-of-model doc degrades through the documented add-1
    // fallback — total and positive, never log(0)
    assert(gotK(103L)._2.exists(x => !x.isNaN && !x.isInfinite), gotK(103L).toString)

    // ORDER-3 tier: batch parity with the q176 kernel (replaying the fit
    // corpus keeps every trigram in-model — the serve is the certified
    // fold verbatim), and the degradation ladder below it
    val refK3 = graft.ops.Scoring.kn3NllOf(corpus)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val gotK3 = drain("kn3")
    refK3.foreach { case (id, (nTri, nll3)) =>
      assert(gotK3(id)._1 == nTri && gotK3(id)._2.contains(nll3),
        s"kn3 doc $id: stream ${gotK3(id)} != batch ($nTri, $nll3)")
    }
    // < 3 tokens has no trigram: 102 (1 token) AND a 4-token in-model doc
    // still scores (100 has 2 trigrams)
    assert(gotK3(102L)._3 == "unscored" && gotK3(102L)._2.isEmpty, gotK3(102L).toString)
    assert(gotK3(100L)._1 == 2L && gotK3(100L)._2.nonEmpty, gotK3(100L).toString)
    // out-of-model trigrams (101: seen words, unseen orders; 103: unseen
    // words) walk the documented ladder — finite, never log(0)
    assert(gotK3(101L)._2.exists(x => !x.isNaN && !x.isInfinite), gotK3(101L).toString)
    assert(gotK3(103L)._2.exists(x => !x.isNaN && !x.isInfinite), gotK3(103L).toString)
    corpus.unpersist()
  }

  test("ppl model on a trigram-free corpus still writes and serves order-2 tiers (r15 ADVICE)") {
    val base = Files.createTempDirectory("graft-ppl-notri").toString
    val in = s"$base/in"; val model = s"$base/model"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // every doc has EXACTLY 2 tokens: bigram model is real, the trigram
    // table is EMPTY (dd3/cutsK3 aggregates are null) — the write must
    // not throw and the order-2 tiers must serve (the scaladoc promise)
    val corpus = (0 until 8).map(i => (i.toLong, s"alpha tag${i % 4}"))
      .toDF("doc_id", "text").cache()
    Incremental.writePplModel(spark, corpus, model, nBuckets = 4)
    val meta = spark.read.parquet(s"$model/meta").head()
    assert(meta.getAs[Double]("dd3") == 0.0, meta.toString)
    assert(meta.isNullAt(meta.fieldIndex("c1_kn3")), meta.toString)

    corpus.write.parquet(s"$in/b1")
    for (tier <- Seq("add1", "kn")) {
      val out = s"$base/out_$tier"
      Incremental.continuousPplGateJoined(
        spark, s"$in/*", docSchema, model, out, s"$base/ck_$tier",
        smoothing = tier)
      val got = spark.read.parquet(out).collect()
      assert(got.length == 8, s"$tier served ${got.length} rows")
      assert(got.forall(r => !r.isNullAt(2) &&
          !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite),
        s"$tier scores must be finite: ${got.mkString(",")}")
    }
    // the order-3 tier refuses loudly rather than serving null cuts
    val ex = intercept[IllegalArgumentException] {
      Incremental.continuousPplGateJoined(
        spark, s"$in/*", docSchema, model, s"$base/out3", s"$base/ck3",
        smoothing = "kn3")
    }
    assert(ex.getMessage.contains("kn3"), ex.getMessage)
    corpus.unpersist()
  }

  test("kn3 serve stays finite when dd3 = 0 — unseen trigram under a seen context (r15 ADVICE)") {
    val base = Files.createTempDirectory("graft-ppl-dd3zero").toString
    val in = s"$base/in"; val model = s"$base/model"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // two identical docs: every trigram type appears >= 2 times, so
    // n1(3) = 0 and D3 = 0 — the degenerate-discount corpus
    val corpus = Seq(
      (0L, "alpha beta gamma alpha beta gamma"),
      (1L, "alpha beta gamma alpha beta gamma")).toDF("doc_id", "text")
    Incremental.writePplModel(spark, corpus, model, nBuckets = 4)
    assert(spark.read.parquet(s"$model/meta").head()
      .getAs[Double]("dd3") == 0.0)
    // (alpha, beta, beta): the context (alpha, beta) IS in the model but
    // the trigram is not — with D3 = 0 the interpolated numerator is
    // exactly 0, and the ladder must fall to the P_KN2 rung, not log(0)
    Seq((10L, "alpha beta beta")).toDF("doc_id", "text")
      .write.parquet(s"$in/b1")
    Incremental.continuousPplGateJoined(
      spark, s"$in/*", docSchema, model, s"$base/out", s"$base/ck",
      smoothing = "kn3")
    val r = spark.read.parquet(s"$base/out").collect()
    assert(r.length == 1 && !r(0).isNullAt(2), r.mkString(","))
    val nll = r(0).getDouble(2)
    assert(!nll.isNaN && !nll.isInfinite && nll > 0.0,
      s"dd3=0 out-of-model trigram must walk the ladder, got $nll")
  }

  test("joined ppl gate rejects an unknown smoothing tier before the stream starts") {
    val base = Files.createTempDirectory("graft-ppl-tier").toString
    val in = s"$base/in"; val model = s"$base/model"; val out = s"$base/out"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val corpus = Seq((0L, "alpha beta gamma"), (1L, "beta gamma delta"))
      .toDF("doc_id", "text")
    Incremental.writePplModel(spark, corpus, model, nBuckets = 2)
    corpus.write.parquet(s"$in/b1")
    // a case typo must not fall through to the add-1 tier
    val ex = intercept[IllegalArgumentException] {
      Incremental.continuousPplGateJoined(
        spark, s"$in/*", docSchema, model, out, s"$base/ck", smoothing = "KN")
    }
    assert(ex.getMessage.contains("add1, kn, kn3"), ex.getMessage)
    assert(!new java.io.File(out).exists(), "no batch may be served")
  }

  test("writePplModel refuses a corpus with no >= 2-token document and leaks no cached frame") {
    val model = Files.createTempDirectory("graft-ppl-refused").toString + "/model"
    // every doc is one token: the fold is empty, so no tercile cut exists
    val corpus = Seq((0L, "alpha"), (1L, "beta"), (2L, "alpha"))
      .toDF("doc_id", "text")
    val before = cachedRdds
    val ex = intercept[IllegalArgumentException] {
      Incremental.writePplModel(spark, corpus, model, nBuckets = 2)
    }
    assert(ex.getMessage.contains("scorable"), ex.getMessage)
    assert(cachedRdds == before, s"leaked: ${cachedRdds -- before}")
  }

  test("diversity monitor: streamed partial sums fold to the q184 report (maintainer #20)") {
    val base = Files.createTempDirectory("graft-divmon").toString
    val in = s"$base/in"; val model = s"$base/model"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    // srcA: varied docs; srcB: one template repeated (low diversity) —
    // the monitor must separate them like the batch diagnostic does
    val corpus = ((0 until 12).map { i =>
      (i.toLong, s"alpha beta gamma delta tag$i word$i extra${i % 3}", "srcA")
    } ++ (12 until 20).map { i =>
      (i.toLong, "fixed template body repeated verbatim always", "srcB")
    }).toDF("doc_id", "text", "source").cache()
    // ONE fit shared by both sides: the parity contract is on the fold,
    // not on refitting determinism
    val wv = graft.ml.WordVec.fit(corpus).cache()
    Incremental.writeDocvecModel(spark, corpus, model, nBuckets = 8,
      wordvecs = Some(wv))
    val want = graft.ops.Ml.sourceDocvecDiversityOver(corpus, wv)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq

    // two micro-batches split MID-SOURCE: the fold must be exact across
    // the batch boundary
    corpus.filter(col("doc_id") < 10).write.parquet(s"$in/b1")
    corpus.filter(col("doc_id") >= 10).write.parquet(s"$in/b2")
    Incremental.continuousDiversityMonitor(
      spark, s"$in/*", docSchema, model, s"$base/out", s"$base/ck")
    val got = Incremental.diversityReport(spark, s"$base/out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want, s"monitor fold $got != batch q184 $want")
    // and the planted structure reads as designed: the template source
    // collapses, the varied one does not
    val bySrc = got.map(r => r._1 -> r._3).toMap
    assert(bySrc("srcB") < 0.05, s"template source must collapse: $bySrc")
    assert(bySrc("srcA") > bySrc("srcB"), bySrc.toString)
    // exactly-once: re-running the drained stream on the SAME checkpoint
    // appends nothing — the report is unchanged
    Incremental.continuousDiversityMonitor(
      spark, s"$in/*", docSchema, model, s"$base/out", s"$base/ck")
    val again = Incremental.diversityReport(spark, s"$base/out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(again == got, s"rerun must be a no-op: $again vs $got")
    wv.unpersist(); corpus.unpersist()
  }

  test("novelty monitor folds to the q197 kernel's table across batch splits (maintainer #23)") {
    val base = Files.createTempDirectory("graft-novmon").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    // srcA: novel phrasing per doc; srcB: one phrase bank repeated — the
    // monitor must reproduce the batch kernel's separation exactly even
    // when a repeated gram's occurrences straddle the batch boundary
    val corpus = ((0 until 10).map { i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i", "srcA")
    } ++ (10 until 18).map { i =>
      (i.toLong, "fixed template phrase bank repeated verbatim always", "srcB")
    }).toDF("doc_id", "text", "source").cache()
    val want = graft.ops.CorpusReports.noveltyFoldOf(
        graft.ops.CorpusReports.gramCountsOf(corpus))
      .collect().map(_.toSeq).toSeq

    corpus.filter(col("doc_id") < 13).write.parquet(s"$in/b1")
    corpus.filter(col("doc_id") >= 13).write.parquet(s"$in/b2")
    Incremental.continuousNoveltyMonitor(
      spark, s"$in/*", docSchema, s"$base/out", s"$base/ck")
    val got = Incremental.noveltyReport(spark, s"$base/out")
      .collect().map(_.toSeq).toSeq
    assert(got == want, s"monitor fold $got != batch q197 $want")
    // the planted structure reads as designed: the phrase bank collapses
    val bySrc = got.map(r => r.head.toString -> r(4).asInstanceOf[Double]).toMap
    assert(bySrc("srcB") < 0.2 && bySrc("srcA") > 0.8, bySrc.toString)
    // exactly-once: re-running on the same checkpoint appends nothing
    Incremental.continuousNoveltyMonitor(
      spark, s"$in/*", docSchema, s"$base/out", s"$base/ck")
    val again = Incremental.noveltyReport(spark, s"$base/out")
      .collect().map(_.toSeq).toSeq
    assert(again == got, s"rerun must be a no-op: $again vs $got")
    // compaction is exact and invariant: the rolled-up log reports the
    // same table, and a post-compaction batch appends on top of it
    Incremental.compactNoveltyLog(spark, s"$base/out")
    val rolled = Incremental.noveltyReport(spark, s"$base/out")
      .collect().map(_.toSeq).toSeq
    assert(rolled == got, s"compaction must not change the report: $rolled")
    Seq((100L, "alpha100 beta100 gamma100 delta100 epsilon100", "srcA"))
      .toDF("doc_id", "text", "source").write.parquet(s"$in/b3")
    Incremental.continuousNoveltyMonitor(
      spark, s"$in/*", docSchema, s"$base/out", s"$base/ck")
    val extended = Incremental.noveltyReport(spark, s"$base/out")
      .collect().map(_.toSeq).toSeq
    val wantExt = graft.ops.CorpusReports.noveltyFoldOf(
        graft.ops.CorpusReports.gramCountsOf(corpus.unionByName(
          Seq((100L, "alpha100 beta100 gamma100 delta100 epsilon100", "srcA"))
            .toDF("doc_id", "text", "source"))))
      .collect().map(_.toSeq).toSeq
    assert(extended == wantExt,
      s"post-compaction appends must fold exactly: $extended vs $wantExt")
    corpus.unpersist()
  }

  test("vocab-growth monitor: cumulative curve ends at the batch totals under any split (maintainer #24)") {
    val base = Files.createTempDirectory("graft-vocabmon").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    // srcA keeps minting new tokens (Heaps-ish growth); srcB repeats a
    // fixed vocabulary — its curve must flatten after batch 1
    val corpus = ((0 until 12).map { i =>
      (i.toLong, s"alpha beta tag$i word$i", "srcA")
    } ++ (12 until 20).map { i =>
      (i.toLong, "fixed vocab repeated always", "srcB")
    }).toDF("doc_id", "text", "source").cache()
    corpus.filter(col("doc_id") < 6).write.parquet(s"$in/b1")
    corpus.filter(col("doc_id") >= 6 && col("doc_id") < 15).write.parquet(s"$in/b2")
    corpus.filter(col("doc_id") >= 15).write.parquet(s"$in/b3")
    Incremental.continuousVocabGrowth(
      spark, s"$in/*", docSchema, s"$base/out", s"$base/ck", nBuckets = 8,
      maxFilesPerTrigger = Some(1))
    val got = Incremental.vocabGrowthReport(spark, s"$base/out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // curves are monotone and the LAST point equals the batch totals —
    // the q200 parity contract (same tokens() definitions)
    val want = corpus
      .select(col("source"),
        explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), count_distinct(col("term")).as("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for (src <- Seq("srcA", "srcB")) {
      val curve = got.filter(_._1 == src).sortBy(_._2)
      assert(curve.nonEmpty, got.mkString(","))
      assert(curve.map(_._3).toSeq == curve.map(_._3).sorted.toSeq,
        s"N must be monotone: ${curve.mkString(",")}")
      assert(curve.map(_._4).toSeq == curve.map(_._4).sorted.toSeq,
        s"V must be monotone: ${curve.mkString(",")}")
      assert((curve.last._3, curve.last._4) == want(src),
        s"$src final point ${curve.last} != batch totals ${want(src)}")
    }
    // the planted structure reads: srcB's vocab flattens (no new types
    // after its first batch), srcA keeps growing
    val bCurve = got.filter(_._1 == "srcB").sortBy(_._2).map(_._4)
    assert(bCurve.distinct.length == 1, s"srcB vocab must flatten: $bCurve")
    val aCurve = got.filter(_._1 == "srcA").sortBy(_._2).map(_._4)
    assert(aCurve.distinct.length == aCurve.length, s"srcA must keep growing: $aCurve")
    // exactly-once: draining the same checkpoint again appends nothing
    Incremental.continuousVocabGrowth(
      spark, s"$in/*", docSchema, s"$base/out", s"$base/ck", nBuckets = 8,
      maxFilesPerTrigger = Some(1))
    val again = Incremental.vocabGrowthReport(spark, s"$base/out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq.sorted == got.toSeq.sorted, "rerun must be a no-op")
    corpus.unpersist()
  }

  test("exact-NN reference maintainer equals the batch exactTop3Scored under any split (maintainer #25)") {
    val base = Files.createTempDirectory("graft-exnn").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val corpus = vecs.toDF("vec_id", "embedding").cache()
    // the probe set is fixed EX ANTE (serving-monitor contract) — the
    // first 5 vectors; they also stream in as corpus members
    val probes = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).cache()
    probes.count()
    corpus.filter(col("vec_id") < 25).write.parquet(s"$in/b1")
    corpus.filter(col("vec_id") >= 25).write.parquet(s"$in/b2")
    graft.plans.GraftExtensions.register(spark)
    def batchWant(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Similarity.exactTop3Scored(df, probes)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    Incremental.continuousExactNnRef(
      spark, s"$in/*", vecSchema, probes, s"$base/out", s"$base/ck")
    def report() = Incremental.exactNnRefReport(spark, s"$base/out")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val got = report()
    assert(got == batchWant(corpus),
      s"maintained reference != batch exactTop3: $got vs ${batchWant(corpus)}")
    // exactly-once: draining the same checkpoint again changes nothing
    Incremental.continuousExactNnRef(
      spark, s"$in/*", vecSchema, probes, s"$base/out", s"$base/ck")
    assert(report() == got, "rerun must be a no-op")
    // incremental merge: a later batch can DISPLACE kept neighbors — a
    // near-duplicate of probe 0 must enter its top-3 at rank 1
    val clone = corpus.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 100L).as("vec_id"), col("embedding"))
    clone.write.parquet(s"$in/b3")
    Incremental.continuousExactNnRef(
      spark, s"$in/*", vecSchema, probes, s"$base/out", s"$base/ck")
    val extended = report()
    assert(extended == batchWant(corpus.unionByName(clone)),
      "post-drain state must equal the batch kernel on the extended corpus")
    assert(extended.exists { case (q, nn, _) => q == 0L && nn == 100L },
      s"the planted near-dup must displace into probe 0's top-3: $extended")
    // the per-drain recall read: a live index served against the
    // MAINTAINED reference must equal the recall computed batch-side
    // from the same serve + the batch exact kernel
    val full = corpus.unionByName(clone)
    val idxDir = s"$base/idx"
    graft.ops.IvfIndex.save(spark,
      graft.ops.IvfIndex.build(spark, full, nCells = 4, seed = 7L), idxDir)
    val served = graft.ops.IvfIndex.searchTopK(spark,
        graft.ops.IvfIndex.load(spark, idxDir), probes, k = 3, nProbe = 2)
      .select(col("vec_id"), col("nn_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactSet = batchWant(full).map { case (q, nn, _) => (q, nn) }
    val wantHits = served.count(exactSet).toLong
    val live = Incremental.annRecallReport(
      spark, s"$base/out", idxDir, probes, nProbe = 2).collect().head
    assert((live.getLong(0), live.getLong(1)) == (5L, wantHits),
      s"live recall read != batch-computed: $live vs hits=$wantHits")
    assert(live.getDouble(2) ==
      BigDecimal(wantHits / 15.0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    corpus.unpersist(); probes.unpersist()
  }

  test("distinct monitor equals the certified kmv_distinct under any split (maintainer #26)") {
    val base = Files.createTempDirectory("graft-kmvmon").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("source", StringType), StructField("text", StringType)))
    // source a saturates k=8 (30 distinct texts, with exact duplicates
    // that must NOT inflate the count); source b stays on the exact tier
    val corpus = ((0 until 30).map(i => ("a", s"alpha doc number $i")) ++
      (0 until 6).map(i => ("a", s"alpha doc number $i")) ++ // dup replays
      (0 until 5).map(i => ("b", s"beta doc $i")))
      .toDF("source", "text").cache()
    corpus.count()
    corpus.limit(18).write.parquet(s"$in/b1")
    corpus.exceptAll(corpus.limit(18)).write.parquet(s"$in/b2")
    graft.plans.GraftExtensions.register(spark)
    def batchWant(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"), graft.ops.Relational.mdUniform(
        graft.functions.TextFns.fingerprint(col("text"))).as("u"))
      .groupBy(col("source"))
      .agg(expr("kmv_distinct(u, 8)").as("kmv_nd"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    Incremental.continuousDistinctMonitor(
      spark, s"$in/*", docSchema, s"$base/out", s"$base/ck", k = 8)
    def report() = Incremental.distinctReport(spark, s"$base/out", k = 8)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    val got = report()
    assert(got == batchWant(corpus),
      s"maintained estimate != batch kmv_distinct: $got vs ${batchWant(corpus)}")
    // the exact tier really is exact, the saturated tier really estimates
    assert(got.exists { case (s, nd) => s == "b" && nd == 5L })
    // exactly-once: draining the same checkpoint again changes nothing
    Incremental.continuousDistinctMonitor(
      spark, s"$in/*", docSchema, s"$base/out", s"$base/ck", k = 8)
    assert(report() == got, "rerun must be a no-op")
    // a later batch extends source b past k: the merged state must equal
    // the batch aggregate over the extended corpus (state decomposition)
    val more = (5 until 40).map(i => ("b", s"beta doc $i")).toDF("source", "text")
    more.write.parquet(s"$in/b3")
    Incremental.continuousDistinctMonitor(
      spark, s"$in/*", docSchema, s"$base/out", s"$base/ck", k = 8)
    assert(report() == batchWant(corpus.unionByName(more)),
      "post-drain state must equal the batch kernel on the extended corpus")
    corpus.unpersist()
  }

  test("quantile monitor equals the batch bottom-k sample under any split (maintainer #27)") {
    val base = Files.createTempDirectory("graft-qmon").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("source", StringType), StructField("doc_id", LongType),
      StructField("n_chars", LongType)))
    // 40 docs in source a (k=8 saturates: a real sample), 5 in b (sample
    // = whole source: the exact tier)
    val corpus = ((0 until 40).map(i => ("a", i.toLong, 100L + 7L * i)) ++
      (0 until 5).map(i => ("b", 1000L + i, 50L + i)))
      .toDF("source", "doc_id", "n_chars").cache()
    corpus.count()
    corpus.filter(col("doc_id") < 20).write.parquet(s"$in/b1")
    corpus.filter(col("doc_id") >= 20).write.parquet(s"$in/b2")
    def batchWant(df: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("u"), col("doc_id"))
      df.select(col("source"), graft.ops.Relational.mdUniform(col("doc_id")).as("u"),
          col("doc_id"), col("n_chars"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 8)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_sample"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)").cast("long").as("p25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)").cast("long").as("p50"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)").cast("long").as("p75"))
        .collect().map(_.toSeq).toSet
    }
    Incremental.continuousQuantileMonitor(
      spark, s"$in/*", docSchema, s"$base/out", s"$base/ck", k = 8)
    def report() = Incremental.quantileReport(spark, s"$base/out")
      .collect().map(_.toSeq).toSet
    val got = report()
    assert(got == batchWant(corpus),
      s"maintained quantiles != batch sample kernel: $got vs ${batchWant(corpus)}")
    // the small source's sample IS the source (n_sample = 5, exact tier)
    assert(got.exists(r => r.head == "b" && r(1) == 5L))
    // exactly-once: re-draining the same checkpoint changes nothing
    Incremental.continuousQuantileMonitor(
      spark, s"$in/*", docSchema, s"$base/out", s"$base/ck", k = 8)
    assert(report() == got, "rerun must be a no-op")
    // a later batch can displace kept sample rows (smaller uniforms win):
    // the merged state must equal the batch kernel on the extended corpus
    val more = (100 until 160).map(i => ("a", i.toLong, 300L + i))
      .toDF("source", "doc_id", "n_chars")
    more.write.parquet(s"$in/b3")
    Incremental.continuousQuantileMonitor(
      spark, s"$in/*", docSchema, s"$base/out", s"$base/ck", k = 8)
    assert(report() == batchWant(corpus.unionByName(more)),
      "post-drain state must equal the batch kernel on the extended corpus")
    corpus.unpersist()
  }

  test("gate-agreement monitor folds to the q185 kernel's table (maintainer #21)") {
    val base = Files.createTempDirectory("graft-gamon").toString
    val in = s"$base/in"; val model = s"$base/model"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // 34-word docs pass the rule gate (stopwords present, wlen in band);
    // the planted weights keep only the 36-word half; the ppl tercile
    // splits on the model's own cut — three gates, three verdictscapes
    val body = "the quick brown fox jumps over a lazy dog of winter " * 3
    val corpus = ((0 until 10).map(i => (i.toLong, s"${body}tag$i")) ++
      (10 until 20).map(i => (i.toLong, s"${body}tag$i extra$i filler$i")))
      .toDF("doc_id", "text").cache()
    Incremental.writePplModel(spark, corpus, model, nBuckets = 8)
    val weights = Seq((1.0, 0.0, 0.0, 0.0, -35.5))
      .toDF("w_tokens", "w_tokens2", "w_wlen", "w_stop", "bias")
    // the expected table through the SHARED q185 kernels, flags built
    // from the same frozen inputs the monitor serves
    val c2 = spark.read.parquet(s"$model/meta").head().getAs[Double]("c2_add1")
    val flags = corpus
      .join(graft.ops.Scoring.bigramNllOf(corpus)
        .select(col("doc_id"), col("nll2")), Seq("doc_id"), "left")
      .select(
        graft.ops.TextOps.ruleGateKeep().cast("long").as("rule"),
        (graft.ops.Curation.marginFromWeights(weights.head()) > 0)
          .cast("long").as("clf"),
        (col("nll2").isNull || col("nll2") <= lit(c2)).cast("long").as("ppl"))
    val want = graft.ops.Scoring.kappaPairsOf(
        graft.ops.Scoring.gateCountsOf(flags))
      .collect().map(_.toSeq).toSeq

    // split mid-corpus: integer count partials make the fold exact
    // across any batch boundary
    corpus.filter(col("doc_id") < 13).write.parquet(s"$in/b1")
    corpus.filter(col("doc_id") >= 13).write.parquet(s"$in/b2")
    Incremental.continuousGateAgreement(
      spark, s"$in/*", docSchema, model, weights, s"$base/out", s"$base/ck")
    val got = Incremental.gateAgreementReport(spark, s"$base/out")
      .collect().map(_.toSeq).toSeq
    assert(got == want, s"monitor fold $got != q185 kernel $want")
    // the fixture exercises real disagreement: rule keeps everything,
    // clf keeps exactly the long half
    val byPair = got.map(r => r.head.toString ->
      ((r(1), r(2), r(3), r(5)))).toMap
    assert(byPair("rule_clf") == ((20L, 20L, 10L, 0.0)), byPair.toString)
    corpus.unpersist()
  }

  test("a maintainer batch that throws fails the stream and leaks no cached frame") {
    val base = Files.createTempDirectory("graft-batch-leak").toString
    val in = s"$base/in"; val idx = s"$base/idx"; val out = s"$base/out"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val quoted = (1 to 8).map(i => s"e$i").mkString(" ")
    Incremental.writeEvalGramIndex(spark, Seq((0L, quoted)).toDF("doc_id", "text"),
      idx, nBuckets = 4)
    Seq((10L, s"t1 t2 $quoted t3"), (11L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"))
      .toDF("doc_id", "text").write.parquet(s"$in/b1")
    // the output path is a plain file: the batch caches its docs and
    // spans, materializes them for the touched-bucket collect, and only
    // then fails on the append
    Files.write(java.nio.file.Paths.get(out), "not a directory".getBytes)
    val before = cachedRdds
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Incremental.continuousDecontamScrub(spark, s"$in/*", docSchema, idx, out, s"$base/ck")
    }
    assert(cachedRdds == before, s"leaked: ${cachedRdds -- before}")
  }

  test("decontam scrub maintainer: stream-static join reproduces the q175 batch scrub") {
    val base = Files.createTempDirectory("graft-decontam-scrub").toString
    val in = s"$base/in"; val idx = s"$base/idx"
    val out = s"$base/out"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val quoted = (1 to 8).map(i => s"e$i").mkString(" ")
    val evalDocs = Seq(
      (0L, s"$quoted x1 x2"),
      (1L, "y1 y2 y3 y4 y5 y6 y7 y8 y9")).toDF("doc_id", "text")
    // small bucket count so several buckets are genuinely touched/pruned
    Incremental.writeEvalGramIndex(spark, evalDocs, idx, nBuckets = 8)

    val train = Seq(
      (10L, s"t1 t2 $quoted t3 t4"),   // quotes the eval sentence -> 8 cut
      (11L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"), // clean -> untouched
      (12L, "y1 y2 y3 y4 y5 y6 y7 y8 y9"), // IS an eval doc -> all cut
      (13L, "z1 z2")).toDF("doc_id", "text") // sub-span -> untouched
    train.filter(col("doc_id") < 12).write.parquet(s"$in/b1")
    train.filter(col("doc_id") >= 12).write.parquet(s"$in/b2")
    Incremental.continuousDecontamScrub(spark, s"$in/*", docSchema, idx, out, ck)

    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.getString(3))))).toMap
    // batch parity: the certified q175 kernel over eval+train, row-for-row
    // (the batch side reports md5(clean); hash the streamed text the same)
    val ref = ops.Dedup.decontamScrub(evalDocs.union(train), evalMax = 10L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.getString(3))))).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, (nToks, nCov, clean)) =>
      val (rToks, rCov, rFp) = ref(id)
      assert(nToks == rToks && nCov == rCov, s"doc $id: ($nToks,$nCov) != ($rToks,$rCov)")
      assert(clean.map(md5Hex) == rFp, s"doc $id cleaned text != batch fp")
    }
    // and the operational read: cut, untouched, dropped, short-doc cases
    assert(got(10L) == ((12L, 8L, Some("t1 t2 t3 t4"))), got(10L).toString)
    assert(got(11L)._2 == 0L && got(11L)._3.contains("u1 u2 u3 u4 u5 u6 u7 u8 u9"))
    assert(got(12L) == ((9L, 9L, None)))
    assert(got(13L) == ((2L, 0L, Some("z1 z2"))))
  }

  test("doc-embed refresh cadence: vocab shift degrades coverage, the refit recovers it") {
    val base = Files.createTempDirectory("graft-docembed-refresh").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    val model = s"$base/model"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def run() = Incremental.continuousDocEmbedRefresh(
      spark, s"$in/*", docSchema, model, out, ck, refitEvery = 1, dim = 8)
    def rowsOf(batch: Long) = spark.read.parquet(out)
      .filter(col("model_v").isNotNull)
      .where(input_file_name().contains(s"batch=$batch"))
      .select(col("doc_id"), col("n_known"), col("model_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // era A: the model's first training vocabulary
    (0 until 20).flatMap(i => Seq(s"alpha dog beta$i gamma", s"alpha cat beta$i gamma"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(s"$in/b1")
    run()
    // batch 0 served BEFORE any model exists: zero coverage, version -1
    assert(rowsOf(0).forall { case (_, n, v) => n == 0L && v == -1L },
      "pre-refit rows must carry n_known=0 under model_v=-1")

    // era B: a vocabulary SHIFT (plus one era-A doc as the positive
    // control) — under the v0 model, era-B tokens are all OOV
    Seq((100L, "alpha dog gamma"),
      (101L, "nova flux qubit tensor"), (102L, "qubit tensor nova flux"))
      .toDF("doc_id", "text").write.parquet(s"$in/b2")
    run()
    val b1 = rowsOf(1).map(r => r._1 -> r).toMap
    assert(b1(100L)._2 == 3L && b1(100L)._3 == 0L,
      s"era-A doc must pool fully under the v0 model: $b1")
    assert(b1(101L)._2 == 0L && b1(102L)._2 == 0L,
      s"DEGRADATION: era-B docs are OOV under the era-A model: $b1")

    // after batch 1's refit the model has seen era B — coverage recovers
    Seq((200L, "nova flux tensor"), (201L, "qubit nova"))
      .toDF("doc_id", "text").write.parquet(s"$in/b3")
    run()
    val b2 = rowsOf(2).map(r => r._1 -> r).toMap
    assert(b2(200L)._2 == 3L && b2(201L)._2 == 2L,
      s"RECOVERY: the refreshed model must cover the shifted vocabulary: $b2")
    assert(b2.values.forall(_._3 == 1L), s"batch 2 must serve model v1: $b2")

    // versioned publication: three refits committed v0/v1/v2; retention
    // keeps the last two (the previous survives one cadence for in-flight
    // readers), and every retained version carries the commit marker
    val versions = new java.io.File(s"$model/versions").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(versions == Seq("v000000000001", "v000000000002"), versions.toString)
    versions.foreach(v => assert(
      new java.io.File(s"$model/versions/$v/COMMITTED").exists(), s"$v uncommitted"))
  }

  test("continuous media gate equals the batch q149 kernel and resumes exactly-once") {
    val base = Files.createTempDirectory("graft-mediagate").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    import org.apache.spark.sql.types.BinaryType
    val mediaSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("media", BinaryType)))
    import spark.implicits._
    // mixed admission classes: real images (pass/fail dims), opaque text
    // payloads (the fake-decode arithmetic), a tiny blob failing min-bytes
    val media = ((0 until 20).map(i =>
        (i.toLong, (s"opaque payload $i " * (4 + i)).getBytes("UTF-8"))) ++
      Seq((20L, graft.ops.Multimodal.bmpOf("a real but tiny 4x4 image")),
        (21L, "x".getBytes("UTF-8")))).toDF("doc_id", "media")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
        r.getBoolean(9))).toSet
    val batchOut = rows(graft.ops.Multimodal.mediaGate(
      graft.ops.Multimodal.extractFeatures(media)))
    media.filter(col("doc_id") < 10).write.parquet(s"$in/b1")
    Incremental.continuousMediaGate(spark, s"$in/*", mediaSchema, out, ck)
    media.filter(col("doc_id") >= 10).write.parquet(s"$in/b2")
    val q2 = Incremental.continuousMediaGate(spark, s"$in/*", mediaSchema, out, ck)
    assert(Incremental.progressReport(q2).rows == 12L,
      "resume must process only the second file")
    val streamOut = rows(spark.read.parquet(out))
    assert(streamOut == batchOut,
      s"stream/batch divergence: ${streamOut.diff(batchOut).take(3)} vs ${batchOut.diff(streamOut).take(3)}")
    // the planted failures fail for the planted reasons
    val byId = streamOut.map(r => r._1 -> r).toMap
    assert(!byId(20L)._7 && !byId(20L)._10, "4x4 image must fail ok_dims")
    assert(!byId(21L)._6 && !byId(21L)._10, "1-byte blob must fail ok_size")
  }

  test("continuous media near-dup probe equals the PhashIndex serve and resumes exactly-once") {
    val base = Files.createTempDirectory("graft-medianear").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    val idxDir = s"$base/idx"
    new java.io.File(in).mkdirs()
    import org.apache.spark.sql.types.BinaryType
    val mediaSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("media", BinaryType)))
    import spark.implicits._
    // frozen corpus index: 40 4x4 BMPs (16-bit hashes), built + persisted ONCE
    val corpus = (0 until 40).map(i =>
      (i.toLong, graft.ops.Multimodal.bmpOf(s"img $i body"))).toDF("doc_id", "media")
    graft.ops.PhashIndex.save(graft.ops.PhashIndex.build(corpus), idxDir)
    val idx = graft.ops.PhashIndex.load(spark, idxDir) // plain (doc_id, ahash) -- banding is the maintainer's job (r20)
    // ingest batch: an exact re-post of corpus img 7, fresh images, junk
    val batch = Seq(
      (100L, graft.ops.Multimodal.bmpOf("img 7 body")),
      (101L, graft.ops.Multimodal.bmpOf("something else entirely here")),
      (102L, "not an image".getBytes("UTF-8")),
      (103L, graft.ops.Multimodal.bmpOf("img 23 body")),
      (104L, graft.ops.Multimodal.bmpOf("yet another different text")),
      (105L, graft.ops.Multimodal.bmpOf("img 7 body"))).toDF("doc_id", "media")
    batch.filter(col("doc_id") < 103).write.parquet(s"$in/b1")
    Incremental.continuousMediaNearDup(spark, s"$in/*", mediaSchema, idx, out, ck,
      hashBits = 16)
    batch.filter(col("doc_id") >= 103).write.parquet(s"$in/b2")
    val q2 = Incremental.continuousMediaNearDup(spark, s"$in/*", mediaSchema, idx,
      out, ck, hashBits = 16)
    assert(Incremental.progressReport(q2).rows == 3L,
      "resume must process only the second file")
    val streamed = Incremental.mediaNearDupHits(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val served = graft.ops.PhashIndex.query(idx, batch, hashBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == served,
      s"stream/serve divergence: ${streamed.diff(served)} vs ${served.diff(streamed)}")
    // the planted exact re-posts are found at hamming 0
    assert(streamed.contains((100L, 7L, 0L)) && streamed.contains((105L, 7L, 0L)) &&
      streamed.contains((103L, 23L, 0L)), streamed.toString)
    // bootstrap: a missing hit table reads as empty, not an error
    assert(Incremental.mediaNearDupHits(spark, s"$base/nope").count() == 0L)
  }

  test("continuous semantic decontam quarantines near-benchmark embeddings with evidence, resumes") {
    val base = Files.createTempDirectory("graft-semdecontam").toString
    val in = s"$base/in"; val clean = s"$base/clean"
    val quar = s"$base/quarantine"; val eidx = s"$base/evalIndex"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val dim = 16
    def oneHot(axis: Int, jitterAxis: Int = -1, jitter: Float = 0f): Array[Float] = {
      val v = new Array[Float](dim)
      v(axis) = 1f
      if (jitterAxis >= 0) v(jitterAxis) = jitter
      v
    }
    // frozen benchmark index: two eval vectors on axes 0 and 1. Eval id
    // 1 deliberately COLLIDES with a streamed corpus id: the two id
    // spaces are unrelated, and the twin must not treat the collision as
    // a self-match (the regression a review caught — searchThreshold's
    // default self-exclusion silently dropped exactly this hit).
    graft.ops.IvfIndex.save(spark, graft.ops.IvfIndex.build(spark,
      Seq(1L -> oneHot(0), 1001L -> oneHot(1)).toDF("vec_id", "embedding"),
      nCells = 2, seed = 7L, nReplicas = 1), eidx)

    // batch 1: vec 1 paraphrases eval 1 (cos ≈ 0.999) AND shares its id,
    // vecs 2-3 far
    Seq(1L -> oneHot(0, 2, 0.05f), 2L -> oneHot(5), 3L -> oneHot(6))
      .toDF("vec_id", "embedding").write.parquet(s"$in/b1")
    val q1 = Incremental.continuousSemanticDecontam(
      spark, s"$in/*", embSchema, clean, quar, eidx, ck, t = 0.9)
    val r1 = Incremental.progressReport(q1)
    assert(r1.batches >= 1 && r1.rows == 3L, r1.toString)
    val quarRows = spark.read.parquet(quar)
      .select("vec_id", "max_cos", "n_matches").collect()
    assert(quarRows.map(_.getLong(0)).toSeq == Seq(1L),
      "only the near-benchmark vector quarantines")
    assert(quarRows.head.getDouble(1) > 0.99 && quarRows.head.getLong(2) == 1L,
      "quarantine carries the evidence columns")
    assert(spark.read.parquet(clean).select("vec_id").as[Long].collect().sorted
      .toSeq == Seq(2L, 3L))

    // batch 2: vec 4 hits the OTHER eval vector, vec 5 clean; resume
    // processes only the new file
    Seq(4L -> oneHot(1, 3, 0.02f), 5L -> oneHot(9))
      .toDF("vec_id", "embedding").write.parquet(s"$in/b2")
    Incremental.continuousSemanticDecontam(
      spark, s"$in/*", embSchema, clean, quar, eidx, ck, t = 0.9)
    assert(spark.read.parquet(quar).select("vec_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 4L))
    assert(spark.read.parquet(clean).select("vec_id").as[Long].collect().sorted
      .toSeq == Seq(2L, 3L, 5L))

    // replay with no new files: checkpoint makes it a no-op
    Incremental.continuousSemanticDecontam(
      spark, s"$in/*", embSchema, clean, quar, eidx, ck, t = 0.9)
    assert(spark.read.parquet(quar).count() == 2 &&
      spark.read.parquet(clean).count() == 3)
  }

  test("continuous decontamination quarantines sketch hits, passes clean docs, resumes") {
    val base = Files.createTempDirectory("graft-decontam").toString
    val in = s"$base/in"; val clean = s"$base/clean"
    val quar = s"$base/quarantine"; val sk = s"$base/sketch"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // eval set: one held-out document; sketch over its distinct 5-gram hashes
    val evalText = "held out benchmark question answer pair secret eval " * 4
    val evalGrams = Seq(evalText).toDF("text")
      .select(explode(graft.functions.TextFns.distinctGramHashes(col("text"), 5)).as("gh"))
    graft.ops.BloomSketch.save(spark,
      graft.ops.BloomSketch.build(evalGrams, "gh"), sk)

    // batch 1: doc 1 embeds a verbatim eval span (contaminated), doc 2 clean
    Seq((1L, "prefix words " + evalText + " suffix words"),
      (2L, ("totally unrelated clean training content here now " * 6).trim))
      .toDF("doc_id", "text").write.parquet(s"$in/b1")
    val qd = Incremental.continuousDecontam(spark, s"$in/*", docSchema, clean, quar, sk, ck)
    val dr = Incremental.progressReport(qd)
    assert(dr.batches >= 1 && dr.rows == 2L && dr.rowsPerSec > 0.0, dr.toString)
    assert(spark.read.parquet(quar).select("doc_id").as[Long].collect().toSeq == Seq(1L),
      "doc embedding an eval span must quarantine (no false negatives)")
    assert(spark.read.parquet(clean).select("doc_id").as[Long].collect().toSeq == Seq(2L))

    // batch 2: one more clean doc; re-run resumes from the checkpoint
    Seq((3L, ("other fresh clean words flowing through the gate " * 6).trim))
      .toDF("doc_id", "text").write.parquet(s"$in/b2")
    Incremental.continuousDecontam(spark, s"$in/*", docSchema, clean, quar, sk, ck)
    assert(spark.read.parquet(clean).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(2L, 3L), "resume must process only the new file")
    assert(spark.read.parquet(quar).count() == 1)
  }

  test("continuous DSIR scoring routes by the persisted model, matches batch scores, resumes") {
    val sf = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("graft-dsirstream").toString
    val in = s"$base/in"; val sel = s"$base/selected"
    val rej = s"$base/rejected"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // the persisted model: the q105 fit on the static corpus
    val model = graft.ops.Curation.dsirDir(spark, sf)
    // batch-side truth over the first 40 docs
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40).cache()
    val batchScores = Tables.documents(spark, sf)
      .filter(col("doc_id") < 40)
      .select(col("doc_id"),
        element_at(graft.ops.Curation.dsirWeightPair(
          graft.ops.Curation.dsirModelSlots(spark, model)), 2).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    docs.filter(col("doc_id") < 20).write.parquet(s"$in/b1")
    val q1 = Incremental.continuousDsirScoring(spark, s"$in/*", docSchema,
      model, sel, rej, ck)
    val pr = Incremental.progressReport(q1)
    assert(pr.batches >= 1 && pr.rows == 20L, pr.toString)
    def readScores(dir: String): Map[Long, Long] =
      spark.read.parquet(dir).select(col("doc_id"), col("w_micro"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val s1 = readScores(sel); val r1 = readScores(rej)
    assert(s1.keySet.intersect(r1.keySet).isEmpty)
    assert(s1.values.forall(_ > 0) && r1.values.forall(_ <= 0))
    assert(s1.nonEmpty && r1.nonEmpty,
      "fixture must exercise both routes — rebucket the cut if this fires")
    (s1 ++ r1).foreach { case (id, w) =>
      assert(w == batchScores(id), s"stream/batch weight mismatch for doc $id")
    }

    // resume: only the new file is processed, earlier rows not duplicated
    docs.filter(col("doc_id") >= 20).write.parquet(s"$in/b2")
    Incremental.continuousDsirScoring(spark, s"$in/*", docSchema, model, sel, rej, ck)
    val s2 = readScores(sel); val r2 = readScores(rej)
    assert((s2.keySet ++ r2.keySet) == batchScores.keySet)
    assert(spark.read.parquet(sel).count() + spark.read.parquet(rej).count() == 40L,
      "resume must process exactly the new file once")
    (s2 ++ r2).foreach { case (id, w) => assert(w == batchScores(id)) }
    docs.unpersist()
  }

  test("continuous temp-mix admission matches the batch admit decisions, resumes") {
    val sf = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("graft-mixstream").toString
    val in = s"$base/in"; val out = s"$base/out"
    val rd = s"$base/rates"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"))
      .filter(col("doc_id") < 60).cache()
    graft.ops.Curation.fitTempMix(spark,
        Tables.documents(spark, sf).select(col("doc_id"), col("text"), col("lang")))
      .write.parquet(rd)
    // batch-side truth: the q107 admit predicate over the same rates
    val thr = spark.read.parquet(rd).select(col("lang"), col("thr16"))
    val expected = docs.join(thr, Seq("lang"))
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") < col("thr16"))
      .select("doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty && expected.size < 60, "fixture must split both ways")

    docs.filter(col("doc_id") < 30).write.parquet(s"$in/b1")
    Incremental.continuousTempMixAdmit(spark, s"$in/*", docSchema, rd, out, ck)
    val got1 = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(got1 == expected.filter(_ < 30), "stream must admit exactly the batch set")

    docs.filter(col("doc_id") >= 30).write.parquet(s"$in/b2")
    Incremental.continuousTempMixAdmit(spark, s"$in/*", docSchema, rd, out, ck)
    val got2 = spark.read.parquet(out).select("doc_id").as[Long].collect()
    assert(got2.length == got2.distinct.length, "resume must not duplicate rows")
    assert(got2.toSet == expected, "final admitted set must equal the batch set")
    docs.unpersist()
  }

  test("continuous ANN ingest appends micro-batches into the saved index, resumes") {
    val sf = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("graft-annstream").toString
    val in = s"$base/in"; val idx = s"$base/index"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // offline build over the even half; odd vectors stream in afterwards
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    graft.ops.IvfIndex.save(spark,
      graft.ops.IvfIndex.build(spark, e.filter(col("vec_id") % 2 === 0),
        nCells = 16, seed = 7L), idx)
    val built = spark.read.parquet(s"$idx/cells").count()

    val b1 = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 100)
    b1.write.parquet(s"$in/b1")
    val qa = Incremental.continuousAnnIngest(spark, s"$in/*", embSchema, idx, ck)
    val ar = Incremental.progressReport(qa)
    assert(ar.batches >= 1 && ar.rows == b1.count() && ar.rowsPerSec > 0.0, ar.toString)
    val after1 = spark.read.parquet(s"$idx/cells").count()
    assert(after1 == built + b1.count())

    // re-run with no new files: checkpoint makes it a no-op
    Incremental.continuousAnnIngest(spark, s"$in/*", embSchema, idx, ck)
    assert(spark.read.parquet(s"$idx/cells").count() == after1)

    // an exact copy of an ingested vector (fresh id) is served by the
    // batch search against the maintained index
    val loaded = graft.ops.IvfIndex.load(spark, idx)
    val queries = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 10)
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id + 1000000L, v) }.toDF("vec_id", "embedding")
    val got = graft.ops.IvfIndex.searchTop1(spark, loaded, queries, nProbe = 4).collect()
    assert(got.length == 5)
    got.foreach(r => assert(r.getDouble(2) == 1.0, s"expected cos 1.0: $r"))
  }

  test("ANN ingest compaction cadence bounds per-cell files and reconciles replay") {
    val sf = "/root/testdata/sf0.001"
    val base = Files.createTempDirectory("graft-anncompact").toString
    val in = s"$base/in"; val idx = s"$base/index"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    graft.ops.IvfIndex.save(spark,
      graft.ops.IvfIndex.build(spark, e.filter(col("vec_id") % 2 === 0),
        nCells = 8, seed = 7L), idx)
    val built = spark.read.parquet(s"$idx/cells").count()
    // all live-layout reads go through resolve: pre-compaction that is the
    // base dir, post-compaction the committed version snapshot (resolve
    // returns an FS-qualified URI — strip the scheme for java.io checks)
    def localPath(p: String): String =
      if (p.startsWith("file:")) new java.net.URI(p).getPath else p
    def live: String = graft.ops.IvfIndex.resolve(spark, idx)
    def filesPerCell: Map[String, Int] =
      new java.io.File(s"${localPath(live)}/cells").listFiles()
        .filter(_.getName.startsWith("cell=")).map { cd =>
          cd.getName -> cd.listFiles().count(_.getName.endsWith(".parquet"))
        }.toMap

    // the SQ and PQ tiers ride the cadence: derived fresh at each
    // compaction under the same versioned publication
    val sq = s"$base/sq"
    graft.ops.IvfSq.quantizeTo(spark, idx, sq)
    val sqBefore = spark.read.parquet(s"$sq/sqcells").count()
    val pq = s"$base/pq"
    graft.ops.IvfPq.trainTo(spark, idx, pq)
    val pqBefore = spark.read.parquet(s"$pq/pqcells").count()

    // batch 0 (cadence 2): appends land, no compaction yet
    val b1 = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 100)
    b1.write.parquet(s"$in/b1")
    Incremental.continuousAnnIngest(spark, s"$in/*", embSchema, idx, ck,
      compactEvery = 2, sqDir = Some(sq), pqDir = Some(pq))
    assert(filesPerCell.values.exists(_ > 1),
      "append residue expected before the cadence fires")
    assert(spark.read.parquet(
        s"${graft.ops.IvfIndex.resolve(spark, sq)}/sqcells").count() == sqBefore,
      "no compaction yet -> the SQ tier lags (bounded by the cadence)")
    assert(spark.read.parquet(
        s"${graft.ops.IvfIndex.resolve(spark, pq)}/pqcells").count() == pqBefore,
      "no compaction yet -> the PQ tier lags too (re-derives only on the cadence)")

    // simulate foreachBatch's at-least-once replay: a crash AFTER b2's
    // parquet commit but BEFORE its checkpoint — the orphaned append is on
    // disk, and the restarted stream re-appends the same batch
    val b2 = e.filter(col("vec_id") % 2 === 1 && col("vec_id") >= 100)
    graft.ops.IvfIndex.append(spark, idx, b2) // the orphaned commit
    b2.write.parquet(s"$in/b2")
    Incremental.continuousAnnIngest(spark, s"$in/*", embSchema, idx, ck,
      compactEvery = 2, sqDir = Some(sq), pqDir = Some(pq))

    // batchId 1 completed the cadence: one file per cell, replay residue gone
    val after = filesPerCell
    assert(after.nonEmpty && after.values.forall(_ == 1),
      s"expected one file per cell after compaction: $after")
    val live1 = live // snapshot: later asserts compare against THIS version
    assert(live1 != idx && live1.contains("versions/v"),
      s"compaction must publish a committed version snapshot, got $live1")
    val cells = spark.read.parquet(s"$live1/cells")
    assert(cells.count() == built + b1.count() + b2.count(),
      "replayed rows must be reconciled exactly once")
    assert(cells.select("cell", "vec_id").distinct().count() == cells.count())
    // the PREVIOUS snapshot (the base layout) survives the commit for one
    // cadence: an in-flight reader that resolved before the compaction can
    // still finish against its files
    assert(new java.io.File(s"$idx/cells").exists(),
      "previous snapshot must be retained one cadence for in-flight readers")
    // the committed index serves
    val got = graft.ops.IvfIndex.searchTop1(spark,
      graft.ops.IvfIndex.load(spark, idx),
      e.filter(col("vec_id") < 5), nProbe = 4).collect()
    assert(got.length == 5)
    // the SQ tier was re-derived at the compaction: 1:1 with the
    // reconciled index, and the two-stage serve answers from it
    assert(spark.read.parquet(
      s"${graft.ops.IvfIndex.resolve(spark, sq)}/sqcells").count() == cells.count())
    val sqGot = graft.ops.IvfSq.searchTopK(spark, sq, idx,
      e.filter(col("vec_id") < 5), k = 1, nProbe = 4).collect()
    assert(sqGot.length == 5)
    // ... and so was the PQ tier: codes 1:1 with the reconciled index,
    // anchors present for every primary, and the two-stage serve answers
    assert(spark.read.parquet(
      s"${graft.ops.IvfIndex.resolve(spark, pq)}/pqcells").count() == cells.count())
    val pqGot = graft.ops.IvfPq.searchTopK(spark, pq, idx,
      e.filter(col("vec_id") < 5), k = 1, nProbe = 4, shortlist = 12).collect()
    assert(pqGot.length == 5)

    // an UNCOMMITTED version (crash mid-compaction) must be invisible to
    // resolve — the replayed cadence would redo it
    val crashed = new java.io.File(s"$idx/versions/v999999999999")
    crashed.mkdirs()
    assert(graft.ops.IvfIndex.resolve(spark, idx) == live1,
      "uncommitted version dirs must be ignored by resolve")

    // a SECOND cadence reclaims snapshots older than the previous one:
    // run two more batches so the cadence fires again, then the base
    // layout (now stale two cadences) must be gone
    crashed.delete()
    // two separate runs: AvailableNow folds all pending files into ONE
    // batch, so landing b3+b4 together would be a single batchId and the
    // cadence (every 2nd batch) would not fire
    val b3 = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 50)
      .withColumn("vec_id", col("vec_id") + 10000)
    b3.write.parquet(s"$in/b3")
    Incremental.continuousAnnIngest(spark, s"$in/*", embSchema, idx, ck,
      compactEvery = 2, sqDir = Some(sq), pqDir = Some(pq))
    val b4 = e.filter(col("vec_id") % 2 === 0 && col("vec_id") >= 50 && col("vec_id") < 100)
      .withColumn("vec_id", col("vec_id") + 20000)
    b4.write.parquet(s"$in/b4")
    Incremental.continuousAnnIngest(spark, s"$in/*", embSchema, idx, ck,
      compactEvery = 2, sqDir = Some(sq), pqDir = Some(pq))
    val live2 = graft.ops.IvfIndex.resolve(spark, idx)
    assert(live2 != live1, "second cadence must commit a newer version")
    assert(!new java.io.File(s"$idx/cells").exists(),
      "base layout must be reclaimed once it is two cadences stale")
    assert(new java.io.File(localPath(live1)).exists(),
      "the immediately-previous version must still be retained")
    assert(spark.read.parquet(s"$live2/cells").count() ==
      built + b1.count() + b2.count() + b3.count() + b4.count())
  }

  test("rebuild cadence refits a drift-degraded codebook; plain compaction does not") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(23L)
    def unitDir() = {
      val a = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n * 10.0)
    }
    def cluster(center: Array[Double], n: Int, idBase: Long, noise: Double) =
      (0 until n).map { i =>
        (idBase + i, center.map(x => (x + rnd.nextGaussian() * noise).toFloat))
      }
    val seedSet = cluster(unitDir(), 100, 0L, 0.5)
    // drifted batches: tight clusters ON the stale codebook's Voronoi
    // boundaries (midpoints of centroid pairs) — mass that STRADDLES two
    // stale cells, which is the drift that actually degrades nProbe=1
    // recall (a far-away cluster lands whole in one cell and loses
    // nothing). Both maintained indexes are built identically below
    // (same data, same seed), so one throwaway fit yields their shared
    // stale centroids.
    val stale = graft.ops.IvfIndex.build(spark,
      seedSet.toDF("vec_id", "embedding"), nCells = 4, seed = 5L).centroids
    def mid(a: Int, b: Int): Array[Double] = {
      val m = stale(a).zip(stale(b)).map { case (x, y) => x + y }
      val n = math.sqrt(m.map(x => x * x).sum); m.map(_ / n * 10.0)
    }
    val driftedA = cluster(mid(0, 1), 75, 1000L, 0.05) ++ cluster(mid(2, 3), 75, 2000L, 0.05)
    val driftedB = cluster(mid(0, 2), 75, 3000L, 0.05) ++ cluster(mid(1, 3), 75, 4000L, 0.05)

    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val base = Files.createTempDirectory("graft-annrebuild").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    driftedA.toDF("vec_id", "embedding").write.parquet(s"$in/b1")

    // two maintained indexes fed the SAME drifted stream: one rebuilds on
    // the cadence, the control only compacts — the codebook is the ONLY
    // difference
    val dirs = Seq("rebuilt" -> 1, "compacted" -> 0).map { case (name, rebuildEvery) =>
      val idx = s"$base/$name"; val ck = s"$base/ck-$name"
      graft.ops.IvfIndex.save(spark,
        graft.ops.IvfIndex.build(spark, seedSet.toDF("vec_id", "embedding"),
          nCells = 4, seed = 5L), idx)
      Incremental.continuousAnnIngest(spark, s"$in/*", embSchema, idx, ck,
        compactEvery = 2, rebuildEvery = rebuildEvery)
      (name, idx, ck, rebuildEvery)
    }
    driftedB.toDF("vec_id", "embedding").write.parquet(s"$in/b2")
    dirs.foreach { case (_, idx, ck, rebuildEvery) =>
      Incremental.continuousAnnIngest(spark, s"$in/*", embSchema, idx, ck,
        compactEvery = 2, rebuildEvery = rebuildEvery)
    }

    val all = (seedSet ++ driftedA ++ driftedB).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = (driftedA ++ driftedB).filter(_._1 % 25 == 0)
    def agreement(idx: String): Double = {
      val got = graft.ops.IvfIndex.searchTop1(spark,
          graft.ops.IvfIndex.load(spark, idx),
          queries.toDF("vec_id", "embedding"), nProbe = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      queries.count { q =>
        val exact = all.filter(_._1 != q._1)
          .map { case (id, v) => (id, cos(q._2, v)) }
          .maxBy { case (id, c) => (c, -id) }._1
        got.get(q._1).contains(exact)
      }.toDouble / queries.size
    }
    val rebuiltIdx = dirs.head._2; val compactedIdx = dirs.last._2
    // the cadence rebuilt: codebook moved off the build-time centroids
    assert(graft.ops.IvfIndex.load(spark, rebuiltIdx).centroids.map(_.toSeq).toSet !=
      graft.ops.IvfIndex.load(spark, compactedIdx).centroids.map(_.toSeq).toSet,
      "rebuild cadence must refit the codebook (control keeps it)")
    val (rebuilt, compacted) = (agreement(rebuiltIdx), agreement(compactedIdx))
    assert(rebuilt > compacted,
      s"rebuild must recover drifted agreement: rebuilt=$rebuilt compacted=$compacted")
    assert(rebuilt >= 0.9, s"rebuilt agreement floor: $rebuilt")
  }

  test("watermarked windowed aggregation over the events table matches the batch form") {
    // schema from the live file, not a hardcoded layout: events.ts has
    // shipped as nanos-Long, timestamp[us]/NTZ, and UTC micros across
    // driver testdata generations (Tables.events normalizes all three,
    // and startMemoryWindowed mirrors it)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evSchema = spark.read.parquet("/root/testdata/sf0.001/events.parquet").schema
    // the streaming file source takes a directory, not a single file
    val dir = Files.createTempDirectory("graft-events").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val q = Incremental.startMemoryWindowed(spark, dir, evSchema, "win_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT * FROM win_test")
    // append mode emits only watermark-closed windows; every emitted row must
    // match the batch computation exactly
    val batch = ops.Temporal.q46Tumbling(spark, "/root/testdata/sf0.001")
    val sKeys = streamed.select("w_start", "event_type", "n", "total_value")
      .collect().map(_.toSeq).toSet
    val bKeys = batch.collect().map(_.toSeq).toSet
    assert(sKeys.subsetOf(bKeys))
    assert(sKeys.nonEmpty)
  }

  test("continuous gate funnel equals batch q127 under doc_id-ordered ingestion") {
    val base = Files.createTempDirectory("graft-funnelstream").toString
    val in = s"$base/in"; val flags = s"$base/flags"
    val fps = s"$base/fps"; val ck = s"$base/ck"
    new java.io.File(in).mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    def words(n: Int, w: String) = Seq.fill(n)(w).mkString(" ")
    val ok = "the " + words(49, "alpha")
    val ok2 = "a " + words(49, "bravo")
    // the OrdinalSpec funnel fixture, PLUS a batch-2 clone of a batch-1
    // canonical — the cross-batch dedup state must catch it
    val fixture = Seq(
      (1L, "eval", "the " + words(49, "leak")),
      (50L, "src0", ok), (51L, "src0", "tiny doc"),
      (60L, "src1", ok2), (61L, "src1", ok2),
      (62L, "src1", "the " + words(49, "leak")),
      (70L, "src2", ok2), // clone of src1's batch-1 canonical
      (71L, "src2", "the " + words(49, "clean"))
    ).toDF("doc_id", "source", "text")
    val evalDocs = fixture.filter(col("doc_id") < 50)
    // pre-ingest: empty report, not an error
    assert(Incremental.gateFunnelReport(spark, flags).collect().isEmpty)
    fixture.filter(col("doc_id") >= 50 && col("doc_id") < 65)
      .write.parquet(s"$in/b1")
    Incremental.continuousGateFunnel(spark, s"$in/*", docSchema, evalDocs, flags, fps, ck)
    fixture.filter(col("doc_id") >= 65).write.parquet(s"$in/b2")
    Incremental.continuousGateFunnel(spark, s"$in/*", docSchema, evalDocs, flags, fps, ck)
    val streamed = Incremental.gateFunnelReport(spark, flags)
      .collect().map(_.toSeq).toSeq
    val batch = ops.CorpusReports.gateFunnelOf(fixture)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // the cross-batch clone (70) was denied canonical by the fp state
    assert(streamed.find(_.head == "src2").get ==
      Seq("src2", 2L, 2L, 1L, 1L))
    // replay with no new files: checkpoint makes it a no-op
    val before = spark.read.parquet(flags).count()
    Incremental.continuousGateFunnel(spark, s"$in/*", docSchema, evalDocs, flags, fps, ck)
    assert(spark.read.parquet(flags).count() == before)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
