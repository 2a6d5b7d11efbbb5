package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Caching, Dedup}

/** Focused pins for the r22 optimization round's operator-internal
  * changes: the dedup-family session artifacts (signature tables, the
  * LSH pair set, the substr scrub table, the per-K decontam tables) must
  * serve EXACTLY what the inline per-query passes computed, and the
  * pipeline must give the same answers under either cache lifecycle
  * without touching the session conf. */
class R22OptimizationSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val d = "/root/testdata/sf0.001"

  test("minhash signature artifact equals the inline signature pass") {
    val inline = Dedup.sigsOf(Tables.documents(spark, d))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
      .toSet
    val served = Dedup.sigTable(spark, d)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
      .toSet
    assert(served == inline)
  }

  test("minhash pair artifact equals the inline LSH candidate+verify pass") {
    val inline = Dedup.minhashPairsOf(Tables.documents(spark, d))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val served = Dedup.minhashPairs(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == inline)
  }

  test("substr-scrub artifact equals the inline ExactSubstr pass") {
    val inline = Dedup.substrDedup(Tables.documents(spark, d))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val served = Dedup.substrScrubTable(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(served == inline)
  }

  test("per-K decontam tables equal the inline scrub at each sweep K") {
    for (k <- Seq(6, 8, 10)) {
      val inline = Dedup.decontamScrub(Tables.documents(spark, d), K = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      val served = Dedup.decontamScoresK(spark, d, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(served == inline, s"K=$k")
    }
  }

  test("cleanCorpus with precomputed pairs equals the inline-pairs form") {
    import spark.implicits._
    // planted corpus: a near-dup pair, an exact clone pair, a short doc
    val a = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " +
      "eiusmod tempor incididunt ut labore et dolore magna aliqua ut enim") * 3
    val b = a + " extra tail token"
    val docs = Seq(
      (1L, a), (2L, b), (3L, a), (4L, "short doc"),
      (5L, "an unrelated document with plenty of distinct words to stand " +
        "alone in the corpus and survive every dedup tier" * 3))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val inline = Dedup.cleanCorpus(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val pairs = Dedup.minhashPairsOf(docs)
    val injected = Dedup.cleanCorpus(docs, precomputedPairs = Some(pairs))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(injected == inline)
  }

  test("TrainingData.run: same answers eager or deferred, conf untouched") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
        (i, s"document number ${i % 30} with some words the gate can count " * 8,
          s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val evalDocs = Seq((1000L, "held out eval sentence that matches nothing"))
      .toDF("doc_id", "text")
    val weights = Seq(("src0", 1L, "ff"), ("src1", 1L, "ff"))
      .toDF("source", "base_copies", "thr")
    // the caller picks the cache lifecycle; the run only reads DeferKey
    def runWith(defer: Option[String]) = {
      defer.foreach(spark.conf.set(Caching.DeferKey, _))
      try {
        val out = java.nio.file.Files.createTempDirectory("r22-td").toString
        val funnel = graft.pipelines.TrainingData.run(spark, docs, evalDocs,
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
}
