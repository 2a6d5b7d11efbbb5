package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.ops.{Caching, Scoring, TextOps}

/** The one-pass text kernels (`graft.plans.TextKernels`) against the
  * Column compositions they replace: the per-row bigram counts against
  * the explode-every-pair fold, and the rule gate's kernel against its
  * Column signals. Fixtures cover the inputs the seeded corpora never
  * hold: 0-, 1- and 2-token docs, repeated bigrams, tab / newline /
  * vertical-tab / NBSP whitespace, non-BMP characters, null text and
  * repeated doc ids. */
class TextKernelsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val texts: Seq[(Long, Option[String], String)] = Seq(
    (1L, Some(""), "s0"),
    (2L, Some("   "), "s0"),
    (3L, Some("solo"), "s1"),
    (4L, Some("two words"), "s1"),
    (5L, Some("a b a b a b"), "s0"), // repeated bigrams
    (6L, Some("tab\tsep\tand\nnewline\r\nwords"), "s1"),
    (7L, Some("nbsp\u00a0inside a\u00a0b token a\u00a0b token"), "s0"),
    (8L, None, "s1"),
    (9L, Some("  leading and  trailing  "), "s0"),
    (10L, Some("\u000b\f vertical\u000btab form\ffeed"), "s1"),
    (11L, Some("emoji 😀 😀 pair #tag ## x"), "s0"),
    (12L, Some("dup id first text"), "s1"),
    (12L, Some("dup id first text again dup id"), "s1"), // repeated doc_id
    (13L, Some(" \t"), "s0"))

  private def docs: DataFrame = texts.toDF("doc_id", "text", "source")
  private def uniqueDocs: DataFrame = docs.filter(col("doc_id") =!= 12L)

  /** The fold as written before the per-row kernel: explode every
    * adjacent pair of the tokens, count per (doc_id, carry..., a, b). */
  private def explodeFold(d: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val keys = Seq("doc_id") ++ carry
    d.select(keys.map(col) :+ TextFns.tokens(col("text")).as("toks"): _*)
      .filter(size(col("toks")) >= 2)
      .select(keys.map(col) :+ explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1)," +
          " (a, b) -> struct(a, b))")).as("p"): _*)
      .select(keys.map(col) :+ col("p.a").as("a") :+ col("p.b").as("b"): _*)
      .groupBy((keys :+ "a" :+ "b").map(col): _*)
      .agg(count(lit(1)).as("tf"))
  }

  private def rows(d: DataFrame): Set[Seq[Any]] = d.collect().map(_.toSeq).toSet

  test("bigram fold: the per-row kernel gives the explode+groupBy fold's rows") {
    // repeated ids included: the fold merges them exactly as before
    assert(rows(Scoring.bigramFoldOf(docs)) == rows(explodeFold(docs)))
    assert(rows(Scoring.bigramFoldOf(docs, carry = Seq("source"))) ==
      rows(explodeFold(docs, carry = Seq("source"))))
    // unique ids: the per-row counts ARE the fold, no merge needed
    assert(rows(Scoring.bigramRowsOf(uniqueDocs)) == rows(explodeFold(uniqueDocs)))
    val want = rows(explodeFold(docs))
    assert(want.contains(Seq(5L, "a", "b", 3L)) && want.contains(Seq(5L, "b", "a", 2L)),
      s"repeated bigrams counted: $want")
    assert(want.contains(Seq(7L, "nbsp\u00a0inside", "a\u00a0b", 1L)), "NBSP stays in a token")
    // a repeated id's rows split per input row; their tf sums are the fold's
    val perRow = Scoring.bigramRowsOf(docs)
      .groupBy(col("doc_id"), col("a"), col("b")).agg(sum(col("tf")).as("tf"))
    assert(rows(perRow) == want)
  }

  test("bigram rows with singletons carry the whole vocabulary: one tokenize") {
    val withSingles = Scoring.bigramRowsOf(docs, singletons = true)
    assert(rows(withSingles.filter(col("b").isNotNull)) == rows(Scoring.bigramRowsOf(docs)))
    // one-token docs (including the "" token of empty/blank text) add
    // (token, null, 1); null text adds nothing
    assert(rows(withSingles.filter(col("b").isNull)) == Set(
      Seq(1L, "", null, 1L), Seq(2L, "", null, 1L), Seq(3L, "solo", null, 1L),
      Seq(13L, "", null, 1L)))
    val vocab = withSingles.select(explode(array(col("a"), col("b"))).as("w"))
      .agg(count_distinct(col("w"))).head.getLong(0)
    val want = docs.select(explode(TextFns.tokens(col("text"))).as("w"))
      .agg(count_distinct(col("w"))).head.getLong(0)
    assert(vocab == want)
  }

  test("bigram LM scores: the one-tokenize kernel equals the explode-fold composition") {
    def scores(d: DataFrame) = d.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    for (d <- Seq(docs, uniqueDocs)) {
      val tfb = explodeFold(d)
      val bg = tfb.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cab"))
      val vocab = d.select(explode(TextFns.tokens(col("text"))).as("w"))
        .agg(count_distinct(col("w")).cast("double").as("v"))
      val want = scores(Scoring.bigramNllFrom(tfb, bg, vocab))
      assert(scores(Scoring.bigramNllOf(d)) == want)
      assert(scores(Scoring.knNllOf(d)) == scores(Scoring.knNllFrom(tfb, bg)))
    }
  }

  /** The q97 signals as Column arithmetic — the definition the kernel
    * replaced, kept here as its reference. */
  private def columnSignals(cfg: TextOps.RuleGateConfig): (Column, Column, Column, Column) = {
    val toks = TextFns.tokens(col("text"))
    val nW = size(toks).cast("long")
    val norm = TextFns.normText(col("text"))
    val meanW = round(length(regexp_replace(norm, " ", "")).cast("double") / nW, 4)
    val stopHits = cfg.stopwords.map(w => array_contains(toks, w).cast("long"))
      .reduceOption(_ + _).getOrElse(lit(0L))
    val symbolRatio = round(
      (length(col("text")) - length(regexp_replace(col("text"),
        java.util.regex.Pattern.quote(cfg.symbol), ""))).cast("double") / nW, 4)
    (nW, meanW, stopHits, symbolRatio)
  }

  private def columnKeep(cfg: TextOps.RuleGateConfig): Column = {
    val (nW, meanW, stopHits, symbolRatio) = columnSignals(cfg)
    coalesce(
      nW.between(cfg.minWords, cfg.maxWords) &&
        meanW.between(cfg.minMeanWordLen, cfg.maxMeanWordLen) &&
        stopHits >= cfg.minStopHits && symbolRatio <= cfg.maxSymbolRatio,
      lit(false))
  }

  test("rule gate: the one-pass kernel's signals and verdict equal the Column definition") {
    val rnd = new scala.util.Random(17)
    val alphabet = Seq("the", "a", "of", "word", "x", "##", "#", " ", "  ", "\t", "\n",
      "\u00a0", "\u000b", "😀", "é", "longerword", "of#")
    val random = (1 to 300).map { i =>
      (1000L + i, Some((1 to rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.size)))
        .mkString(if (rnd.nextBoolean()) " " else "")), "r")
    }
    val d = (texts.filter(_._1 != 12L) ++ random).toDF("doc_id", "text", "source")
    val configs = Seq(
      TextOps.RuleGateConfig(),
      graft.pipelines.TrainingData.DefaultGate,
      TextOps.RuleGateConfig(minWords = 2L, maxWords = 20L, minMeanWordLen = 1.5,
        maxMeanWordLen = 4.0, stopwords = Seq("the", "of", "the"), minStopHits = 2L,
        symbol = "##", maxSymbolRatio = 0.25),
      TextOps.RuleGateConfig(minWords = 0L, symbol = "", maxSymbolRatio = 0.0,
        minMeanWordLen = Double.NaN))
    for (cfg <- configs) {
      val (nW, meanW, stopHits, symbolRatio) = columnSignals(cfg)
      val got = d.select(col("doc_id"), TextOps.ruleGateSignals(cfg).as("g"),
          TextOps.ruleGateKeep(cfg).as("k"))
        .select(col("doc_id"), col("g.n_words"), col("g.mean_wlen"), col("g.stop_hits"),
          col("g.symbol_ratio"), col("k"))
      // null text: the kernel's signals are all null; the Column form
      // read stop_hits 0 there when no stopword was configured (q97's
      // default list gives null either way)
      val want = d.select(col("doc_id"), nW, meanW, when(col("text").isNotNull, stopHits),
        symbolRatio, columnKeep(cfg))
      assert(rows(got) == rows(want), s"config $cfg")
      // as a FILTER (no common-subexpression elimination there): same rows
      assert(rows(d.filter(TextOps.ruleGateKeep(cfg))) == rows(d.filter(columnKeep(cfg))),
        s"filter under $cfg")
    }
  }

  test("a Barriers broadcast is destroyed by release") {
    val barrier = new Caching.Barriers
    val bc = barrier.broadcast(spark, Array(1, 2, 3))
    assert(bc.value.sum == 6)
    barrier.release()
    intercept[org.apache.spark.SparkException](bc.value)
  }
}
