package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Corpus-level scoring and mixing operators for the training-data
  * pipeline: sketch-accelerated decontamination, weighted mixture
  * sampling, BM25 ranked retrieval, unigram-LM perplexity scoring, and
  * deterministic shard planning.
  *
  * Reference anchor: the reference pipeline's filtering/scoring passes
  * (create_metadata_df.py, bertopicTest.py) are per-corpus pandas
  * sweeps; these are their cluster-scale counterparts plus the standard
  * LLM-pretraining operators the reference predates. */
object Scoring {
  import Relational.Q

  // ---------------------------------------------------------------- q82

  /** Bloom-sketch-accelerated train/eval decontamination. q69 joins every
    * train gram against the eval vocabulary; at 100 TB that shuffles the
    * whole train gram stream. Here the eval vocabulary is first collapsed
    * into a fixed-size Bloom sketch (built DISTRIBUTED via
    * `stat.bloomFilter` — per-partition sketches OR-merged, never raw
    * grams on the driver), broadcast to executors, and used as a scan-side
    * prefilter: only grams the sketch admits (true hits + ~1% false
    * positives) reach the exact verify join, so the shuffle carries ~1% of
    * the corpus instead of all of it. False positives are then removed by
    * the exact semi-join — the OUTPUT IS EXACT, certified by the same
    * DuckDB oracle shape as q69. The sketch build is an explicit pipeline
    * stage (one Spark job producing a compact summary — the same
    * build-then-probe contract as MinHashIndex/IvfIndex), not a hidden
    * per-construction driver action: eval sets are bounded by definition
    * (here ~15k grams; 64 KB sketch at 1% fpp). */
  val q82BloomDecontam: Q = (s, d) => {
    // cache: the gram table feeds the sketch build AND the probe pass
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextFns.distinctGramHashes(col("text"), 5)).as("gh"))
      .cache()
    val evalG = sh.filter(col("doc_id") < 50).select(col("gh")).distinct()
    val sketch = BloomSketch.build(evalG, "gh")
    val bc = s.sparkContext.broadcast(sketch)
    val mightContain = udf { (g: Long) => bc.value.mightContainLong(g) }
    Caching.materializeAndRelease(
      sh.filter(col("doc_id") >= 50)
        .filter(mightContain(col("gh"))) // sketch prefilter: no false negatives
        .join(evalG, Seq("gh"), "semi") // exact verify: kills false positives
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id")),
      sh)
  }

  // ---------------------------------------------------------------- q224

  /** (bits-per-key, k-hashes) grid for the q224 Bloom sizing sweep —
    * bits-per-key at its optimal k (k ≈ 0.69·bpk) plus a k-sweep at the
    * fixed 8-bit point, so BOTH axes of the filter's size dial carry a
    * measured row. The certified q82 serving filter (Spark BloomFilter,
    * fpp 1 % ⇒ ~9.6 bits/key, k = 7) sits between the (8, 6) and
    * (16, 11) rows. */
  private[ops] val SweepBloomCfgs =
    Seq((2, 1), (4, 3), (8, 2), (8, 6), (8, 12), (16, 11))

  /** Theoretical fpp (1 − e^(−k/bpk))^k, formatted-then-reparsed so the
    * engine column and the generated oracle literal are the SAME double. */
  private def bloomTheoryFpp(bpk: Int, k: Int): String =
    "%.4f".formatLocal(java.util.Locale.ROOT,
      math.pow(1 - math.exp(-k.toDouble / bpk), k))

  private def mdHash(g: org.apache.spark.sql.Column, off: Int) =
    conv(substring(md5(g), off, 13), 16, 10).cast("long")

  /** Eval/train DISTINCT 5-gram string sides of the q82 decontamination
    * split (eval = doc_id < 50). Gram strings, not the serving path's
    * FNV hashes: the q224 filter arithmetic must be recomputable by the
    * oracle, and md5-of-the-gram-string is the established cross-engine
    * hash (the mdUniform discipline). */
  /** Distinct 5-gram STRINGS of a doc in one JVM kernel pass (the q69
    * kernel discipline — the interpreted wordShingles HOF chain measured
    * ~4× this on the same corpus; string output, not hashes, because
    * the q224 filter arithmetic must md5 the same gram text the oracle
    * does). Space-joined token windows — exactly the oracle's
    * `toks[i] || ' ' || …` construction. */
  private val gram5Kernel = udf { (norm: String) =>
    val toks = norm.split(" ")
    if (toks.length < 5) Array.empty[String]
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + 5 <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < 5) { sb.append(' '); sb.append(toks(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[String](seen.size)
      seen.toArray(out)
      out
    }
  }

  /** Returns (eval grams, train grams, the cached shared gram table —
    * caller releases): without the barrier the gram kernel runs once
    * per side. */
  private def bloomGramSides(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(gram5Kernel(
          graft.functions.TextFns.normText(col("text")))).as("g"))
      .cache()
    (grams.filter(col("doc_id") < 50).select(col("g")).distinct(),
      grams.filter(col("doc_id") >= 50).select(col("g")).distinct(),
      grams)
  }

  /** (g, h1, h2) of a gram side — md5 evaluated ONCE per distinct gram
    * behind a cache barrier: without it CollapseProject re-inlines the
    * two md5/conv chains into every exploded (cfg × i) position row —
    * 35 recomputations per gram across the sweep grid (measured ~2× the
    * whole query). */
  private def hashedGrams(df: DataFrame): DataFrame =
    df.select(col("g"), mdHash(col("g"), 1).as("h1"), mdHash(col("g"), 14).as("h2"))
      .cache()

  /** Bit positions of a [[hashedGrams]] side under every sweep config:
    * double hashing pos_i = (h1 + i·h2′) mod m (Kirsch–Mitzenmacher,
    * public technique), h1/h2 from disjoint md5 hex ranges,
    * h2′ = (h2 mod (m−1)) + 1 so the stride never degenerates to 0.
    * m = bpk × n_eval bits. Pure integer arithmetic both engines
    * evaluate identically. */
  private def bloomPositions(hashed: DataFrame, nEval: DataFrame, cfg: DataFrame): DataFrame =
    hashed
      .crossJoin(broadcast(nEval))
      .crossJoin(broadcast(cfg))
      .withColumn("m", col("bpk") * col("n_eval"))
      .withColumn("i", explode(sequence(lit(0L), col("k") - 1)))
      .withColumn("pos",
        pmod(pmod(col("h1"), col("m")) +
          col("i") * (pmod(col("h2"), col("m") - 1) + 1), col("m")))

  private def bloomCfgDf(s: SparkSession): DataFrame = {
    import s.implicits._
    SweepBloomCfgs
      .map { case (b, k) => (b.toLong, k.toLong, bloomTheoryFpp(b, k).toDouble) }
      .toDF("bits_per_key", "k", "fp_theory")
      .select(col("bits_per_key").as("bpk"), col("k"), col("fp_theory"))
  }

  /** The exported q224 filter table: (bpk, k, m, pos) — the distinct set
    * bit positions of the EVAL grams per config. This IS the Bloom
    * filter (a bit array is its set-position set); exporting it is the
    * q122-signature discipline — the artifact is the GIVEN, every probe
    * and rate recomputes cross-engine. */
  private[graft] def bloomSweepFilter(s: SparkSession, d: String): DataFrame = {
    val (ev, _, base) = bloomGramSides(s, d)
    val evH = hashedGrams(ev)
    val nEval = evH.agg(count(lit(1)).cast("long").as("n_eval"))
    Caching.materializeAndRelease(
      bloomPositions(evH, nEval, bloomCfgDf(s))
        .select(col("bpk"), col("k"), col("m"), col("pos")).distinct(),
      evH, base)
  }

  /** Oracle support writer: the q224 filter table. */
  private[graft] def writeBloomSupport(s: SparkSession, d: String, outDir: String): Unit =
    bloomSweepFilter(s, d).coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q224_support_bloom")

  /** q224: the BLOOM SIZING operating curve — q82 fixes the serving
    * filter's bits/hashes by fiat (Spark BloomFilter at fpp 1 %); this
    * prices the dial the way q205/q223 priced span and order: per
    * (bits-per-key, k) config, the MEASURED false-positive rate of the
    * filter over the real train-gram stream against the exact truth
    * (the q82 semi-join), next to the theoretical (1−e^(−k/bpk))^k.
    * False negatives are structurally zero (every eval gram's own
    * positions are set); what the sweep prices is the scrub/verify
    * traffic a 100 TB decontamination pass pays per stored bit. All
    * BIGINT counts; the two rates are the only doubles. The 1-row
    * n_eval/n_probe/n_true scalars ride broadcast cross-joins (the q04
    * audited shape). */
  val q224BloomSizingSweep: Q = (s, d) => {
    val (ev0, tr0, base) = bloomGramSides(s, d)
    val ev = hashedGrams(ev0)
    val tr = hashedGrams(tr0)
    val cfg = bloomCfgDf(s)
    val nEval = ev.agg(count(lit(1)).cast("long").as("n_eval"))
    // the SERVING shape, not a join: each config's set positions fold
    // into a real broadcast BITSET (m bits ≤ 16 × n_eval ≈ a few tens of
    // KB — the q82 broadcast-sketch size class, EVAL-bounded by
    // definition, never corpus-bounded), and the probe is a narrow O(k)
    // UDF over the train grams. The first cut shuffled 35 exploded
    // position rows per train gram into a (cfg, gram)-keyed aggregate —
    // measured ~4× this plan's wall on the certification corpus, for
    // identical admit semantics (same positions, same set bits).
    val nEvalV = nEval.collect().head.getLong(0) // 1-row scalar
    val bits: Map[(Long, Long), Array[Long]] = {
      val grouped = bloomPositions(ev, nEval, cfg)
        .select(col("bpk"), col("k"), col("m"), col("pos"))
        .collect() // eval-vocabulary-bounded: ≤ n_eval × Σk rows
        .groupBy(r => (r.getLong(0), r.getLong(1)))
      grouped.map { case (key, rows) =>
        val m = rows.head.getLong(2)
        val arr = new Array[Long](((m + 63) / 64).toInt)
        rows.foreach { r =>
          val p = r.getLong(3)
          arr((p >> 6).toInt) |= 1L << (p & 63)
        }
        key -> arr
      }
    }
    val bcBits = s.sparkContext.broadcast(bits)
    val admitted = udf { (bpk: Long, k: Long, h1: Long, h2: Long) =>
      val m = bpk * nEvalV
      val arr = bcBits.value((bpk, k))
      val stride = (h2 % (m - 1)) + 1
      var i = 0L
      var ok = true
      while (ok && i < k) {
        val pos = ((h1 % m) + i * stride) % m
        ok = (arr((pos >> 6).toInt) & (1L << (pos & 63))) != 0L
        i += 1
      }
      ok
    }
    val admits = tr
      .crossJoin(broadcast(cfg))
      .filter(admitted(col("bpk"), col("k"), col("h1"), col("h2")))
      .groupBy(col("bpk"), col("k"))
      .agg(count(lit(1)).cast("long").as("n_admit"))
    val nTrue = tr.join(ev, Seq("g"), "semi")
      .agg(count(lit(1)).cast("long").as("n_true"))
    val nProbe = tr.agg(count(lit(1)).cast("long").as("n_probe"))
    Caching.materializeAndRelease(
      cfg.join(admits, Seq("bpk", "k"))
        .crossJoin(broadcast(nEval))
        .crossJoin(broadcast(nTrue))
        .crossJoin(broadcast(nProbe))
        .select(col("bpk").as("bits_per_key"), col("k"),
          (col("bpk") * col("n_eval")).as("m_bits"),
          col("n_probe"), col("n_true"), col("n_admit"),
          (col("n_admit") - col("n_true")).as("n_fp"),
          round((col("n_admit") - col("n_true")).cast("double") /
            (col("n_probe") - col("n_true")).cast("double"), 4).as("fp_rate"),
          col("fp_theory"))
        .orderBy(col("bits_per_key"), col("k")),
      ev, tr, base)
  }

  // ---------------------------------------------------------------- q83

  /** Weighted mixture sampling — the data-mixing primitive that UP- and
    * DOWN-samples sources to hit a target mixture (q67 covers flat
    * downsampling only). Weights live in a TABLE (the production shape: a
    * mixing config joined in, broadcast because it is genuinely tiny — one
    * row per source), not a literal CASE. A document with weight w gets
    * floor(w) copies plus one more iff the first 2 hex chars of
    * md5(doc_id) fall under frac(w)·256 — deterministic across engines,
    * reruns, and cluster sizes, and a pure codegen'd predicate + explode:
    * no RNG state, no shuffle until the final small rollup. */
  val q83WeightedMix: Q = (s, d) => {
    import s.implicits._
    // target mixture by source index mod 4: 2.5×, 1×, 0.25×, drop
    val weights = (0 until 20).map { i =>
      val (base, thr) = (i % 4) match {
        case 0 => (2, "80") // 2.5x: 2 copies + p=128/256
        case 1 => (1, "00") // keep as-is
        case 2 => (0, "40") // 0.25x: p=64/256
        case _ => (0, "00") // drop
      }
      (s"src$i", base, thr)
    }.toDF("source", "base_copies", "thr")
    val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), TextFns.tokenCount(col("text")).as("ntoks"))
      .join(broadcast(weights), Seq("source"))
      .withColumn("n_copies",
        col("base_copies") + when(h2 < col("thr"), 1).otherwise(0))
      .filter(col("n_copies") > 0)
      // materialize the mixture (copy_no explode), then roll up per source
      .select(col("source"), col("doc_id"), col("ntoks"),
        explode(sequence(lit(1), col("n_copies"))).as("copy_no"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("docs_kept"),
        count(lit(1)).as("rows_out"),
        sum(col("ntoks")).cast("long").as("tokens_out"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q84

  /** BM25 ranked retrieval (k1 = 1.2, b = 0.75) for a fixed query term
    * set — the retrieval scorer behind corpus search and RAG candidate
    * generation. The corpus is tokenized ONCE; the posting stream is
    * immediately thinned to the query terms (a codegen'd isin filter at
    * the scan — the inverted-index access path without materializing an
    * index), so tf/df/join inputs are hit-sized, not corpus-sized. The
    * df side is ≤ |query| rows and the corpus stats are a broadcast 1-row
    * aggregate (the q04 scalar pattern). Top-20 via orderBy+limit =
    * TakeOrderedAndProject — no global sort, no unpartitioned window.
    * Scores are rounded to 4 decimals and tie-broken by doc_id so the
    * ranking is engine-independent. */
  val q84Bm25: Q = (s, d) => bm25Top20(s, d)

  /** The q84 scorer as a shared kernel — q84 certifies it directly and
    * q125's lexical arm reuses it, so the hybrid ranking can never drift
    * from the certified scorer. */
  private def bm25Top20(s: SparkSession, d: String): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val qTerms = Seq("spark", "join", "data")
    val docs = Tables.documents(s, d)
    val dl = docs.select(col("doc_id"), TextFns.tokenCount(col("text")).as("dl"))
    val hits = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .cache() // feeds tf AND df — one tokenize pass
    val tf = hits.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = hits.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl")) // float-mean: intermediate
    Caching.materializeAndRelease(
      tf.join(broadcast(df_), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
        .withColumn("score_t",
          col("idf") * col("tf") * (k1 + 1) /
            (col("tf") + (col("dl") / col("avgdl") * b + (1 - b)) * k1))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("score_t")), 4).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20),
      hits)
  }

  // ---------------------------------------------------------------- q85

  /** Unigram-LM perplexity scoring: fit a maximum-likelihood unigram model
    * on the corpus itself, score every document by mean negative
    * log-likelihood — the classic model-based quality signal (KenLM-style
    * pipelines use higher orders; the engine shape is identical). ONE
    * tokenize pass: the per-doc tf table is cached and reused for the
    * model counts (unigram = sum of tf over docs) and the scoring join, so
    * nll folds as Σ tf·ln(ct/T) without a second corpus scan. The unigram
    * side is vocabulary-sized and unbounded at 100 TB — no broadcast hint,
    * AQE picks the join strategy; the grand total is a broadcast 1-row
    * scalar (q04 pattern). */
  val q85Perplexity: Q = (s, d) => perplexityScores(s, d).orderBy(col("doc_id"))

  /** The per-document NLL score table, fit ONCE per (session, dataset) and
    * persisted as a parquet artifact (the q49-embedding contract): the
    * curriculum ordering (q126) consumes the same scores, and a production
    * pipeline scores once then reuses — recomputing the corpus LM fit per
    * consumer would double the most expensive pass. */
  private[graft] def perplexityScores(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.table("nll", s, d) {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .cache()
      val uni = tf.groupBy(col("term")).agg(sum(col("tf")).as("ct"))
      val tot = uni.agg(sum(col("ct")).cast("double").as("total"))
      Caching.materializeAndRelease(
        tf.join(uni, Seq("term"))
          .crossJoin(broadcast(tot))
          .groupBy(col("doc_id"))
          .agg(sum(col("tf")).cast("long").as("n_toks"),
            round(-sum(col("tf") * log(col("ct") / col("total"))) / sum(col("tf")), 4).as("nll")),
        tf)
    }

  // ---------------------------------------------------------------- q147

  /** q147: BIGRAM-LM perplexity — the tier-2 language-model quality
    * signal (CCNet scores with a real LM; q85's unigram NLL is tier 1 —
    * order statistics only; this adds the SEQUENTIAL signal: a document
    * of common words in impossible orders now scores badly). Model:
    * maximum-likelihood bigram counts over the corpus with add-1
    * smoothing over the vocabulary, P(b|a) = (c(a,b)+1)/(c(a,·)+V);
    * per-doc score = −Σ ln P(w_i|w_{i−1}) / (n_toks−1), docs with ≥ 2
    * tokens. Integer counts throughout the model; the ln/division fold
    * follows q85's proven cross-engine arithmetic discipline.
    *
    * Scale shape: ONE corpus pass emits per-doc bigram term frequencies
    * (map-side combined — the q85 tf trick, so the model counts and the
    * scoring join both fold over (doc, a, b, tf), never the raw token
    * stream twice); the model tables are Zipf²-sparse (observed bigrams,
    * not V²) and the left-context totals vocab-sized; V is one broadcast
    * scalar. No windows, no driver data. */
  val q147BigramPerplexity: Q = (s, d) =>
    bigramScores(s, d).orderBy(col("doc_id"))

  /** The memoized bigram score table (doc_id, n_pairs, nll2) — shared by
    * q147 (the per-doc report) and q156 (the CCNet-style gate over it),
    * exactly as [[perplexityScores]] serves q85/q126/q135. Unordered: a
    * query that returns it sorts at its own return. */
  private[graft] def bigramScores(s: SparkSession, d: String): DataFrame =
    // the score table is a compute-once artifact exactly like q85's nll
    // (a pipeline scores the corpus once and every consumer reads the
    // table) — session-memoized through the same SessionArtifacts path
    SessionArtifacts.table("nll2", s, d) {
      // fold from the session [[bigramFold]] artifact (r22, §2.4) — the
      // parquet scan replaces the inline tokenize pass and cache barrier;
      // the vocab scalar still needs its own full-corpus distinct pass
      val tfb = bigramFoldPlain(s, d)
      val bg = tfb.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cab"))
      val vocab = Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .agg(count_distinct(col("w")).cast("double").as("v"))
      bigramNllFrom(tfb, bg, vocab)
    }

  /** A document's bigram counts counted inside its row
    * ([[graft.plans.BigramCounts]]: one token walk, no explode of every
    * pair). */
  private def bigramCounts(text: Column, singletons: Boolean): Column =
    org.apache.spark.sql.graft.GraftInternal.column(graft.plans.BigramCounts(
      org.apache.spark.sql.graft.GraftInternal.expression(text), singletons))

  /** Per-ROW bigram term frequencies (doc_id, carry..., a, b, tf): one row
    * per input row and distinct adjacent pair, counted inside the row, so
    * no shuffle. Where (doc_id, carry...) is unique per row — any corpus
    * past the expectations gate — these ARE the [[bigramFoldOf]] rows.
    * Every LM score kernel reads it directly: each sums tf per (a, b) or
    * per doc, so a doc split over two rows scores the same. With
    * `singletons`, each one-token doc adds one (token, null, 1) row, so
    * the vocabulary (every token of every doc) comes from the same rows:
    * the score kernels tokenize once. */
  private[graft] def bigramRowsOf(docs: DataFrame, carry: Seq[String] = Nil,
      singletons: Boolean = false): DataFrame = {
    val keys = (Seq("doc_id") ++ carry).map(col)
    docs
      .select(keys :+ explode(bigramCounts(col("text"), singletons)).as("p"): _*)
      .select(keys ++ Seq(col("p.a").as("a"), col("p.b").as("b"), col("p.tf").as("tf")): _*)
  }

  /** THE bigram fold — the one definition of "tokenize, pair adjacent
    * tokens, count per doc" every bigram-LM consumer shares (r14 verdict
    * #6): [[bigramNllOf]], [[knNllOf]], q163's split fold, and the
    * streaming model writer and scorer. Returns (doc_id, carry..., a, b,
    * tf) for docs with ≥ 2 tokens; `carry` columns (q163's source /
    * is_test) ride through the grouping unchanged. [[bigramRowsOf]]
    * merged over (doc_id, carry..., a, b): the same rows for ANY input,
    * also one whose ids repeat (the documents-table `bigram-fold`
    * artifact), at one map-side-combined shuffle. */
  private[graft] def bigramFoldOf(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val keys = Seq("doc_id") ++ carry
    bigramRowsOf(docs, carry)
      .groupBy((keys :+ "a" :+ "b").map(col): _*)
      .agg(sum(col("tf")).as("tf"))
  }

  /** [[bigramFoldOf]] one order up: tokenize, window adjacent TRIPLES,
    * count per doc → (doc_id, a, b, c, tf) for docs with ≥ 3 tokens.
    * Same single-pass map-side-combined shape; the trigram type table is
    * sparser still relative to its count total (Zipf³), which is exactly
    * why the higher-order model's tables stay join-served rather than
    * broadcast. */
  private[graft] def trigramFoldOf(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 2)," +
          " zip_with(slice(toks, 2, size(toks) - 2), slice(toks, 3, size(toks) - 2)," +
          "          (x, y) -> named_struct('x', x, 'y', y))," +
          " (a, p) -> named_struct('a', a, 'b', p.x, 'c', p.y))")).as("t"))
      .select(col("doc_id"), col("t.a").as("a"), col("t.b").as("b"), col("t.c").as("c"))
      .groupBy(col("doc_id"), col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("tf"))
  }

  /** The q147 bigram-LM scoring kernel over an arbitrary (doc_id, text)
    * frame — fit + score in one composition, so a PIPELINE (TrainingData's
    * ppl gate) can run the certified arithmetic on its own current corpus
    * rather than the memoized documents-table artifact. Returns (doc_id,
    * n_pairs, nll2); docs with < 2 tokens carry no row (nothing to
    * score). ONE tokenize pass: the per-row counts ([[bigramRowsOf]],
    * no shuffle) feed the model counts, the scoring join AND the vocab
    * scalar (the singleton rows add the one-token docs' words);
    * Zipf²-sparse model tables, one broadcast vocab scalar. */
  private[graft] def bigramNllOf(docs: DataFrame): DataFrame = {
    val rows = bigramRowsOf(docs, singletons = true).cache()
    val vocab = rows
      .select(explode(array(col("a"), col("b"))).as("w"))
      .agg(count_distinct(col("w")).cast("double").as("v"))
    val tfb = rows.filter(col("b").isNotNull)
    val bg = tfb.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cab"))
    Caching.materializeAndRelease(bigramNllFrom(tfb, bg, vocab), rows)
  }

  /** Once-per-(session, dataset) persisted BIGRAM FOLD
    * (doc_id, source, a, b, tf) — r22, guide §2.4 (share one pass):
    * SEVEN corpus-tokenizing consumers (the nll2/nllkn/nllkn3 score
    * builds, q163's split fold, q179's per-source fold, q202's pair
    * rollup, q206's train/test serve folds) each re-ran the identical
    * tokenize → pair → count pass. The fold is what a production LM
    * pipeline materializes as its count table; `source` rides along
    * (doc-functional, so the extra key never changes a group), and the
    * q163/q206 hash split derives from doc_id per consumer. */
  private[graft] def bigramFold(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.table("bigram-fold", s, d)(
      bigramFoldOf(
        Tables.documents(s, d).select(col("doc_id"), col("source"), col("text")),
        carry = Seq("source")))

  /** The bigram fold artifact without the carry column — the exact
    * [[bigramFoldOf]](docs) rows the score builds consume. */
  private[graft] def bigramFoldPlain(s: SparkSession, d: String): DataFrame =
    bigramFold(s, d).select(col("doc_id"), col("a"), col("b"), col("tf"))

  /** [[bigramFold]] one order up: the persisted (doc_id, a, b, c, tf)
    * trigram fold shared by the nllkn3 build and q206's train/test
    * serve folds. */
  private[graft] def trigramFold(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.table("trigram-fold", s, d)(trigramFoldOf(Tables.documents(s, d)))

  /** Once-per-(session, dataset) TRAIN-SPLIT vocabulary scalar (the
    * q163/q206 hash-train half's distinct-token count) — both queries
    * ran the identical full-tokenize pass; one 1-row parquet serves
    * them. */
  private[graft] def trainVocab(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.table("lm-train-vocab", s, d) {
      Tables.documents(s, d)
        .filter(!(substring(md5(col("doc_id").cast("string")), 1, 1) < "4"))
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .agg(count_distinct(col("w")).cast("double").as("v"))
    }

  /** The q147 kernel over PRE-BUILT fold tables — `tfb` =
    * [[bigramFoldOf]] (or its per-row form), `bg` its (a, b)→cab rollup,
    * `vocab` the 1-row (v: double) type count. Unordered: a query that
    * returns the table sorts at its own return.
    * [[graft.streaming.Incremental.writePplModel]] places its cuts
    * through this form so the corpus tokenizes ONCE for model + cuts
    * instead of once per scoring tier (r15 ADVICE). */
  private[graft] def bigramNllFrom(tfb: DataFrame, bg: DataFrame,
      vocab: DataFrame): DataFrame = {
    val ca = bg.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    tfb
      .join(bg, Seq("a", "b"))
      .join(ca, Seq("a"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_pairs"),
        round(-sum(col("tf") * log((col("cab") + 1) / (col("ca") + col("v")))) /
          sum(col("tf")), 4).as("nll2"))
  }

  /** q156: the CCNet gate on the BIGRAM model — q135's tercile
    * discipline (percentile_disc cuts, one broadcast 1-row agg, no
    * global sort) over the q147 nll2 artifact. CCNet proper buckets on
    * a real LM's perplexity; q135 approximated with the unigram tier —
    * this is the same gate reading the sequential signal, so a
    * word-salad document (common words, impossible orders) now lands in
    * `tail` where the unigram gate couldn't see it. Artifact shared
    * with q147: the model fits once per session. */
  val q156BigramBuckets: Q = (s, d) => {
    val nll = bigramScores(s, d)
    val cuts = nll.agg(
      expr("percentile_disc(0.33333333) WITHIN GROUP (ORDER BY nll2)").as("c1"),
      expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2)").as("c2"))
    nll.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("nll2") <= col("c1"), "head")
          .when(col("nll2") <= col("c2"), "middle")
          .otherwise("tail"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_pairs")).cast("long").as("n_pairs"),
        round(min(col("nll2")), 4).as("min_nll2"),
        round(max(col("nll2")), 4).as("max_nll2"))
      .orderBy(col("bucket"))
  }

  /** The CCNet perplexity-gate FILTER as one reusable composition — the
    * stage both capstones ([[graft.pipelines.TrainingData]],
    * [[graft.pipelines.MultimodalData]]) run: score `docs` with the q147
    * bigram kernel (or reuse a session score table when given), cut at
    * the q156 percentile_disc(2/3) tercile — ONE 1-row agg broadcast, no
    * global sort — and keep head+middle. Docs with < 2 tokens carry no
    * score and PASS through the left join: the gate never judges what it
    * cannot score.
    *
    * `smoothing` picks the scoring tier when no score table is given:
    * "add1" (q147, the default) or "kn" (q165's Kneser–Ney — the tier
    * the q168 ladder exists to justify; its nll_kn lands in the same
    * nll2 slot so the cut/filter algebra is one code path). Any other
    * name is rejected, so a typo cannot silently serve add-1. */
  def pplGateKeep(docs: DataFrame, scores: Option[DataFrame] = None,
      smoothing: String = "add1"): DataFrame = {
    require(smoothing == "add1" || smoothing == "kn",
      s"pplGateKeep smoothing must be one of add1, kn (got '$smoothing')")
    val sc = scores.getOrElse(smoothing match {
      case "kn" => knNllOf(docs).select(col("doc_id"), col("nll_kn").as("nll2"))
      case _    => bigramNllOf(docs)
    }).select(col("doc_id"), col("nll2"))
    val cut = sc.agg(
      expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2)").as("c2"))
    docs.join(sc, Seq("doc_id"), "left")
      .crossJoin(broadcast(cut))
      .filter(col("nll2").isNull || col("nll2") <= col("c2"))
      .drop("nll2", "c2")
  }

  /** q157: perplexity-gate LOSS ACCOUNTING — the q127-style per-source
    * report for the CCNet gate [[graft.pipelines.TrainingData]] runs:
    * with the q156 tercile cut (c2 = percentile_disc(2/3) over the q147
    * bigram scores), what does each source LOSE when `tail` drops?
    * Per source: total docs, scored docs (≥ 2 tokens — unscored docs
    * pass the gate, nothing to judge them on), dropped docs, and the
    * mean nll2 of kept-scored vs dropped docs (0.0 when a branch is
    * empty, the q151 discipline). A source whose n_dropped share is far
    * above 1/3 is being disproportionately judged word-salad by the
    * sequential signal — the release-review number a mixture planner
    * reads next to the q151 dedup-bias audit.
    *
    * Scale shape: the score table is the session artifact (model fits
    * once); the cut is ONE 1-row agg broadcast (no global sort); the
    * accounting is a doc_id join + one source-sized agg. */
  val q157PplGateFunnel: Q = (s, d) => {
    val nll = bigramScores(s, d)
    val cuts = nll.agg(
      expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2)").as("c2"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(nll.select(col("doc_id"), col("nll2")), Seq("doc_id"), "left")
      .crossJoin(broadcast(cuts))
      .withColumn("dropped", col("nll2").isNotNull && col("nll2") > col("c2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nll2").isNotNull.cast("long")).cast("long").as("n_scored"),
        sum(col("dropped").cast("long")).cast("long").as("n_dropped"),
        // the means average ALREADY-ROUNDED-4 artifact scores — exact
        // integer arithmetic or the .00005 boundary flips on summation
        // order (the q171 trap, r14 verdict #1)
        ExactMean.mean4(
          when(!col("dropped") && col("nll2").isNotNull, col("nll2")))
          .as("nll_kept"),
        ExactMean.mean4(when(col("dropped"), col("nll2"))).as("nll_dropped"))
      .orderBy(col("source"))
  }

  /** q185: GATE AGREEMENT — pairwise Cohen's κ between the three
    * certified quality gates (q97 rules, q101 classifier margin > 0,
    * q156/q157 perplexity tercile): do they drop the SAME documents, or
    * does each carry independent signal? The ensemble-design number a
    * curation review reads before stacking gates: κ near 1 means a gate
    * is redundant (drop the expensive one), κ near 0 means the gates
    * measure different things (stacking changes the corpus), negative κ
    * means systematic disagreement worth investigating. Per pair: doc
    * count, each gate's keep count, raw agreements, and κ computed from
    * EXACT integer counts — decimal(38,0) products so n² can't overflow
    * a long at corpus scale, ONE final division rounded 4 (the exact-sum
    * idiom); den = 0 (both marginals degenerate) pins κ = 1 by the
    * po = pe = 1 convention. Scale: one predicate scan + the session
    * score artifact + a 1-row cut broadcast, ONE 1-row global agg,
    * pair rows exploded from it declaratively. */
  val q185GateAgreement: Q = (s, d) =>
    kappaPairsOf(gateCountsOf(gateFlagsOf(s, d)))

  /** q186: q185 drilled down BY SOURCE — WHICH feeds do the gates
    * disagree on? A source whose rule↔ppl κ is far below the global
    * reading is one where lexical shape and sequential fluency dissent —
    * the feed to audit by hand before trusting either gate's verdict
    * there. Same kernels as q185 with `source` as the grouping key;
    * counts stay exact integers per source. */
  val q186GateAgreementBySource: Q = (s, d) =>
    kappaPairsOf(gateCountsOf(gateFlagsOf(s, d), Seq("source")),
      Seq("source"))

  /** The per-doc (source, rule, clf, ppl) flag scan q185/q186 share:
    * the q97 predicate, the q101 margin, and the session nll2 artifact
    * against its tercile cut (unscored docs pass). */
  private def gateFlagsOf(s: SparkSession, d: String): DataFrame = {
    val nll = bigramScores(s, d)
    val cut = nll.agg(
      expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2)").as("c2"))
    Tables.documents(s, d)
      .join(nll.select(col("doc_id"), col("nll2")), Seq("doc_id"), "left")
      .crossJoin(broadcast(cut))
      .select(col("source"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tok"),
        TextOps.ruleGateKeep().cast("long").as("rule"),
        (Curation.marginCol(s, d) > 0).cast("long").as("clf"),
        (col("nll2").isNull || col("nll2") <= col("c2")).cast("long").as("ppl"))
  }

  /** q190: the gate VENN — doc and token counts in each of the 2³
    * keep/drop cells of the three gates: the ablation table that says
    * what each gate UNIQUELY removes (κ says whether gates agree; this
    * says what it costs to drop one). The (1,1,1) cell is the corpus
    * that survives the full cascade; a near-empty (0,1,1) cell means
    * the rule gate is subsumed and its maintenance can stop. One flag
    * scan, one 8-row agg — all integers. */
  val q190GateVenn: Q = (s, d) =>
    vennOf(gateFlagsOf(s, d), Seq("rule", "clf", "ppl"))

  /** The q190 Venn fold over any (gate-flag…, n_tok) frame — ONE
    * definition under the certified query and the pipeline run reports
    * ([[graft.pipelines.MultimodalData]]'s gateVennDir), which emit the
    * same ablation table over their own gates (r15 verdict #8). */
  private[graft] def vennOf(flags: DataFrame, gates: Seq[String]): DataFrame =
    flags
      .groupBy(gates.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
      .orderBy(gates.map(col): _*)

  /** The (n, kr, kc, kp, a_rc, a_rp, a_cp) count fold over a
    * (rule, clf, ppl) 0/1-flag frame — shared by q185 (global, 1 row),
    * q186 (per `keys`), and the streaming gate-agreement monitor's
    * per-batch partials. */
  private[graft] def gateCountsOf(flags: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    val aggs = Seq(
      count(lit(1)).cast("long").as("n"),
      sum(col("rule")).cast("long").as("kr"),
      sum(col("clf")).cast("long").as("kc"),
      sum(col("ppl")).cast("long").as("kp"),
      sum((col("rule") === col("clf")).cast("long")).cast("long").as("a_rc"),
      sum((col("rule") === col("ppl")).cast("long")).cast("long").as("a_rp"),
      sum((col("clf") === col("ppl")).cast("long")).cast("long").as("a_cp"))
    if (keys.isEmpty) flags.agg(aggs.head, aggs.tail: _*)
    else flags.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The pair-explode + exact-integer κ algebra over a count frame
    * (optionally keyed) — ONE definition under q185, q186, and the
    * monitor's read-side fold. */
  private[graft] def kappaPairsOf(counts: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    val big = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val kc = keys.map(col)
    counts
      .select(kc :+ explode(array(
        struct(lit("clf_ppl").as("pair"), col("n"), col("kc").as("keep_a"),
          col("kp").as("keep_b"), col("a_cp").as("agree")),
        struct(lit("rule_clf").as("pair"), col("n"), col("kr").as("keep_a"),
          col("kc").as("keep_b"), col("a_rc").as("agree")),
        struct(lit("rule_ppl").as("pair"), col("n"), col("kr").as("keep_a"),
          col("kp").as("keep_b"), col("a_rp").as("agree")))).as("p"): _*)
      .select(kc ++ Seq(col("p.pair").as("pair"), col("p.n").as("n_docs"),
        col("p.keep_a").as("keep_a"), col("p.keep_b").as("keep_b"),
        col("p.agree").as("agree")): _*)
      .withColumn("pe_num", big(col("keep_a")) * big(col("keep_b")) +
        big(col("n_docs") - col("keep_a")) * big(col("n_docs") - col("keep_b")))
      .withColumn("num", big(col("agree")) * big(col("n_docs")) - col("pe_num"))
      .withColumn("den", big(col("n_docs")) * big(col("n_docs")) - col("pe_num"))
      .select(kc ++ Seq(col("pair"), col("n_docs"), col("keep_a"),
        col("keep_b"), col("agree"),
        when(col("den") === 0, lit(1.0))
          .otherwise(round(col("num").cast("double") / col("den").cast("double"),
            4)).as("kappa")): _*)
      .orderBy(kc :+ col("pair"): _*)
  }

  /** q171: the q157 loss accounting under the KN tier — the same
    * per-source funnel with the cut placed on q165's Kneser–Ney scores
    * instead of add-1. Read NEXT TO q157: a source whose drop share
    * moves materially between the two tiers is one where smoothing
    * choice changes real gate decisions (exactly what q168's kn_gain
    * flags); where the two tables agree, the cheaper tier is safe.
    * Same scale shape as q157: session score artifact, ONE 1-row
    * percentile_disc broadcast, doc_id join, source-sized agg. */
  val q171KnGateFunnel: Q = (s, d) => {
    val nll = knScores(s, d)
    val cuts = nll.agg(
      expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn)").as("c2"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(nll.select(col("doc_id"), col("nll_kn")), Seq("doc_id"), "left")
      .crossJoin(broadcast(cuts))
      .withColumn("dropped", col("nll_kn").isNotNull && col("nll_kn") > col("c2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nll_kn").isNotNull.cast("long")).cast("long").as("n_scored"),
        sum(col("dropped").cast("long")).cast("long").as("n_dropped"),
        // exact means over the rounded-4 KN artifact — THE query that
        // exposed the boundary trap (r14 judge repro: src6 mean exactly
        // 3.36965; spark/duck float sums rounded to opposite sides)
        ExactMean.mean4(
          when(!col("dropped") && col("nll_kn").isNotNull, col("nll_kn")))
          .as("nll_kept"),
        ExactMean.mean4(when(col("dropped"), col("nll_kn"))).as("nll_dropped"))
      .orderBy(col("source"))
  }

  /** q173: gate-decision FLIP table between smoothing tiers — the
    * operational companion to q168's kn_gain and the q157/q171 funnel
    * pair: per source, how many scored docs actually CHANGE gate
    * decision when the cut moves from the add-1 scores to the KN scores
    * (each tier cut at its own percentile_disc(2/3) — the gates as they
    * would really run). `kn_rescues` = docs the add-1 gate drops that KN
    * keeps (rare-pair-heavy but coherent text add-1 mis-smooths);
    * `kn_drops` = the reverse; `flip_rate` over scored docs. A source
    * with flips ≈ 0 can run the cheap tier safely; a spiking source is
    * where paying for KN changes real data. Reads the two memoized
    * score artifacts (one fit per tier per session); two 1-row cut
    * broadcasts, one doc-level join, one source-sized agg — no sort, no
    * window. Both tiers score exactly the ≥ 2-token docs, so one
    * n_scored column covers both. */
  val q173TierFlips: Q = (s, d) => {
    val a = bigramScores(s, d).select(col("doc_id"), col("nll2"))
    val k = knScores(s, d).select(col("doc_id"), col("nll_kn"))
    val cutA = a.agg(expr(
      "percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2)").as("c2a"))
    val cutK = k.agg(expr(
      "percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn)").as("c2k"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(a, Seq("doc_id"), "left")
      .join(k, Seq("doc_id"), "left")
      .crossJoin(broadcast(cutA))
      .crossJoin(broadcast(cutK))
      .withColumn("drop_a", col("nll2").isNotNull && col("nll2") > col("c2a"))
      .withColumn("drop_k", col("nll_kn").isNotNull && col("nll_kn") > col("c2k"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nll2").isNotNull.cast("long")).cast("long").as("n_scored"),
        sum((col("drop_a") && !col("drop_k")).cast("long")).cast("long")
          .as("kn_rescues"),
        sum((!col("drop_a") && col("drop_k")).cast("long")).cast("long")
          .as("kn_drops"),
        ExactMean.mean4(when(col("nll2").isNotNull,
          (col("drop_a") =!= col("drop_k")).cast("double"))).as("flip_rate"))
      .orderBy(col("source"))
  }

  /** q192: ORDER-3 tier flips — q173's operational reading one rung up
    * the ladder: per source, the docs whose gate decision CHANGES
    * between the KN2 cut and the KN3 cut. q177's order_gain says the
    * trigram model scores BETTER; this says whether it would change any
    * actual keep/drop decisions — where flips ≈ 0 the kn3 serving tier
    * (maintainer #17's "kn3") isn't worth its third join, where they
    * spike it is. Flips are defined over the TRI-SCORED population
    * (kn3 only scores ≥ 3-token docs — the q177 same-population
    * discipline); two memoized artifacts, two 1-row cut broadcasts, one
    * doc join, one source agg. */
  val q192Order3Flips: Q = (s, d) => {
    val k2 = knScores(s, d).select(col("doc_id"), col("nll_kn"))
    val k3 = kn3Scores(s, d).select(col("doc_id"), col("nll_kn3"))
    val cut2 = k2.agg(expr(
      "percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn)").as("c2k"))
    val cut3 = k3.agg(expr(
      "percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn3)").as("c2k3"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(k2, Seq("doc_id"), "left")
      .join(k3, Seq("doc_id"), "left")
      .crossJoin(broadcast(cut2))
      .crossJoin(broadcast(cut3))
      .withColumn("tri", col("nll_kn3").isNotNull)
      .withColumn("drop2", col("nll_kn").isNotNull && col("nll_kn") > col("c2k"))
      .withColumn("drop3", col("tri") && col("nll_kn3") > col("c2k3"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("tri").cast("long")).cast("long").as("n_tri_scored"),
        sum((col("tri") && col("drop2") && !col("drop3")).cast("long"))
          .cast("long").as("kn3_rescues"),
        sum((col("tri") && !col("drop2") && col("drop3")).cast("long"))
          .cast("long").as("kn3_drops"),
        ExactMean.mean4(when(col("tri"),
          (col("drop2") =!= col("drop3")).cast("double"))).as("flip_rate"))
      .orderBy(col("source"))
  }

  /** q163: HELD-OUT perplexity — the LM-eval discipline applied to the
    * engine's own q147 bigram model: fit on the ~75 % train split
    * (md5(doc_id) prefix ≥ '4' — a HASH split, decorrelated from the
    * corpus's source-blocked id ranges), score BOTH splits, and report
    * per source the
    * train/test mean nll2 and the generalization GAP. A source whose
    * gap runs far above the corpus's is one whose training split
    * memorizes rather than generalizes (templated/duplicated content) —
    * the eval a pipeline runs before trusting any perplexity gate
    * calibrated on self-scored data (q135/q156 score in-sample; this
    * measures how much that flatters). Unseen bigrams/contexts degrade
    * through the same add-1 smoothing (cab=0 / ca=0 folds), so the
    * arithmetic is total on the test split.
    *
    * Scale shape: ONE corpus pass emits the (doc, a, b, tf) fold (the
    * q147 trick); the model tables are Zipf²-sparse train-split
    * aggregates; scoring is two broadcast-joins + one per-doc agg; the
    * report is source-sized. */
  val q163HeldoutPpl: Q = (s, d) => {
    // hash split, NOT modular: the corpus assigns doc_id RANGES per
    // source, so doc_id % k would put whole sources in one split and
    // the per-source gap would compare nothing. md5-prefix < '4' ≈ 25 %
    // test, deterministic cross-engine (the q83 mixing convention).
    // Fold and train-vocab from the session artifacts (r22, §2.4): the
    // split flag derives from the fold's doc_id (doc-functional, so
    // attaching it after the fold groups identically to folding with it
    // carried); the parquet scan replaces the inline cache barrier.
    val isTest = substring(md5(col("doc_id").cast("string")), 1, 1) < "4"
    val tfb = bigramFold(s, d).withColumn("is_test", isTest)
    val bg = tfb.filter(!col("is_test"))
      .groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cab"))
    val ca = bg.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    val vocab = trainVocab(s, d)
    val perDoc = tfb
      .join(bg, Seq("a", "b"), "left")
      .join(ca, Seq("a"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"), col("source"), col("is_test"))
      .agg(round(-sum(col("tf") *
          log((coalesce(col("cab"), lit(0L)) + 1) /
            (coalesce(col("ca"), lit(0L)) + col("v")))) /
          sum(col("tf")), 4).as("nll2"))
    // no cached intermediates remain (the fold is a parquet artifact
    // scan) — the result returns plain, no checkpoint lifecycle needed
    perDoc.groupBy(col("source"))
      .agg(sum((!col("is_test")).cast("long")).cast("long").as("n_train"),
        sum(col("is_test").cast("long")).cast("long").as("n_test"),
        // exact means over the rounded-4 per-doc scores (r14 #2); the
        // gap below subtracts two exact multiples of 1e-4 — never near
        // a boundary, plain round is safe there
        ExactMean.mean4(when(!col("is_test"), col("nll2"))).as("nll_train"),
        ExactMean.mean4(when(col("is_test"), col("nll2"))).as("nll_test"))
      .withColumn("gap", round(col("nll_test") - col("nll_train"), 4))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q165

  /** q165: Kneser–Ney bigram perplexity — the tier-3 smoothing upgrade
    * over q147's add-1 fold (Kneser & Ney 1995; the interpolated
    * absolute-discount form KenLM ships and CCNet scores with). Add-1
    * steals far too much mass from seen bigrams when V is large and
    * backs off to a UNIFORM distribution; KN discounts every seen count
    * by a fixed D and backs off to the CONTINUATION unigram — how many
    * distinct contexts a word follows — so "Francisco" (frequent but
    * only ever after "San") stops looking like a plausible continuation
    * everywhere. Model, all from the same Zipf²-sparse bigram table:
    *
    *   D        = n1 / (n1 + 2·n2)            (Ney's discount estimate:
    *              n1/n2 = bigram types seen exactly once/twice)
    *   Pcont(b) = N1+(·,b) / |bigram types|   (distinct left contexts)
    *   P(b|a)   = ((c(a,b) − D) + D·N1+(a,·)·Pcont(b)) / c(a,·)
    *
    * Scoring the fit corpus means every (a,b) is in the model, so the
    * fold is total (c(a,b) ≥ 1 > D keeps the first term positive; the
    * interpolation term is positive always). Per-doc score is the q147
    * contract: −Σ tf·ln P / Σ tf, rounded 4.
    *
    * Scale shape identical to q147: ONE corpus pass into the map-side-
    * combined (doc, a, b, tf) fold; model tables are the observed-bigram
    * aggregates (context totals and continuation counts are vocab-sized,
    * D and the type total one broadcast 1-row scalar); scoring is three
    * shuffle joins on Zipf²-sparse keys + one per-doc agg. No windows,
    * no driver data. */
  val q165KnPerplexity: Q = (s, d) => knScores(s, d).orderBy(col("doc_id"))

  /** The memoized KN score table (doc_id, n_pairs, nll_kn) — q165 and
    * the q168 model ladder share one fit, exactly as [[bigramScores]]
    * serves q147/q156. */
  private[graft] def knScores(s: SparkSession, d: String): DataFrame =
    s.read.parquet(SessionArtifacts.dir("nllkn", s, d) { t =>
      // fold from the session [[bigramFold]] artifact (r22, §2.4); bg is
      // still cached — four model aggregates read it
      val tfb = bigramFoldPlain(s, d)
      val bg = tfb.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cab"))
        .cache()
      try knNllFrom(tfb, bg).write.mode("overwrite").parquet(t)
      finally { bg.unpersist(); () }
    })

  /** The q165 KN scoring kernel over an arbitrary (doc_id, text) frame
    * — fit + score in one composition (the [[bigramNllOf]] convention),
    * so specs can drive it with planted fixtures and a pipeline can run
    * the certified arithmetic on its own corpus. */
  private[graft] def knNllOf(docs: DataFrame): DataFrame = {
    val tfb = bigramRowsOf(docs).cache()
    // the bigram count table feeds four downstream aggregates — cache it
    // (caller-released below) rather than recompute the corpus fold
    val bg = tfb.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cab"))
      .cache()
    Caching.materializeAndRelease(knNllFrom(tfb, bg), tfb, bg)
  }

  /** Ney's discount estimate D = n1 / (n1 + 2·n2) as ONE aggregate over
    * a model's count column (n1/n2 = types seen exactly once/twice) —
    * the definition every KN order shares. greatest(...,1) guards the
    * degenerate corpus with no once- or twice-seen type (D would be
    * 0/0). */
  private def neyDiscount(c: Column): Column =
    sum(when(c === 1, 1L).otherwise(0L)).cast("double") /
      greatest(sum(when(c === 1, 1L).otherwise(0L)) +
        lit(2L) * sum(when(c === 2, 1L).otherwise(0L)), lit(1L))

  /** The KN2 model tables over the rolled-up bigram table `bg` (a, b,
    * cab) — the one build q165, q176, q206 and the streaming model
    * layout ([[graft.streaming.Incremental.writePplModel]]) share:
    *  - `ctx` (a, ca, n1a): context totals AND distinct-continuation
    *    counts in ONE pass over bg;
    *  - `pre` (b, n1pre): distinct left contexts per word;
    *  - `disc` (dd, tt): the Ney discount + type total, one 1-row agg
    *    callers broadcast (the q147 vocab-scalar shape). */
  private[graft] def knModel(bg: DataFrame): (DataFrame, DataFrame, DataFrame) = (
    bg.groupBy(col("a"))
      .agg(sum(col("cab")).as("ca"), count(lit(1)).as("n1a")),
    bg.groupBy(col("b")).agg(count(lit(1)).as("n1pre")),
    bg.agg(neyDiscount(col("cab")).as("dd"),
      count(lit(1)).cast("double").as("tt")))

  /** [[knModel]] one order up, over the rolled-up trigram table `tg`
    * (a, b, c, cabc): `ctx3` (a, b, cab2, n1ab) and the 1-row D3 scalar
    * `disc3` (dd3; null on an empty trigram table). */
  private[graft] def kn3Model(tg: DataFrame): (DataFrame, DataFrame) = (
    tg.groupBy(col("a"), col("b"))
      .agg(sum(col("cabc")).as("cab2"), count(lit(1)).as("n1ab")),
    tg.agg(neyDiscount(col("cabc")).as("dd3")))

  /** P_KN2(b|a) for an IN-MODEL pair — the q165 interpolated discount
    * ((c(a,b) − D) + D·N1+(a,·)·Pcont(b)) / c(a,·), written once for
    * the batch folds and both serving ladders. */
  private def pKn2(cab: Column, ca: Column, n1a: Column,
      n1pre: Column, dd: Column, tt: Column): Column =
    ((cab - dd) + dd * n1a * (n1pre / tt)) / ca

  /** The q165 kernel over pre-built fold tables (the [[bigramNllFrom]]
    * convention, unordered; callers own the caching/release of
    * `tfb`/`bg`). */
  private[graft] def knNllFrom(tfb: DataFrame, bg: DataFrame): DataFrame = {
    val (ctx, pre, disc) = knModel(bg)
    tfb
      .join(bg, Seq("a", "b"))
      .join(ctx, Seq("a"))
      .join(pre, Seq("b"))
      .crossJoin(broadcast(disc))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_pairs"),
        round(-sum(col("tf") *
            log(pKn2(col("cab"), col("ca"), col("n1a"), col("n1pre"),
              col("dd"), col("tt")))) /
          sum(col("tf")), 4).as("nll_kn"))
  }

  // ---------------------------------------------------------------- q176

  /** q176: TRIGRAM Kneser–Ney perplexity — the q165 model one order up,
    * the KenLM direction (production LMs are 4–5-gram KN; order 3 is
    * where the per-order machinery generalizes or doesn't). Interpolated
    * absolute discount at the trigram level, backing off into the
    * CERTIFIED q165 bigram-KN distribution:
    *
    *   D3        = n1₃ / (n1₃ + 2·n2₃)      (Ney's estimate over trigram types)
    *   P3(c|ab)  = ((c(abc) − D3) + D3·N1+(ab,·)·P_KN2(c|b)) / c(ab,·)
    *
    * where P_KN2 is exactly the q165 fold — one lower-order definition,
    * certified once, composed here (scoring the fit corpus keeps every
    * (b,c) of a seen trigram in the bigram model, so the composition is
    * total; Σ_c P3(c|ab) = 1 because Σ_c P_KN2(c|b) = 1, which the spec
    * checks by vocabulary enumeration).
    *
    * Scale shape: TWO corpus passes (the bigram and trigram folds — the
    * trigram pass cannot reuse the bigram table, it needs the triples),
    * then everything is aggregates of the Zipf³-sparse trigram type
    * table: contexts c(ab,·) and N1+(ab,·) in one pass, D3 a 1-row
    * broadcast scalar, P2 a projection of the bigram model tables.
    * Scoring is four shuffle joins on sparse keys + one per-doc agg. The
    * model tables follow the VOCABULARY (fit+score flat through 16×
    * corpus growth at fixed vocab, NOTES.md Round 15 item 15); at 100 TB
    * the trigram table is the big one, which is why it is only ever
    * join-served — [[graft.streaming.Incremental.continuousPplGateJoined]]
    * serves this exact model as its `smoothing="kn3"` tier from the
    * bucketed [[graft.streaming.Incremental.writePplModel]] layout. */
  val q176Kn3Perplexity: Q = (s, d) => kn3Scores(s, d).orderBy(col("doc_id"))

  /** The memoized trigram-KN score table (doc_id, n_tri, nll_kn3) —
    * q176 and the q177 order ladder share one fit. */
  private[graft] def kn3Scores(s: SparkSession, d: String): DataFrame =
    s.read.parquet(SessionArtifacts.dir("nllkn3", s, d) { t =>
      // both folds from the session artifacts (r22, §2.4); the rolled-up
      // model tables stay cached — each feeds several aggregates
      val tfb = bigramFoldPlain(s, d)
      val bg = tfb.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cab"))
        .cache()
      val tft = trigramFold(s, d)
      val tg = tft.groupBy(col("a"), col("b"), col("c"))
        .agg(sum(col("tf")).as("cabc")).cache()
      try kn3NllFrom(tfb, bg, tft, tg).write.mode("overwrite").parquet(t)
      finally { bg.unpersist(); tg.unpersist(); () }
    })

  /** The q176 trigram-KN kernel over an arbitrary (doc_id, text) frame —
    * fit + score in one composition (the [[knNllOf]] convention). */
  private[graft] def kn3NllOf(docs: DataFrame): DataFrame = {
    // ---- lower order: the q165 bigram-KN model tables, fit on the same
    // corpus (including 2-token docs — the lower order sees every pair)
    val tfb = bigramFoldOf(docs).cache()
    val bg = tfb.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cab")).cache()
    // ---- higher order: trigram counts (per-doc and rolled up)
    val tft = trigramFoldOf(docs).cache()
    val tg = tft.groupBy(col("a"), col("b"), col("c"))
      .agg(sum(col("tf")).as("cabc")).cache()
    Caching.materializeAndRelease(kn3NllFrom(tfb, bg, tft, tg),
      tfb, bg, tft, tg)
  }

  /** The q176 kernel over pre-built fold tables (both orders; callers
    * own the caching/release — the [[bigramNllFrom]] convention). */
  private[graft] def kn3NllFrom(tfb: DataFrame, bg: DataFrame,
      tft: DataFrame, tg: DataFrame): DataFrame = {
    val (ctx, pre, disc) = knModel(bg)
    // P_KN2(c|b) as a (b, c, p2) projection of the model tables
    val p2 = bg.select(col("a").as("b"), col("b").as("c"), col("cab").as("cbc"))
      .join(ctx.select(col("a").as("b"), col("ca").as("cb"), col("n1a").as("n1b")), Seq("b"))
      .join(pre.select(col("b").as("c"), col("n1pre")), Seq("c"))
      .crossJoin(broadcast(disc))
      .select(col("b"), col("c"),
        pKn2(col("cbc"), col("cb"), col("n1b"), col("n1pre"), col("dd"),
          col("tt")).as("p2"))
    val (ctx3, disc3) = kn3Model(tg)
    tft
      .join(tg, Seq("a", "b", "c"))
      .join(ctx3, Seq("a", "b"))
      .join(p2, Seq("b", "c"))
      .crossJoin(broadcast(disc3))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_tri"),
        round(-sum(col("tf") *
            log(((col("cabc") - col("dd3")) +
              col("dd3") * col("n1ab") * col("p2")) / col("cab2"))) /
          sum(col("tf")), 4).as("nll_kn3"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------- serving ladders

  /** The KN2 serving rung as ONE Column expression — in-model pairs
    * score the q165 interpolated discount, out-of-model pairs fall to
    * add-1 (total, positive). Shared verbatim by the streaming joined
    * gate's `kn` tier (scalar model stats arrive as `lit`s) and q206's
    * held-out batch serve (they arrive as broadcast columns): one
    * definition, two bindings, so the ladders cannot drift. */
  private[graft] def lnP2Expr(cab: Column, ca: Column, n1a: Column,
      n1pre: Column, dd: Column, tt: Column, v: Column): Column =
    when(cab.isNotNull, log(pKn2(cab, ca, n1a, n1pre, dd, tt)))
      .otherwise(lnAdd1Expr(cab, ca, v))

  /** The served add-1 rung: the q147 arithmetic with counts defaulting
    * to 0 for an unseen pair or context (the q163 LEFT-join
    * convention) — the streaming add1 tier and lnP2Expr's out-of-model
    * fallback. */
  private[graft] def lnAdd1Expr(cab: Column, ca: Column, v: Column): Column =
    log((coalesce(cab, lit(0L)) + 1) / (coalesce(ca, lit(0L)) + v))

  /** P_KN2(c|b) for the order-3 ladder: the q165 arithmetic for
    * in-model (b, c), add-1 under it. */
  private[graft] def p2vExpr(cbc: Column, cb: Column, n1b: Column,
      n1pre: Column, dd: Column, tt: Column, v: Column): Column =
    when(cbc.isNotNull, pKn2(cbc, cb, n1b, n1pre, dd, tt))
      .otherwise((coalesce(cbc, lit(0L)) + 1) /
        (coalesce(cb, lit(0L)) + v))

  /** The order-3 rung: interpolated discount for in-model trigrams,
    * falling to the P_KN2 rung when the context is unseen OR the
    * interpolated numerator is exactly 0 (the dd3 = 0 totality guard —
    * never log(0)). */
  private[graft] def lnP3Expr(cabc: Column, cab2: Column, n1ab: Column,
      p2v: Column, dd3: Column): Column = {
    val num3 = greatest(coalesce(cabc, lit(0L)).cast("double") - dd3,
      lit(0.0)) + dd3 * n1ab * p2v
    when(cab2.isNotNull && num3 > lit(0.0), log(num3 / cab2))
      .otherwise(log(p2v))
  }

  // ---------------------------------------------------------------- q206

  /** q206: the HELD-OUT order ladder — q177 with the inferential gap
    * closed: q177's order_gain compares in-sample scores, and in-sample
    * ALWAYS flatters the higher order (more parameters fit the fit
    * corpus better). Here both KN tiers fit on the q163 hash-split
    * train half and score the TEST half through the full serving
    * ladders (the continuousPplGateJoined arithmetic, batch form):
    * KN2 interpolates in-model pairs and falls to add-1 for unseen
    * ones; KN3 interpolates in-model trigrams, falls to P_KN2 for an
    * unseen trigram/context (with the dd3 = 0 totality guard), and
    * through add-1 inside P2 for an unseen bigram. Per source, over
    * the SAME tri-scored test population (the q177/q163 disciplines):
    * test docs, tri-scored docs, exact means of both tiers, and the
    * held-out order gain — the number that actually justifies (or
    * refuses) paying for order 3 on a feed. An order_gain that flips
    * sign from q177's is the overfit signal this table exists to catch.
    * Scale: the fit is the kn3NllFrom shape on the train half; serving
    * is left joins of the Zipf-sparse test folds against the model
    * tables + three 1-row scalars. */
  val q206HeldoutLadder3: Q = (s, d) => {
    // folds + train vocab from the session artifacts (r22, §2.4): the
    // hash split is doc-functional, so filtering the persisted fold on
    // doc_id is identical to folding the filtered corpus (every fold
    // group lives inside one doc)
    val isTest = substring(md5(col("doc_id").cast("string")), 1, 1) < "4"
    val bf = bigramFoldPlain(s, d)
    val tf3 = trigramFold(s, d)
    heldoutLadder3From(
      Tables.documents(s, d).select(col("doc_id"), col("source")).filter(isTest),
      bf.filter(!isTest), bf.filter(isTest),
      tf3.filter(!isTest), tf3.filter(isTest),
      trainVocab(s, d))
  }

  /** The q206 serve over pre-built fold tables: `testMeta` is the
    * held-out (doc_id, source) population, the four folds are the
    * train/test bigram and trigram count tables, `vocab` the train
    * distinct-token 1-row scalar. Model arithmetic identical to the
    * inline form — only where the folds come from moved. */
  private[graft] def heldoutLadder3From(testMeta: DataFrame,
      tfbT: DataFrame, tfbS: DataFrame, tftT: DataFrame, tftS: DataFrame,
      vocab: DataFrame): DataFrame = {
    val bg = tfbT.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cab")).cache()
    val (ctx, pre, disc) = knModel(bg)
    val tg = tftT.groupBy(col("a"), col("b"), col("c"))
      .agg(sum(col("tf")).as("cabc")).cache()
    val (ctx3, disc3) = kn3Model(tg)
    // ---- KN2 serve over the test bigram fold (the joined-gate kn tier,
    // the [[lnP2Expr]] arithmetic with its in-model branch precomputed
    // ON THE MODEL TABLE — the kn3NllFrom p2-projection shape, r21: the
    // test fold crosses two joins instead of three, and the log runs
    // once per model row instead of once per test-fold row; the
    // expression per row is lnP2Expr's [[pKn2]], so values are identical)
    val lnP2m = bg
      .join(ctx, Seq("a"))
      .join(pre, Seq("b"))
      .crossJoin(broadcast(disc))
      .select(col("a"), col("b"),
        log(pKn2(col("cab"), col("ca"), col("n1a"), col("n1pre"), col("dd"),
          col("tt"))).as("lp2"))
    // out-of-model rung: add-1 under the test pair — cab null ⇒
    // numerator 1; ca from the context table alone (lnP2Expr's otherwise)
    val lnP2 = coalesce(col("lp2"),
      log(lit(1L) / (coalesce(col("ca"), lit(0L)) + col("v"))))
    val s2 = tfbS
      .join(lnP2m, Seq("a", "b"), "left")
      .join(ctx.select(col("a"), col("ca")), Seq("a"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(round(-sum(col("tf") * lnP2) / sum(col("tf")), 4).as("nll_kn2h"))
    // ---- KN3 serve over the test trigram fold (the shared ladder, its
    // P2 rung likewise precomputed per model (b, c) pair — p2vExpr's
    // in-model branch; the fallback branch still reads cb + v)
    val p2m = bg.select(col("a").as("b"), col("b").as("c"), col("cab").as("cbc"))
      .join(ctx.select(col("a").as("b"), col("ca").as("cb"), col("n1a").as("n1b")),
        Seq("b"))
      .join(pre.select(col("b").as("c"), col("n1pre")), Seq("c"))
      .crossJoin(broadcast(disc))
      .select(col("b"), col("c"),
        pKn2(col("cbc"), col("cb"), col("n1b"), col("n1pre"), col("dd"),
          col("tt")).as("p2in"))
    val p2v = coalesce(col("p2in"),
      (lit(1L)) / (coalesce(col("cb"), lit(0L)) + col("v")))
    val lnP3 = lnP3Expr(col("cabc"), col("cab2"), col("n1ab"), p2v, col("dd3"))
    val s3 = tftS
      .join(tg, Seq("a", "b", "c"), "left")
      .join(ctx3, Seq("a", "b"), "left")
      .join(p2m, Seq("b", "c"), "left")
      .join(ctx.select(col("a").as("b"), col("ca").as("cb")), Seq("b"), "left")
      .crossJoin(broadcast(disc3))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(round(-sum(col("tf") * lnP3) / sum(col("tf")), 4).as("nll_kn3h"))
    Caching.materializeAndRelease(
      testMeta
        .join(s2, Seq("doc_id"), "left")
        .join(s3, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_test"),
          sum(col("nll_kn3h").isNotNull.cast("long")).cast("long")
            .as("n_tri_scored"),
          ExactMean.mean4(when(col("nll_kn3h").isNotNull, col("nll_kn2h")))
            .as("nll_kn2"),
          ExactMean.mean4(col("nll_kn3h")).as("nll_kn3"),
          ExactMean.mean4(when(col("nll_kn3h").isNotNull,
            col("nll_kn2h") - col("nll_kn3h"))).as("order_gain"))
        .orderBy(col("source")),
      bg, tg)
  }

  // ---------------------------------------------------------------- q204

  /** q204: the CCNet CUT SWEEP — what each candidate gate percentile
    * (p50 / p66.7 / p80 on the q147 score) costs and keeps: docs
    * dropped, exact mean of the kept scores. q156 buckets at one cut
    * and q157 prices ONE funnel; this is the knob's whole curve, the
    * third member of the sweep family (q196 context windows, q201
    * nProbe). The cuts are percentile_disc ELEMENTS of the rounded-4
    * artifact (exact cross-engine, the q72 discipline), broadcast as
    * one 1-row frame; the sweep dimension explodes per score row and
    * folds — no second scan of the corpus, no sort. */
  val q204PplCutSweep: Q = (s, d) => {
    val nll = bigramScores(s, d)
    val cuts = nll.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY nll2)").as("c50"),
      expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2)").as("c67"),
      expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY nll2)").as("c80"))
    nll.crossJoin(broadcast(cuts))
      .select(col("nll2"), explode(array(
        struct(lit(50L).as("pct"), col("c50").as("cut")),
        struct(lit(67L).as("pct"), col("c67").as("cut")),
        struct(lit(80L).as("pct"), col("c80").as("cut")))).as("c"))
      .select(col("nll2"), col("c.pct").as("cut_pct"), col("c.cut").as("cut"))
      .groupBy(col("cut_pct"), col("cut"))
      .agg(count(lit(1)).cast("long").as("n_scored"),
        sum((col("nll2") > col("cut")).cast("long")).cast("long").as("n_dropped"),
        ExactMean.mean4(when(col("nll2") <= col("cut"), col("nll2")))
          .as("nll_kept"))
      .orderBy(col("cut_pct"))
  }

  // ---------------------------------------------------------------- q202

  /** q202: top COLLOCATIONS per source — the 10 highest-PMI adjacent
    * bigrams (count ≥ 5) with marginals from the pair table itself (the
    * WordVec PPMI discipline, [[graft.ml.WordVec]]): the
    * domain-vocabulary card a mixture review reads next to q189/q193 —
    * two sources can share top TERMS and still collocate them
    * differently, and the phrases themselves name what a source is
    * about. PMI = ln(n_ab·T / (n_a·n_b)) with every factor cast double
    * BEFORE multiplying (corpus-scale products overflow int64 on both
    * engines — the casts are part of the cross-engine contract); ranked
    * on the ROUNDED pmi (desc, then a, b) through the native bounded-heap
    * [[graft.plans.TopKPerGroup]] — no per-source window sort over the
    * Zipf²-sparse pair table. Marginals come from the UNFILTERED table;
    * the ≥ 5 cut only gates candidates (rare-pair PMI is noise). */
  val q202Collocations: Q = (s, d) => {
    import graft.plans.TopKPerGroup
    // the pair rollup feeds FOUR aggregates (marginals, totals,
    // candidates) — cache it rather than re-aggregate per consumer (the
    // knNllOf discipline), released after materialization; the fold
    // itself comes from the session [[bigramFold]] artifact (r22, §2.4)
    val bs = bigramFold(s, d)
      .groupBy(col("source"), col("a"), col("b"))
      .agg(sum(col("tf")).as("n_ab"))
      .cache()
    val na = bs.groupBy(col("source"), col("a")).agg(sum(col("n_ab")).as("n_a"))
    val nb = bs.groupBy(col("source"), col("b")).agg(sum(col("n_ab")).as("n_b"))
    val tot = bs.groupBy(col("source")).agg(sum(col("n_ab")).as("t"))
    val scored = bs.filter(col("n_ab") >= 5)
      .join(na, Seq("source", "a"))
      .join(nb, Seq("source", "b"))
      .join(tot, Seq("source"))
      .select(col("source"), col("a"), col("b"), col("n_ab").cast("long").as("n_ab"),
        round(log((col("n_ab").cast("double") * col("t").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double"))), 4).as("pmi"))
    Caching.materializeAndRelease(
      TopKPerGroup(scored, Seq("source"),
        Seq(TopKPerGroup.Key("pmi", desc = true), TopKPerGroup.Key("a"),
          TopKPerGroup.Key("b")), 10)
        .orderBy(col("source"), col("pmi").desc, col("a"), col("b")),
      bs)
  }

  // ---------------------------------------------------------------- q194

  /** q194: the CCNet gate funnel on the TRIGRAM-KN tier — the q157/q171
    * table at order 3, completing the gate-funnel ladder (add-1 → KN2 →
    * KN3): per source, docs scored by the q176 model, docs its tercile
    * gate would drop, and the exact means of kept vs dropped scores.
    * Read next to q192's flip table: q192 says WHERE the order-3 gate
    * changes decisions, this says what the corpus it admits looks like.
    * Note the population shift one order up: only ≥ 3-token docs carry
    * a score, so n_scored < q171's on sources with 2-token docs — the
    * unscored pass (the gate never judges what it cannot score). Same
    * shape: memoized score artifact, ONE 1-row cut broadcast, no global
    * sort, exact means over the rounded-4 artifact. */
  val q194Kn3GateFunnel: Q = (s, d) => {
    val nll = kn3Scores(s, d)
    val cuts = nll.agg(
      expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn3)").as("c2"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(nll.select(col("doc_id"), col("nll_kn3")), Seq("doc_id"), "left")
      .crossJoin(broadcast(cuts))
      .withColumn("dropped", col("nll_kn3").isNotNull && col("nll_kn3") > col("c2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nll_kn3").isNotNull.cast("long")).cast("long").as("n_scored"),
        sum(col("dropped").cast("long")).cast("long").as("n_dropped"),
        ExactMean.mean4(
          when(!col("dropped") && col("nll_kn3").isNotNull, col("nll_kn3")))
          .as("nll_kept"),
        ExactMean.mean4(when(col("dropped"), col("nll_kn3"))).as("nll_dropped"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q177

  /** q177: the MODEL-ORDER ladder — per source, mean KN2 vs KN3 NLL on
    * the trigram-scorable docs and the per-doc order gain (q168's
    * kn_gain one rung up: q168 justified KN over add-1 WITHIN order 2;
    * this is the table that justifies — or refuses — paying for order
    * 3). A source whose order_gain is flat has its gate decisions fully
    * captured by the bigram tier; a spike marks text whose regularities
    * are genuinely three tokens long. Reads the two memoized score
    * artifacts; the comparison restricts the KN2 mean to the SAME
    * trigram-scored doc set so the columns differ by model order, not by
    * population (the q163 discipline). All means through the shared
    * exact idiom (differences of rounded-4 scores are exact multiples of
    * 1e-4 — the q168 precedent). */
  val q177Ladder3: Q = (s, d) => {
    val k2 = knScores(s, d).select(col("doc_id"), col("nll_kn"))
    val k3 = kn3Scores(s, d).select(col("doc_id"), col("nll_kn3"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(k2, Seq("doc_id"), "left")
      .join(k3, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("nll_kn3").isNotNull.cast("long")).cast("long").as("n_tri_scored"),
        ExactMean.mean4(when(col("nll_kn3").isNotNull, col("nll_kn"))).as("nll_kn2"),
        ExactMean.mean4(col("nll_kn3")).as("nll3"),
        ExactMean.mean4(when(col("nll_kn3").isNotNull,
          col("nll_kn") - col("nll_kn3"))).as("order_gain"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q179

  /** q179: per-source LM SPECIFICITY — N per-domain bigram models fit in
    * ONE corpus pass, the CCNet production pattern (CCNet ships one
    * KenLM per language; a mixture pipeline ships one per domain) made a
    * single declarative plan: [[bigramFoldOf]] CARRIES the source
    * column, so the per-source count tables are just a wider grouping
    * key on the same fold — no per-domain loop, no N jobs, and at 100 TB
    * the N models cost one shuffle more than one model does. Each doc is
    * scored under its OWN source's add-1 model and under the global q147
    * model (identical arithmetic, certified there); the per-source
    * report is the mean of both and their gap:
    *
    *   specificity = mean(nll_global − nll_own)
    *
    * — how much better a domain's text is explained by its own LM. A
    * flat specificity says the source is generic (its docs could come
    * from anywhere: a candidate for merging mixture buckets); a spike
    * says the domain has real local regularities (worth its own gate
    * cuts, its own ppl tercile, maybe its own tokenizer budget — the
    * per-domain reading q173/q177 decide tiers WITHIN). Scored docs are
    * the ≥ 2-token set, identical for both models; means through
    * ExactMean (rounded-4 per-doc scores and their exact-1e-4
    * differences). */
  val q179SourceLmSpecificity: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
    // fold from the session [[bigramFold]] artifact (r22, §2.4); still
    // cached — the per-source rollup and the final per-doc fold both
    // read it
    val tfb = bigramFold(s, d).cache()
    // per-source models: the same fold, keyed one column wider. Cached:
    // the per-source table also rolls up into the global model below
    // (sum-of-per-source sums == global sum exactly, in longs), so the
    // big per-doc fold is aggregated ONCE instead of twice (r21 §2.3:
    // aggregate the already-reduced table, not the wide one).
    val bgs = tfb.groupBy(col("source"), col("a"), col("b"))
      .agg(sum(col("tf")).as("cab_s")).cache()
    val cas = bgs.groupBy(col("source"), col("a"))
      .agg(sum(col("cab_s")).as("ca_s"))
    // ONE vocabulary pass for both the per-source and the global V:
    // the distinct (source, token) table is vocab-sized; v_s is its
    // per-source row count and V its distinct-token count — identical
    // integers to the two separate count_distinct passes this replaces
    // (r21 §2.4: two aggregations keyed off the same explode share one
    // tokenize pass instead of re-reading the corpus).
    val distWords = docs
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
      .distinct().cache()
    val vs = distWords.groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("v_s"))
    // the global q147 model, rolled up from the per-source table
    val bg = bgs.groupBy(col("a"), col("b")).agg(sum(col("cab_s")).as("cab"))
    val cag = bg.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    val v = distWords.agg(count_distinct(col("w")).cast("double").as("v"))
    // log-probabilities computed ON THE MODEL TABLES (model-type-sized),
    // then attached to the per-doc fold in TWO equi-joins instead of the
    // previous five-table join chain over the big fold (r21 §3: the big
    // side crosses the least number of joins; the arithmetic per row is
    // the identical expression over identical operand values, evaluated
    // once per model row instead of once per fold row)
    val own = bgs
      .join(cas, Seq("source", "a"))
      .join(broadcast(vs), Seq("source"))
      .select(col("source"), col("a"), col("b"),
        log((col("cab_s") + 1) / (col("ca_s") + col("v_s"))).as("lp_own"))
    val glob = bg
      .join(cag, Seq("a"))
      .crossJoin(broadcast(v))
      .select(col("a"), col("b"),
        log((col("cab") + 1) / (col("ca") + col("v"))).as("lp_glob"))
    val per = tfb
      .join(own, Seq("source", "a", "b"))
      .join(glob, Seq("a", "b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        round(-sum(col("tf") * col("lp_own")) / sum(col("tf")), 4).as("nll_own"),
        round(-sum(col("tf") * col("lp_glob")) / sum(col("tf")), 4).as("nll_glob"))
    Caching.materializeAndRelease(
      per.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_scored"),
          ExactMean.mean4(col("nll_own")).as("nll_own"),
          ExactMean.mean4(col("nll_glob")).as("nll_glob"),
          ExactMean.mean4(col("nll_glob") - col("nll_own")).as("specificity"))
        .orderBy(col("source")),
      tfb, bgs, distWords)
  }

  // ---------------------------------------------------------------- q168

  /** q168: the LM MODEL LADDER — per-source mean NLL under every
    * perplexity tier the engine ships (q85 unigram, q147 add-1 bigram,
    * q165 Kneser–Ney bigram) plus the per-doc mean KN gain over add-1,
    * in one source-sized report. This is the table a pipeline reads to
    * decide which tier its quality gate should pay for: if the KN gain
    * is flat across sources the cheap tier ranks the same docs; a
    * source where the gain spikes is one whose bigram distribution add-1
    * mis-smooths (rare-pair-heavy text) and where gate decisions would
    * genuinely move. Reads the three memoized score artifacts — scoring
    * happened ONCE per tier for the whole session; this query is three
    * joins of per-doc score tables and a per-source fold, nothing
    * corpus-tokenizing. Left joins keep unscorable docs (empty / 1-token)
    * in n_docs so the report also shows per-tier coverage. */
  val q168LmLadder: Q = (s, d) => {
    val uni = perplexityScores(s, d).select(col("doc_id"), col("nll"))
    val bi = bigramScores(s, d).select(col("doc_id"), col("nll2"))
    val kn = knScores(s, d).select(col("doc_id"), col("nll_kn"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(uni, Seq("doc_id"), "left")
      .join(bi, Seq("doc_id"), "left")
      .join(kn, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("nll").isNotNull.cast("long")).cast("long").as("n_uni"),
        sum(col("nll2").isNotNull.cast("long")).cast("long").as("n_bi"),
        // all four means average rounded-4 artifact scores (the gain's
        // per-doc difference is an exact multiple of 1e-4 too) — the
        // shared exact idiom, r14 verdict #2
        ExactMean.mean4(col("nll")).as("nll_uni"),
        ExactMean.mean4(col("nll2")).as("nll_add1"),
        ExactMean.mean4(col("nll_kn")).as("nll_kn"),
        ExactMean.mean4(col("nll2") - col("nll_kn")).as("kn_gain"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q86

  /** Deterministic shard plan — the manifest a training-shard export
    * writes (see [[graft.sources.ShardExport]] for the writer itself):
    * shard = md5(doc_id) first byte mod 8, so assignment is stable across
    * engines/reruns and balanced regardless of doc_id patterns (a plain
    * `doc_id % 8` collapses under strided ids — the q43 lesson). Output is
    * the per-shard manifest: document count, token count, id range. */
  val q86ShardPlan: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), TextFns.tokenCount(col("text")).as("ntoks"),
        graft.sources.ShardExport.shardAssignment(col("doc_id"), 8).as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntoks")).cast("long").as("n_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------- q135

  /** q135: CCNet-style perplexity terciles — the classic head/middle/tail
    * split of a corpus by LM perplexity (head = best-scoring third; CCNet
    * keeps head+middle, drops tail). Reuses the q85 NLL artifact (score
    * once, every consumer reads the same table), so the split costs two
    * scans of a per-doc score table, never a corpus re-tokenize.
    *
    * The cuts are `percentile_disc` (the q72 discipline: a discrete
    * percentile is an ACTUAL element of the column, exact cross-engine —
    * interpolated percentiles diverge in float), computed in one 1-row agg
    * and broadcast — NO global sort, no unpartitioned window: at 100 TB a
    * tercile split must not pay a total ordering when two cut values
    * suffice. Production swaps percentile_disc for approx_percentile with
    * the same comparison logic (the q72/q80 exact/approx pairing). */
  val q135CcnetBuckets: Q = (s, d) => {
    val nll = perplexityScores(s, d)
    val cuts = nll.agg(
      expr("percentile_disc(0.33333333) WITHIN GROUP (ORDER BY nll)").as("c1"),
      expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll)").as("c2"))
    nll.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("nll") <= col("c1"), "head")
          .when(col("nll") <= col("c2"), "middle")
          .otherwise("tail"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("long").as("n_tokens"),
        round(min(col("nll")), 4).as("min_nll"),
        round(max(col("nll")), 4).as("max_nll"))
      .orderBy(col("bucket"))
  }

  // ---------------------------------------------------------------- q136

  /** q136: shard mix-quality report — certifies that the md5 shard
    * assignment (q86/[[graft.sources.ShardExport]]) MIXES sources, not
    * just balances counts: per shard, the source-distribution entropy
    * (nats). A training loader streaming shards sequentially sees each
    * shard as an unbiased corpus sample only if every shard's mix matches
    * the global mix — a skewed shard means correlated batches. Shape:
    * one partial-agg shuffle to (shard, source) cells (≤ shards × sources
    * rows regardless of corpus size), then shard-level folds — the
    * report is layout-sized, so it runs after every export at 100 TB. */
  val q136ShardMix: Q = (s, d) => {
    val cell = Tables.documents(s, d)
      .select(graft.sources.ShardExport.shardAssignment(col("doc_id"), 8).as("shard"),
        col("source"))
      .groupBy(col("shard"), col("source")).agg(count(lit(1)).as("n"))
    val tot = cell.groupBy(col("shard"))
      .agg(sum(col("n")).as("tot"), count(lit(1)).as("n_sources"))
    cell.join(tot, Seq("shard"))
      .groupBy(col("shard"))
      .agg(sum(col("n")).cast("long").as("n_docs"),
        max(col("n_sources")).cast("long").as("n_sources"),
        round(-sum(col("n") / col("tot") * log(col("n") / col("tot"))), 4).as("entropy"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------- q87

  /** Deterministic stratified sampling: exactly k uniform-random documents
    * per source, reproducible across engines/reruns/cluster sizes — rank
    * by md5(doc_id) within each stratum and keep the k smallest (a random
    * permutation without RNG state; q67/q83 sample by RATE, this samples
    * by exact COUNT). Runs through the engine's native bounded-heap
    * [[graft.plans.TopKPerGroup]] operator — no per-group window sort, one
    * shuffle — certifying the custom physical plan on a second production
    * shape beyond q58. */
  /** The q87/q191 RNG-free sample rank: md5(doc_id ‖ salt). The default
    * empty salt is byte-identical to md5(doc_id) — the certified draw —
    * and q191's documented remedy ("redraw with a different salt") is a
    * real knob (r15 verdict #7): any other salt is an independent
    * permutation of the same size. */
  private[graft] def sampleRank(salt: String): org.apache.spark.sql.Column =
    md5(concat(col("doc_id").cast("string"), lit(salt)))

  /** The shared q87 draw: exactly k docs per source under `salt`, through
    * the native bounded-heap [[graft.plans.TopKPerGroup]] operator. */
  private[graft] def stratifiedSampleOf(s: SparkSession, d: String,
      k: Int, salt: String = ""): DataFrame = {
    import graft.plans.TopKPerGroup
    val hashed = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), sampleRank(salt).as("h"))
    TopKPerGroup(hashed, Seq("source"),
      Seq(TopKPerGroup.Key("h"), TopKPerGroup.Key("doc_id")), k)
      .select(col("source"), col("doc_id"))
  }

  val q87StratifiedSample: Q = (s, d) =>
    stratifiedSampleOf(s, d, 5).orderBy(col("source"), col("doc_id"))

  /** q191: SAMPLE representativeness audit — before a human-eval pass
    * trusts the q87 stratified sample, the table that says whether it
    * LOOKS like the corpus: per source, corpus size, achieved sample
    * count, and the quality mean of corpus vs sample (the exact-mean
    * idiom over the rounded-4 q34 artifact — the q171 boundary class).
    * A q_sample far from q_corpus on some source means the 5-doc draw
    * is unlucky there — redraw with a different [[sampleRank]] salt
    * before annotating (the salt is a real parameter of the shared
    * [[stratifiedSampleOf]] draw, so the remedy is one argument).
    * Reuses q87's RNG-free md5 rank (the same TopKPerGroup physical
    * operator) so the audited sample IS the q87 sample, row for row. */
  val q191SampleAudit: Q = (s, d) => sampleAuditOf(s, d, salt = "")

  /** The q191 audit under an explicit redraw salt. */
  private[graft] def sampleAuditOf(s: SparkSession, d: String,
      salt: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        TextOps.qualityCol.as("quality"))
    val sample = stratifiedSampleOf(s, d, 5, salt)
      .select(col("doc_id"), lit(1L).as("in_sample"))
    docs.join(sample, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(coalesce(col("in_sample"), lit(0L))).cast("long").as("n_sample"),
        ExactMean.mean4(col("quality")).as("q_corpus"),
        ExactMean.mean4(when(col("in_sample") === 1, col("quality")))
          .as("q_sample"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q88

  /** Count-min-sketch heavy hitters with exact verify — the sketch-tier
    * frequent-items operator (heavy token/URL/n-gram detection without a
    * full-vocabulary shuffle). The CMS builds DISTRIBUTED
    * (`stat.countMinSketch` merges per-partition sketches) and broadcasts;
    * a map-side probe keeps only occurrences whose estimate reaches the
    * threshold — CMS only OVERESTIMATES, so no true heavy hitter is ever
    * dropped — and the exact groupBy count on the surviving stream removes
    * the overestimates: output is EXACT (the q82 sketch-then-verify
    * pattern). At 100 TB the probe thins the aggregation input to the
    * heavy tail; the sketch is fixed-size regardless of vocabulary. */
  /** The q88 heavy-hitter threshold, shared with the q230 sweep's
    * false-heavy (wasted exact-verify probe work) column.
    *
    * sized by: the WORKLOAD's definition of "heavy" — an absolute
    * support floor, not an accuracy knob (q230 prices the sketch that
    * serves it; the threshold itself defines the task). 900 sits just
    * above the certification corpus's mean per-term count (sf0.01:
    * 27,165 tokens over the 31-term active vocab ≈ 876/term), so the
    * gate splits the vocabulary mid-distribution (17/31 heavy at
    * sf0.01, 30/31 at sf0.1) and BOTH branches of the sketch-then-
    * verify pass stay exercised at every certified scale. A deployment
    * turns this dial to its own floor (e.g. "terms above 1e-5 of the
    * token stream"); the false-heavy probe cost the CMS pays at any
    * chosen floor reads off q230's measured grid. */
  private[ops] val HeavyThreshold = 900L

  val q88HeavyHitters: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(explode(TextFns.tokens(col("text"))).as("term"))
    // priced by q230 ((eps, conf) = (1e-4, 0.99) ⇒ (width, depth) = (20000, 7): the sweep measures overestimate mass and false-heavy probe work per (w, d) against the exact truth — measured: a width below the active vocabulary keeps overestimating at ANY depth (w=16, d=7: mean_over 398, 7 false-heavies — depth cannot resolve guaranteed collisions), width ≥ 2× vocab goes exact by d=7, and the operating 20000×7 point is exact from d=1; width buys correctness, depth buys the 2^-d confidence bound, which the measured frac_over_bound sits under in every row)
    val cms = toks.stat.countMinSketch("term", 0.0001, 0.99, 7)
    val bc = s.sparkContext.broadcast(cms)
    val mightBeHeavy = udf { (t: String) =>
      t != null && bc.value.estimateCount(t) >= HeavyThreshold
    }
    toks.filter(mightBeHeavy(col("term")))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= HeavyThreshold)
      .orderBy(col("term"))
  }

  // --------------------------------------------------------------- q230

  /** The q230 (width, depth) grid. Spark's q88 sketch derives
    * width = ⌈2/eps⌉ = 20000 and depth = ⌈log₂ 1/(1−conf)⌉ = 7 from
    * (eps, conf) = (1e-4, 0.99) — the 20000×7 row is the operating
    * point; the smaller widths bracket the ACTIVE-VOCABULARY knee
    * (w = 16 sits below this corpus's 31 live terms — guaranteed
    * collisions; 64 ≈ 2× vocab; 512 ≫ vocab) where overestimate mass
    * and the false-heavy probe work q88 pays in its exact-verify pass
    * actually move: what the measured table shows is that the width
    * that matters scales with the heavy-tail VOCABULARY, not the
    * stream length. */
  private[ops] val CmsWidths = Seq(16, 64, 512, 20000)
  private[ops] val CmsDepths = Seq(1, 3, 7)

  /** q230: count-min sketch sizing curve — the last fixed-by-fiat sketch
    * dimension (r18 verdict #4; KMV/Bloom/MinHash-length/banding/sample-
    * size all carry curves). The sketch here is an ARITHMETIC twin of
    * the production one (row hashes h_i(term) = first 52 md5 bits of
    * `term#i`, bucket = h_i mod w — the q224 Kirsch–Mitzenmacher
    * discipline), built not from the token stream but from the EXACT
    * term-count table: counters C[i][b] = Σ n over terms hashing to
    * (i, b) are identical to streaming increments by linearity, so the
    * whole grid costs one corpus pass plus vocab-sized arithmetic —
    * every (w, d) pair shares the SAME 7 hash rows and each width's
    * estimates fold in ONE aggregation producing all depths as columns.
    * Per (w, d): est(term) = min over rows i < d of C[i][h_i mod w],
    * always ≥ truth (CMS only overestimates), and the table reads
    *   - sum/mean/max overestimate (the accuracy side),
    *   - n_false_heavy: terms whose estimate clears [[HeavyThreshold]]
    *     while the truth does not — exactly the wasted exact-verify
    *     probe work the q88 serving pattern pays per config,
    *   - frac_over_bound vs theory: the CM guarantee
    *     P[over > 2N/w] ≤ 2^−d, measured beside its bound.
    * At 100 TB the eval vocabulary would be a sampled term set; the
    * counters stay w×d-bounded regardless of corpus size. Oracle
    * recomputes the entire grid — hashes, counters, estimates, metrics —
    * from the corpus in DuckDB. All-BIGINT counts; rounded-4 derived
    * rates. */
  /** The memoized exact term-count table (term, n) — the corpus pass
    * behind the q230 grid, persisted once per (session, dataset) like
    * every other score artifact (the q137/q138 discipline): the sweep's
    * serve is then vocab-sized arithmetic over a tiny parquet scan, and
    * the tokenize lives in the cold artifact chain where
    * `artifact_cost` attributes it. */
  private def termCountsTable(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.table("termcounts", s, d) {
      Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
    }

  val q230CmsSizingSweep: Q = (s, d) => {
    val maxDepth = CmsDepths.max
    val exact = termCountsTable(s, d).cache()
    val nTotal = exact.agg(sum(col("n")).cast("long").as("n_total"))
    // EVERY (width, row) combination in one exploded frame — the whole
    // grid then costs exactly one counter groupBy, one equi-join, one
    // estimate fold, and one metrics fold, instead of 3 stages x |w|
    // (the first cut spent its warm time on the scheduling overhead of
    // 12 vocab-sized stage chains, not on data)
    val wrows = exact.select(col("term"), col("n"),
        explode(array((0 until maxDepth).map(lit(_)): _*)).as("i"))
      .withColumn("h",
        conv(substring(md5(concat(col("term"), lit("#"), col("i"))), 1, 13),
          16, 10).cast("long"))
      .select(col("term"), col("n"), col("i"), col("h"),
        explode(array(CmsWidths.map(w => lit(w.toLong)): _*)).as("w"))
      .withColumn("bucket", col("h") % col("w"))
    val counters = wrows.groupBy(col("w"), col("i"), col("bucket"))
      .agg(sum(col("n")).as("cnt"))
    // one estimate fold for the whole grid: every depth side-by-side
    val estCols = CmsDepths.map(dd =>
      min(when(col("i") < dd, col("cnt"))).as(s"est_d$dd"))
    val est = wrows.join(counters, Seq("w", "i", "bucket"))
      .groupBy(col("w"), col("term"), col("n"))
      .agg(estCols.head, estCols.tail: _*)
      .crossJoin(broadcast(nTotal))
    val metricCols = CmsDepths.flatMap { dd =>
      val over = col(s"est_d$dd") - col("n")
      Seq(
        sum(over).cast("long").as(s"sum_over_d$dd"),
        max(over).cast("long").as(s"max_over_d$dd"),
        sum((col(s"est_d$dd") >= HeavyThreshold && col("n") < HeavyThreshold)
          .cast("long")).as(s"fh_d$dd"),
        sum((over * col("w") > lit(2L) * col("n_total")).cast("long"))
          .as(s"ob_d$dd"))
    }
    // one |w|-row metrics fold; the per-depth rows are tiny selects
    val folded = est.groupBy(col("w"), col("n_total"))
      .agg(count(lit(1)).as("n_terms"), metricCols: _*)
      .cache()
    val grid = CmsDepths.map { dd =>
      folded.select(
        col("w"), lit(dd.toLong).as("d"),
        col("n_terms").cast("long").as("n_terms"),
        col(s"sum_over_d$dd").as("sum_over"),
        round(col(s"sum_over_d$dd").cast("double") / col("n_terms"), 4)
          .as("mean_over"),
        col(s"max_over_d$dd").as("max_over"),
        col(s"fh_d$dd").as("n_false_heavy"),
        col(s"ob_d$dd").as("n_over_bound"),
        round(col(s"ob_d$dd").cast("double") / col("n_terms"), 4)
          .as("frac_over_bound"),
        lit(BigDecimal(math.pow(0.5, dd))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
          .as("bound_frac_theory"))
    }
    graft.ops.Caching.materializeAndRelease(
      grid.reduce(_ unionByName _).orderBy(col("w"), col("d")),
      exact, folded)
  }

  // ---------------------------------------------------------------- q89

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    * top-k documents by key u^(1/w) — here ranked by the ln-monotone
    * equivalent ln(u)/w — where w = n_chars (longer documents
    * proportionally likelier) and u is a deterministic uniform derived
    * from md5(doc_id) (13 hex chars → [0,1) at 2⁻⁵² grain). Completes the
    * sampling family: q67/q83 sample by rate, q87 by exact count per
    * stratum, q89 by weight without replacement — all RNG-state-free and
    * engine-reproducible. One TakeOrdered pass (no global sort); the
    * classic distributed one-pass weighted sample. */
  val q89WeightedSample: Q = (s, d) => {
    // u = (first 52 md5 bits + 0.5) / 2^52 — exact in double on both engines
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double") + 0.5) / lit(4503599627370496.0)
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), (log(u) / col("n_chars")).as("k"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q90

  /** Table profiler — the engine twin of the reference's pandas
    * `.info()`/`.describe()`/`.head()` preview cells
    * (preview_data.ipynb, preview_file_downloads.ipynb): per-column
    * non-null count, distinct count, and lexicographic min/max (values
    * cast to string FIRST on both engines so the comparison semantics are
    * identical), in ONE corpus pass — the aggregate expands map-side
    * (partial aggregation per metric), never one scan per column. The
    * distinct counts are exact here; at 100 TB swap in approx_count_
    * distinct per column (the q62 HLL tier) for a single-pass sketch
    * profile. */
  val q90Profile: Q = (s, d) => {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val flat = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}_nn"),
        countDistinct(col(c)).as(s"${c}_nd"),
        min(col(c).cast("string")).as(s"${c}_min"),
        max(col(c).cast("string")).as(s"${c}_max"))
    }
    val stacked = cols.map(c =>
      s"'$c', ${c}_nn, ${c}_nd, ${c}_min, ${c}_max").mkString(", ")
    Tables.documents(s, d)
      .agg(flat.head, flat.tail: _*)
      .selectExpr(s"stack(${cols.length}, $stacked) " +
        "AS (column_name, n_nonnull, n_distinct, min_val, max_val)")
      .orderBy(col("column_name"))
  }

  // ---------------------------------------------------------------- q98

  /** Data-EXPECTATIONS check (the deequ-style validation gate a
    * training-data pipeline runs before ingest; q90 profiles, THIS one
    * validates): violation counts for a declared rule set — id
    * uniqueness, text presence, n_chars self-consistency and bounds,
    * language whitelist — shaped for scale as per-id partial aggregation
    * (map-side combine, ONE shuffle on doc_id) followed by a single
    * global reduce; uniqueness comes from the per-id counts, so no
    * countDistinct Expand plan. The rule thresholds are calibrated so
    * both zero and non-zero violation counts occur on the test corpus. */
  val q98Expectations: Q = (s, d) => {
    val flags = Tables.documents(s, d).select(col("doc_id"),
      when(col("text").isNull, 1L).otherwise(0L).as("nt"),
      when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L).as("lm"),
      when(!col("n_chars").between(1, 500), 1L).otherwise(0L).as("nc"),
      when(!coalesce(col("lang").isin("en", "es", "de", "fr"), lit(false)), 1L)
        .otherwise(0L).as("bl"))
    val perId = flags.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("c"), sum(col("nt")).as("nt"), sum(col("lm")).as("lm"),
        sum(col("nc")).as("nc"), sum(col("bl")).as("bl"))
    perId.agg(
      sum(col("c")).as("n_rows"),
      sum(col("c") - 1).as("dup_ids"),
      sum(col("nt")).as("null_text"),
      sum(col("lm")).as("len_mismatch"),
      sum(col("nc")).as("bad_n_chars"),
      sum(col("bl")).as("bad_lang"))
  }

  /** The row-level half of the q98 gate, shared with
    * [[graft.pipelines.TrainingData.run]]'s admission stage: flags each doc
    * ADMISSIBLE iff its id is unique in the batch, its text is present, and
    * n_chars is self-consistent — the structural rules every downstream
    * stage depends on (dedup keys on doc_id, gates read text, mixing
    * multiplies by md5(doc_id)). q98's remaining rules (n_chars bounds,
    * language whitelist) are corpus-calibrated report thresholds, not
    * admission structure. Same scale shape as q98: per-id partial
    * aggregation, ONE shuffle on doc_id, then a co-partitioned join back
    * (no countDistinct Expand, no window over the corpus). Appends a
    * boolean `_expect_ok`; callers split/drop it.
    *
    * Null hygiene — the gate must never LOSE a row (a validator that
    * drops what it can't judge recreates the silent-shrink failure it
    * exists to prevent): the join back is NULL-SAFE (`<=>` — a plain
    * equi-join would drop null-id rows from both outcomes), a null
    * doc_id is itself a breach, and the flag is coalesced to false so
    * three-valued logic (null n_chars) lands in the breached set rather
    * than in neither filter. */
  def expectationsChecked(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val idCounts = docs.groupBy(col("doc_id").as("_exp_id"))
      .agg(count(lit(1)).as("_id_n"))
    docs.join(idCounts, col("doc_id") <=> col("_exp_id"))
      .withColumn("_expect_ok",
        coalesce(
          col("doc_id").isNotNull && col("_id_n") === 1 &&
            col("text").isNotNull && col("n_chars") === length(col("text")),
          lit(false)))
      .drop("_exp_id", "_id_n")
  }

  // ---------------------------------------------------------------- q93

  /** BM25 THROUGH THE PERSISTED INVERTED INDEX (ops.InvertedIndex): build
    * the postings/doclens/stats tables to disk, then answer the q84 query
    * from the index alone — the corpus text is read exactly once (the
    * build) and never by the search. Same math, rounding, and tie-break
    * as q84, so the same oracle certifies the round trip through the
    * on-disk layout. This is the deployable retrieval shape: at 100 TB
    * the build is one tokenize + one (term, doc_id) shuffle, and each
    * query reads only footer-pruned term-range posting files. */
  val q93Bm25Indexed: Q = (s, d) =>
    InvertedIndex.searchBm25(s, invIdxDir(s, d), HybridQueryTerms, k = 20)

  /** Built ONCE per (session, dataset) — the index is a persistent
    * artifact (a sink, like K7's shard export), so repeated queries serve
    * from the existing files; only the first invocation pays the corpus
    * pass (SessionArtifacts: single-flight build, dirs reaped at JVM
    * exit). This is the deployed contract: build amortizes over every
    * query that follows — q93 certifies it, q128's lexical arm serves
    * from it. */
  private def invIdxDir(s: SparkSession, d: String): String =
    SessionArtifacts.dir("invidx", s, d) { t =>
      InvertedIndex.build(s, Tables.documents(s, d), t)
    }

  // --------------------------------------------------------------- q125

  /** The fixed retrieval query shared by both hybrid arms: its terms feed
    * the BM25 scorer, its hashing-trick embedding feeds the dense scorer.
    * One definition so the arms cannot answer different questions. */
  private[graft] val HybridQueryTerms = Seq("spark", "join", "data")
  private[graft] def hybridQueryVec: Array[Float] =
    graft.ml.Embed.encodeBatch(Seq(HybridQueryTerms.mkString(" "))).head

  /** Hybrid retrieval via reciprocal-rank fusion (RRF, Cormack et al.
    * 2009, k = 60): the lexical top-20 (the q84-certified BM25 kernel)
    * and the dense top-20 (cosine between the query's hashing-trick
    * embedding and the q49-certified document embeddings, served from the
    * persisted session artifact) fuse as Σ 1/(60 + rank) — the standard
    * score-free combiner RAG retrieval stacks run because it needs no
    * cross-arm score calibration.
    *
    * Scale shape: each arm is its own top-k (TakeOrderedAndProject — no
    * global sort); ranks are windows over the ALREADY-LIMITED 20-row
    * frames (the q11 bounded-window discipline); the fusion join is
    * 20×20-bounded. The dense arm is a full scan of the embedding
    * artifact here (the certified exact tier, like q44); a production
    * deployment swaps in the IVF serve (q99) for the same contract.
    * Both ranks order by the ROUNDED score with doc_id tiebreak, so the
    * ranking — not just the scores — is engine-independent. */
  val q125HybridRrf: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.GraftInternal
    val qv = array(hybridQueryVec.map(lit): _*)
    val lex = bm25Top20(s, d)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val cosCol = GraftInternal.column(graft.plans.CosineSim(
      GraftInternal.expression(col("embedding")), GraftInternal.expression(qv)))
    val dense20 = graft.ml.Embed.embedDocuments(s, d)
      .select(col("doc_id"), round(cosCol, 4).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(20)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))))
      .select(col("doc_id"), col("dense_rank"))
    rrfFuse(lex, dense20)
  }

  /** The RRF combiner shared by q125 (exact arms) and q128 (served
    * arms): one definition, so the two tiers can never fuse
    * differently. Inputs are the 20-row ranked arms; the join is
    * 20×20-bounded. */
  private def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame =
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"), col("rrf"))

  // --------------------------------------------------------------- q128

  /** The q128 dense tier's serving knob: nProbe strictly below the
    * smallest possible codebook (nCells ≥ 8 by the build clamp), so the
    * probed-cell partition filter always selects a strict subset of the
    * index — the [[graft.ops.Similarity]] ServeNProbe discipline,
    * interpolated into both the kernel call and the oracle's `prn <=`
    * cut so they cannot desync. 5 is the measured knee of the
    * recall/scan curve on the sf0.1 78-cell index (NOTES.md, "r12
    * DocServeNProbe operating point": top-20 overlap vs exact
    * 3/7/9/13/17 of 20 at probes 1/2/3/5/8 — 13/20 while scanning ~6%
    * of cells); q125 remains the exact tier when full recall is worth a
    * corpus scan. */
  private[graft] val DocServeNProbe = 5

  /** Once-per-(session, dataset) IVF index over the DOCUMENT embedding
    * artifact (64-dim, doc_id-keyed — distinct from the q45 index over
    * the `embeddings` table): the dense serving tier for document
    * retrieval. Same sizing/clamp as the dedup index (nCells ∝ N/64,
    * single assignment). */
  private[graft] def docIvfDir(s: SparkSession, d: String): String =
    SessionArtifacts.dir("ivf-doc", s, d) { t =>
      val e = graft.ml.Embed.embedDocuments(s, d)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val n = e.count()
      val nCells = math.min(1024L, math.max(8L, n / 64L)).toInt
      IvfIndex.save(s, IvfIndex.build(s, e, nCells = nCells, seed = 11L, nReplicas = 1), t)
    }

  /** Hybrid retrieval SERVED entirely from persisted artifacts — the
    * deployable tier of q125 (the q93-vs-q84 relationship, for the whole
    * hybrid stack): the lexical arm answers from the q93 inverted index
    * (corpus text never read), the dense arm from the document IVF index
    * (partition-pruned probe, [[DocServeNProbe]] of ≥ 8 cells), fused by
    * the SAME [[rrfFuse]] combiner. The dense arm is the ANN
    * approximation of q125's exact scan — the oracle replays the full
    * probed path (unit-space routing, pruned member set, raw-vector
    * cosine rank) from the exported index, so the SERVED answers are
    * hash-certified, approximation and all. */
  val q128HybridServed: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val idx = IvfIndex.load(s, docIvfDir(s, d))
    require(DocServeNProbe < idx.centroids.length,
      s"serve probe count ${DocServeNProbe} must prune: codebook has ${idx.centroids.length} cells")
    val dense = IvfIndex.searchTopK(s, idx,
        Seq((-1L, hybridQueryVec)).toDF("vec_id", "embedding"),
        k = 20, nProbe = DocServeNProbe)
      .select(col("nn_id").as("doc_id"), col("rn").as("dense_rank"))
    val lex = InvertedIndex.searchBm25(s, invIdxDir(s, d), HybridQueryTerms, k = 20)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    rrfFuse(lex, dense)
  }

  /** Oracle support for q128's dense arm: the document IVF index layout
    * (cell assignments + codebook) — the oracle recomputes routing,
    * pruning, and ranking from these plus the q125 query vector and the
    * q49 embedding export. */
  def writeServedHybridSupport(s: SparkSession, d: String, outDir: String): Unit = {
    import s.implicits._
    val idx = IvfIndex.load(s, docIvfDir(s, d))
    idx.cells.select(col("cell").cast("long").as("cell"), col("vec_id").as("doc_id"))
      .write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q128_support_cells")
    idx.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq
      .toDF("cell", "centroid").coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q128_support_centroids")
  }

  /** Oracle support for q125's dense arm: the query embedding as a
    * (pos, v) table — the doc embeddings themselves ride the q49 export
    * ([[graft.ops.Ml]] `writeEmbedSupport`). */
  def writeHybridSupport(s: SparkSession, d: String, outDir: String): Unit = {
    val qv = hybridQueryVec
    s.createDataFrame(qv.toSeq.zipWithIndex.map { case (v, i) => (i, v.toDouble) })
      .toDF("pos", "v")
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q125_support_qvec")
  }

  // --------------------------------------------------------------- q131

  /** Batched multi-query BM25 — the retrieval shape q84/q93/q125/q128
    * leave open: N queries scored against the corpus in ONE pass (a
    * serving system answers query BATCHES; per-query re-scans are the
    * reference's per-item loop anti-pattern). The query workload is
    * derived deterministically from the corpus itself — the 30 most
    * frequent terms (frequency desc, term asc), three per query, ten
    * queries — so both engines construct the identical batch with no
    * support table.
    *
    * Shape: one tokenize pass feeds the term-frequency ranking AND the
    * hit stream (cached); query terms broadcast into the postings join
    * (30 rows at any corpus size); scoring is the q84-certified formula;
    * the top-5-per-query cut runs on the NATIVE TopKPerGroup plan (third
    * production use — no window sort, per-group heaps), ranked on the
    * ROUNDED score with doc_id tiebreak (the q125 rank discipline). */
  val q131BatchedBm25: Q = (s, d) =>
    batchedBm25Top5(s, d)
      .orderBy(col("query_id"), col("bm25").desc, col("doc_id"))

  /** The q131 kernel as a shared stage — q131 certifies it, q132's
    * lexical arm reuses it. Returns (query_id, doc_id, bm25), top-5 per
    * query, unordered. */
  /** The q131 kernel. `sharedToks` lets a composing query (q138) hand in
    * its own cached (doc_id, term) stream so the corpus is tokenized
    * ONCE per query, not once per stage; ownership (unpersist) stays
    * with the caller when shared. The BM25 constants are parameters for
    * the q218 sweep — k1p1 (= k1+1) and omb (= 1−b) are passed as
    * LITERALS, never computed (1.2 + 1.0 ≠ the literal 2.2 in the last
    * ulp, and a one-ulp drift under a round-4 boundary breaks
    * certification); the defaults are bit-identical to the certified
    * q131/q132/q138 constants. */
  private def batchedBm25Top5(s: SparkSession, d: String,
      sharedToks: Option[DataFrame] = None,
      // k1/b priced by q218 ((1.2, 0.75) ties the best measured retrieval outcomes on the q138 qrels)
      k1: Double = 1.2, k1p1: Double = 2.2,
      b: Double = 0.75, omb: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val toks = sharedToks.getOrElse(docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .cache()) // feeds term ranking, tf, AND df — one tokenize pass
    val qt = toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(30)
      .withColumn("rn", row_number().over(Window.orderBy(col("n").desc, col("term"))))
      .select(col("term"), expr("(rn - 1) div 3").cast("long").as("query_id"))
    val hits = toks.join(broadcast(qt), Seq("term")).cache()
    val tf = hits.groupBy(col("query_id"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfq = hits.select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"), TextFns.tokenCount(col("text")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl")) // float-mean: intermediate
    val scored = tf
      .join(broadcast(dfq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("score_t",
        col("idf") * col("tf") * lit(k1p1) /
          (col("tf") + (col("dl") / col("avgdl") * lit(b) + lit(omb)) * lit(k1)))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("score_t")), 4).as("bm25"))
    Caching.materializeAndRelease(
      graft.plans.TopKPerGroup(scored, Seq("query_id"),
          Seq(graft.plans.TopKPerGroup.Key("bm25", desc = true),
            graft.plans.TopKPerGroup.Key("doc_id")), 5),
      // a shared toks cache belongs to the caller — release only our own
      (Seq(hits) ++ (if (sharedToks.isEmpty) Seq(toks) else Nil)): _*)
  }

  // --------------------------------------------------------------- q138

  /** q138: retrieval evaluation metrics — the report a retrieval stack
    * ships with its rankings: per query of the q131 batch, recall@5,
    * MRR@5 and nDCG@5 of the certified batched-BM25 top-5 against a
    * DETERMINISTIC pseudo-qrel (relevant = documents containing all
    * three of the query's terms — conjunctive containment, computable
    * by both engines with no human labels). Evaluation composes three
    * certified kernels: the q131 scorer (shared stage — the metrics
    * grade exactly what q131 serves), the tokenize pass (shared cache),
    * and rank arithmetic on the ROUNDED-score order (the q125 rank
    * discipline, so ranks are engine-independent).
    *
    * Scale shape: labels are a hit-sized distinct + group-count (never
    * all (query, doc) pairs); the metric folds run on ≤ k rows per query
    * and the ideal-DCG table on ≤ k rows per query — everything after
    * the corpus tokenize is batch-sized. nDCG uses natural-log DCG in
    * the dcg/idcg RATIO (base cancels; both engines fold the same ≤5
    * terms). */
  val q138RetrievalMetrics: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .cache() // feeds query derivation AND the label pass
    val qt = toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(30)
      .withColumn("rn", row_number().over(Window.orderBy(col("n").desc, col("term"))))
      .select(col("term"), expr("(rn - 1) div 3").cast("long").as("query_id"))
    val rel = toks.join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("term")).distinct()
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("ntq")).filter(col("ntq") === 3)
      .select(col("query_id"), col("doc_id"))
    val nrel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val t5 = batchedBm25Top5(s, d, sharedToks = Some(toks)).withColumn("rn",
      row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("bm25").desc, col("doc_id"))))
    Caching.materializeAndRelease(rankingMetricsOf(t5, rel, nrel, k = 5), toks)
  }

  /** (k1, k1+1, b, 1−b) as EXACT double literals per sweep point — the
    * derived constants are spelled out, never computed (see
    * [[batchedBm25Top5]]'s literal discipline). The (1.2, 0.75) row is
    * the certified q131 operating point — a built-in cross-check; the
    * others bracket it: the Elasticsearch-ish (0.9, 0.4), a high-k1
    * saturation point, and b = 0 (length normalization off). */
  private[ops] val SweepBm25Params = Seq(
    (0.9, 1.9, 0.4, 0.6),
    (1.2, 2.2, 0.0, 1.0),
    (1.2, 2.2, 0.75, 0.25),
    (2.0, 3.0, 0.75, 0.25))

  /** q218: the BM25 PARAMETER sweep — the lexical scorer's two knobs
    * priced by retrieval OUTCOMES instead of folklore: per (k1, b)
    * candidate, the macro-averaged recall@5 / MRR@5 / nDCG@5 of the
    * q131 batched scorer against q138's deterministic conjunctive
    * qrels. One tokenize pass and ONE qrel derivation feed all four
    * scoring passes (only the per-(tf, dl) saturation arithmetic
    * differs); macro means fold through the exact mean4. Hash-certified
    * with no support tables: the oracle replays every scoring chain,
    * the shared label set, and the same macro fold in one statement. */
  /** One (k1, b) point's summed-score column for the q218 single-pass
    * aggregation — the q131 per-term arithmetic verbatim. */
  private def bm25SumCol(p: (Double, Double, Double, Double),
      i: Int): org.apache.spark.sql.Column = {
    val (k1, k1p1, b, omb) = p
    round(sum(col("idf") * col("tf") * lit(k1p1) /
      (col("tf") + (col("dl") / col("avgdl") * lit(b) + lit(omb)) * lit(k1))),
      4).as(s"bm25_$i")
  }

  val q218Bm25ParamSweep: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val toks = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .cache()
    val qt = toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(30)
      .withColumn("rn", row_number().over(Window.orderBy(col("n").desc, col("term"))))
      .select(col("term"), expr("(rn - 1) div 3").cast("long").as("query_id"))
    val hits = toks.join(broadcast(qt), Seq("term")).cache()
    val rel = hits
      .select(col("query_id"), col("doc_id"), col("term")).distinct()
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("ntq")).filter(col("ntq") === 3)
      .select(col("query_id"), col("doc_id"))
    val nrel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    // ONE postings→stats join and ONE (query, doc) aggregation carry all
    // four parameterizations as side-by-side sum columns (the q131
    // arithmetic per column, same operand association) — the sweep costs
    // one scoring pass instead of four
    val tf = hits.groupBy(col("query_id"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfq = hits.select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"), TextFns.tokenCount(col("text")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl")) // float-mean: intermediate
    val scored = tf
      .join(broadcast(dfq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(
        bm25SumCol(SweepBm25Params.head, 0),
        SweepBm25Params.tail.zipWithIndex.map { case (p, i) =>
          bm25SumCol(p, i + 1) }: _*)
      .localCheckpoint(true)
    // the four sweep points ride ONE top-5 cut, ONE rank window, and ONE
    // metrics fold, keyed a `cfg` column wider (r21 — the q226 banding-
    // sweep discipline applied here: the previous four unioned branches
    // each paid their own TopK exchange + window + three metric joins on
    // batch-sized data, ~4× the jobs for identical arithmetic). Per cfg
    // the same (query, doc, bm25_i) rows flow through the same operators,
    // so every emitted value is unchanged.
    val ranked4 = scored.select(col("query_id"), col("doc_id"),
        explode(array(SweepBm25Params.indices.map(i =>
          struct(lit(i.toLong).as("cfg"), col(s"bm25_$i").as("bm25"))): _*)).as("c"))
      .select(col("c.cfg").as("cfg"), col("query_id"), col("doc_id"),
        col("c.bm25").as("bm25"))
    val t5 = graft.plans.TopKPerGroup(ranked4, Seq("cfg", "query_id"),
        Seq(graft.plans.TopKPerGroup.Key("bm25", desc = true),
          graft.plans.TopKPerGroup.Key("doc_id")), 5)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cfg"), col("query_id"))
          .orderBy(col("bm25").desc, col("doc_id"))))
    val k1Of = SweepBm25Params.zipWithIndex.tail.foldLeft(
      lit(SweepBm25Params.head._1)) { case (acc, ((k1, _, _, _), i)) =>
      when(col("cfg") === i, k1).otherwise(acc) }
    val bOf = SweepBm25Params.zipWithIndex.tail.foldLeft(
      lit(SweepBm25Params.head._3)) { case (acc, ((_, _, b, _), i)) =>
      when(col("cfg") === i, b).otherwise(acc) }
    // DOCUMENTED empty-input divergence (r21 ADVICE, accepted): the
    // pre-r21 form ran four global aggregations and so emitted one
    // n_queries = 0 row per sweep point on a degenerate EMPTY corpus;
    // the fused groupBy(cfg) emits zero rows there. The certified
    // corpora always have ≥ 30 frequent terms (the batch is derived from
    // the corpus, so an empty corpus has no queries to grade — zero rows
    // is the truthful report); the oracle computes the same groupBy
    // shape, so the two engines agree on every input either way.
    Caching.materializeAndRelease(
      rankingMetricsOf(t5, rel, nrel, k = 5, extraKeys = Seq("cfg"))
        .groupBy(col("cfg"))
        .agg(count(lit(1)).cast("long").as("n_queries"),
          graft.ops.ExactMean.mean4(col("recall5")).as("recall5"),
          graft.ops.ExactMean.mean4(col("mrr5")).as("mrr5"),
          graft.ops.ExactMean.mean4(col("ndcg5")).as("ndcg5"))
        .select(k1Of.as("k1"), bOf.as("b"), col("n_queries"),
          col("recall5"), col("mrr5"), col("ndcg5"))
        .orderBy(col("k1"), col("b")),
      toks, hits)
  }

  /** The metric folds alone, over an arbitrary ranking (query_id, doc_id,
    * rn) and label set — shared by q138 and the hand-computed unit.
    * `extraKeys` widens the grouping key for sweep callers (q218 carries
    * a `cfg` dimension through ONE fold instead of one fold per sweep
    * point); with the default Nil the shape is bit-identical to the
    * pre-r21 form. */
  private[graft] def rankingMetricsOf(ranked: DataFrame, rel: DataFrame,
      nrel: DataFrame, k: Int, extraKeys: Seq[String] = Nil): DataFrame = {
    val gkeys = (extraKeys :+ "query_id").map(col)
    val graded = ranked
      .join(rel.withColumn("isrel", lit(1)), Seq("query_id", "doc_id"), "left")
      .withColumn("isrel", coalesce(col("isrel"), lit(0)))
    val m = graded.groupBy(gkeys: _*).agg(
      sum(col("isrel")).cast("long").as(s"hits$k"),
      coalesce(min(when(col("isrel") === 1, col("rn"))), lit(0)).as("frank"),
      sum(col("isrel") / log(col("rn") + 1)).as("dcg"))
    val ideal = nrel
      .select(col("query_id"), explode(sequence(lit(1), least(col("n_rel"), lit(k)))).as("i"))
      .groupBy(col("query_id")).agg(sum(lit(1.0) / log(col("i") + 1)).as("idcg"))
    // LEFT joins: a query whose terms never co-occur in one document
    // (n_rel = 0) must report zero metrics, not vanish from the batch —
    // a silently shrinking evaluation report under-counts exactly the
    // queries the retrieval stack serves worst
    m.join(nrel, Seq("query_id"), "left").join(ideal, Seq("query_id"), "left")
      .select(gkeys ++ Seq(
        coalesce(col("n_rel"), lit(0L)).as("n_rel"), col(s"hits$k"),
        round(coalesce(col(s"hits$k") / col("n_rel"), lit(0.0)), 4).as(s"recall$k"),
        round(when(col("frank") === 0, lit(0.0))
          .otherwise(lit(1.0) / col("frank")), 4).as(s"mrr$k"),
        round(coalesce(col("dcg") / col("idcg"), lit(0.0)), 4).as(s"ndcg$k")): _*)
      .orderBy(gkeys: _*)
  }

  // --------------------------------------------------------------- q132

  /** The q131 query batch as driver-side texts: each query's three terms
    * in rank order — the string the dense arm embeds. 30 rows collected;
    * bounded by the batch definition, never the corpus. */
  private[graft] def batchQueryTexts(s: SparkSession, d: String): Seq[(Long, String)] = {
    import org.apache.spark.sql.expressions.Window
    val ranked = Tables.documents(s, d)
      .select(explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(30)
      .withColumn("rn", row_number().over(Window.orderBy(col("n").desc, col("term"))))
      .select(col("term"), col("rn"))
      .collect()
    ranked.groupBy(r => (r.getInt(1) - 1) / 3).toSeq
      .map { case (qid, rows) =>
        (qid.toLong, rows.sortBy(_.getInt(1)).map(_.getString(0)).mkString(" "))
      }.sortBy(_._1)
  }

  /** Batched HYBRID serve — the retrieval family's capstone: the q131
    * query batch, each query fused lexical+dense, everything served at
    * batch scale. The lexical arm is the q131-certified batch scorer;
    * the dense arm embeds each query's term string (the q49 hashing
    * embedder) and probes the q128 document IVF index in ONE
    * multi-query search ([[graft.ops.IvfIndex.searchTopK]] routes the
    * whole batch in one pass — no per-query rescans); fusion is RRF per
    * query with a top-3 cut over the ≤10-row per-query fused set.
    *
    * Query ids enter the ANN search NEGATED (-1-query_id): the index is
    * doc_id-keyed and searchTopK's self-exclusion compares raw ids, so a
    * query_id colliding with a doc_id would silently drop that document
    * — the exact cross-id-space pitfall the threshold kernel's
    * excludeSelf flag documents. Negative ids cannot collide. */
  val q132HybridBatch: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy(col("query_id"))
    val lex = batchedBm25Top5(s, d)
      .withColumn("lex_rank",
        row_number().over(wq.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val texts = batchQueryTexts(s, d)
    val qembs = texts.map { case (qid, t) =>
      (qid, graft.ml.Embed.encodeBatch(Seq(t)).head)
    }
    val idx = IvfIndex.load(s, docIvfDir(s, d))
    val dense = IvfIndex.searchTopK(s, idx,
        qembs.map { case (qid, v) => (-1L - qid, v) }.toDF("vec_id", "embedding"),
        k = 5, nProbe = DocServeNProbe)
      .select((lit(-1L) - col("vec_id")).as("query_id"),
        col("nn_id").as("doc_id"), col("rn").as("dense_rank"))
    lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)), 6))
      .withColumn("fr", row_number().over(wq.orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("fr") <= 3).drop("fr")
      .select(col("query_id"), col("doc_id"), col("lex_rank"), col("dense_rank"), col("rrf"))
      .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
  }

  /** Oracle support for q132's dense arm: the ten query embeddings as
    * (query_id, emb: array<double>) — the doc-side exports ride the
    * q128/q49 writers. */
  def writeBatchHybridSupport(s: SparkSession, d: String, outDir: String): Unit = {
    import s.implicits._
    batchQueryTexts(s, d)
      .map { case (qid, t) =>
        (qid, graft.ml.Embed.encodeBatch(Seq(t)).head.map(_.toDouble).toSeq)
      }
      .toDF("query_id", "emb")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q132_support_qembs")
  }

  // --------------------------------------------------------------- q126

  /** Curriculum ordering (perplexity annealing): the deterministic global
    * training order a pretraining run feeds its shards in — worst
    * (highest-perplexity) documents first, best last, ties shuffled by
    * md5 so equal-scoring docs don't cluster by id. The score is the
    * q85-certified unigram-LM NLL (the canonical curriculum signal).
    *
    * The global position comes from [[Ordinal.globalOrdinal]] — the
    * TeraSort-shaped range-partition + partition-offset plan, NOT a
    * `row_number` over an unpartitioned window: this is the one query
    * class that genuinely needs a total order over the corpus, and the
    * kernel is the scale-correct way to get one. */
  val q126Curriculum: Q = (s, d) => {
    val keyed = perplexityScores(s, d)
      .select(col("doc_id"), col("nll"),
        substring(md5(col("doc_id").cast("string")), 1, 8).as("h"))
    Ordinal.globalOrdinal(keyed,
        Seq(col("nll").desc, col("h"), col("doc_id")))
      .select(col("pos"), col("doc_id"), col("nll"))
      .orderBy(col("pos"))
  }

  // ------------------------------------------------------------ registry

  def queries: Map[String, Q] = Map(
    "q82_bloom_decontam" -> q82BloomDecontam,
    "q224_bloom_sizing_sweep" -> q224BloomSizingSweep,
    "q83_weighted_mix"   -> q83WeightedMix,
    "q84_bm25"           -> q84Bm25,
    "q93_bm25_indexed"   -> q93Bm25Indexed,
    "q85_perplexity"     -> q85Perplexity,
    "q147_bigram_perplexity" -> q147BigramPerplexity,
    "q86_shard_plan"     -> q86ShardPlan,
    "q135_ccnet_buckets" -> q135CcnetBuckets,
    "q156_bigram_buckets" -> q156BigramBuckets,
    "q157_ppl_gate_funnel" -> q157PplGateFunnel,
    "q185_gate_agreement" -> q185GateAgreement,
    "q186_gate_agreement_by_source" -> q186GateAgreementBySource,
    "q190_gate_venn" -> q190GateVenn,
    "q163_heldout_ppl" -> q163HeldoutPpl,
    "q165_kn_perplexity" -> q165KnPerplexity,
    "q176_kn3_perplexity" -> q176Kn3Perplexity,
    "q177_order_ladder" -> q177Ladder3,
    "q179_source_lm_specificity" -> q179SourceLmSpecificity,
    "q168_lm_ladder" -> q168LmLadder,
    "q171_kn_gate_funnel" -> q171KnGateFunnel,
    "q194_kn3_gate_funnel" -> q194Kn3GateFunnel,
    "q202_collocations" -> q202Collocations,
    "q204_ppl_cut_sweep" -> q204PplCutSweep,
    "q206_heldout_ladder" -> q206HeldoutLadder3,
    "q173_tier_flips" -> q173TierFlips,
    "q192_order3_flips" -> q192Order3Flips,
    "q136_shard_mix"     -> q136ShardMix,
    "q87_stratified_sample" -> q87StratifiedSample,
    "q191_sample_audit" -> q191SampleAudit,
    "q88_heavy_hitters"  -> q88HeavyHitters,
    "q230_cms_sizing_sweep" -> q230CmsSizingSweep,
    "q89_weighted_sample" -> q89WeightedSample,
    "q90_profile"        -> q90Profile,
    "q98_expectations"   -> q98Expectations,
    "q125_hybrid_rrf"    -> q125HybridRrf,
    "q126_curriculum"    -> q126Curriculum,
    "q128_hybrid_served" -> q128HybridServed,
    "q131_batched_bm25"  -> q131BatchedBm25,
    "q132_hybrid_batch"  -> q132HybridBatch,
    "q138_retrieval_metrics" -> q138RetrievalMetrics,
    "q218_bm25_param_sweep" -> q218Bm25ParamSweep,
  )

  private val tokCol =
    """string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')"""

  // split into CTE body + final select so q125's oracle can extend the
  // SAME certified scorer text with its fusion stages (one definition)
  private val bm25Ctes =
    s"""dl AS (
       |  SELECT doc_id, len($tokCol) AS dl FROM documents),
       |hits AS (
       |  SELECT doc_id, unnest($tokCol) AS term FROM documents),
       |h AS (SELECT * FROM hits WHERE term IN ('spark', 'join', 'data')),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM h GROUP BY 1, 2),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM h GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl)""".stripMargin

  private val bm25Select =
    """SELECT doc_id, round(sum(
      |    ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
      |      * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
      |  ), 4) AS bm25
      |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  private val bm25Sql = s"WITH $bm25Ctes\n$bm25Select"

  // the q131 batch scorer as a CTE body (through `sc`) — q131 certifies
  // it, q132's lexical arm extends it
  /** The shared batched-BM25 derivation (everything up to, not
    * including, the scored table) — `batchBm25Ctes` appends the
    * certified sc; the q218 sweep appends one sc per (k1, b). */
  private val batchBm25BaseCtes =
    s"""dl AS (
       |  SELECT doc_id, len($tokCol) AS dl FROM documents),
       |toks AS (
       |  SELECT doc_id, unnest($tokCol) AS term FROM documents),
       |freq AS (SELECT term, count(*) AS n FROM toks GROUP BY 1),
       |ranked AS (
       |  SELECT term, row_number() OVER (ORDER BY n DESC, term) AS rn FROM freq),
       |qt AS (
       |  SELECT term, CAST((rn - 1) // 3 AS BIGINT) AS query_id
       |  FROM ranked WHERE rn <= 30),
       |h AS (SELECT t.doc_id, t.term, qt.query_id FROM toks t JOIN qt USING (term)),
       |tfq AS (SELECT query_id, doc_id, term, count(*) AS tf FROM h GROUP BY 1, 2, 3),
       |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM h GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl)""".stripMargin

  private val batchBm25Ctes =
    s"""$batchBm25BaseCtes,
       |sc AS (
       |  SELECT query_id, doc_id, round(sum(
       |      ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
       |        * tfq.tf * 2.2 / (tfq.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
       |    ), 4) AS bm25
       |  FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |  GROUP BY 1, 2)""".stripMargin

  /** The full q218 oracle: shared derivation + qrels, one scoring chain
    * per (k1, b) with the ENGINE's operand association
    * ((dl/avgdl)·b + (1−b))·k1, per-query metric folds, exact-mean4
    * macro rows. */
  private def bm25ParamSweepSql: String = {
    val points = SweepBm25Params.zipWithIndex
    val chains = points.map { case ((k1, k1p1, b, omb), i) =>
      val p = s"p$i"
      s"""${p}sc AS (
         |  SELECT query_id, doc_id, round(sum(
         |      ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
         |        * tfq.tf * $k1p1 / (tfq.tf + (dl.dl / st.avgdl * $b + $omb) * $k1)
         |    ), 4) AS bm25
         |  FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  GROUP BY 1, 2),
         |${p}t5 AS (
         |  SELECT query_id, doc_id, rn FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
         |    FROM ${p}sc) WHERE rn <= 5),
         |${p}graded AS (
         |  SELECT t5.query_id, t5.rn,
         |    CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS isrel
         |  FROM ${p}t5 t5 LEFT JOIN rel
         |    ON rel.query_id = t5.query_id AND rel.doc_id = t5.doc_id),
         |${p}m AS (
         |  SELECT query_id,
         |    CAST(sum(isrel) AS BIGINT) AS hits5,
         |    coalesce(min(CASE WHEN isrel = 1 THEN rn END), 0) AS frank,
         |    sum(isrel / ln(rn + 1)) AS dcg
         |  FROM ${p}graded GROUP BY 1),
         |${p}pq AS (
         |  SELECT m.query_id,
         |    round(coalesce(m.hits5 / n.n_rel, 0.0), 4) AS recall5,
         |    round(CASE WHEN m.frank = 0 THEN 0.0 ELSE 1.0 / m.frank END, 4) AS mrr5,
         |    round(coalesce(m.dcg / i.idcg, 0.0), 4) AS ndcg5
         |  FROM ${p}m m LEFT JOIN nrel n USING (query_id)
         |  LEFT JOIN ideal i USING (query_id))""".stripMargin
    }.mkString(",\n")
    val rows = points.map { case ((k1, _, b, _), i) =>
      val p = s"p$i"
      s"""  SELECT CAST($k1 AS DOUBLE) AS k1, CAST($b AS DOUBLE) AS b,
         |    CAST(count(*) AS BIGINT) AS n_queries,
         |    ${ExactMean.mean4Sql("recall5")} AS recall5,
         |    ${ExactMean.mean4Sql("mrr5")} AS mrr5,
         |    ${ExactMean.mean4Sql("ndcg5")} AS ndcg5
         |  FROM ${p}pq""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $batchBm25BaseCtes,
       |rel AS (
       |  SELECT query_id, doc_id FROM h GROUP BY 1, 2
       |  HAVING count(DISTINCT term) = 3),
       |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1),
       |ideal AS (
       |  SELECT n.query_id, sum(1.0 / ln(i + 1)) AS idcg
       |  FROM nrel n, unnest(range(1, least(n.n_rel, 5) + 1)) AS r(i)
       |  GROUP BY 1),
       |$chains
       |$rows
       |ORDER BY k1, b""".stripMargin
  }

  // the q85 NLL model as a CTE body — q85 certifies it, q126 orders by it
  // the q147 bigram model as a CTE body ending in n2t(doc_id, n_pairs,
  // nll2-rounded) — q147 certifies it, q156's tercile gate builds on it
  private[ops] val nll2Ctes =
    """t2 AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |u2 AS (
      |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
      |  FROM t2, unnest(range(1, len(toks))) AS r(i)
      |  WHERE len(toks) >= 2),
      |tfb AS (SELECT doc_id, a, b, count(*) AS tf FROM u2 GROUP BY 1, 2, 3),
      |bg AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS cab FROM tfb GROUP BY 1, 2),
      |cag AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM bg GROUP BY 1),
      |v2 AS (
      |  SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (
      |    SELECT unnest(toks) AS w FROM t2)),
      |n2t AS (
      |  SELECT tfb.doc_id,
      |    CAST(sum(tfb.tf) AS BIGINT) AS n_pairs,
      |    round(-sum(tfb.tf * ln((bg.cab + 1) / (cag.ca + v2.v))) / sum(tfb.tf), 4) AS nll2
      |  FROM tfb JOIN bg USING (a, b) JOIN cag USING (a) CROSS JOIN v2
      |  GROUP BY 1)""".stripMargin

  /** The q165 KN replay on top of [[nll2Ctes]]'s tfb/bg/cag tables:
    * continuation counts, the Ney-discount 1-row scalar, and the per-doc
    * fold in the engine's exact arithmetic order
    * ((cab − D) + D·n1a·(n1pre/T)) / ca. Shared by q165 and q168. */
  private[ops] val knCtes =
    """n1aa AS (SELECT a, CAST(count(*) AS BIGINT) AS n1a FROM bg GROUP BY 1),
      |pre AS (SELECT b, CAST(count(*) AS BIGINT) AS n1pre FROM bg GROUP BY 1),
      |disc AS (
      |  SELECT CAST(sum(CASE WHEN cab = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(greatest(sum(CASE WHEN cab = 1 THEN 1 ELSE 0 END)
      |          + 2 * sum(CASE WHEN cab = 2 THEN 1 ELSE 0 END), 1) AS BIGINT) AS dd,
      |    CAST(count(*) AS DOUBLE) AS tt
      |  FROM bg),
      |knt AS (
      |  SELECT tfb.doc_id, CAST(sum(tfb.tf) AS BIGINT) AS n_pairs,
      |    round(-sum(tfb.tf * ln(((bg.cab - disc.dd)
      |        + disc.dd * n1aa.n1a * (pre.n1pre / disc.tt)) / cag.ca))
      |      / sum(tfb.tf), 4) AS nll_kn
      |  FROM tfb JOIN bg USING (a, b) JOIN cag USING (a)
      |    JOIN n1aa USING (a) JOIN pre USING (b) CROSS JOIN disc
      |  GROUP BY 1)""".stripMargin

  /** The q176 trigram-KN replay on top of [[nll2Ctes]]'s bg/cag tables
    * and [[knCtes]]'s n1aa/pre/disc: P_KN2 as a (b, c, p2) projection in
    * the q165 arithmetic order, then the trigram fold, contexts, the D3
    * scalar, and the per-doc order-3 fold — engine expression structure
    * mirrored term for term. Shared by q176 and q177. */
  private[ops] val kn3Ctes =
    """p2 AS (
      |  SELECT bg.a AS b, bg.b AS c,
      |    ((bg.cab - disc.dd) + disc.dd * n1aa.n1a * (pre.n1pre / disc.tt)) / cag.ca AS p2
      |  FROM bg JOIN cag USING (a) JOIN n1aa USING (a) JOIN pre USING (b) CROSS JOIN disc),
      |u3 AS (
      |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b, toks[i + 2] AS c
      |  FROM t2, unnest(range(1, len(toks) - 1)) AS r(i)
      |  WHERE len(toks) >= 3),
      |tft AS (SELECT doc_id, a, b, c, count(*) AS tf FROM u3 GROUP BY 1, 2, 3, 4),
      |tg AS (SELECT a, b, c, CAST(sum(tf) AS BIGINT) AS cabc FROM tft GROUP BY 1, 2, 3),
      |ctx3 AS (SELECT a, b, CAST(sum(cabc) AS BIGINT) AS cab2,
      |                CAST(count(*) AS BIGINT) AS n1ab FROM tg GROUP BY 1, 2),
      |disc3 AS (
      |  SELECT CAST(sum(CASE WHEN cabc = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(greatest(sum(CASE WHEN cabc = 1 THEN 1 ELSE 0 END)
      |          + 2 * sum(CASE WHEN cabc = 2 THEN 1 ELSE 0 END), 1) AS BIGINT) AS dd3
      |  FROM tg),
      |kn3t AS (
      |  SELECT tft.doc_id, CAST(sum(tft.tf) AS BIGINT) AS n_tri,
      |    round(-sum(tft.tf * ln(((tg.cabc - disc3.dd3)
      |        + disc3.dd3 * ctx3.n1ab * p2.p2) / ctx3.cab2))
      |      / sum(tft.tf), 4) AS nll_kn3
      |  FROM tft JOIN tg USING (a, b, c) JOIN ctx3 USING (a, b)
      |    JOIN p2 USING (b, c) CROSS JOIN disc3
      |  GROUP BY 1)""".stripMargin

  private val nllCtes =
    s"""toks AS (
       |  SELECT doc_id, unnest($tokCol) AS term FROM documents),
       |tfq AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |uni AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ct FROM tfq GROUP BY 1),
       |tot AS (SELECT CAST(sum(ct) AS DOUBLE) AS total FROM uni),
       |nllt AS (
       |  SELECT tfq.doc_id, CAST(sum(tfq.tf) AS BIGINT) AS n_toks,
       |    round(-sum(tfq.tf * ln(uni.ct / tot.total)) / sum(tfq.tf), 4) AS nll
       |  FROM tfq JOIN uni USING (term) CROSS JOIN tot GROUP BY 1)""".stripMargin

  /** The q185/q186 oracle body, parameterized only by the grouping key
    * (the waterfillSql precedent: one SQL definition per kernel pair so
    * the two certifications cannot desync). */
  /** The shared flag-scan CTE prefix (through `fl`) of the q185/q186/
    * q190 oracles — one definition of the three gate predicates. */
  private def gateFlagsCtes: String =
    s"""WITH $nll2Ctes,
       |c AS (
       |  SELECT percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2) AS c2
       |  FROM n2t),
       |tg AS (
       |  SELECT doc_id, source, text,
       |    string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks,
       |    trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
       |  FROM documents),
       |fl AS (
       |  SELECT tg.source, CAST(len(toks) AS BIGINT) AS n_tok,
       |    CASE WHEN len(toks) BETWEEN 30 AND 90
       |      AND round(length(replace(norm, ' ', '')) * 1.0 / len(toks), 4)
       |        BETWEEN 3 AND 10
       |      AND CAST(list_contains(toks, 'the') AS BIGINT)
       |        + CAST(list_contains(toks, 'a') AS BIGINT)
       |        + CAST(list_contains(toks, 'of') AS BIGINT) >= 1
       |      AND round((length(text) - length(replace(text, '#', ''))) * 1.0
       |        / len(toks), 4) <= 0.1 THEN 1 ELSE 0 END AS rule,
       |    CAST(w.w_tokens * len(toks) + w.w_tokens2 * len(toks) * len(toks)
       |      + w.w_wlen * round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks), 4)
       |      + w.w_stop * round(CAST(len(list_filter(toks,
       |          x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE) / len(toks), 4)
       |      + w.bias > 0 AS BIGINT) AS clf,
       |    CAST(n.nll2 IS NULL OR n.nll2 <= c.c2 AS BIGINT) AS ppl
       |  FROM tg LEFT JOIN n2t n USING (doc_id) CROSS JOIN c
       |    CROSS JOIN read_parquet('{GRAFT_OUT}_support/q101_support_weights/*.parquet') w)""".stripMargin

  private def gateAgreementSql(bySource: Boolean): String = {
    val key = if (bySource) "source, " else ""
    val grp = if (bySource) "\n  GROUP BY source" else ""
    val ord = if (bySource) "source, pair" else "pair"
    s"""$gateFlagsCtes,
       |a AS (
       |  SELECT ${key}CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(rule) AS BIGINT) AS kr, CAST(sum(clf) AS BIGINT) AS kc,
       |    CAST(sum(ppl) AS BIGINT) AS kp,
       |    CAST(sum(CASE WHEN rule = clf THEN 1 ELSE 0 END) AS BIGINT) AS a_rc,
       |    CAST(sum(CASE WHEN rule = ppl THEN 1 ELSE 0 END) AS BIGINT) AS a_rp,
       |    CAST(sum(CASE WHEN clf = ppl THEN 1 ELSE 0 END) AS BIGINT) AS a_cp
       |  FROM fl$grp),
       |p AS (
       |  SELECT ${key}'clf_ppl' AS pair, n, kc AS keep_a, kp AS keep_b, a_cp AS agree FROM a
       |  UNION ALL SELECT ${key}'rule_clf', n, kr, kc, a_rc FROM a
       |  UNION ALL SELECT ${key}'rule_ppl', n, kr, kp, a_rp FROM a),
       |k AS (
       |  SELECT ${key}pair, n, keep_a, keep_b, agree,
       |    CAST(keep_a AS HUGEINT) * keep_b
       |      + CAST(n - keep_a AS HUGEINT) * (n - keep_b) AS pe_num
       |  FROM p)
       |SELECT ${key}pair, n AS n_docs, keep_a, keep_b, agree,
       |  CASE WHEN CAST(n AS HUGEINT) * n - pe_num = 0 THEN 1.0
       |    ELSE round(CAST(CAST(agree AS HUGEINT) * n - pe_num AS DOUBLE)
       |      / CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE), 4) END AS kappa
       |FROM k ORDER BY $ord""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "q82_bloom_decontam" ->
      s"""WITH t AS (
         |  SELECT doc_id, $tokCol AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
         |     for i in range(1, len(toks) - 3)])) AS g
         |  FROM t WHERE len(toks) >= 5),
         |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id < 50)
         |SELECT sh.doc_id, count(*) AS n_hits
         |FROM sh JOIN ev ON sh.g = ev.g
         |WHERE sh.doc_id >= 50 GROUP BY 1 ORDER BY 1""".stripMargin,
    // probes recomputed from the exported filter table with the same
    // md5 double-hashing arithmetic; theory constants are the SAME
    // formatted literals the engine column carries
    "q224_bloom_sizing_sweep" -> {
      val cfgRows = SweepBloomCfgs.map { case (b, k) =>
        s"(CAST($b AS BIGINT), CAST($k AS BIGINT), ${bloomTheoryFpp(b, k)})"
      }.mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, $tokCol AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
         |     for i in range(1, len(toks) - 3)])) AS g
         |  FROM t WHERE len(toks) >= 5),
         |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id < 50),
         |tr AS (SELECT DISTINCT g FROM sh WHERE doc_id >= 50),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_eval FROM ev),
         |cfg(bpk, k, fp_theory) AS (VALUES $cfgRows),
         |f AS (SELECT bpk, k, pos
         |      FROM read_parquet('{GRAFT_OUT}_support/q224_support_bloom/*.parquet')),
         |pr0 AS (
         |  SELECT c.bpk, c.k, n.n_eval * c.bpk AS m, tr.g,
         |    ('0x' || substr(md5(tr.g), 1, 13))::BIGINT AS h1,
         |    ('0x' || substr(md5(tr.g), 14, 13))::BIGINT AS h2,
         |    unnest(range(0, c.k)) AS i
         |  FROM tr CROSS JOIN cfg c CROSS JOIN n),
         |pr AS (
         |  SELECT bpk, k, g,
         |    ((h1 % m) + i * ((h2 % (m - 1)) + 1)) % m AS pos
         |  FROM pr0),
         |admg AS (
         |  SELECT pr.bpk, pr.k, pr.g
         |  FROM pr LEFT JOIN f ON f.bpk = pr.bpk AND f.k = pr.k AND f.pos = pr.pos
         |  GROUP BY 1, 2, 3
         |  HAVING min(CASE WHEN f.pos IS NULL THEN 0 ELSE 1 END) = 1),
         |admc AS (SELECT bpk, k, CAST(count(*) AS BIGINT) AS n_admit
         |         FROM admg GROUP BY 1, 2),
         |tru AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tr JOIN ev USING (g)),
         |np AS (SELECT CAST(count(*) AS BIGINT) AS n_probe FROM tr)
         |SELECT c.bpk AS bits_per_key, c.k AS k, n.n_eval * c.bpk AS m_bits,
         |  np.n_probe, tru.n_true, a.n_admit,
         |  a.n_admit - tru.n_true AS n_fp,
         |  round(CAST(a.n_admit - tru.n_true AS DOUBLE) /
         |        (np.n_probe - tru.n_true), 4) AS fp_rate,
         |  c.fp_theory
         |FROM cfg c
         |JOIN admc a ON a.bpk = c.bpk AND a.k = c.k
         |CROSS JOIN n CROSS JOIN tru CROSS JOIN np
         |ORDER BY bits_per_key, k""".stripMargin
    },
    "q83_weighted_mix" ->
      s"""WITH w AS (
         |  SELECT doc_id, source, len($tokCol) AS ntoks,
         |    CAST(substr(source, 4) AS INT) % 4 AS grp,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, ntoks,
         |    CASE grp WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END
         |      + CASE WHEN h2 < (CASE grp WHEN 0 THEN '80' WHEN 2 THEN '40' ELSE '00' END)
         |             THEN 1 ELSE 0 END AS n_copies
         |  FROM w)
         |SELECT source, count(*) AS docs_kept,
         |  CAST(sum(n_copies) AS BIGINT) AS rows_out,
         |  CAST(sum(n_copies * ntoks) AS BIGINT) AS tokens_out
         |FROM c WHERE n_copies > 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q84_bm25" -> bm25Sql,
    // identical result contract: the index round-trip must reproduce the
    // inline scorer exactly, so the same oracle certifies both
    "q93_bm25_indexed" -> bm25Sql,
    "q85_perplexity" ->
      s"""WITH $nllCtes
         |SELECT doc_id, n_toks, nll FROM nllt ORDER BY doc_id""".stripMargin,
    // the bigram model recomputed end-to-end: per-doc adjacent-pair term
    // frequencies -> global bigram counts -> left-context totals ->
    // add-1-over-V fold, identical arithmetic order to the engine
    "q147_bigram_perplexity" ->
      s"""WITH $nll2Ctes
        |SELECT doc_id, n_pairs, nll2 FROM n2t ORDER BY doc_id""".stripMargin,
    // q135's tercile arithmetic over the recomputed bigram table
    "q156_bigram_buckets" ->
      s"""WITH $nll2Ctes,
        |c AS (
        |  SELECT percentile_disc(0.33333333) WITHIN GROUP (ORDER BY nll2) AS c1,
        |    percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2) AS c2
        |  FROM n2t),
        |b AS (
        |  SELECT CASE WHEN nll2 <= c1 THEN 'head'
        |              WHEN nll2 <= c2 THEN 'middle'
        |              ELSE 'tail' END AS bucket, n_pairs, nll2
        |  FROM n2t CROSS JOIN c)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
        |  round(min(nll2), 4) AS min_nll2, round(max(nll2), 4) AS max_nll2
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // the q156 cut over the recomputed bigram table, accounted per
    // source: LEFT join keeps unscored (< 2 token) docs as pass-through
    "q157_ppl_gate_funnel" ->
      s"""WITH $nll2Ctes,
        |c AS (
        |  SELECT percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2) AS c2
        |  FROM n2t),
        |j AS (
        |  SELECT d.source, n.nll2,
        |    (n.nll2 IS NOT NULL AND n.nll2 > c.c2) AS dropped
        |  FROM documents d LEFT JOIN n2t n USING (doc_id) CROSS JOIN c)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nll2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
        |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  ${ExactMean.mean4Sql("CASE WHEN NOT dropped AND nll2 IS NOT NULL THEN nll2 END")} AS nll_kept,
        |  ${ExactMean.mean4Sql("CASE WHEN dropped THEN nll2 END")} AS nll_dropped
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q97 rule CASE (default config) + the q101 margin from the
    // support weights + the nll2 tercile flag, folded to count rows
    // (global for q185, per source for q186 — ONE builder, mirroring
    // the shared engine kernels), pair rows by UNION ALL, κ from exact
    // HUGEINT products with one final double division (den = 0 pins
    // κ = 1)
    "q185_gate_agreement" -> gateAgreementSql(bySource = false),
    "q186_gate_agreement_by_source" -> gateAgreementSql(bySource = true),
    // the shared flag CTEs + the 8-cell integer fold
    "q190_gate_venn" -> (gateFlagsCtes +
      """
        |SELECT rule, clf, ppl, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM fl GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // the bigram replay with a train/test split: model tables from the
    // ~75 % train split (md5 prefix >= '4'; prefix < '4' ~ 25 % is the
    // test split), both splits scored with the same add-1 fold (LEFT
    // joins default unseen counts to 0), per-doc round then exact mean
    "q163_heldout_ppl" -> (
      """WITH t2 AS (
        |  SELECT doc_id, source,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS is_test,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |u2 AS (
        |  SELECT doc_id, source, is_test, toks[i] AS a, toks[i + 1] AS b
        |  FROM t2, unnest(range(1, len(toks))) AS r(i)
        |  WHERE len(toks) >= 2),
        |tfb AS (SELECT doc_id, source, is_test, a, b, count(*) AS tf
        |        FROM u2 GROUP BY 1, 2, 3, 4, 5),
        |bg AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS cab
        |       FROM tfb WHERE NOT is_test GROUP BY 1, 2),
        |cag AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM bg GROUP BY 1),
        |v2 AS (
        |  SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (
        |    SELECT unnest(toks) AS w FROM t2 WHERE NOT is_test)),
        |pd AS (
        |  SELECT tfb.doc_id, tfb.source, tfb.is_test,
        |    round(-sum(tfb.tf *
        |        ln((coalesce(bg.cab, 0) + 1) / (coalesce(cag.ca, 0) + v2.v))) /
        |      sum(tfb.tf), 4) AS nll2
        |  FROM tfb LEFT JOIN bg USING (a, b) LEFT JOIN cag USING (a) CROSS JOIN v2
        |  GROUP BY 1, 2, 3)
        |SELECT source,
        |  CAST(sum(CASE WHEN is_test THEN 0 ELSE 1 END) AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        |""".stripMargin +
      s"  ${ExactMean.mean4Sql("CASE WHEN NOT is_test THEN nll2 END")} AS nll_train,\n" +
      s"  ${ExactMean.mean4Sql("CASE WHEN is_test THEN nll2 END")} AS nll_test,\n" +
      s"  round(${ExactMean.mean4Sql("CASE WHEN is_test THEN nll2 END")}\n" +
      s"    - ${ExactMean.mean4Sql("CASE WHEN NOT is_test THEN nll2 END")}, 4) AS gap\n" +
      "FROM pd GROUP BY 1 ORDER BY 1"),
    // the KN model recomputed end-to-end from the shared bigram CTEs:
    // context totals + continuation counts + the Ney discount 1-row
    // scalar, folded in the engine's exact arithmetic order
    // ((cab − D) + D·n1a·(n1pre/T)) / ca
    "q165_kn_perplexity" ->
      s"""WITH $nll2Ctes,
        |$knCtes
        |SELECT doc_id, n_pairs, nll_kn FROM knt ORDER BY doc_id""".stripMargin,
    "q176_kn3_perplexity" ->
      s"""WITH $nll2Ctes,
        |$knCtes,
        |$kn3Ctes
        |SELECT doc_id, n_tri, nll_kn3 FROM kn3t ORDER BY doc_id""".stripMargin,
    // N per-source add-1 models + the global model, all recomputed from
    // one source-carried pair fold; per-doc scores under both, exact
    // means and the exact-1e-4 gap per source
    "q179_source_lm_specificity" ->
      s"""WITH td AS (
        |  SELECT doc_id, source,
        |    string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |us AS (
        |  SELECT doc_id, source, toks[i] AS a, toks[i + 1] AS b
        |  FROM td, unnest(range(1, len(toks))) AS r(i)
        |  WHERE len(toks) >= 2),
        |tfbs AS (SELECT doc_id, source, a, b, count(*) AS tf FROM us GROUP BY 1, 2, 3, 4),
        |bgs AS (SELECT source, a, b, CAST(sum(tf) AS BIGINT) AS cab_s FROM tfbs GROUP BY 1, 2, 3),
        |cas AS (SELECT source, a, CAST(sum(cab_s) AS BIGINT) AS ca_s FROM bgs GROUP BY 1, 2),
        |vsrc AS (
        |  SELECT source, CAST(count(DISTINCT w) AS DOUBLE) AS v_s FROM (
        |    SELECT source, unnest(toks) AS w FROM td) GROUP BY 1),
        |bg2 AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS cab FROM tfbs GROUP BY 1, 2),
        |cag2 AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM bg2 GROUP BY 1),
        |vg AS (
        |  SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (
        |    SELECT unnest(toks) AS w FROM td)),
        |per AS (
        |  SELECT tfbs.doc_id, tfbs.source,
        |    round(-sum(tfbs.tf * ln((bgs.cab_s + 1) / (cas.ca_s + vsrc.v_s)))
        |      / sum(tfbs.tf), 4) AS nll_own,
        |    round(-sum(tfbs.tf * ln((bg2.cab + 1) / (cag2.ca + vg.v)))
        |      / sum(tfbs.tf), 4) AS nll_glob
        |  FROM tfbs JOIN bgs USING (source, a, b) JOIN cas USING (source, a)
        |    JOIN vsrc USING (source) JOIN bg2 USING (a, b) JOIN cag2 USING (a)
        |    CROSS JOIN vg
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_scored,
        |  ${ExactMean.mean4Sql("nll_own")} AS nll_own,
        |  ${ExactMean.mean4Sql("nll_glob")} AS nll_glob,
        |  ${ExactMean.mean4Sql("nll_glob - nll_own")} AS specificity
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    // the two memoized score tables recomputed, KN2 restricted to the
    // trigram-scored population, exact means of rounded-4 scores and of
    // their (exact-multiple-of-1e-4) per-doc differences
    "q177_order_ladder" ->
      s"""WITH $nll2Ctes,
        |$knCtes,
        |$kn3Ctes
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN k3.nll_kn3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_scored,
        |  ${ExactMean.mean4Sql("CASE WHEN k3.nll_kn3 IS NOT NULL THEN k2.nll_kn END")} AS nll_kn2,
        |  ${ExactMean.mean4Sql("k3.nll_kn3")} AS nll3,
        |  ${ExactMean.mean4Sql("CASE WHEN k3.nll_kn3 IS NOT NULL THEN k2.nll_kn - k3.nll_kn3 END")} AS order_gain
        |FROM documents d
        |LEFT JOIN knt k2 USING (doc_id)
        |LEFT JOIN kn3t k3 USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // self-contained held-out family (suffix h): fit CTEs on the train
    // half (the kn3Ctes arithmetic), test folds served through the FULL
    // degradation ladders of the joined gate — p2h is the P_KN2
    // projection over the test (b, c) pairs, s3h the guarded
    // interpolation, s2h the KN2-with-add-1-fallback tier
    "q206_heldout_ladder" ->
      s"""WITH tdh AS (
        |  SELECT doc_id, source,
        |    string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS is_test
        |  FROM documents),
        |u2h AS (
        |  SELECT doc_id, is_test, toks[i] AS a, toks[i + 1] AS b
        |  FROM tdh, unnest(range(1, len(toks))) AS r(i)
        |  WHERE len(toks) >= 2),
        |bgh AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab
        |        FROM u2h WHERE NOT is_test GROUP BY 1, 2),
        |ctxh AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca,
        |                CAST(count(*) AS BIGINT) AS n1a FROM bgh GROUP BY 1),
        |preh AS (SELECT b, CAST(count(*) AS BIGINT) AS n1pre FROM bgh GROUP BY 1),
        |disch AS (
        |  SELECT CAST(sum(CASE WHEN cab = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / greatest(sum(CASE WHEN cab = 1 THEN 1 ELSE 0 END)
        |          + 2 * sum(CASE WHEN cab = 2 THEN 1 ELSE 0 END), 1) AS dd,
        |    CAST(count(*) AS DOUBLE) AS tt
        |  FROM bgh),
        |vth AS (
        |  SELECT CAST(count(DISTINCT tk) AS DOUBLE) AS v
        |  FROM (SELECT unnest(toks) AS tk FROM tdh WHERE NOT is_test)),
        |u3h AS (
        |  SELECT doc_id, is_test, toks[i] AS a, toks[i + 1] AS b, toks[i + 2] AS c
        |  FROM tdh, unnest(range(1, len(toks) - 1)) AS r(i)
        |  WHERE len(toks) >= 3),
        |tgh AS (SELECT a, b, c, CAST(count(*) AS BIGINT) AS cabc
        |        FROM u3h WHERE NOT is_test GROUP BY 1, 2, 3),
        |ctx3h AS (SELECT a, b, CAST(sum(cabc) AS BIGINT) AS cab2,
        |                 CAST(count(*) AS BIGINT) AS n1ab FROM tgh GROUP BY 1, 2),
        |disc3h AS (
        |  SELECT CAST(sum(CASE WHEN cabc = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / greatest(sum(CASE WHEN cabc = 1 THEN 1 ELSE 0 END)
        |          + 2 * sum(CASE WHEN cabc = 2 THEN 1 ELSE 0 END), 1) AS dd3
        |  FROM tgh),
        |tf2h AS (SELECT doc_id, a, b, count(*) AS tf
        |         FROM u2h WHERE is_test GROUP BY 1, 2, 3),
        |tf3h AS (SELECT doc_id, a, b, c, count(*) AS tf
        |         FROM u3h WHERE is_test GROUP BY 1, 2, 3, 4),
        |s2h AS (
        |  SELECT tf2h.doc_id,
        |    round(-sum(tf * CASE WHEN bgh.cab IS NOT NULL
        |        THEN ln(((bgh.cab - disch.dd)
        |          + disch.dd * ctxh.n1a * (preh.n1pre / disch.tt)) / ctxh.ca)
        |        ELSE ln((coalesce(bgh.cab, 0) + 1)
        |          / (coalesce(ctxh.ca, 0) + vth.v)) END)
        |      / sum(tf), 4) AS nll_kn2h
        |  FROM tf2h
        |  LEFT JOIN bgh USING (a, b)
        |  LEFT JOIN ctxh USING (a)
        |  LEFT JOIN preh USING (b)
        |  CROSS JOIN disch CROSS JOIN vth
        |  GROUP BY 1),
        |p2h AS (
        |  SELECT p.b, p.c,
        |    CASE WHEN b2.cbc IS NOT NULL
        |      THEN ((b2.cbc - disch.dd)
        |        + disch.dd * c2.n1b * (p2.n1pre2 / disch.tt)) / c2.cb
        |      ELSE (coalesce(b2.cbc, 0) + 1)
        |        / (coalesce(c2.cb, 0) + vth.v) END AS p2v
        |  FROM (SELECT DISTINCT b, c FROM tf3h) p
        |  LEFT JOIN (SELECT a AS b, b AS c, cab AS cbc FROM bgh) b2 USING (b, c)
        |  LEFT JOIN (SELECT a AS b, ca AS cb, n1a AS n1b FROM ctxh) c2 USING (b)
        |  LEFT JOIN (SELECT b AS c, n1pre AS n1pre2 FROM preh) p2 USING (c)
        |  CROSS JOIN disch CROSS JOIN vth),
        |s3h AS (
        |  SELECT tf3h.doc_id,
        |    round(-sum(tf * CASE WHEN ctx3h.cab2 IS NOT NULL
        |        AND (greatest(coalesce(tgh.cabc, 0) - disc3h.dd3, 0)
        |          + disc3h.dd3 * ctx3h.n1ab * p2h.p2v) > 0
        |        THEN ln((greatest(coalesce(tgh.cabc, 0) - disc3h.dd3, 0)
        |          + disc3h.dd3 * ctx3h.n1ab * p2h.p2v) / ctx3h.cab2)
        |        ELSE ln(p2h.p2v) END)
        |      / sum(tf), 4) AS nll_kn3h
        |  FROM tf3h
        |  LEFT JOIN tgh USING (a, b, c)
        |  LEFT JOIN ctx3h USING (a, b)
        |  JOIN p2h USING (b, c)
        |  CROSS JOIN disc3h
        |  GROUP BY 1)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN s3h.nll_kn3h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_scored,
        |  ${ExactMean.mean4Sql("CASE WHEN s3h.nll_kn3h IS NOT NULL THEN s2h.nll_kn2h END")} AS nll_kn2,
        |  ${ExactMean.mean4Sql("s3h.nll_kn3h")} AS nll_kn3,
        |  ${ExactMean.mean4Sql("CASE WHEN s3h.nll_kn3h IS NOT NULL THEN s2h.nll_kn2h - s3h.nll_kn3h END")} AS order_gain
        |FROM (SELECT doc_id, source FROM tdh WHERE is_test) d
        |LEFT JOIN s2h USING (doc_id)
        |LEFT JOIN s3h USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q173's flip algebra on the (knt, kn3t) pair, flips restricted to
    // the tri-scored population (the q177 same-population discipline)
    "q192_order3_flips" ->
      s"""WITH $nll2Ctes,
        |$knCtes,
        |$kn3Ctes,
        |c2 AS (
        |  SELECT percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn) AS c2k
        |  FROM knt),
        |c3 AS (
        |  SELECT percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn3) AS c2k3
        |  FROM kn3t),
        |j AS (
        |  SELECT d.source,
        |    k3.nll_kn3 IS NOT NULL AS tri,
        |    (k2.nll_kn IS NOT NULL AND k2.nll_kn > c2.c2k) AS drop2,
        |    (k3.nll_kn3 IS NOT NULL AND k3.nll_kn3 > c3.c2k3) AS drop3
        |  FROM documents d
        |  LEFT JOIN knt k2 USING (doc_id)
        |  LEFT JOIN kn3t k3 USING (doc_id)
        |  CROSS JOIN c2 CROSS JOIN c3)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN tri THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_scored,
        |  CAST(sum(CASE WHEN tri AND drop2 AND NOT drop3 THEN 1 ELSE 0 END) AS BIGINT) AS kn3_rescues,
        |  CAST(sum(CASE WHEN tri AND NOT drop2 AND drop3 THEN 1 ELSE 0 END) AS BIGINT) AS kn3_drops,
        |  ${ExactMean.mean4Sql("CASE WHEN tri THEN CASE WHEN drop2 != drop3 THEN 1.0 ELSE 0.0 END END")} AS flip_rate
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q157 funnel algebra verbatim with the cut and the averages on
    // the recomputed KN scores
    "q171_kn_gate_funnel" ->
      s"""WITH $nll2Ctes,
        |$knCtes,
        |c AS (
        |  SELECT percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn) AS c2
        |  FROM knt),
        |j AS (
        |  SELECT d.source, n.nll_kn,
        |    (n.nll_kn IS NOT NULL AND n.nll_kn > c.c2) AS dropped
        |  FROM documents d LEFT JOIN knt n USING (doc_id) CROSS JOIN c)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nll_kn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
        |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  ${ExactMean.mean4Sql("CASE WHEN NOT dropped AND nll_kn IS NOT NULL THEN nll_kn END")} AS nll_kept,
        |  ${ExactMean.mean4Sql("CASE WHEN dropped THEN nll_kn END")} AS nll_dropped
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q204_ppl_cut_sweep" ->
      s"""WITH $nll2Ctes,
        |c AS (
        |  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY nll2) AS c50,
        |    percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2) AS c67,
        |    percentile_disc(0.8) WITHIN GROUP (ORDER BY nll2) AS c80
        |  FROM n2t),
        |x AS (
        |  SELECT CAST(50 AS BIGINT) AS cut_pct, c50 AS cut FROM c
        |  UNION ALL SELECT 67, c67 FROM c
        |  UNION ALL SELECT 80, c80 FROM c)
        |SELECT cut_pct, cut, CAST(count(*) AS BIGINT) AS n_scored,
        |  CAST(sum(CASE WHEN nll2 > cut THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  ${ExactMean.mean4Sql("CASE WHEN nll2 <= cut THEN nll2 END")} AS nll_kept
        |FROM n2t CROSS JOIN x GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q202_collocations" ->
      """WITH td AS (
        |  SELECT source, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |u AS (
        |  SELECT source, toks[i] AS a, toks[i + 1] AS b
        |  FROM td, unnest(range(1, len(toks))) AS r(i)
        |  WHERE len(toks) >= 2),
        |bs AS (SELECT source, a, b, CAST(count(*) AS BIGINT) AS n_ab FROM u GROUP BY 1, 2, 3),
        |na AS (SELECT source, a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM bs GROUP BY 1, 2),
        |nb AS (SELECT source, b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM bs GROUP BY 1, 2),
        |tt AS (SELECT source, CAST(sum(n_ab) AS BIGINT) AS t FROM bs GROUP BY 1),
        |sc AS (
        |  SELECT bs.source, a, b, n_ab,
        |    round(ln((CAST(n_ab AS DOUBLE) * CAST(t AS DOUBLE)) /
        |      (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 4) AS pmi
        |  FROM bs JOIN na USING (source, a) JOIN nb USING (source, b)
        |    JOIN tt USING (source)
        |  WHERE n_ab >= 5),
        |r AS (
        |  SELECT source, a, b, n_ab, pmi,
        |    row_number() OVER (PARTITION BY source ORDER BY pmi DESC, a, b) AS rn
        |  FROM sc)
        |SELECT source, a, b, n_ab, pmi FROM r WHERE rn <= 10
        |ORDER BY source, pmi DESC, a, b""".stripMargin,
    "q194_kn3_gate_funnel" ->
      s"""WITH $nll2Ctes,
        |$knCtes,
        |$kn3Ctes,
        |c AS (
        |  SELECT percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn3) AS c2
        |  FROM kn3t),
        |j AS (
        |  SELECT d.source, n.nll_kn3,
        |    (n.nll_kn3 IS NOT NULL AND n.nll_kn3 > c.c2) AS dropped
        |  FROM documents d LEFT JOIN kn3t n USING (doc_id) CROSS JOIN c)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nll_kn3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
        |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  ${ExactMean.mean4Sql("CASE WHEN NOT dropped AND nll_kn3 IS NOT NULL THEN nll_kn3 END")} AS nll_kept,
        |  ${ExactMean.mean4Sql("CASE WHEN dropped THEN nll_kn3 END")} AS nll_dropped
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // the two tier cuts side by side over the recomputed score tables;
    // flip accounting per source (the scored set is identical for both
    // tiers — the same >= 2-token fold feeds both models)
    "q173_tier_flips" ->
      s"""WITH $nll2Ctes,
        |$knCtes,
        |ca AS (
        |  SELECT percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2) AS c2a
        |  FROM n2t),
        |ck AS (
        |  SELECT percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll_kn) AS c2k
        |  FROM knt),
        |j AS (
        |  SELECT d.source,
        |    n.nll2 IS NOT NULL AS scored,
        |    (n.nll2 IS NOT NULL AND n.nll2 > ca.c2a) AS drop_a,
        |    (k.nll_kn IS NOT NULL AND k.nll_kn > ck.c2k) AS drop_k
        |  FROM documents d
        |  LEFT JOIN n2t n USING (doc_id)
        |  LEFT JOIN knt k USING (doc_id)
        |  CROSS JOIN ca CROSS JOIN ck)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN scored THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
        |  CAST(sum(CASE WHEN drop_a AND NOT drop_k THEN 1 ELSE 0 END) AS BIGINT) AS kn_rescues,
        |  CAST(sum(CASE WHEN NOT drop_a AND drop_k THEN 1 ELSE 0 END) AS BIGINT) AS kn_drops,
        |  ${ExactMean.mean4Sql("CASE WHEN scored THEN " +
          "CASE WHEN drop_a != drop_k THEN 1.0 ELSE 0.0 END END")} AS flip_rate
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // all three tiers recomputed in one statement (the nll / nll2 / KN
    // CTE families are disjoint by name), left-joined onto documents so
    // coverage counts include unscorable docs — engine join order
    "q168_lm_ladder" ->
      s"""WITH $nllCtes,
        |$nll2Ctes,
        |$knCtes,
        |j AS (
        |  SELECT d.source, nllt.nll, n2t.nll2, knt.nll_kn
        |  FROM documents d
        |  LEFT JOIN nllt USING (doc_id)
        |  LEFT JOIN n2t USING (doc_id)
        |  LEFT JOIN knt USING (doc_id))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nll IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
        |  CAST(sum(CASE WHEN nll2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
        |  ${ExactMean.mean4Sql("nll")} AS nll_uni,
        |  ${ExactMean.mean4Sql("nll2")} AS nll_add1,
        |  ${ExactMean.mean4Sql("nll_kn")} AS nll_kn,
        |  ${ExactMean.mean4Sql("nll2 - nll_kn")} AS kn_gain
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q126_curriculum" ->
      s"""WITH $nllCtes
         |SELECT row_number() OVER (
         |    ORDER BY nll DESC, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         |  ) AS pos, doc_id, nll
         |FROM nllt ORDER BY pos""".stripMargin,
    "q125_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
         |lex_s AS ($bm25Select),
         |lex AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank FROM lex_s),
         |qv AS (SELECT list(v ORDER BY pos) AS q
         |  FROM read_parquet('{GRAFT_OUT}_support/q125_support_qvec/*.parquet')),
         |den_s AS (
         |  SELECT doc_id, round(
         |      list_sum([CAST(embedding[i] AS DOUBLE) * q[i]
         |                for i in range(1, len(embedding) + 1)]) /
         |      (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding]))
         |        * sqrt(list_sum([y * y for y in q]))), 4) AS cos
         |  FROM read_parquet('{GRAFT_OUT}_support/q94_support_features/*.parquet'), qv
         |  ORDER BY cos DESC, doc_id LIMIT 20),
         |den AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY cos DESC, doc_id) AS dense_rank FROM den_s)
         |SELECT doc_id, lex_rank, dense_rank,
         |  round(coalesce(1.0 / (60 + lex_rank), 0) + coalesce(1.0 / (60 + dense_rank), 0), 6) AS rrf
         |FROM lex FULL JOIN den USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    // the SERVED hybrid: same lexical text (the q93-certified round trip
    // answers identically to the inline scorer), dense arm replayed
    // through the exported doc-IVF layout — unit-space routing (REAL cast
    // per element, the engine's float unit()), squared-L2 probe ranking
    // with cell tiebreak, pruned member set, raw-vector cosine rank —
    // the annRankedCtes discipline over the q128 exports
    "q128_hybrid_served" ->
      s"""WITH $bm25Ctes,
         |lex_s AS ($bm25Select),
         |lex AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank FROM lex_s),
         |qv AS (SELECT list(v ORDER BY pos) AS q
         |  FROM read_parquet('{GRAFT_OUT}_support/q125_support_qvec/*.parquet')),
         |qn2 AS (SELECT sqrt(list_sum([y * y for y in q])) AS qnrm FROM qv),
         |uq AS (SELECT [CAST(y / qnrm AS REAL) for y in q] AS uv FROM qv, qn2),
         |cen AS (SELECT cell, centroid
         |  FROM read_parquet('{GRAFT_OUT}_support/q128_support_centroids/*.parquet')),
         |probes AS (
         |  SELECT cell FROM (
         |    SELECT cen.cell, row_number() OVER (ORDER BY
         |      list_sum([(CAST(uv[i] AS DOUBLE) - centroid[i]) *
         |                (CAST(uv[i] AS DOUBLE) - centroid[i])
         |                for i in range(1, len(centroid) + 1)]), cen.cell) AS prn
         |    FROM uq CROSS JOIN cen)
         |  WHERE prn <= $DocServeNProbe),
         |mem AS (
         |  SELECT DISTINCT m.doc_id
         |  FROM read_parquet('{GRAFT_OUT}_support/q128_support_cells/*.parquet') m
         |  JOIN probes USING (cell)),
         |scored AS (
         |  SELECT e.doc_id,
         |    list_sum([CAST(e.embedding[i] AS DOUBLE) * q[i]
         |              for i in range(1, len(e.embedding) + 1)]) /
         |      (qnrm * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
         |                             for x in e.embedding]))) AS cos_raw
         |  FROM mem
         |  JOIN read_parquet('{GRAFT_OUT}_support/q94_support_features/*.parquet') e
         |    USING (doc_id)
         |  CROSS JOIN qv CROSS JOIN qn2),
         |den_s AS (
         |  SELECT doc_id, cos_raw FROM scored WHERE NOT isnan(cos_raw)
         |  ORDER BY cos_raw DESC, doc_id LIMIT 20),
         |den AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY cos_raw DESC, doc_id) AS dense_rank FROM den_s)
         |SELECT doc_id, lex_rank, dense_rank,
         |  round(coalesce(1.0 / (60 + lex_rank), 0) + coalesce(1.0 / (60 + dense_rank), 0), 6) AS rrf
         |FROM lex FULL JOIN den USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "q131_batched_bm25" ->
      s"""WITH $batchBm25Ctes,
         |top AS (
         |  SELECT query_id, doc_id, bm25, row_number() OVER (
         |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
         |  FROM sc)
         |SELECT query_id, doc_id, bm25 FROM top WHERE rn <= 5
         |ORDER BY query_id, bm25 DESC, doc_id""".stripMargin,
    // q131's ranking CTEs + the conjunctive pseudo-qrel (all 3 query
    // terms present) + textbook rank folds; nDCG's natural-log base
    // cancels in the dcg/idcg ratio on both engines identically
    "q218_bm25_param_sweep" -> bm25ParamSweepSql,
    "q138_retrieval_metrics" ->
      s"""WITH $batchBm25Ctes,
         |top AS (
         |  SELECT query_id, doc_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
         |  FROM sc),
         |t5 AS (SELECT * FROM top WHERE rn <= 5),
         |rel AS (
         |  SELECT query_id, doc_id FROM h GROUP BY 1, 2
         |  HAVING count(DISTINCT term) = 3),
         |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1),
         |graded AS (
         |  SELECT t5.query_id, t5.rn,
         |    CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS isrel
         |  FROM t5 LEFT JOIN rel
         |    ON rel.query_id = t5.query_id AND rel.doc_id = t5.doc_id),
         |m AS (
         |  SELECT query_id,
         |    CAST(sum(isrel) AS BIGINT) AS hits5,
         |    coalesce(min(CASE WHEN isrel = 1 THEN rn END), 0) AS frank,
         |    sum(isrel / ln(rn + 1)) AS dcg
         |  FROM graded GROUP BY 1),
         |ideal AS (
         |  SELECT n.query_id, sum(1.0 / ln(i + 1)) AS idcg
         |  FROM nrel n, unnest(range(1, least(n.n_rel, 5) + 1)) AS r(i)
         |  GROUP BY 1)
         |SELECT m.query_id, CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel, m.hits5,
         |  round(coalesce(m.hits5 / n.n_rel, 0.0), 4) AS recall5,
         |  round(CASE WHEN m.frank = 0 THEN 0.0 ELSE 1.0 / m.frank END, 4) AS mrr5,
         |  round(coalesce(m.dcg / i.idcg, 0.0), 4) AS ndcg5
         |FROM m LEFT JOIN nrel n USING (query_id) LEFT JOIN ideal i USING (query_id)
         |ORDER BY m.query_id""".stripMargin,
    // batch hybrid: q131's lexical text + the q128 dense-replay discipline
    // PER QUERY (routing partitioned by query_id), RRF per (query, doc)
    "q132_hybrid_batch" ->
      s"""WITH $batchBm25Ctes,
         |lexr AS (
         |  SELECT query_id, doc_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS lex_rank
         |  FROM sc),
         |lex AS (SELECT * FROM lexr WHERE lex_rank <= 5),
         |qe AS (SELECT query_id, emb
         |  FROM read_parquet('{GRAFT_OUT}_support/q132_support_qembs/*.parquet')),
         |qn2 AS (SELECT query_id, sqrt(list_sum([y * y for y in emb])) AS qnrm FROM qe),
         |uq AS (
         |  SELECT qe.query_id, [CAST(y / qnrm AS REAL) for y in emb] AS uv
         |  FROM qe JOIN qn2 USING (query_id)),
         |cen AS (SELECT cell, centroid
         |  FROM read_parquet('{GRAFT_OUT}_support/q128_support_centroids/*.parquet')),
         |probes AS (
         |  SELECT query_id, cell FROM (
         |    SELECT uq.query_id, cen.cell, row_number() OVER (
         |      PARTITION BY uq.query_id ORDER BY
         |        list_sum([(CAST(uv[i] AS DOUBLE) - centroid[i]) *
         |                  (CAST(uv[i] AS DOUBLE) - centroid[i])
         |                  for i in range(1, len(centroid) + 1)]), cen.cell) AS prn
         |    FROM uq CROSS JOIN cen)
         |  WHERE prn <= $DocServeNProbe),
         |mem AS (
         |  SELECT DISTINCT p.query_id, m.doc_id
         |  FROM read_parquet('{GRAFT_OUT}_support/q128_support_cells/*.parquet') m
         |  JOIN probes p USING (cell)),
         |scored2 AS (
         |  SELECT mem.query_id, e.doc_id,
         |    list_sum([CAST(e.embedding[i] AS DOUBLE) * qe.emb[i]
         |              for i in range(1, len(e.embedding) + 1)]) /
         |      (qn2.qnrm * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
         |                                 for x in e.embedding]))) AS cos_raw
         |  FROM mem
         |  JOIN read_parquet('{GRAFT_OUT}_support/q94_support_features/*.parquet') e
         |    USING (doc_id)
         |  JOIN qe USING (query_id) JOIN qn2 USING (query_id)),
         |denr AS (
         |  SELECT query_id, doc_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_raw DESC, doc_id) AS dense_rank
         |  FROM scored2 WHERE NOT isnan(cos_raw)),
         |den AS (SELECT * FROM denr WHERE dense_rank <= 5),
         |fused AS (
         |  SELECT coalesce(lex.query_id, den.query_id) AS query_id,
         |    coalesce(lex.doc_id, den.doc_id) AS doc_id, lex_rank, dense_rank,
         |    round(coalesce(1.0 / (60 + lex_rank), 0)
         |      + coalesce(1.0 / (60 + dense_rank), 0), 6) AS rrf
         |  FROM lex FULL JOIN den
         |    ON lex.query_id = den.query_id AND lex.doc_id = den.doc_id),
         |top3 AS (
         |  SELECT query_id, doc_id, lex_rank, dense_rank, rrf, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS fr
         |  FROM fused)
         |SELECT query_id, doc_id, lex_rank, dense_rank, rrf FROM top3 WHERE fr <= 3
         |ORDER BY query_id, rrf DESC, doc_id""".stripMargin,
    "q86_shard_plan" ->
      s"""SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 8 AS shard,
         |  count(*) AS n_docs,
         |  CAST(sum(len($tokCol)) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q85 NLL model + the same percentile_disc cuts (identical
    // constants — the cut is an actual nll element, so both engines pick
    // the same document's score as the boundary)
    "q135_ccnet_buckets" ->
      s"""WITH $nllCtes,
         |c AS (
         |  SELECT percentile_disc(0.33333333) WITHIN GROUP (ORDER BY nll) AS c1,
         |    percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll) AS c2
         |  FROM nllt),
         |b AS (
         |  SELECT CASE WHEN nll <= c1 THEN 'head'
         |              WHEN nll <= c2 THEN 'middle'
         |              ELSE 'tail' END AS bucket, n_toks, nll
         |  FROM nllt CROSS JOIN c)
         |SELECT bucket, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  round(min(nll), 4) AS min_nll, round(max(nll), 4) AS max_nll
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q136_shard_mix" ->
      """WITH a AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 8 AS shard
        |  FROM documents),
        |cell AS (SELECT shard, source, count(*) AS n FROM a GROUP BY 1, 2),
        |tot AS (
        |  SELECT shard, CAST(sum(n) AS BIGINT) AS tot, count(*) AS n_sources
        |  FROM cell GROUP BY 1)
        |SELECT cell.shard, CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(max(n_sources) AS BIGINT) AS n_sources,
        |  round(-sum((n / tot) * ln(n / tot)), 4) AS entropy
        |FROM cell JOIN tot USING (shard)
        |GROUP BY cell.shard ORDER BY cell.shard""".stripMargin,
    "q87_stratified_sample" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin,
    // the q87 md5-rank sample + the q34 quality kernel + exact means
    "q191_sample_audit" -> (
      """WITH q AS (
        |  SELECT source, doc_id,
        |    round(least(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) / 50.0, 1.0) *
        |      (1.0 - CAST(len(list_filter(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
        |          x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE)
        |        / len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))), 4) AS quality,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
        |""".stripMargin +
      s"  ${ExactMean.mean4Sql("quality")} AS q_corpus,\n" +
      s"  ${ExactMean.mean4Sql("CASE WHEN rn <= 5 THEN quality END")} AS q_sample\n" +
      "FROM q GROUP BY 1 ORDER BY 1"),
    "q88_heavy_hitters" ->
      s"""SELECT term, count(*) AS n FROM (
         |  SELECT unnest($tokCol) AS term FROM documents)
         |GROUP BY 1 HAVING count(*) >= 900 ORDER BY 1""".stripMargin,
    // the whole grid — hashes, counters, estimates, metrics — recomputed
    // from the corpus; widths/depths/threshold interpolate from the SAME
    // Scala constants the engine uses, so the two sides cannot disagree
    // on the grid
    "q230_cms_sizing_sweep" -> {
      val maxDepth = CmsDepths.max
      val perWidth = CmsWidths.map { w =>
        s"""b_$w AS (SELECT term, n, i, h % $w AS bucket FROM rws),
           |c_$w AS (SELECT i, bucket, sum(n) AS cnt FROM b_$w GROUP BY 1, 2),
           |e_$w AS (
           |  SELECT b.term, b.n,
           |${CmsDepths.map(dd => s"    min(CASE WHEN b.i < $dd THEN c.cnt END) AS est_d$dd").mkString(",\n")}
           |  FROM b_$w b JOIN c_$w c USING (i, bucket) GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      val gridSql = CmsWidths.flatMap { w => CmsDepths.map { dd =>
        val theory = BigDecimal(math.pow(0.5, dd))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        s"""  SELECT CAST($w AS BIGINT) AS w, CAST($dd AS BIGINT) AS d,
           |    CAST(count(*) AS BIGINT) AS n_terms,
           |    CAST(sum(est_d$dd - n) AS BIGINT) AS sum_over,
           |    round(CAST(sum(est_d$dd - n) AS DOUBLE) / count(*), 4) AS mean_over,
           |    CAST(max(est_d$dd - n) AS BIGINT) AS max_over,
           |    CAST(sum(CASE WHEN est_d$dd >= $HeavyThreshold AND n < $HeavyThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_false_heavy,
           |    CAST(sum(CASE WHEN (est_d$dd - n) * $w > 2 * (SELECT n_total FROM tot) THEN 1 ELSE 0 END) AS BIGINT) AS n_over_bound,
           |    round(CAST(sum(CASE WHEN (est_d$dd - n) * $w > 2 * (SELECT n_total FROM tot) THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS frac_over_bound,
           |    CAST($theory AS DOUBLE) AS bound_frac_theory
           |  FROM e_$w""".stripMargin
      }}.mkString("\nUNION ALL\n")
      s"""WITH ex AS (
         |  SELECT term, count(*) AS n FROM (
         |    SELECT unnest($tokCol) AS term FROM documents) GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM ex),
         |rws AS (
         |  SELECT term, n, i,
         |    ('0x' || substr(md5(term || '#' || CAST(i AS VARCHAR)), 1, 13))::BIGINT AS h
         |  FROM ex, unnest(range(0, $maxDepth)) AS r(i)),
         |$perWidth
         |SELECT * FROM (
         |$gridSql)
         |ORDER BY w, d""".stripMargin
    },
    "q89_weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
        |        / 4503599627370496.0) / n_chars AS k
        |  FROM documents ORDER BY k DESC, doc_id LIMIT 20)
        |ORDER BY doc_id""".stripMargin,
    "q90_profile" -> Seq("doc_id", "text", "lang", "source", "n_chars").map(c =>
      s"""SELECT '$c' AS column_name, count($c) AS n_nonnull,
         |  count(DISTINCT $c) AS n_distinct,
         |  min(CAST($c AS VARCHAR)) AS min_val, max(CAST($c AS VARCHAR)) AS max_val
         |FROM documents""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),
    // identical rule set, identical null fall-through (CASE ELSE 0 matches
    // Spark's otherwise(0)); sums cast back from HUGEINT
    "q98_expectations" ->
      """WITH p AS (
        |  SELECT doc_id, count(*) AS c,
        |    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS nt,
        |    sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS lm,
        |    sum(CASE WHEN n_chars NOT BETWEEN 1 AND 500 THEN 1 ELSE 0 END) AS nc,
        |    sum(CASE WHEN lang IS NULL OR lang NOT IN ('en', 'es', 'de', 'fr')
        |        THEN 1 ELSE 0 END) AS bl
        |  FROM documents GROUP BY 1)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(sum(c - 1) AS BIGINT) AS dup_ids,
        |  CAST(sum(nt) AS BIGINT) AS null_text,
        |  CAST(sum(lm) AS BIGINT) AS len_mismatch,
        |  CAST(sum(nc) AS BIGINT) AS bad_n_chars,
        |  CAST(sum(bl) AS BIGINT) AS bad_lang
        |FROM p""".stripMargin,
  )
}
