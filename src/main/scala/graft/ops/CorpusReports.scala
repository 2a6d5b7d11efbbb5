package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Corpus-level diagnostic reports — the tables a training-data pipeline
  * reads BEFORE turning its knobs: duplicate-cluster structure (how much
  * does dedup buy), token-frequency shape (does the corpus Zipf-decay or
  * is it template sludge), benchmark saturation (how much of each eval
  * item already leaks), cross-source duplication (which feeds copy each
  * other), ANN index balance (is the serving layout skewed), and
  * context-window fit (what sequence length wastes the least compute).
  *
  * Every report is aggregation-shaped: partial-aggregable group-bys over
  * one scan (no global windows, no driver loops), so each runs at corpus
  * scale as a handful of map-side-combined shuffles over narrow columns.
  * (The reference's reporting is notebook-side pandas over collected
  * frames — preview_data.ipynb — which caps at driver memory; these are
  * the same reports as engine queries.)
  */
object CorpusReports {
  import Relational.Q

  /** Duplicate-cluster size histogram (exact tier): how many clusters of
    * each size, how many docs they hold — the report that sizes the dedup
    * payoff (sum over size>1 of (size-1) docs = removable mass) and
    * catches template sludge (a fat size-k tail) before the fuzzy tiers
    * run. Two partial-agg shuffles: fingerprint → cluster size, size →
    * histogram; output is ≤ max-cluster-size rows. */
  private[graft] def dupClusterHistOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .groupBy(TextFns.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("csize")).as("n_docs"))
      .orderBy(col("csize"))

  // the certification corpus is dup-free (the histogram is its one
  // all-singletons row — still a certified invariant: every doc accounted
  // for, no phantom clusters); the size>1 branches are exercised by the
  // planted-fixture unit in CorpusReportsSpec
  val q115DupClusterHist: Q = (s, d) => dupClusterHistOf(Tables.documents(s, d))

  /** Token frequency-magnitude histogram per language: bucket terms by
    * floor(log2(corpus frequency)) and report type/occurrence mass per
    * bucket — the Zipf-shape evidence (mass should decay geometrically
    * across buckets; a hump in a high bucket is boilerplate) without a
    * global rank: a row_number over the vocabulary would be one
    * unpartitioned window sort, the exact anti-pattern, while this is
    * term-frequency (partial agg) → bucket (partial agg), both
    * map-side-combined, output ≤ 64 rows per language. */
  val q116TokenFreqHist: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("n"))
      // floor(log2(n)) as INTEGER math (binary-digit count): float log2
      // puts exact powers of two on a rounding knife-edge — Spark's
      // ln(n)/ln(2) can land at 2.999… where DuckDB's libm log2 hits 3.0,
      // silently shifting a bucket boundary between engines
      .groupBy(col("lang"), (length(bin(col("n"))) - 1).cast("long").as("freq_bucket"))
      .agg(count(lit(1)).as("n_types"), sum(col("n")).as("n_occurrences"))
      .orderBy(col("lang"), col("freq_bucket"))

  /** Benchmark saturation (the per-EVAL-item mirror of q69's per-train-doc
    * contamination): for each eval doc (the q69 eval split, doc_id < 50),
    * the fraction of its distinct 5-grams that occur ANYWHERE in the train
    * split — the "is this benchmark already memorizable" report read
    * before trusting an eval number. The train side joins as a LEFT SEMI
    * (hit = exists, so the corpus-sized gram table needs no distinct pass
    * and can't fan out the join); the eval side is 50 docs of grams.
    * Same shared gram kernel as q69 ([[TextFns.distinctGramHashes]]);
    * ratio rounded at 4 like the ANN surface. */
  val q117EvalSaturation: Q = (s, d) => {
    val sh = evalGramsOf(Tables.documents(s, d))
      .cache() // both the eval and train branches read it
    val evalG = sh.filter(col("doc_id") < 50)
    Caching.materializeAndRelease(
      saturationFoldOf(evalG,
        evalG.join(sh.filter(col("doc_id") >= 50).select(col("gh")), Seq("gh"), "left_semi")),
      sh)
  }

  /** (doc_id, gh): each doc's distinct 5-gram hashes (q117's gram rows). */
  private[graft] def evalGramsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(TextFns.distinctGramHashes(col("text"), 5)).as("gh"))

  /** The q117 fold: per eval doc of `evalG` (doc_id, gh), its gram count,
    * its count of distinct `hits` (doc_id, gh) pairs and their ratio —
    * shared with [[graft.streaming.Incremental.evalSaturationReport]]. */
  private[graft] def saturationFoldOf(evalG: DataFrame,
      hits: DataFrame): DataFrame =
    evalG.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(hits.groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit")),
        Seq("doc_id"), "left")
      .na.fill(Map("n_hit" -> 0L))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(col("n_hit") / col("n_grams"), 4).as("saturation"))
      .orderBy(col("doc_id"))

  /** Cross-source duplication matrix: for every source pair, how many
    * exact-content fingerprints they share — the feed-provenance report
    * that finds mirror sites / syndication before mixture weights are
    * set (two sources sharing half their content should not get two full
    * weights). (source, fp) dedups first, so the fp self-join fans out at
    * most (#sources choose 2) per fingerprint — bounded by the source
    * dimension, never the corpus; output ≤ #sources² rows. */
  private[graft] def crossSourceDupsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val fps = docs
      .select(col("source"), TextFns.fingerprint(col("text")).as("fp"))
      .distinct()
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // empty on the dup-free certification corpus (a certified negative:
  // no source pair shares content); the sharing branches are exercised
  // by the planted-fixture unit in CorpusReportsSpec
  val q118CrossSourceDups: Q = (s, d) => crossSourceDupsOf(Tables.documents(s, d))

  /** ANN index occupancy: per-cell member share of the certification
    * index — the layout-balance report behind every serving-cost claim
    * (partition pruning buys nothing if one cell holds half the corpus;
    * the probe schedule assumes cells near 1/nCells). Counts REPLICA rows
    * — that is the layout a probe actually scans. Oracle reads the same
    * exported index as q45 ({GRAFT_OUT}_support/q45_support_cells), so
    * the report certifies the served artifact, not a rebuild. */
  val q119CellBalance: Q = (s, d) => {
    // codebook-sized after the first partial agg (≤ nCells rows); cached
    // so the total and the per-cell output pay the index scan once, and
    // released on return (the Caching lifecycle contract)
    val cells = IvfIndex.load(s, Similarity.ivfDir(s, d)).cells
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_members"))
      .cache()
    val total = cells.agg(sum(col("n_members"))).head.getLong(0)
    Caching.materializeAndRelease(
      cells
        .select(col("cell"), col("n_members"),
          round(col("n_members") / lit(total.toDouble), 4).as("share"))
        .orderBy(col("cell")),
      cells)
  }

  /** q200: per-source HEAPS-LAW fit — the vocabulary-growth exponent
    * every capacity estimate in this engine leans on (WordVec's maxVocab
    * guard, the SIF broadcast bound, the minhash band sizing all assume
    * sub-linear vocab growth). Two-point fit in the q170 NO-SORT shape:
    * the half-corpus point is "docs up to the per-source median doc_id"
    * and a term is in the half-vocabulary iff its min(doc_id) is — one
    * token pass, term-table folds, no window. β = ln(V/V½)/ln(N/N½),
    * null when the source has no second point (all docs at or below the
    * median). β near 1 is template sludge minting unique junk tokens
    * per doc (the q197 signal in exponent form); healthy text sits well
    * under it (Heaps β ≈ 0.4–0.6). */
  val q200HeapsFit: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val med = docs.groupBy(col("source"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY doc_id)").as("cut"))
    val dt = docs
      .select(col("source"), col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("nt"))
      .join(med, Seq("source"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).cast("long").as("n_tok"),
        sum(when(col("doc_id") <= col("cut"), col("nt")).otherwise(0L))
          .cast("long").as("n_tok_half"))
    val vv = sourceTermsOf(docs)
      .join(med, Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("v_full"),
        sum((col("first_doc") <= col("cut")).cast("long")).cast("long")
          .as("v_half"))
    dt.join(vv, Seq("source"))
      .select(col("source"), col("n_tok"), col("n_tok_half"),
        col("v_full"), col("v_half"),
        when(col("n_tok") > col("n_tok_half") && col("v_half") > 0,
          round(log(col("v_full").cast("double") / col("v_half")) /
            log(col("n_tok").cast("double") / col("n_tok_half")), 4))
          .as("heaps_beta"))
      .orderBy(col("source"))
  }

  /** The q200 per-(source, term) fold over `TextFns.tokens`: occurrence
    * count `n` and first `doc_id` (the vocabulary-growth monitor folds
    * each micro-batch through it). */
  private[graft] def sourceTermsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("doc_id"),
        explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))

  /** q197: 4-GRAM NOVELTY per source — the template-farm detector one
    * level below q180's burstiness: total 4-gram occurrences, distinct
    * types, singleton types, and the two shares (distinct/total = how
    * much of the source is NEW phrasing; singletons/distinct = how much
    * of its phrase inventory never repeats). A source whose novelty
    * collapses is boilerplate the near-dup tier should be tightened on
    * (read next to q181's syndication diagonal); one whose singleton
    * share collapses writes from a fixed phrase bank. Shape: one token
    * scan exploded to 4-gram occurrences, (source, gram) partial agg,
    * per-source fold — both map-side-combined, never a global sort. */
  val q197NgramNovelty: Q = (s, d) =>
    noveltyFoldOf(gramCountsOf(Tables.documents(s, d)))

  /** The q197 gram-count pass over any (source, text…) frame — (source,
    * g, n) occurrence counts of 4-grams. Integer partials, so the
    * streaming novelty monitor (maintainer #23) appends per-batch tables
    * from this exact definition and re-aggregates losslessly. */
  private[graft] def gramCountsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("source"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 4)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(toks) - 3), i -> " +
          "concat_ws(' ', slice(toks, i, 4)))")).as("g"))
      .groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("n"))

  /** The q197 per-source fold over a (source, g, n) gram-count table —
    * ONE definition under the certified query and the monitor's read
    * side. */
  private[graft] def noveltyFoldOf(gramCounts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    gramCounts
      .groupBy(col("source"))
      .agg(sum(col("n")).cast("long").as("n_grams"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum((col("n") === 1).cast("long")).cast("long").as("n_singleton"),
        round(count(lit(1)).cast("double") / sum(col("n")), 4).as("novelty"),
        round(sum((col("n") === 1).cast("long")).cast("double") /
          count(lit(1)), 4).as("singleton_share"))
      .orderBy(col("source"))

  /** q198: the QUALITY×LENGTH confound audit — before trusting any
    * quality gate, the table that says whether the q34 score is secretly
    * a length proxy: global n_chars quartiles (percentile_disc — exact
    * elements, one 1-row broadcast, the q135 discipline), then per
    * quartile the doc count, exact mean length ([[ExactMean.meanInt]] —
    * integer face) and exact mean quality ([[ExactMean.mean4]] over the
    * rounded-4 score). A monotone mean_quality column means the gate
    * re-ranks by length; a flat one means the stopword/fluency terms
    * carry the signal. */
  val q198QualityLengthConfound: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("n_chars"), TextOps.qualityCol.as("quality"))
    val cuts = base.agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)").as("c1"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)").as("c2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)").as("c3"))
    base.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("n_chars") <= col("c1"), "q1")
          .when(col("n_chars") <= col("c2"), "q2")
          .when(col("n_chars") <= col("c3"), "q3")
          .otherwise("q4"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        ExactMean.meanInt(col("n_chars"), 2).as("mean_chars"),
        ExactMean.mean4(col("quality")).as("mean_quality"))
      .orderBy(col("bucket"))
  }

  /** q199: DUPLICATION×QUALITY — does copied content score worse? Docs
    * bucketed by their exact-dup copy class (unique / pair / many, the
    * q36 fingerprint), each class with its doc count, group count, and
    * exact mean q34 quality. The Lee-et-al "dedup improves LM quality"
    * claim as a one-look corpus table: mean_quality falling with copy
    * class is the direct evidence dedup removes the worst mass first;
    * flat means dedup here buys compute, not quality. Two shuffles
    * (fingerprint rollup + the class fold) over narrow columns. */
  val q199DupQuality: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(TextFns.normText(col("text"))).as("fp"),
        TextOps.qualityCol.as("quality"))
    val sizes = docs.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
    docs.join(sizes, Seq("fp"))
      .withColumn("copy_class",
        when(col("n_copies") === 1, "unique")
          .when(col("n_copies") === 2, "pair")
          .otherwise("many"))
      .groupBy(col("copy_class"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        count_distinct(col("fp")).as("n_groups"),
        ExactMean.mean4(col("quality")).as("mean_quality"))
      .orderBy(col("copy_class"))
  }

  /** q196: the CONTEXT-LENGTH ABLATION — the truncation-loss curve a
    * packing planner actually budgets from: for each candidate context
    * window, how many docs fit whole, how many tokens survive
    * truncate-at-ctx, and the share lost. q120 says how the length
    * distribution sits per source; THIS says what each window choice
    * costs in training tokens corpus-wide — the number that decides
    * between truncating and paying for the q75 chunking stage. One
    * narrow token-count scan exploded over the 4-row window dimension
    * (4× a 1-column stream, map-side combined), no shuffle beyond the
    * 4-group agg; loss_share is one division of two exact integer sums. */
  val q196CtxSweep: Q = (s, d) =>
    Tables.documents(s, d)
      .select(TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
      .select(col("n_tok"), explode(array(
        lit(128L), lit(256L), lit(512L), lit(1024L))).as("ctx"))
      .groupBy(col("ctx"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum((col("n_tok") <= col("ctx")).cast("long")).cast("long").as("n_fit"),
        sum(least(col("n_tok"), col("ctx"))).cast("long").as("tok_kept"),
        sum(greatest(col("n_tok") - col("ctx"), lit(0L))).cast("long")
          .as("tok_lost"),
        round(sum(greatest(col("n_tok") - col("ctx"), lit(0L))).cast("double") /
          sum(col("n_tok")), 4).as("loss_share"))
      .orderBy(col("ctx"))

  /** Context-window fit per source: token-count percentiles
    * (percentile_disc — an actual element, exact cross-engine, the q72
    * discipline) and the doc counts exceeding the candidate context
    * lengths. Read beside q114's packing-efficiency table: q114 says how
    * full the bins get, this says how much gets truncated per feed. One
    * shuffle on source; the sort is per-group inside the aggregate. */
  val q120CtxFit: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), TextFns.tokenCount(col("text")).cast("long").as("ntoks"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ntoks)").cast("long").as("p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY ntoks)").cast("long").as("p90"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY ntoks)").cast("long").as("p99"),
        sum(when(col("ntoks") > 512, 1L).otherwise(0L)).as("over_512"),
        sum(when(col("ntoks") > 1024, 1L).otherwise(0L)).as("over_1024"),
        sum(when(col("ntoks") > 2048, 1L).otherwise(0L)).as("over_2048"))
      .orderBy(col("source"))

  /** Token-budget waterfill across sources: given a token budget (half
    * the corpus here — the knob), allocate each source min(its tokens,
    * fair cap) with the cap chosen so the allocations fill the budget —
    * the classic max-min fair allocation a mixture planner runs when a
    * training budget is smaller than the corpus but small sources must
    * not be crushed by proportional scaling. INTEGER throughout (floor
    * cap; the < #sources remainder stays unallocated and is visible as
    * budget − Σ alloc), so the oracle is bit-exact. The boundary search
    * is closed-form over the source dimension: sort sources by token
    * count, compute each row's candidate cap from prefix sums, and
    * exactly one row validates as the waterline. The windows are
    * unpartitioned BUT over the source-DIMENSION table (≤ #sources rows
    * after the first partial agg — bounded like q119's cell table, never
    * the corpus). */
  val q121BudgetWaterfill: Q = (s, d) => {
    val perSource = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(TextFns.tokenCount(col("text")).cast("long")).as("ntoks"))
    val total = perSource.agg(sum(col("ntoks"))).head.getLong(0)
    waterfillOf(perSource, total / 2)
  }

  private[graft] def waterfillOf(perSource: org.apache.spark.sql.DataFrame,
      budget: Long, keyCol: String = "source"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("ntoks"), col(keyCol))
    val ranked = perSource
      .withColumn("i", row_number().over(w))
      .withColumn("pfx", sum(col("ntoks")).over(w))
      .withColumn("k", count(lit(1)).over(Window.partitionBy()))
      // `div`: exact long floor-division (a double `/` would detour the
      // budget arithmetic through floating point)
      .withColumn("cap_cand",
        expr(s"($budget - (pfx - ntoks)) div (k - i + 1)"))
      .withColumn("prev_ntoks",
        coalesce(lag(col("ntoks"), 1).over(w), lit(0L)))
      .cache()
    // the waterline: first row whose candidate cap binds (cap < its own
    // tokens) and is consistent with every smaller source running free
    val boundary = ranked
      .filter(col("cap_cand") < col("ntoks") && col("prev_ntoks") <= col("cap_cand"))
      .agg(min(col("i")).as("bi"))
      .head()
    val bi =
      if (boundary.isNullAt(0)) Long.MaxValue
      else boundary.getInt(0).toLong // min over row_number — an int
    val capRow =
      if (bi == Long.MaxValue) Long.MaxValue
      else ranked.filter(col("i") === bi).head().getAs[Long]("cap_cand")
    Caching.materializeAndRelease(
      ranked.select(col(keyCol), col("ntoks"),
          when(col("i") < bi, col("ntoks")).otherwise(lit(capRow)).as("alloc"),
          (col("i") >= bi).as("capped"))
        .orderBy(col(keyCol)),
      ranked)
  }

  /** q137: the q121 waterfill across embedding-DISCOVERED domains instead
    * of source labels: domain = a document's cell in the persisted
    * document IVF index ([[graft.ops.Scoring.docIvfDir]] — the same
    * artifact the q128 retrieval tier serves from), so the mixture
    * planner balances topical clusters the corpus actually contains, not
    * the feed names it arrived under (a source label can hide ten domains
    * or one domain can span five feeds — DoReMi-style domain balancing
    * without a proxy model). Costs one corpus token-count pass joined to
    * the index's assignment table, then the SAME [[waterfillOf]] kernel
    * on a cells-sized table; the oracle replays the allocation algebra
    * over the exported cell assignments. */
  val q137DomainWaterfill: Q = (s, d) => {
    val idx = IvfIndex.load(s, Scoring.docIvfDir(s, d))
    val cellOf = idx.cells
      .select(col("vec_id").as("doc_id"), col("cell").cast("long").as("domain"))
    val perCell = Tables.documents(s, d)
      .select(col("doc_id"), TextFns.tokenCount(col("text")).cast("long").as("dtoks"))
      .join(cellOf, Seq("doc_id"))
      .groupBy(col("domain")).agg(sum(col("dtoks")).as("ntoks"))
    val total = perCell.agg(sum(col("ntoks"))).head.getLong(0)
    waterfillOf(perCell, total / 2, keyCol = "domain")
  }

  /** q188: per-source LENGTH PROFILE — the document-length quartiles
    * every data card publishes (token count min/p25/p50/p75/max per
    * source): the packing planner reads p50/p75 against the context
    * window (q114/q120's inputs, summarized per feed), and a source
    * whose max is 1000× its p75 has a truncation policy decision
    * pending. All integers — percentile_disc picks ELEMENTS, so the
    * hash is exact (the q72 discipline: cast Spark's double back to
    * long); one shuffle on source, sort per-group inside the agg. */
  val q188LengthProfile: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tok")).as("min_tok"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_tok)")
          .cast("long").as("p25"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tok)")
          .cast("long").as("p50"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_tok)")
          .cast("long").as("p75"),
        max(col("n_tok")).as("max_tok"))
      .orderBy(col("source"))

  /** q189: cross-source VOCABULARY overlap — Jaccard of the top-200
    * term sets per source pair: the domain-similarity matrix a mixture
    * planner reads next to q181's syndication matrix (q181 says who
    * shares near-duplicate DOCUMENTS; this says whose LANGUAGE overlaps
    * even when no document does — merge candidates for per-domain
    * models like q179's, and the axis DoReMi-style reweighting needs
    * when sources are near-aliases). Top-K per source is a partitioned
    * rank on the (cf desc, term) total order (parallel across sources);
    * the pair join keys on the term over a sources×200-bounded table;
    * Jaccard = shared / (|A| + |B| − shared) — one division of exact
    * integers. Pairs sharing zero terms carry no row (both engines'
    * inner join). */
  val q189VocabOverlap: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(s, d)
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cf"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("cf").desc, col("w"))))
      .filter(col("rk") <= 200)
      .select(col("source"), col("w"))
    val sz = top.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    top.as("a").join(top.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .join(sz.select(col("source").as("src_a"), col("nv").as("na")), Seq("src_a"))
      .join(sz.select(col("source").as("src_b"), col("nv").as("nb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")), 4).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q193: vocabulary USAGE agreement — Spearman rank correlation of
    * term frequencies over each source pair's SHARED top-200 terms:
    * q189 says two sources use the same words; this says whether they
    * use them the same WAY (ρ ≈ 1 = same usage profile — near-alias
    * feeds, merge their per-domain models; ρ ≈ 0 = same vocabulary,
    * different emphasis — keep them separate). Ranks are re-ranked
    * WITHIN the shared set on the (cf desc, term) total order (distinct
    * by the term tie-break, so the classic no-ties formula
    * ρ = 1 − 6Σd²/(n(n²−1)) is exact: integer Σd², integer
    * denominator, ONE division rounded 4; n ≤ 1 pins ρ = 1). Scale:
    * everything after the per-source top-K is bounded by sources²×K
    * rows. */
  val q193VocabRankCorr: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(s, d)
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cf"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("cf").desc, col("w"))))
      .filter(col("rk") <= 200)
      .select(col("source"), col("w"), col("cf"))
    val pw = Window.partitionBy(col("src_a"), col("src_b"))
    top.as("a").join(top.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.w").as("w"), col("a.cf").as("cfa"), col("b.cf").as("cfb"))
      .withColumn("ra", row_number().over(pw.orderBy(col("cfa").desc, col("w"))))
      .withColumn("rb", row_number().over(pw.orderBy(col("cfb").desc, col("w"))))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"),
        sum((col("ra") - col("rb")) * (col("ra") - col("rb")))
          .cast("long").as("sumd2"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        when(col("n_shared") <= 1, lit(1.0))
          .otherwise(round(lit(1.0) - lit(6.0) * col("sumd2") /
            (col("n_shared") * (col("n_shared") * col("n_shared") - 1)), 4))
          .as("rho"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q183: TEMPERATURE-scaled mixture weights (α = 0.5) per SOURCE —
    * the PLANNING table between the q121 hard cap (waterfill) and the
    * q107 execution tier (which fits per-LANG admit rates capped at 1.0,
    * i.e. can only downsample): sampling share qᵢ ∝ pᵢ^α plus the
    * implied `epochs` repetition factor qᵢ·T/nᵢ at a budget of T =
    * total tokens — the number a release review reads directly, and the
    * one q107's rate cap hides (a tail source at 4 epochs is
    * memorization risk to weigh BEFORE committing to upsampling; a head
    * source at 0.7 epochs is data left on the table). One token-count
    * agg + ONE 1-row scalar broadcast (tot, Z) — the audited q85
    * cross-join shape; continuous-valued float shares (the standing
    * boundary discipline); fully declarative, unlike the q107 fit
    * (which collects its ≤|langs|-row agg to build the rate artifact). */
  val q183TemperatureMix: Q = (s, d) => {
    val ps = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(TextFns.tokenCount(col("text")).cast("long")).as("ntoks"))
    val z = ps.agg(sum(col("ntoks")).cast("double").as("tot"),
      sum(sqrt(col("ntoks").cast("double"))).as("z"))
    ps.crossJoin(broadcast(z))
      .select(col("source"), col("ntoks"),
        round(col("ntoks") / col("tot"), 4).as("raw_share"),
        // α = 0.5 priced by q216 (temperature sweep over the quarter powers)
        round(sqrt(col("ntoks").cast("double")) / col("z"), 4).as("temp_share"),
        round(sqrt(col("ntoks").cast("double")) / col("z") * col("tot") /
          col("ntoks"), 4).as("epochs"))
      .orderBy(col("source"))
  }

  /** Temperatures for the q216 sweep — quarter powers only, so every
    * pᵢ^α is a sqrt COMPOSITION (sqrt is correctly rounded on both
    * engines; a general pow() is not, and one ulp under a round-4
    * boundary breaks certification). */
  private[ops] val SweepAlphas = Seq(0.25, 0.5, 0.75, 1.0)

  /** x^α for α ∈ {.25, .5, .75, 1} via sqrt chains (see [[SweepAlphas]]). */
  private def powChain(x: org.apache.spark.sql.Column,
      a: Double): org.apache.spark.sql.Column = a match {
    case 0.25 => sqrt(sqrt(x))
    case 0.5  => sqrt(x)
    case 0.75 => sqrt(x) * sqrt(sqrt(x))
    case 1.0  => x
    case other => throw new IllegalArgumentException(
      s"alpha=$other is not a quarter power — add its sqrt chain first")
  }

  /** q216: the mixture TEMPERATURE sweep — q183 reports the α = 0.5
    * plan; this prices the knob itself. Per candidate α, the numbers a
    * release review weighs against each other: the head source's share
    * after scaling (dominance — α = 1 keeps the raw imbalance), the
    * worst repetition factor max_epochs (tail amplification —
    * memorization risk grows as α falls), and how many sources exceed
    * 2 epochs at token budget T = total. The q183 kernel per sweep
    * point over the ONE cached token-count agg; every power is a sqrt
    * composition so the oracle reproduces each share bit-for-bit. */
  val q216TempSweep: Q = (s, d) => {
    val ps = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(TextFns.tokenCount(col("text")).cast("long")).as("ntoks"))
      .cache()
    Caching.materializeAndRelease(
      SweepAlphas.map { a =>
        val pw = powChain(col("ntoks").cast("double"), a)
        val z = ps.agg(sum(col("ntoks")).cast("double").as("tot"),
          sum(powChain(col("ntoks").cast("double"), a)).as("z"))
        ps.crossJoin(broadcast(z))
          .select(lit(a).as("alpha"),
            round(pw / col("z"), 4).as("share"),
            round(pw / col("z") * col("tot") / col("ntoks"), 4).as("epochs"))
          .groupBy(col("alpha"))
          .agg(max(col("share")).as("head_share"),
            max(col("epochs")).as("max_epochs"),
            sum((col("epochs") > 2.0).cast("long")).cast("long").as("n_over_2x"))
      }.reduce(_ unionByName _).orderBy(col("alpha")),
      ps)
  }

  /** Sample sizes for the q219 sweep. Chosen to straddle the per-source
    * corpus sizes: at sf0.01 (25 docs/source) the larger cuts clip to
    * the whole source (error exactly 0 — the exact anchor); at sf0.1+
    * every cut is a real sample and the error decay is visible. */
  private[ops] val SweepSampleKs = Seq(8, 32, 128)

  /** q219: BOUNDED-SAMPLE quantiles — the deterministic alternative to
    * q80's GK sketch, priced. The k smallest md5-uniforms per source
    * are a uniform random k-sample of the source's documents, and
    * bottom-k is MERGEABLE (bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
    * bottom-k(B))) and hash-DETERMINISTIC — so unlike the GK sketch
    * (q80, rows-only by design: engine-specific internals) the sampled
    * quantile is certifiable cell-by-cell, maintainable by a stream
    * (maintainer #27's state is exactly this sample), and
    * constant-memory at any corpus size. Per sample size k: the
    * per-source sampled median's relative error vs the exact
    * percentile_disc median, exact-mean4/max folded — the table that
    * prices k for the streaming tier. One ranked pass at max(k) feeds
    * every cut (the prefix doctrine). */
  val q219SampleQuantileSweep: Q = (s, d) => {
    val docs = sampleBottomKOf(Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"),
          Relational.mdUniform(col("doc_id")).as("u")), SweepSampleKs.max)
      .cache()
    val exact = Tables.documents(s, d).groupBy(col("source"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
        .cast("long").as("exact_p50"))
    Caching.materializeAndRelease(
      SweepSampleKs.map { k =>
        docs.filter(col("rn") <= k)
          .groupBy(col("source"))
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
            .cast("long").as("est_p50"))
          .join(exact, Seq("source"))
          .select(lit(k.toLong).as("k"),
            round(abs(col("est_p50") - col("exact_p50")).cast("double") /
              col("exact_p50").cast("double"), 4).as("rel_err"))
          .groupBy(col("k"))
          .agg(count(lit(1)).cast("long").as("n_sources"),
            ExactMean.mean4(col("rel_err")).as("mean_rel_err"),
            max(col("rel_err")).as("max_rel_err"))
      }.reduce(_ unionByName _).orderBy(col("k")),
      docs)
  }

  /** The q219 sample window: per source, the rows ranked `rn` ≤ k by
    * (u, doc_id). Bottom-k is mergeable, so the quantile monitor runs it
    * on each batch and on each state merge. */
  private[graft] def sampleBottomKOf(df: DataFrame, k: Int): DataFrame =
    df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("u"), col("doc_id"))))
      .filter(col("rn") <= k)

  /** Gate-funnel (loss accounting) report: per source, the document counts
    * surviving each stage of the standard curation cascade — raw → rule
    * gate (the q97-certified predicate) → exact dedup among gate
    * survivors (canonical = min doc_id per fingerprint, the q36 contract)
    * → decontamination (zero 5-gram overlap with the eval split, the q69
    * contract). The table every production pipeline keeps next to its
    * output: when a mixture shrinks, this says WHICH stage ate it and
    * from WHICH feed.
    *
    * Composes three certified kernels over ONE cached narrow projection;
    * the contamination arm runs only over gate survivors (the cascade
    * order — the report is cheaper than the q69 full pass it mirrors).
    * All counts integer-exact. */
  val q127GateFunnel: Q = (s, d) => gateFunnelOf(Tables.documents(s, d))

  /** The funnel over an arbitrary (doc_id, source, text) frame — the unit
    * tests plant gate-failures / clones / contaminated docs against it.
    * Eval split = doc_id < 50 (the q69 convention). */
  private[graft] def gateFunnelOf(docs: DataFrame): DataFrame = {
    val train = gateColumnsOf(docs.filter(col("doc_id") >= 50)).cache()
    Caching.materializeAndRelease(
      gateFunnelFoldOf(gateFlagsOf(train, docs.filter(col("doc_id") < 50), None)),
      train)
  }

  /** (doc_id, source, text, keep_gate, fp): the rule-gate verdict and the
    * exact-dedup fingerprint the q127 cascade reads. */
  private[graft] def gateColumnsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("text"),
      TextOps.ruleGateKeep().as("keep_gate"),
      TextFns.fingerprint(col("text")).as("fp"))

  /** The q127 per-doc flags (doc_id, source, fp, s1, s2, s3) over
    * [[gateColumnsOf]] rows: s1 = passes the rule gate; s2 = also the
    * min-doc_id survivor of its fingerprint, which is not in `seen` (fp);
    * s3 = also shares no 5-gram with `evalDocs`. The streaming funnel
    * ([[graft.streaming.Incremental.continuousGateFunnel]]) runs it per
    * micro-batch with its persisted fingerprints as `seen`. */
  private[graft] def gateFlagsOf(train: DataFrame, evalDocs: DataFrame,
      seen: Option[DataFrame]): DataFrame = {
    val canon = train.filter(col("keep_gate"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val contam = evalGramsOf(train.filter(col("keep_gate")))
      .join(evalGramsOf(evalDocs).select(col("gh")).distinct(), Seq("gh"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    val known = seen.map(_.select(col("fp")).distinct().withColumn("seen", lit(true)))
    val isCanon = col("keep_gate") && col("doc_id") === col("keep_id") &&
      known.fold(lit(true))(_ => !coalesce(col("seen"), lit(false)))
    val canonical = train.join(canon, Seq("fp"), "left")
    known.fold(canonical)(canonical.join(_, Seq("fp"), "left"))
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("fp"),
        col("keep_gate").cast("long").as("s1"),
        isCanon.cast("long").as("s2"),
        (isCanon && !coalesce(col("contaminated"), lit(false))).cast("long").as("s3"))
  }

  /** The q127 per-source fold of (source, s1, s2, s3) flag rows, shared
    * with [[graft.streaming.Incremental.gateFunnelReport]]. */
  private[graft] def gateFunnelFoldOf(flags: DataFrame): DataFrame =
    flags.groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(col("s1")).cast("long").as("n_gate"),
        sum(col("s2")).cast("long").as("n_dedup"),
        sum(col("s3")).cast("long").as("n_clean"))
      .orderBy(col("source"))

  /** q150: the DATA CARD — the one-table release report a dataset ships
    * with (per source: volume, exact-dup rate, mean heuristic quality,
    * language share), composed from the certified kernels unchanged:
    * token counts (q31 discipline), exact fingerprints (q36), the q34
    * quality score (per-doc values rounded first, so the card aggregates
    * exactly the numbers q34 certifies), and q35's language heuristic
    * (the `en` branch — CASE-first, so `is_en` equals q35's en label).
    * One corpus pass + one per-source aggregation; the whole card is
    * map-side-combinable and source-sized. */
  val q150DataCard: Q = (s, d) => {
    val norm = graft.functions.TextFns.normText(col("text"))
    val toks = graft.functions.TextFns.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("source"),
        size(toks).cast("long").as("n_tok"),
        md5(norm).as("fp"),
        TextOps.qualityCol.as("quality"), // the ONE certified q34 kernel
        norm.contains(" the ").cast("double").as("is_en"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        round(lit(1.0) - count_distinct(col("fp")) / count(lit(1)).cast("double"), 4)
          .as("dup_rate"),
        // exact means: quality is a rounded-4 artifact (the q171
        // boundary class); is_en converted for one-idiom symmetry
        ExactMean.mean4(col("quality")).as("mean_quality"),
        ExactMean.mean4(col("is_en")).as("en_share"))
      .orderBy(col("source"))
  }

  /** q151: dedup BIAS audit — the check FineWeb-class pipelines run
    * before trusting a dedup pass: exact dedup keeps min-doc_id per
    * fingerprint group; does what it REMOVES skew in quality? Per
    * source: removal volume and the mean q34 quality of kept vs removed
    * documents (null-safe zero when nothing was removed). A large
    * kept-vs-removed gap means the dedup policy is entangled with the
    * quality axis and retention should switch to the q108 quality-aware
    * policy. Certified kernels recomposed (q36 fingerprint, q34 score);
    * one corpus pass + a fingerprint-group join + one source-sized agg. */
  val q151DedupBias: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5(graft.functions.TextFns.normText(col("text"))).as("fp"),
        TextOps.qualityCol.as("quality")) // the ONE certified q34 kernel
    val canon = scored.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    scored.join(canon, Seq("fp"))
      .withColumn("kept", col("doc_id") === col("keep_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 0L).otherwise(1L)).cast("long").as("n_removed"),
        // symmetric null handling with q_removed: a source whose every
        // doc is a non-canonical duplicate (its fp minima live in other
        // sources) reports 0.0, not NULL (r13 ADVICE); exact means over
        // the rounded-4 quality artifact (the q171 boundary trap, r14 #2)
        ExactMean.mean4(when(col("kept"), col("quality"))).as("q_kept"),
        ExactMean.mean4(when(!col("kept"), col("quality"))).as("q_removed"))
      .orderBy(col("source"))
  }

  /** q160: the FULL data card — q150's release report extended with the
    * QUALITY TIERS a mixture decision actually reads (r13 verdict #7):
    * per source, alongside volume / dup rate / heuristic quality /
    * language share, the perplexity-tercile shares under the q156 global
    * cuts (head_share / tail_share of the source's SCORED docs — a
    * source whose tail share is far above 1/3 is being judged word-salad
    * by the sequential signal) and the learned-gate summary under the
    * q101 classifier (keep share + agreement with the q97 rule gate it
    * distills — the per-source slice of q142's calibration story: low
    * agreement on one source means the threshold transfer is unsafe
    * THERE). All certified kernels recomposed unchanged; ONE corpus pass
    * (the nll2 artifact joins doc-level; cuts and classifier weights are
    * broadcast scalars) + one source-sized aggregation. */
  val q160DataCardFull: Q = (s, d) => {
    val nll = Scoring.bigramScores(s, d)
    val cuts = nll.agg(
      expr("percentile_disc(0.33333333) WITHIN GROUP (ORDER BY nll2)").as("c1"),
      expr("percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2)").as("c2"))
    val margin = Curation.marginCol(s, d)
    val norm = graft.functions.TextFns.normText(col("text"))
    val toks = graft.functions.TextFns.tokens(col("text"))
    // the media leg (r14 verdict #7): distinct visual identities per
    // source — q172's growth curve is the trend, this is the per-source
    // release number; q164's synthesis (every doc one real BMP decode);
    // production reads the persisted phash table instead
    val bmp = udf { (text: String) => Multimodal.bmpOf(text) }
    val hashed = Multimodal.imageAHash(
        Tables.documents(s, d).select(col("doc_id"), bmp(col("text")).as("media")))
      .filter(col("decoded")).select(col("doc_id"), col("ahash"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tok"),
        md5(norm).as("fp"),
        TextOps.qualityCol.as("quality"),
        norm.contains(" the ").cast("double").as("is_en"),
        (margin > 0).cast("double").as("clf_keep"),
        ((margin > 0) === TextOps.ruleGateKeep()).cast("double").as("clf_agree"))
      .join(nll.select(col("doc_id"), col("nll2")), Seq("doc_id"), "left")
      .join(hashed, Seq("doc_id"), "left")
      .crossJoin(broadcast(cuts))
      .withColumn("bkt",
        when(col("nll2").isNull, lit(null).cast("string"))
          .when(col("nll2") <= col("c1"), "head")
          .when(col("nll2") <= col("c2"), "middle")
          .otherwise("tail"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        round(lit(1.0) - count_distinct(col("fp")) / count(lit(1)).cast("double"), 4)
          .as("dup_rate"),
        // every share/mean below averages a rounded-4 artifact or a 0/1
        // indicator — the exact-mean idiom keeps .00005-boundary cells
        // off the float-summation coin flip (r14 verdict #2)
        ExactMean.mean4(col("quality")).as("mean_quality"),
        ExactMean.mean4(col("is_en")).as("en_share"),
        ExactMean.mean4(when(col("bkt").isNotNull,
          (col("bkt") === "head").cast("double"))).as("head_share"),
        ExactMean.mean4(when(col("bkt").isNotNull,
          (col("bkt") === "tail").cast("double"))).as("tail_share"),
        ExactMean.mean4(col("clf_keep")).as("clf_keep_share"),
        ExactMean.mean4(col("clf_agree")).as("clf_gate_agree"),
        count_distinct(col("ahash")).as("n_media_hashes"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q180

  /** q180: term BURSTINESS — Church & Gale's dispersion diagnostic over
    * the frequency head: for each of the top-50 terms by corpus
    * frequency, cf, document frequency, and burst = cf/df (mean
    * occurrences per CONTAINING document). Burst ≈ cf/n_docs-uniform for
    * function words; topical terms and template sludge concentrate
    * (high burst at high df = boilerplate repeating inside documents —
    * the q110 scrub's target population; high burst at low df = topical
    * clumping). Read next to q116's histogram and the q169 Zipf fit as
    * the third head-shape diagnostic: WHICH heavy terms carry their mass
    * within few documents rather than across many.
    *
    * Determinism: the top-K is a total order on (cf desc, term asc);
    * burst is ONE division of two exact integers — no float accumulation
    * reaches the rounding. Scale: one tokenize pass into a map-side-
    * combined (term, doc) fold (df is the inverted-index count, the
    * q84/q57 discipline), then TakeOrdered(50) — never a global sort. */
  val q180Burstiness: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).cast("long").as("cf"),
        count_distinct(col("doc_id")).as("df"))
      .select(col("w").as("term"), col("cf"), col("df"),
        round(col("cf").cast("double") / col("df"), 4).as("burst"))
      .orderBy(col("cf").desc, col("term"))
      .limit(50)
  }

  // ---------------------------------------------------------------- q169

  /** q169: Zipf rank–frequency FIT — the quantitative companion to
    * q116's frequency histogram: OLS of ln(count) on ln(rank) over the
    * top-K term types, reporting slope (healthy natural text reads near
    * −1; template sludge reads much shallower, boilerplate-dominated
    * corpora much steeper), intercept, and R². The one-row table a
    * corpus review reads next to the data card: a corpus whose head
    * doesn't Zipf-decay earns different dedup and mixing knobs.
    *
    * Determinism: the top-K is TakeOrdered on (count desc, term asc) —
    * a total order, so both engines pick the same K terms with the same
    * ranks; the OLS moments are sums of K=100 doubles (magnitude ≤
    * ln(ct)·ln(K) each), far inside round-4 stability. The rank window
    * runs over the already-limited K-row frame (statically bounded —
    * the q11 shape), never the corpus. Scale: one tokenize pass into a
    * map-side-combined term count, one TakeOrdered, one 1-row fold. */
  val q169ZipfFit: Q = (s, d) => zipfFitOf(Tables.documents(s, d))

  /** The q169 fit over an arbitrary (doc_id, text) frame — factored so
    * specs can pin the OLS arithmetic on a planted exactly-Zipfian
    * fixture (the corpus-level test only asserts decay: synthetic test
    * data needn't be log-log linear). */
  private[graft] def zipfFitOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val topK = 100
    val top = docs
      .select(explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("ct"))
      .orderBy(col("ct").desc, col("w")).limit(topK)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("ct").desc, col("w"))))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("ct").cast("double")).as("y"))
      .agg(count(lit(1)).cast("long").as("k"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("num", col("k") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("k") * col("sxx") - col("sx") * col("sx"))
      .select(col("k"),
        round(col("num") / col("den"), 4).as("slope"),
        round((col("sy") - (col("num") / col("den")) * col("sx")) / col("k"), 4)
          .as("intercept"),
        round((col("num") * col("num")) /
          (col("den") * (col("k") * col("syy") - col("sy") * col("sy"))), 4)
          .as("r2"))
  }

  // ---------------------------------------------------------------- q170

  /** q170: vocabulary GROWTH curve (Heaps' law, raw) — cumulative
    * distinct term types, documents, and tokens at each decile of the
    * doc_id axis (ingest order). The table that sizes a tokenizer's
    * vocab budget: where the curve keeps climbing, new data still buys
    * new types; where it flattens, the charset is saturated and vocab
    * spend should stop. Exact integer arithmetic end-to-end.
    *
    * Scale shape: "cumulative distinct" WITHOUT any global sort or
    * window — each term contributes once at its FIRST document
    * (min(doc_id) per term, one map-side-combined agg), the decile
    * boundaries are percentile_disc in a single 1-row agg (actual ids,
    * exact cross-engine), and the cumulative counts fold as 10 tagged
    * sums against that broadcast row. Three shuffles total at any
    * corpus size; output is 10 rows. */
  val q170VocabGrowth: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val cutCols = (1 to 10).map(i => expr(
      s"percentile_disc(${i / 10.0}) WITHIN GROUP (ORDER BY doc_id)").as(s"c$i"))
    val cuts = broadcast(docs.agg(cutCols.head, cutCols.tail: _*))
    val firstSeen = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
    val vRow = firstSeen.crossJoin(cuts).agg(
      (1 to 10).map(i =>
        sum((col("first_doc") <= col(s"c$i")).cast("long")).as(s"v$i")).head,
      (2 to 10).map(i =>
        sum((col("first_doc") <= col(s"c$i")).cast("long")).as(s"v$i")): _*)
    val dRow = docs
      .select(col("doc_id"), TextFns.tokenCount(col("text")).cast("long").as("ntoks"))
      .crossJoin(cuts).agg(
        sum((col("doc_id") <= col("c1")).cast("long")).as("d1"),
        (2 to 10).map(i =>
          sum((col("doc_id") <= col(s"c$i")).cast("long")).as(s"d$i")) ++
        (1 to 10).map(i =>
          sum(when(col("doc_id") <= col(s"c$i"), col("ntoks")).otherwise(0L))
            .cast("long").as(s"t$i")): _*)
    vRow.crossJoin(dRow)
      .select(explode(array((1 to 10).map(i => struct(
        lit(i.toLong).as("decile"), col(s"d$i").as("docs_cum"),
        col(s"t$i").as("tokens_cum"), col(s"v$i").as("vocab_cum"))): _*)).as("r"))
      .select(col("r.decile"), col("r.docs_cum"), col("r.tokens_cum"),
        col("r.vocab_cum"))
      .orderBy(col("decile"))
  }

  def queries: Map[String, Q] = Map(
    "q160_data_card_full" -> q160DataCardFull,
    "q169_zipf_fit" -> q169ZipfFit,
    "q170_vocab_growth" -> q170VocabGrowth,
    "q180_burstiness" -> q180Burstiness,
    "q150_data_card" -> q150DataCard,
    "q151_dedup_bias" -> q151DedupBias,
    "q115_dup_cluster_hist" -> q115DupClusterHist,
    "q116_token_freq_hist"  -> q116TokenFreqHist,
    "q117_eval_saturation"  -> q117EvalSaturation,
    "q118_cross_source_dups" -> q118CrossSourceDups,
    "q119_cell_balance"     -> q119CellBalance,
    "q120_ctx_fit"          -> q120CtxFit,
    "q196_ctx_sweep"        -> q196CtxSweep,
    "q197_ngram_novelty"    -> q197NgramNovelty,
    "q198_quality_length"   -> q198QualityLengthConfound,
    "q199_dup_quality"      -> q199DupQuality,
    "q200_heaps_fit"        -> q200HeapsFit,
    "q121_budget_waterfill" -> q121BudgetWaterfill,
    "q137_domain_waterfill" -> q137DomainWaterfill,
    "q183_temperature_mix"  -> q183TemperatureMix,
    "q216_temp_sweep"       -> q216TempSweep,
    "q219_sample_quantile_sweep" -> q219SampleQuantileSweep,
    "q188_length_profile"   -> q188LengthProfile,
    "q189_vocab_overlap"    -> q189VocabOverlap,
    "q193_vocab_rank_corr"  -> q193VocabRankCorr,
    "q127_gate_funnel"      -> q127GateFunnel,
  )

  /** The waterfill allocation algebra as DuckDB text, parameterized only
    * by the per-key token-sum CTE and the key column — ONE definition
    * serves q121 (sources) and q137 (embedding domains), mirroring the
    * shared [[waterfillOf]] kernel. */
  private def waterfillSql(psCte: String, key: String): String =
    s"""WITH ps AS (
       |  $psCte),
       |tot AS (SELECT CAST(sum(ntoks) AS BIGINT) // 2 AS budget,
       |               count(*) AS k FROM ps),
       |r AS (
       |  SELECT $key, ntoks,
       |    row_number() OVER (ORDER BY ntoks, $key) AS i,
       |    sum(ntoks) OVER (ORDER BY ntoks, $key) AS pfx,
       |    lag(ntoks, 1, CAST(0 AS BIGINT)) OVER (ORDER BY ntoks, $key) AS prev_ntoks
       |  FROM ps),
       |c AS (
       |  SELECT r.*, (tot.budget - (pfx - ntoks)) // (tot.k - i + 1) AS cap_cand
       |  FROM r, tot),
       |b AS (SELECT min(i) AS bi FROM c
       |      WHERE cap_cand < ntoks AND prev_ntoks <= cap_cand),
       |cap AS (SELECT c.cap_cand AS cap FROM c, b WHERE c.i = b.bi)
       |SELECT $key, ntoks,
       |  CAST(CASE WHEN (SELECT bi FROM b) IS NULL OR i < (SELECT bi FROM b)
       |       THEN ntoks ELSE (SELECT cap FROM cap) END AS BIGINT) AS alloc,
       |  coalesce(i >= (SELECT bi FROM b), FALSE) AS capped
       |FROM c ORDER BY $key""".stripMargin

  def oracle: Map[String, String] = Map(
    // term/doc fold -> cf + distinct-doc df, the (cf desc, term) total
    // order, one exact-integer division per row
    "q180_burstiness" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |s AS (
        |  SELECT w AS term, CAST(count(*) AS BIGINT) AS cf,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM toks GROUP BY 1)
        |SELECT term, cf, df, round(CAST(cf AS DOUBLE) / df, 4) AS burst
        |FROM s ORDER BY cf DESC, term LIMIT 50""".stripMargin,
    // top-K on a (count desc, term) TOTAL order, then the OLS moment
    // fold in the engine's exact expression shapes
    "q169_zipf_fit" ->
      """WITH tf AS (
        |  SELECT unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |tc AS (SELECT w, count(*) AS ct FROM tf GROUP BY 1),
        |top AS (SELECT w, ct FROM tc ORDER BY ct DESC, w LIMIT 100),
        |rk AS (SELECT ct, row_number() OVER (ORDER BY ct DESC, w) AS rank FROM top),
        |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(ct AS DOUBLE)) AS y FROM rk),
        |s1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM xy),
        |s2 AS (SELECT s1.*, k * sxy - sx * sy AS num, k * sxx - sx * sx AS den FROM s1)
        |SELECT k, round(num / den, 4) AS slope,
        |  round((sy - (num / den) * sx) / k, 4) AS intercept,
        |  round((num * num) / (den * (k * syy - sy * sy)), 4) AS r2
        |FROM s2""".stripMargin,
    // first-occurrence fold against the 1-row decile-cut table: each of
    // the 10 cumulative counts is a tagged sum, no window, no sort
    "q170_vocab_growth" -> {
      val cutDefs = (1 to 10).map(i =>
        s"percentile_disc(${i / 10.0}) WITHIN GROUP (ORDER BY doc_id) AS c$i")
        .mkString(",\n    ")
      val vDefs = (1 to 10).map(i =>
        s"CAST(sum(CASE WHEN first_doc <= c$i THEN 1 ELSE 0 END) AS BIGINT) AS v$i")
        .mkString(",\n    ")
      val dDefs = ((1 to 10).map(i =>
        s"CAST(sum(CASE WHEN doc_id <= c$i THEN 1 ELSE 0 END) AS BIGINT) AS d$i") ++
        (1 to 10).map(i =>
          s"CAST(sum(CASE WHEN doc_id <= c$i THEN ntoks ELSE 0 END) AS BIGINT) AS t$i"))
        .mkString(",\n    ")
      def lst(p: String) = (1 to 10).map(i => s"$p$i").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(trim(regexp_replace(text, '${"\\"}s+', ' ', 'g')), ' ')) AS w
         |  FROM documents),
         |fs AS (SELECT w, min(doc_id) AS first_doc FROM toks GROUP BY 1),
         |cuts AS (SELECT $cutDefs FROM documents),
         |v AS (SELECT $vDefs FROM fs, cuts),
         |ds AS (
         |  SELECT doc_id, len(string_split(trim(regexp_replace(text, '${"\\"}s+', ' ', 'g')), ' ')) AS ntoks
         |  FROM documents),
         |dd AS (SELECT $dDefs FROM ds, cuts)
         |SELECT CAST(unnest([${lst("")}]) AS BIGINT) AS decile,
         |  unnest([${lst("d")}]) AS docs_cum,
         |  unnest([${lst("t")}]) AS tokens_cum,
         |  unnest([${lst("v")}]) AS vocab_cum
         |FROM v, dd ORDER BY decile""".stripMargin
    },
    // q150's card CTEs + the recomputed bigram model (Scoring.nll2Ctes)
    // under the q156 cuts + the q101 margin over the exported weights +
    // the q97 gate CASE — every leg is a certified kernel's oracle text,
    // recomposed; tercile shares average over SCORED docs only (NULL
    // bucket rows skip the avg on both engines)
    "q160_data_card_full" -> (
      "WITH " + Scoring.nll2Ctes + ",\n" + Multimodal.phashCtes + "," +
      """
        |cuts AS (
        |  SELECT percentile_disc(0.33333333) WITHIN GROUP (ORDER BY nll2) AS c1,
        |    percentile_disc(0.66666667) WITHIN GROUP (ORDER BY nll2) AS c2
        |  FROM n2t),
        |t AS (
        |  SELECT doc_id, source, text,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, source, text, toks, norm,
        |    CAST(len(toks) AS DOUBLE) AS n_tok,
        |    CAST(len(toks) AS DOUBLE) * CAST(len(toks) AS DOUBLE) AS n_tok2,
        |    round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks), 4) AS awl,
        |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE) / len(toks), 4) AS sr,
        |    md5(norm) AS fp,
        |    round(least(len(toks) / 50.0, 1.0) *
        |      (1.0 - CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE)
        |        / len(toks)), 4) AS quality,
        |    CASE WHEN contains(norm, ' the ') THEN 1.0 ELSE 0.0 END AS is_en,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    round(length(replace(array_to_string(toks, ' '), ' ', '')) * 1.0 / len(toks), 4) AS mean_wlen,
        |    CAST(list_contains(toks, 'the') AS BIGINT)
        |      + CAST(list_contains(toks, 'a') AS BIGINT)
        |      + CAST(list_contains(toks, 'of') AS BIGINT) AS stop_hits,
        |    round((length(text) - length(replace(text, '#', ''))) * 1.0 / len(toks), 4) AS symbol_ratio
        |  FROM t),
        |w AS (
        |  SELECT w_tokens, w_tokens2, w_wlen, w_stop, bias
        |  FROM read_parquet('{GRAFT_OUT}_support/q101_support_weights/*.parquet')),
        |g AS (
        |  SELECT f.*,
        |    (w.w_tokens * f.n_tok + w.w_tokens2 * f.n_tok2 + w.w_wlen * f.awl + w.w_stop * f.sr + w.bias > 0) AS clf_keep,
        |    (n_words BETWEEN 30 AND 90 AND mean_wlen BETWEEN 3 AND 10
        |      AND stop_hits >= 1 AND symbol_ratio <= 0.1) AS gate_keep
        |  FROM f CROSS JOIN w),
        |b AS (
        |  SELECT g.*,
        |    CASE WHEN n.nll2 IS NULL THEN NULL
        |         WHEN n.nll2 <= cuts.c1 THEN 'head'
        |         WHEN n.nll2 <= cuts.c2 THEN 'middle'
        |         ELSE 'tail' END AS bkt
        |  FROM g LEFT JOIN n2t n USING (doc_id) CROSS JOIN cuts)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |  round(1.0 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 4) AS dup_rate,
        |""" +
      s"  ${ExactMean.mean4Sql("quality")} AS mean_quality,\n" +
      s"  ${ExactMean.mean4Sql("is_en")} AS en_share,\n" +
      s"  ${ExactMean.mean4Sql("CASE WHEN bkt IS NOT NULL THEN " +
        "CASE WHEN bkt = 'head' THEN 1.0 ELSE 0.0 END END")} AS head_share,\n" +
      s"  ${ExactMean.mean4Sql("CASE WHEN bkt IS NOT NULL THEN " +
        "CASE WHEN bkt = 'tail' THEN 1.0 ELSE 0.0 END END")} AS tail_share,\n" +
      s"  ${ExactMean.mean4Sql("CASE WHEN clf_keep THEN 1.0 ELSE 0.0 END")} AS clf_keep_share,\n" +
      s"  ${ExactMean.mean4Sql("CASE WHEN clf_keep = gate_keep THEN 1.0 ELSE 0.0 END")} AS clf_gate_agree,\n" +
      "  count(DISTINCT hsh.ahash) AS n_media_hashes\n" +
      "FROM b LEFT JOIN hsh USING (doc_id) GROUP BY 1 ORDER BY 1").stripMargin,
    // the certified kernels recomposed: q36's fingerprint, q34's quality
    // (rounded per doc BEFORE the mean, matching the engine), q35's en
    // branch; all-integer counts elsewhere
    "q150_data_card" -> (
      """WITH t AS (
        |  SELECT source,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |q AS (
        |  SELECT source,
        |    len(toks) AS n_tok,
        |    md5(norm) AS fp,
        |    round(least(len(toks) / 50.0, 1.0) *
        |      (1.0 - CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE)
        |        / len(toks)), 4) AS quality,
        |    CASE WHEN contains(norm, ' the ') THEN 1.0 ELSE 0.0 END AS is_en
        |  FROM t)
        |SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  round(1.0 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 4) AS dup_rate,
        |""".stripMargin +
      s"  ${ExactMean.mean4Sql("quality")} AS mean_quality,\n" +
      s"  ${ExactMean.mean4Sql("is_en")} AS en_share\n" +
      "FROM q GROUP BY 1 ORDER BY 1"),
    // kept = min doc_id per q36 fingerprint group; q34 quality on both
    // branches; avg over an empty removed set coalesces to 0 both sides
    "q151_dedup_bias" -> (
      """WITH t AS (
        |  SELECT doc_id, source,
        |    md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source, fp,
        |    round(least(len(toks) / 50.0, 1.0) *
        |      (1.0 - CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE)
        |        / len(toks)), 4) AS quality
        |  FROM t),
        |c AS (SELECT fp, min(doc_id) AS keep_id FROM q GROUP BY 1)
        |SELECT q.source,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN q.doc_id = c.keep_id THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        |""".stripMargin +
      s"  ${ExactMean.mean4Sql("CASE WHEN q.doc_id = c.keep_id THEN quality END")} AS q_kept,\n" +
      s"  ${ExactMean.mean4Sql("CASE WHEN q.doc_id != c.keep_id THEN quality END")} AS q_removed\n" +
      "FROM q JOIN c USING (fp)\nGROUP BY 1 ORDER BY 1"),
    // stage predicates are verbatim q97 (gate), q36 (fingerprint), q69
    // (string-exact 5-gram overlap) oracle text — the funnel certifies
    // their COMPOSITION
    "q127_gate_funnel" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, toks, text,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    round(length(replace(array_to_string(toks, ' '), ' ', '')) * 1.0 / len(toks), 4) AS mean_wlen,
        |    CAST(list_contains(toks, 'the') AS BIGINT)
        |      + CAST(list_contains(toks, 'a') AS BIGINT)
        |      + CAST(list_contains(toks, 'of') AS BIGINT) AS stop_hits,
        |    round((length(text) - length(replace(text, '#', ''))) * 1.0 / len(toks), 4) AS symbol_ratio
        |  FROM t),
        |k AS (
        |  SELECT doc_id, source,
        |    md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
        |    CASE WHEN n_words BETWEEN 30 AND 90 AND mean_wlen BETWEEN 3 AND 10
        |      AND stop_hits >= 1 AND symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS keep_gate
        |  FROM m WHERE doc_id >= 50),
        |canon AS (SELECT fp, min(doc_id) AS keep_id FROM k WHERE keep_gate = 1 GROUP BY 1),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
        |     for i in range(1, len(toks) - 3)])) AS gm
        |  FROM t WHERE len(toks) >= 5),
        |ev AS (SELECT DISTINCT gm FROM sh WHERE doc_id < 50),
        |contam AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (gm) WHERE sh.doc_id >= 50)
        |SELECT k.source, count(*) AS n_raw,
        |  CAST(sum(keep_gate) AS BIGINT) AS n_gate,
        |  CAST(sum(CASE WHEN keep_gate = 1 AND k.doc_id = canon.keep_id
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
        |  CAST(sum(CASE WHEN keep_gate = 1 AND k.doc_id = canon.keep_id
        |    AND contam.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        |FROM k LEFT JOIN canon USING (fp) LEFT JOIN contam ON k.doc_id = contam.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q115_dup_cluster_hist" ->
      """WITH c AS (
        |  SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
        |    count(*) AS csize
        |  FROM documents GROUP BY 1)
        |SELECT csize, count(*) AS n_clusters, CAST(sum(csize) AS BIGINT) AS n_docs
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q116_token_freq_hist" ->
      """WITH tf AS (
        |  SELECT lang, unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |n AS (SELECT lang, term, count(*) AS n FROM tf GROUP BY 1, 2)
        |SELECT lang, CAST(length(bin(n)) - 1 AS BIGINT) AS freq_bucket,
        |  count(*) AS n_types, CAST(sum(n) AS BIGINT) AS n_occurrences
        |FROM n GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // string-exact recomputation of the hash-kernel gram sets, the q69
    // pattern: a hash collision in the kernel would miscount against this
    "q117_eval_saturation" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
        |     for i in range(1, len(toks) - 3)])) AS g
        |  FROM t WHERE len(toks) >= 5),
        |tr AS (SELECT DISTINCT g FROM sh WHERE doc_id >= 50)
        |SELECT sh.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS saturation
        |FROM sh LEFT JOIN tr ON sh.g = tr.g
        |WHERE sh.doc_id < 50 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q118_cross_source_dups" ->
      """WITH fps AS (
        |  SELECT DISTINCT source, md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q119_cell_balance" ->
      """WITH c AS (
        |  SELECT cell, count(*) AS n_members
        |  FROM read_parquet('{GRAFT_OUT}_support/q45_support_cells/*.parquet')
        |  GROUP BY 1)
        |SELECT cell, n_members,
        |  round(n_members / (SELECT CAST(sum(n_members) AS DOUBLE) FROM c), 4) AS share
        |FROM c ORDER BY cell""".stripMargin,
    // the same closed-form boundary search, windows over the source
    // dimension; integer `//` division mirrors the kernel's `div` (the
    // two can only disagree on negative numerators, which the validity
    // predicate rejects on both sides)
    // integer token counts; quantile_disc keeps the input type (the q72
    // cross-engine discipline)
    "q188_length_profile" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  min(n_tok) AS min_tok,
        |  quantile_disc(n_tok, 0.25) AS p25,
        |  quantile_disc(n_tok, 0.5) AS p50,
        |  quantile_disc(n_tok, 0.75) AS p75,
        |  max(n_tok) AS max_tok
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q189 shared-top-200 pair table, re-ranked within the shared
    // set on both sides, the exact no-ties Spearman formula
    "q193_vocab_rank_corr" ->
      """WITH tk AS (
        |  SELECT source,
        |    unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |cf AS (SELECT source, w, count(*) AS c FROM tk GROUP BY 1, 2),
        |rk AS (
        |  SELECT source, w, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rk
        |  FROM cf),
        |top AS (SELECT source, w, c FROM rk WHERE rk <= 200),
        |sh AS (
        |  SELECT a.source AS src_a, b.source AS src_b, a.w AS w,
        |    a.c AS cfa, b.c AS cfb
        |  FROM top a JOIN top b ON a.w = b.w AND a.source < b.source),
        |rr AS (
        |  SELECT src_a, src_b,
        |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY cfa DESC, w) AS ra,
        |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY cfb DESC, w) AS rb
        |  FROM sh),
        |agg AS (
        |  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared,
        |    CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sumd2
        |  FROM rr GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared,
        |  CASE WHEN n_shared <= 1 THEN 1.0
        |    ELSE round(1.0 - 6.0 * sumd2 /
        |      (n_shared * (n_shared * n_shared - 1)), 4) END AS rho
        |FROM agg ORDER BY 1, 2""".stripMargin,
    // the same partitioned (cf desc, term) top-200 rank + term-keyed
    // pair join + exact-integer Jaccard
    "q189_vocab_overlap" ->
      """WITH tk AS (
        |  SELECT source,
        |    unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |cf AS (SELECT source, w, count(*) AS c FROM tk GROUP BY 1, 2),
        |rk AS (
        |  SELECT source, w,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rk
        |  FROM cf),
        |top AS (SELECT source, w FROM rk WHERE rk <= 200),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM top GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM top a JOIN top b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / (za.nv + zb.nv - n_shared), 4) AS jaccard
        |FROM sh JOIN sz za ON za.source = src_a JOIN sz zb ON zb.source = src_b
        |ORDER BY 1, 2""".stripMargin,
    // the same token-sum CTE as q121, then the α = 0.5 share algebra
    // against the 1-row (tot, Z) scalar
    "q183_temperature_mix" ->
      """WITH ps AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))) AS BIGINT) AS ntoks
        |  FROM documents GROUP BY 1),
        |z AS (SELECT CAST(sum(ntoks) AS DOUBLE) AS tot,
        |             sum(sqrt(CAST(ntoks AS DOUBLE))) AS z FROM ps)
        |SELECT source, ntoks,
        |  round(ntoks / tot, 4) AS raw_share,
        |  round(sqrt(CAST(ntoks AS DOUBLE)) / z, 4) AS temp_share,
        |  round(sqrt(CAST(ntoks AS DOUBLE)) / z * tot / ntoks, 4) AS epochs
        |FROM ps, z ORDER BY source""".stripMargin,
    // the bottom-k hash sample recomputed per sweep size from ONE
    // ranked CTE, sampled and exact medians via the same quantile_disc,
    // exact-mean4 error fold
    "q219_sample_quantile_sweep" -> {
      val rows = SweepSampleKs.map { k =>
        s"""  SELECT CAST($k AS BIGINT) AS k,
           |    CAST(count(*) AS BIGINT) AS n_sources,
           |    ${ExactMean.mean4Sql("rel_err")} AS mean_rel_err,
           |    max(rel_err) AS max_rel_err
           |  FROM (
           |    SELECT round(abs(e.est_p50 - ex.exact_p50)
           |        / CAST(ex.exact_p50 AS DOUBLE), 4) AS rel_err
           |    FROM (SELECT source, quantile_disc(n_chars, 0.5) AS est_p50
           |          FROM r WHERE rn <= $k GROUP BY 1) e
           |    JOIN ex USING (source))""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH dc AS (
         |  SELECT source, doc_id, n_chars,
         |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
         |      / 4503599627370496.0 AS u
         |  FROM documents),
         |r AS (
         |  SELECT source, n_chars,
         |    row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
         |  FROM dc),
         |ex AS (
         |  SELECT source, quantile_disc(n_chars, 0.5) AS exact_p50
         |  FROM documents GROUP BY 1)
         |$rows
         |ORDER BY k""".stripMargin
    },
    // the q183 kernel replayed per α, powers as the same sqrt chains,
    // one UNION-ALL row per temperature
    "q216_temp_sweep" -> {
      val rows = Seq(("0.25", "sqrt(sqrt(CAST(ntoks AS DOUBLE)))"),
          ("0.5", "sqrt(CAST(ntoks AS DOUBLE))"),
          ("0.75", "sqrt(CAST(ntoks AS DOUBLE)) * sqrt(sqrt(CAST(ntoks AS DOUBLE)))"),
          ("1.0", "CAST(ntoks AS DOUBLE)")).map { case (a, pw) =>
        s"""  SELECT CAST($a AS DOUBLE) AS alpha,
           |    max(round($pw / (SELECT sum($pw) FROM ps), 4)) AS head_share,
           |    max(round($pw / (SELECT sum($pw) FROM ps)
           |      * (SELECT CAST(sum(ntoks) AS DOUBLE) FROM ps) / ntoks, 4)) AS max_epochs,
           |    CAST(sum(CASE WHEN round($pw / (SELECT sum($pw) FROM ps)
           |      * (SELECT CAST(sum(ntoks) AS DOUBLE) FROM ps) / ntoks, 4) > 2.0
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_over_2x
           |  FROM ps""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ps AS (
         |  SELECT source,
         |    CAST(sum(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))) AS BIGINT) AS ntoks
         |  FROM documents GROUP BY 1)
         |$rows
         |ORDER BY alpha""".stripMargin
    },
    "q200_heaps_fit" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |med AS (
        |  SELECT source, percentile_disc(0.5) WITHIN GROUP (ORDER BY doc_id) AS cut
        |  FROM documents GROUP BY 1),
        |dt AS (
        |  SELECT t.source, CAST(sum(len(toks)) AS BIGINT) AS n_tok,
        |    CAST(sum(CASE WHEN doc_id <= med.cut THEN len(toks) ELSE 0 END) AS BIGINT) AS n_tok_half
        |  FROM t JOIN med USING (source) GROUP BY 1),
        |u AS (SELECT source, doc_id, unnest(toks) AS term FROM t),
        |tt AS (SELECT source, term, min(doc_id) AS first_doc FROM u GROUP BY 1, 2),
        |vv AS (
        |  SELECT tt.source, CAST(count(*) AS BIGINT) AS v_full,
        |    CAST(sum(CASE WHEN first_doc <= med.cut THEN 1 ELSE 0 END) AS BIGINT) AS v_half
        |  FROM tt JOIN med USING (source) GROUP BY 1)
        |SELECT source, n_tok, n_tok_half, v_full, v_half,
        |  CASE WHEN n_tok > n_tok_half AND v_half > 0 THEN
        |    round(ln(CAST(v_full AS DOUBLE) / v_half)
        |      / ln(CAST(n_tok AS DOUBLE) / n_tok_half), 4) END AS heaps_beta
        |FROM dt JOIN vv USING (source) ORDER BY source""".stripMargin,
    "q197_ngram_novelty" ->
      """WITH t AS (
        |  SELECT source, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |g0 AS (
        |  SELECT source, array_to_string(toks[i : i + 3], ' ') AS g
        |  FROM t, unnest(range(1, len(toks) - 2)) AS r(i)
        |  WHERE len(toks) >= 4),
        |gc AS (SELECT source, g, count(*) AS n FROM g0 GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_grams,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
        |  round(CAST(count(*) AS DOUBLE) / sum(n), 4) AS novelty,
        |  round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS singleton_share
        |FROM gc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q198_quality_length" ->
      s"""WITH qd AS (
        |  SELECT doc_id, n_chars, fp,
        |    round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) *
        |      (1.0 - CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE)
        |        / len(toks)), 4) AS quality
        |  FROM (SELECT doc_id, n_chars,
        |          md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
        |          string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
        |        FROM documents)),
        |c AS (
        |  SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS c1,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS c2,
        |    percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS c3
        |  FROM qd),
        |b AS (
        |  SELECT CASE WHEN n_chars <= c.c1 THEN 'q1'
        |    WHEN n_chars <= c.c2 THEN 'q2'
        |    WHEN n_chars <= c.c3 THEN 'q3' ELSE 'q4' END AS bucket,
        |    n_chars, quality
        |  FROM qd CROSS JOIN c)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  ${ExactMean.meanIntSql("n_chars", 2)} AS mean_chars,
        |  ${ExactMean.mean4Sql("quality")} AS mean_quality
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q199_dup_quality" ->
      s"""WITH qd AS (
        |  SELECT doc_id, n_chars, fp,
        |    round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) *
        |      (1.0 - CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE)
        |        / len(toks)), 4) AS quality
        |  FROM (SELECT doc_id, n_chars,
        |          md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
        |          string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
        |        FROM documents)),
        |sz AS (SELECT fp, count(*) AS n_copies FROM qd GROUP BY 1)
        |SELECT CASE WHEN n_copies = 1 THEN 'unique'
        |    WHEN n_copies = 2 THEN 'pair' ELSE 'many' END AS copy_class,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_groups,
        |  ${ExactMean.mean4Sql("quality")} AS mean_quality
        |FROM qd JOIN sz USING (fp) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q196_ctx_sweep" ->
      """WITH nt AS (
        |  SELECT CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |x AS (SELECT n_tok, ctx FROM nt, unnest([128, 256, 512, 1024]) AS w(ctx))
        |SELECT CAST(ctx AS BIGINT) AS ctx,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n_tok <= ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
        |  CAST(sum(least(n_tok, ctx)) AS BIGINT) AS tok_kept,
        |  CAST(sum(greatest(n_tok - ctx, 0)) AS BIGINT) AS tok_lost,
        |  round(CAST(sum(greatest(n_tok - ctx, 0)) AS DOUBLE) / sum(n_tok), 4) AS loss_share
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "q121_budget_waterfill" -> waterfillSql(
      """SELECT source,
        |    CAST(sum(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))) AS BIGINT) AS ntoks
        |  FROM documents GROUP BY 1""".stripMargin, "source"),
    // per-DOMAIN token sums come from the exported doc-index cell
    // assignments (the q128 support table); the allocation algebra is the
    // SAME shared text as q121's — kernel and oracle cannot desync per key
    "q137_domain_waterfill" -> waterfillSql(
      """SELECT CAST(c.cell AS BIGINT) AS domain,
        |    CAST(sum(len(string_split(trim(regexp_replace(d.text, '\s+', ' ', 'g')), ' '))) AS BIGINT) AS ntoks
        |  FROM documents d
        |  JOIN read_parquet('{GRAFT_OUT}_support/q128_support_cells/*.parquet') c
        |    ON c.doc_id = d.doc_id
        |  GROUP BY 1""".stripMargin, "domain"),
    "q120_ctx_fit" ->
      """WITH t AS (
        |  SELECT source,
        |    len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS ntoks
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  quantile_disc(ntoks, 0.5) AS p50, quantile_disc(ntoks, 0.9) AS p90,
        |  quantile_disc(ntoks, 0.99) AS p99,
        |  CAST(sum(CASE WHEN ntoks > 512 THEN 1 ELSE 0 END) AS BIGINT) AS over_512,
        |  CAST(sum(CASE WHEN ntoks > 1024 THEN 1 ELSE 0 END) AS BIGINT) AS over_1024,
        |  CAST(sum(CASE WHEN ntoks > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS over_2048
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
