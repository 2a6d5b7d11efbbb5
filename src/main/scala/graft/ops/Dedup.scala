package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Fuzzy-deduplication operator surface (north-star M6/M7: the dedup family
  * a pretraining-data pipeline runs before training — exact, MinHash+LSH,
  * SimHash, n-gram Jaccard).
  *
  * Scale design: every variant is generate-candidates → verify, where
  * candidate generation is a hash-bucket equi-join (shuffle on the bucket
  * key, linear in corpus size) and verification touches only candidate
  * pairs. Nothing here is O(n²) at 100 TB — the brute-force pair scan
  * exists only inside the DuckDB oracle, which is the point: LSH recall is
  * checked against exhaustive truth at test scale, then the same plan runs
  * at data scale.
  */
object Dedup {
  import Relational.Q

  private val NumHashes = 32 // priced by q214 (error decays 1/√m; 32 holds mean |err| ≤ ~0.07)
  private val Bands = 16     // priced by q226 (16×2 of the 32-hash signature: candidate volume vs recall)
  private val RowsPerBand = NumHashes / Bands

  /** Tokenize → word-trigram shingles → FNV-1a hash → sort → dedup, all in
    * one tight kernel over the normalized text. One UDF call per doc
    * replaces a chain of interpreted array expressions (split, transform,
    * slice/array_join per shingle, array_sort) that measured ~100× the
    * kernel's cost when actually materialized. Shingle strings match
    * TextFns.wordShingles exactly (space-joined token windows), so Jaccard
    * set sizes agree with the string-set oracle modulo 64-bit collisions. */
  private[ops] def shingleHashKernel(norm: String, n: Int): Array[Long] = {
    val toks = norm.split(" ")
    if (toks.length < n) return Array.emptyLongArray
    val a = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i + n <= toks.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' '); sb.append(toks(i + j)); j += 1 }
      a(i) = fnv1a64(sb.toString)
      i += 1
    }
    java.util.Arrays.sort(a)
    var m = 0
    var j = 0
    while (j < a.length) {
      if (m == 0 || a(m - 1) != a(j)) { a(m) = a(j); m += 1 }
      j += 1
    }
    java.util.Arrays.copyOf(a, m)
  }

  /** Trigram shingle set as sorted distinct 64-bit hashes — every
    * downstream pass (signatures, verification) works on the hashes; a
    * 64-bit collision would need ~2³² distinct shingles to become likely
    * (use 128-bit split hashes at that corpus size). */
  private[graft] val shingleHashes = udf { (norm: String) => shingleHashKernel(norm, 3) }

  /** Jaccard of two SORTED long arrays via two-pointer merge — the per-pair
    * verification kernel. Primitive Array[Long] parameters (no boxing — a
    * Seq signature measured 4× slower) against the hashShingles output.
    * ArrayIntersect's per-pair hash set is ~10× this merge. */
  private[ops] val jaccardSorted = udf { (a: Array[Long], b: Array[Long]) =>
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** MinHash signature kernel: sig_i = min over shingle hashes of
    * (h·Aᵢ + Bᵢ) — wrapping multiply-add permutations in JVM code (ANSI mode
    * only constrains SQL expressions; inside a UDF the classic mixer is
    * fine). One pass over the hash array per doc; narrow, no shuffle. */
  private val PermConsts: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5eed)
    Array.fill(NumHashes)((rnd.nextLong() | 1L, rnd.nextLong()))
  }
  private[ops] val minhashSig = udf { (hs: Array[Long]) =>
    val sig = new Array[Long](NumHashes)
    var i = 0
    while (i < NumHashes) {
      val (a, b) = PermConsts(i)
      var best = Long.MaxValue
      var j = 0
      while (j < hs.length) {
        val v = hs(j) * a + b
        if (v < best) best = v
        j += 1
      }
      sig(i) = best
      i += 1
    }
    sig
  }

  /** The (doc_id, hs, sig) signature computation over a (doc_id, text)
    * frame — the ONE definition behind the generic pipeline path and the
    * session signature artifact. */
  private[graft] def sigsOf(input: DataFrame): DataFrame = input
    .select(col("doc_id"), shingleHashes(TextFns.normText(col("text"))).as("hs"))
    .filter(size(col("hs")) > 0)
    .select(col("doc_id"), col("hs"), minhashSig(col("hs")).as("sig"))

  /** Candidate-generate → verify over a MATERIALIZED (doc_id, hs, sig)
    * signature frame (cached or a parquet scan — either is the barrier
    * that keeps CollapseProject from re-inlining the signature kernels
    * into every band expression and join side, measured ~20×). */
  private def pairsFromSigs(docs: DataFrame): DataFrame =
    bucketedCandidates(bandsOf(docs), Nil)
      .join(docs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(jaccardSorted(col("hs_a"), col("hs_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)

  /** The q38 pipeline over an arbitrary (doc_id, text, ...) frame — shared
    * by the composed cleaning pipeline/tests and the tools. The declared
    * corpus queries go through the [[sigTable]]/[[minhashPairs]] session
    * artifacts instead (one signature pass per session, not per query). */
  private[graft] def minhashPairsOf(input: DataFrame): DataFrame = {
    val docs = sigsOf(input).cache()
    Caching.materializeAndRelease(pairsFromSigs(docs), docs)
  }

  /** Once-per-(session, dataset) persisted MinHash SIGNATURE table
    * (doc_id, hs, sig) — r22, guide §2.4 (share one pass): SEVEN declared
    * queries (q38/q39/q122/q123/q214/q226 + the exactPairs08 build) each
    * re-ran the tokenize→shingle→hash→minhash kernels, the most expensive
    * narrow pass in the suite (MicroBench: 0.3–0.9 s/pass at sf0.1).
    * This IS "the persisted signature table every dedup pipeline
    * materializes" the inline cache comment always claimed — now
    * materialized once per session × dataset and served as a parquet
    * scan. Deterministic kernels, so values are bit-identical to the
    * inline form; row order is irrelevant to every consumer (equi-joins,
    * groupBys, or a final sort). */
  private[graft] def sigTable(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.table("minhash-sigs", s, d)(sigsOf(Tables.documents(s, d)))

  /** MinHash+LSH near-duplicate pairs (M7), persisted once per (session,
    * dataset): unordered verified pairs (doc_a < doc_b, jaccard ≥ 0.8) —
    * the truth q38 serves and dedupComponents/q79 close over. Candidates:
    * equal band-hash in any of the 16 bands (2-row bands →
    * P(candidate) = 1-(1-s²)¹⁶, ≈1 for s ≥ 0.8); verification: exact
    * trigram Jaccard ≥ 0.8 on the pair. Output is therefore exactly the
    * ≥0.8-Jaccard pairs as long as LSH recall is 1 — which the oracle's
    * exhaustive scan certifies at sf. Built from [[sigTable]] through the
    * SAME banding → skew-guarded candidates → merge-verify path as
    * [[minhashPairsOf]] (LSH semantics — NOT the exact prefix-filter pair
    * set, whose recall guarantee differs); parquet round-trips the
    * rounded jaccard exactly. Stays on [[SessionArtifacts.dir]]: the
    * build releases its signature cache after the write. */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(SessionArtifacts.dir("minhash-pairs", s, d) { t =>
      val docs = sigTable(s, d).cache()
      try pairsFromSigs(docs).write.mode("overwrite").parquet(t)
      finally { docs.unpersist(); () }
    })

  /** EXACT Jaccard-threshold pair enumeration via PREFIX FILTERING —
    * the set-similarity-join result (AllPairs/PPJoin family, public
    * literature): under the global sort order of the shingle hashes,
    * any two sets with J(A,B) ≥ t must share at least one element of
    * their first (|X| − ⌈t·|X|⌉ + 1) sorted elements. Candidates are
    * therefore an EQUI-JOIN on prefix hashes — recall is 1 by THEOREM,
    * where LSH banding's recall is only probabilistic (16×2 bands miss
    * a J = 0.8 pair with p = (1−0.64)¹⁶ ≈ 8·10⁻⁸ — tiny, but
    * dataset-dependent; r17 ADVICE). This is the structural ground
    * truth the q214/q221/q226 knob sweeps certify against, and the
    * exact tier of the M7 dedup family (q227). Cost shape: prefix rows
    * are ~(1−t)·|hs| per doc; the candidate join rides the SAME
    * skew-guarded bucket join as LSH (a hot prefix hash triangle-splits
    * instead of stalling one task); verification is the shared sorted-
    * merge Jaccard kernel. More candidates than banding — that is the
    * price of exactness; at 100 TB run it on the certification corpus
    * or post-banding audit samples, not the full sweep.
    *
    * The prefix length uses t − 10⁻⁴: verification accepts pairs whose
    * ROUNDED Jaccard reaches t (the q38 contract), and a pair at
    * J = t − ε/2 must still be candidate-generated for its rounded
    * value to decide, not the candidate filter. */
  private[graft] def exactJaccardPairs(docs: DataFrame, t: Double): DataFrame = {
    val tSafe = t - 1e-4
    val pref = docs.select(col("doc_id"), size(col("hs")).as("n"), lit(0).as("band"),
      explode(slice(col("hs"), lit(1),
        greatest(lit(1),
          (size(col("hs")) - ceil(lit(tSafe) * size(col("hs"))) + 1).cast("int"))))
        .as("bhash"))
    bucketedCandidates(pref, Seq("n"))
      // LENGTH filter (AllPairs): J(A,B) ≥ t forces t·|A| ≤ |B| ≤ |A|/t,
      // so size-incompatible candidates drop BEFORE the array join —
      // measured 2.7× fewer verifications on the certification corpus,
      // and the arrays never ship for the dropped pairs. Exactness is
      // untouched: the filter is a superset condition of the verify.
      .filter(col("n_a") >= lit(tSafe) * col("n_b") &&
        col("n_b") >= lit(tSafe) * col("n_a"))
      .join(docs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(jaccardSorted(col("hs_a"), col("hs_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** Once-per-(session, dataset) persisted EXACT ≥ 0.8-trigram-Jaccard
    * pair table (doc_a, doc_b, jaccard) — the structural ground truth of
    * the M7 family. FOUR declared queries consume the identical pair
    * set (q227 serves it; q214/q221/q226 grade their sweeps against it),
    * and each previously re-ran the shingle pass + prefix-filter join +
    * merge-verify per evaluation. This is the dedupComponents / ANN-index
    * artifact shape (r21): the cold pass pays [[exactJaccardPairs]] once
    * per session × dataset, warm consumers read a duplicate-pairs-sized
    * parquet — exactly what a production dedup pipeline materializes as
    * its audit table. Values are bit-identical to the inline form
    * (parquet round-trips the rounded double exactly; row order is
    * irrelevant to every consumer — q227 re-sorts). */
  private[graft] def exactPairs08(s: SparkSession, d: String): DataFrame =
    s.read.parquet(SessionArtifacts.dir("jaccard-pairs-08", s, d) { t =>
      // shingle sets from the session signature table (one kernel pass per
      // session); NATURAL write parallelism (r21 verdict #4): at 100 TB a
      // duplicate-pairs table can be millions of rows and a coalesce(1)
      // single-task write serializes the cold path of four queries —
      // every consumer re-sorts or aggregates, so file order is free
      val docs = sigTable(s, d).select(col("doc_id"), col("hs")).cache()
      try exactJaccardPairs(docs, 0.8).write.mode("overwrite").parquet(t)
      finally { docs.unpersist(); () }
    })

  /** (doc_id, band, bhash) LSH bucket rows of a signature table
    * (doc_id, ..., sig) — the candidate-join key layout shared by q38 and
    * the persistable [[MinHashIndex]]. */
  private[ops] def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array((0 until Bands).map { j =>
        xxhash64((lit(j) +: (0 until RowsPerBand).map(r =>
          element_at(col("sig"), j * RowsPerBand + r + 1))): _*)
      }: _*)).as(Seq("band", "bhash")))
      .select(col("doc_id"), col("band"), col("bhash"))

  /** LSH bucket rows of a raw (doc_id, text) corpus — the skew
    * observability hook (bucket-size distributions; the hot-bucket
    * reading is NOTES.md, Round 10 item 2; same sig/band layout the
    * candidate joins key on). */
  private[graft] def bandRowsOf(input: DataFrame): DataFrame =
    bandsOf(input
      .select(col("doc_id"), shingleHashes(TextFns.normText(col("text"))).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), minhashSig(col("hs")).as("sig")))

  /** Rows of one LSH bucket a single candidate-sweep task may hold before
    * the bucket is salted into sub-tasks. 256 → ≤ ~32k pair verifications
    * per task — small against a task's scan work, so the join's max-task
    * share tracks the data volume, not the hottest bucket. */
  private[graft] val BucketCap = 256 // priced by q123 (bucket-size profile: where the cap binds)

  /** SKEW-GUARDED candidate self-join of LSH bucket rows (`doc_id, band,
    * bhash, carry...`): emits exactly the unordered candidate pairs the
    * plain `x.band = y.band AND x.bhash = y.bhash AND x.doc_id < y.doc_id`
    * self-join would — for EVERY input — while bounding the rows any one
    * join task sweeps.
    *
    * The classic LSH failure this guards: a boilerplate-heavy corpus
    * (near-identical templates that survive exact dedup) piles one band
    * hash into a single bucket of m rows, and the plain self-join does all
    * m²/2 verifications in the ONE task that owns that join key — the
    * max-task stall that flatlines a 1000-executor cluster behind one
    * straggler. The guard is TRIANGLE DECOMPOSITION, not dropping: a
    * bucket bigger than `cap` splits into g = ⌈m/cap⌉ hash-groups; each
    * row replicates to the g sub-tasks (t1,t2) touching its group, and the
    * pair (a∈gx, b∈gy) is emitted only in sub-task (min(gx,gy),
    * max(gx,gy)) — same-group pairs only on the diagonal (gx,gx) — so
    * every pair appears in EXACTLY one sub-task and per-task rows shrink
    * to ~2·cap. Recall is untouched (unlike a size cutoff, which silently
    * loses any pair colliding only in the hot band); total work is
    * unchanged — it just parallelizes. Buckets at or under `cap` take
    * g = 1 and degenerate to the plain join bit-for-bit.
    *
    * Cost shape: the bucket-size pass is a partial-aggregated count on the
    * join key, and only buckets OVER the cap survive it — for a healthy
    * corpus that set is empty or tiny, so AQE converts the left join to a
    * runtime broadcast and every cold row takes ng = 1 without a second
    * full-width shuffle. (The first cut shuffle-joined the full band-row
    * set against the full size table; at sf that doubled q38's wall-clock
    * for zero information.) The broadcast decision is deliberately left
    * to AQE's RUNTIME size check rather than a `broadcast()` hint: the
    * hot set is bounded only by bandRows/cap — on exactly the
    * template-heavy corpus this guard exists for, it can be huge, and a
    * forced broadcast would OOM the driver on the pathological input.
    * AQE broadcasts when it is actually small and falls back to a
    * shuffle join (of the over-cap subset only, still ≪ the first cut's
    * full size table) when it is not. If a host session runs with AQE
    * DISABLED, there is no runtime size check to rely on — then (and
    * only then) the guard materializes the hot set ONCE
    * (localCheckpoint, so the size probe and the join read the same
    * blocks instead of re-running the aggregation) and hints the
    * broadcast itself when the count is small enough to be a few MB on
    * the driver, so the full-width sort-merge regression cannot
    * silently return. */
  /** AQE-off broadcast bound on the hot-bucket set, in rows: ~24 B/row ⇒
    * ≤ ~1.5 MB broadcast. Above it the guard keeps the shuffle join —
    * the hot set is linear in the corpus on pathological inputs, and a
    * forced tens-of-MB broadcast is exactly the driver pressure the
    * guard must not create. */
  private[graft] val HotBroadcastMaxRows = 1 << 16
  private[graft] def bucketedCandidates(bands: DataFrame, carry: Seq[String],
      cap: Int = BucketCap): DataFrame = {
    val hotAgg = bands.groupBy("band", "bhash").agg(count(lit(1)).as("bcnt"))
      .filter(col("bcnt") > cap)
    val aqeOn = bands.sparkSession.conf
      .get("spark.sql.adaptive.enabled", "true").toBoolean
    val hot =
      if (aqeOn) hotAgg
      else {
        val mat = hotAgg.localCheckpoint() // one aggregation pass total
        if (mat.limit(HotBroadcastMaxRows + 1).count() <= HotBroadcastMaxRows)
          broadcast(mat)
        else mat
      }
    val grouped = bands.join(hot, Seq("band", "bhash"), "left")
      .withColumn("ng",
        coalesce(ceil(col("bcnt").cast("double") / cap).cast("int"), lit(1)))
      .withColumn("grp", pmod(xxhash64(col("doc_id")), col("ng")).cast("int"))
      .withColumn("sub", explode(sequence(lit(0), col("ng") - 1)))
      .withColumn("t1", least(col("grp"), col("sub")))
      .withColumn("t2", greatest(col("grp"), col("sub")))
    grouped.as("x").join(grouped.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.t1") === col("y.t1") && col("x.t2") === col("y.t2") &&
          col("x.doc_id") < col("y.doc_id") &&
          // cross-group pairs co-occur only in their canonical sub-task;
          // same-group pairs co-occur in every sub-task touching the group
          // — emit them on the diagonal alone
          (col("x.grp") =!= col("y.grp") ||
            (col("x.t1") === col("x.grp") && col("x.t2") === col("x.grp"))))
      .select((Seq(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")) ++
        carry.flatMap(c =>
          Seq(col(s"x.$c").as(s"${c}_a"), col(s"y.$c").as(s"${c}_b")))): _*)
      .distinct()
  }

  val q38MinhashDedup: Q = (s, d) =>
    minhashPairs(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** Incremental batch-vs-corpus dedup through the persistable
    * [[MinHashIndex]]: docs ≥ 400 are "today's ingest", docs < 400 the
    * indexed corpus — the query never touches corpus text, only the stored
    * signature table (the production shape of continuous dedup; q38 is the
    * one-shot within-corpus form). Oracle: exhaustive cross-boundary
    * trigram Jaccard — certifies the index construction AND batch recall. */
  val q78IncrementalDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val index = MinHashIndex.build(docs.filter(col("doc_id") < 400))
    MinHashIndex.query(index, docs.filter(col("doc_id") >= 400))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** Blocked n-gram Jaccard dedup: exact pairwise Jaccard within a blocking
    * key (lang, length bucket), accelerated with PREFIX FILTERING (the
    * AllPairs/PPJoin principle, Bayardo et al. WWW'07): order each shingle
    * set by its hash and index only the first ⌊(1−t)·|x|⌋+1 elements — any
    * pair with Jaccard ≥ t MUST share an indexed prefix element, so an
    * equi-join on prefix hashes generates candidates with zero false
    * negatives. This turns the per-block quadratic pair sweep into
    * (linear explode) → (sparse hash equi-join) → (per-candidate verify):
    * candidates collapse from all same-block pairs to near-actual-duplicate
    * pairs, because unrelated documents rarely share a specific trigram.
    * The oracle mirrors only the blocking; the prefix filter is a sound
    * optimization, so results still match exactly. */
  val q39NgramJaccard: Q = (s, d) => {
    val t = 0.5
    // shingle sets from the session signature table (r22, §2.4): the
    // blocking columns join in from the corpus table on doc_id — the
    // standard signature-table ⋈ metadata join — instead of re-running
    // the shingle kernel; the artifact's size(hs) > 0 filter is the
    // inner join. Everything downstream is unchanged.
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), (col("n_chars") / 100).cast("long").as("bucket"))
      .join(sigTable(s, d).select(col("doc_id"), col("hs")), Seq("doc_id"))
      .withColumn("nsh", size(col("hs")))
      .cache() // materialized once; the prefix index and the verify join read it
    // hs is sorted (a global total order on shingle hashes) — the prefix is
    // simply the first floor((1-t)*|hs|)+1 elements
    val prefix = docs.select(col("doc_id"), col("lang"), col("bucket"), col("nsh"),
      explode(slice(col("hs"), lit(1),
        (floor(size(col("hs")) * (1 - t)) + 1).cast("int"))).as("ph"))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.ph") === col("y.ph") &&
          col("x.lang") === col("y.lang") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id") &&
          // size prefilter: j >= t requires max(|A|,|B|) <= min(|A|,|B|)/t
          col("x.nsh") <= col("y.nsh") * 2 && col("y.nsh") <= col("x.nsh") * 2)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    Caching.materializeAndRelease(
      cand
        .join(docs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(jaccardSorted(col("hs_a"), col("hs_b")), 4).as("jaccard"))
        .filter(col("jaccard") >= t)
        .orderBy(col("doc_a"), col("doc_b")),
      docs)
  }

  private val SimBits = 48
  /** WHY the conservative hd ≤ 3 point stands (r17 verdict #2): q221
    * prices hd ≤ 4 at recall 0.84 vs 0.68 (precision 1.0 at both on the
    * certification corpus) — but the extra recall is NOT free and NOT
    * load-bearing. (a) Structural: the 4 × 12-bit banding's pigeonhole
    * guarantee is exactly hd ≤ bands − 1 = 3; serving hd ≤ 4 needs ≥ 5
    * bands (q221's own sweep banding is 8 × 6), whose candidate volume
    * the q226 doctrine prices at roughly band-count-linear — ~2× the
    * verification traffic at 100 TB. (b) Precision 1.0 at hd 4–6 is a
    * 500-doc reading; SimHash is 48-bit, and on a corpus-scale table
    * the collision mass at radius 4 grows with occupancy exactly as
    * q225's saturated-space precision column shows. (c) SimHash is the
    * cheap SECONDARY dedup tier here — MinHash (q38, structural recall
    * at J ≥ 0.8) is the primary; widening the secondary's radius buys
    * recall the primary already has. Moving the default would also
    * re-certify q40/q78 and maintainer #2's parity twin for a knob no
    * caller has asked to move. */
  private val SimBands = 4          // priced by q221 (4 bands × 12 bits: pigeonhole recall=1 for hd ≤ 3; see above)
  private val SimBandBits = SimBits / SimBands

  /** FNV-1a 64-bit string hash — the engine-owned feature hash for SimHash
    * (deterministic, dependency-free, stable across JVMs). */
  private[ops] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** 48-bit SimHash over distinct word-trigram shingles: per-bit majority
    * vote of the first 48 md5 bits of each shingle. A tight JVM kernel
    * behind a UDF — the per-feature × per-bit inner loop is exactly the
    * shape where an interpreted higher-order expression tree pays 10-100×
    * overhead. md5 (not FNV) as the feature hash so the DuckDB oracle
    * reproduces the signature bit-for-bit ('0x'||substr(md5(g),1,12) casts
    * to the same 48-bit integer); ties (vote == 0) resolve to bit 0 on both
    * sides. Still a narrow map: no shuffle, model-free, deterministic. */
  private val simhashMd5 = udf { (norm: String) =>
    val toks = norm.split(" ")
    if (toks.length < 3) None
    else {
      val seen = new java.util.HashSet[String]()
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](SimBits)
      var i = 0
      while (i + 3 <= toks.length) {
        val sh = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
        if (seen.add(sh)) {
          val dgst = md.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          md.reset()
          var h = 0L
          var b = 0
          while (b < 6) { h = (h << 8) | (dgst(b) & 0xffL); b += 1 }
          var k = 0
          while (k < SimBits) {
            if (((h >>> k) & 1L) == 1L) counts(k) += 1 else counts(k) -= 1
            k += 1
          }
        }
        i += 1
      }
      var sig = 0L
      var k = 0
      while (k < SimBits) { if (counts(k) > 0) sig |= 1L << k; k += 1 }
      Some(sig)
    }
  }

  /** SimHash near-duplicate pairs: candidates share at least one of 4
    * 12-bit bands (pigeonhole: guarantees recall for Hamming ≤ 3);
    * verification keeps Hamming ≤ 3. Features are word-trigram shingles —
    * unigram tokens are too shared across a same-domain corpus to separate
    * near-dups from topic-mates. Oracled: with 4 bands and Hamming ≤ 3,
    * pigeonhole means every qualifying pair shares a band, so the banded
    * engine output EQUALS the exhaustive all-pairs Hamming ≤ 3 set the
    * DuckDB oracle computes (the bands are purely the scale path). */
  /** Once-per-(session, dataset) persisted SimHash SIGNATURE table
    * (doc_id, simhash) — r22, §2.4: q40 and q221 each re-ran the
    * md5-per-shingle signature kernel (the per-doc MessageDigest loop is
    * the family's priciest per-row work). Two longs per doc; the parquet
    * scan is the materialization barrier the inline .cache() provided. */
  private[graft] def simhashTable(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.table("simhash-sigs", s, d) {
      Tables.documents(s, d)
        .select(col("doc_id"), simhashMd5(TextFns.normText(col("text"))).as("simhash"))
        .filter(col("simhash").isNotNull)
    }

  val q40SimhashDedup: Q = (s, d) => {
    // signatures from the session artifact (one kernel pass per session);
    // the parquet scan replaces the inline cache barrier
    val docs = simhashTable(s, d)
    val bands = docs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimBands).map(j =>
        shiftrightunsigned(col("simhash"), j * SimBandBits)
          .bitwiseAND(lit((1L << SimBandBits) - 1))): _*))
        .as(Seq("band", "bhash")))
    bucketedCandidates(bands, Seq("simhash"))
      .withColumn("hamming",
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= 3) // priced by q221 (hd ≤ 3; rationale at SimBands)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Hamming thresholds for the q221 sweep (the certified q40 point is
    * hd ≤ 3). */
  private[ops] val SweepHamming = Seq(1, 2, 3, 4, 6)

  /** Bands for the q221 candidate join: 8 bands × 6 bits — pigeonhole
    * recall = 1 for hd ≤ 7, covering the whole sweep (q40's 4 × 12
    * layout only guarantees hd ≤ 3). */
  private val SweepSimBands = 8

  /** q221: the SimHash Hamming-THRESHOLD operating curve — q40 dedups at
    * hd ≤ 3; this prices the whole dial the way q214 prices MinHash
    * resolution: per candidate threshold, the predicted near-dup pairs
    * (8×6-bit banding, pigeonhole-exact recall over the sweep range, hd
    * computed ONCE and cut per threshold — the prefix doctrine), their
    * precision and recall against the exact-Jaccard ≥ 0.8 ground truth
    * ([[exactJaccardPairs]] — prefix-filter join, recall 1 by theorem,
    * so truth parity with the oracle's exhaustive scan is structural).
    * The table says where loosening
    * the radius starts buying noise instead of duplicates — on our
    * text, not folklore. Oracle recomputes the signature, the
    * exhaustive hd pairs, the exhaustive Jaccard truth, and every cut
    * in one statement. */
  val q221SimhashThresholdSweep: Q = (s, d) => {
    // no shingle table and no minhash signature here (r21): the sweep's
    // candidates come from SIMHASH banding and its truth from the
    // persisted [[exactPairs08]] artifact; the ≥3-token filter the old
    // size(hs) > 0 expressed is exactly simhash non-null (both kernels
    // are word-trigram-based — empty shingles ⇔ None signature).
    // Signatures from the session [[simhashTable]] artifact (r22, §2.4).
    val docs = simhashTable(s, d)
    // ground truth: exact-trigram-Jaccard ≥ 0.8 pairs via the prefix-
    // filter join — recall 1 by theorem, so parity with the oracle's
    // exhaustive truth is STRUCTURAL, not banding-dependent (r17 ADVICE);
    // served from the once-per-session artifact (r21)
    val truth = exactPairs08(s, d)
      .select(col("doc_a"), col("doc_b"))
      .cache()
    val bandBits = SimBits / SweepSimBands
    val sbands = docs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SweepSimBands).map(j =>
        shiftrightunsigned(col("simhash"), j * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*))
        .as(Seq("band", "bhash")))
    val spairs = bucketedCandidates(sbands, Seq("simhash"))
      .withColumn("hamming",
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= SweepHamming.max)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .join(truth.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .cache()
    val nTrue = truth.agg(count(lit(1)).cast("long").as("n_true"))
    Caching.materializeAndRelease(
      SweepHamming.map { t =>
        spairs.filter(col("hamming") <= t)
          .agg(count(lit(1)).cast("long").as("n_pred"),
            count(col("hit")).cast("long").as("n_hit"))
          .crossJoin(broadcast(nTrue))
          .select(lit(t.toLong).as("hd"), col("n_pred"), col("n_true"),
            col("n_hit"),
            when(col("n_pred") === 0, lit(0.0))
              .otherwise(round(col("n_hit").cast("double") /
                col("n_pred").cast("double"), 4)).as("prec"),
            round(col("n_hit").cast("double") /
              col("n_true").cast("double"), 4).as("recall"))
      }.reduce(_ unionByName _).orderBy(col("hd")),
      truth, spairs)
  }

  /** (b bands × r rows) factorizations of the full 32-hash signature for
    * the q226 banding sweep — the certified q38 layout is 16 × 2. */
  private[ops] val SweepBandings = Seq((32, 1), (16, 2), (8, 4), (4, 8))

  /** q226: the LSH BAND-STRUCTURE operating curve — q214 prices the
    * signature length; this prices how a FIXED 32-hash signature is cut
    * into bands, the dial that actually trades candidate-verification
    * volume against recall on a 100 TB dedup run: per factorization
    * b × r = 32, the distinct candidate-pair count (what the verify
    * stage pays) and the measured recall of the exact-Jaccard ≥ 0.8
    * truth ([[exactJaccardPairs]] — structural, not banding-derived).
    * Fewer, longer bands (r up) collapse candidates at the cost of the
    * (1−(1−sʳ)ᵇ) recall curve's knee moving right — measured on OUR
    * shingle distribution, per the q221/q223 doctrine. All four
    * factorizations ride ONE exploded band-row table through the SAME
    * skew-guarded bucket join the certified path uses; band keys are
    * the literal component values (oracle-recomputable — xxhash stays
    * the serving-path key, equality semantics identical). Oracle:
    * exhaustive pairs + every banding recomputed from the exported q122
    * signature table. */
  val q226BandingSweep: Q = (s, d) => {
    // truth from the persisted [[exactPairs08]] artifact (r21);
    // signatures from the session [[sigTable]] artifact (r22, §2.4) —
    // cached because all four banding branches explode the same table
    val docs = sigTable(s, d).select(col("doc_id"), col("sig")).cache()
    val truth = exactPairs08(s, d)
      .select(col("doc_a"), col("doc_b"))
      .cache()
    val bandRows = SweepBandings.map { case (b, r) =>
      docs.select(col("doc_id"), lit(b.toLong).as("cfg"),
        posexplode(array((0 until b).map { j =>
          concat_ws(",", (0 until r).map(c =>
            element_at(col("sig"), j * r + c + 1)): _*)
        }: _*)).as(Seq("band", "key")))
        .select(col("doc_id"), col("cfg"), col("band"),
          concat_ws(":", col("cfg"), col("key")).as("bhash"))
    }.reduce(_ unionByName _)
    val nTrue = truth.agg(count(lit(1)).cast("long").as("n_true"))
    Caching.materializeAndRelease(
      bucketedCandidates(bandRows, Seq("cfg"))
        .select(col("cfg_a").as("b"), col("doc_a"), col("doc_b"))
        .join(truth.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
        .groupBy(col("b"))
        .agg(count(lit(1)).cast("long").as("n_cand"),
          count(col("hit")).cast("long").as("n_hit"))
        .crossJoin(broadcast(nTrue))
        .select(col("b"), (lit(32L) / col("b")).cast("long").as("r"),
          col("n_cand"), col("n_true"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_true").cast("double"), 4)
            .as("recall"))
        .orderBy(col("b")),
      docs, truth)
  }

  /** q227: the EXACT set-similarity join — M7's exact tier, serving the
    * full ≥0.8-trigram-Jaccard pair set through [[exactJaccardPairs]]'s
    * prefix-filter candidates instead of LSH banding. Same verified
    * output contract as q38 (recall there rests on banding probability;
    * here it is 1 by the prefix theorem), and the operator behind the
    * q214/q221/q226 sweeps' structural ground truth. Oracle: the
    * exhaustive pair scan. */
  val q227PrefixFilterJoin: Q = (s, d) =>
    // served from the once-per-session [[exactPairs08]] artifact (r21) —
    // the same prefix-filter join output, materialized once per session
    // and read by the three sweep truths too
    exactPairs08(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** Canonicalization: collapse near-duplicate PAIRS into components and
    * elect min(doc_id) per component — the step that turns pairwise dedup
    * output into a cleaned corpus. The component engine is the reusable
    * [[ConnectedComponents]] operator (iterative min-label propagation, one
    * shuffle per iteration, no driver data collect — see its scale notes);
    * this query feeds it the minhash pair set. */
  /** Once-per-(session, dataset) persisted canonical COMPONENTS of the
    * MinHash near-dup graph (vertex, label=min-id) — the materialized
    * signature/component table every dedup pipeline keeps at scale.
    * Three queries need the same closure (q56 canonicalization, q108
    * quality retention, q109 leakage-safe split); computing candidates +
    * verify + iterative closure once per session and serving the
    * (duplicate-docs-sized) result as parquet is the artifact shape the
    * ANN chain already uses — the cold pass pays the build, warm
    * consumers read a tiny table. cleanCorpus runs its own closure: it
    * closes over the pairs of arbitrary (gated) inputs, not the corpus. */
  private[graft] def dedupComponents(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.table("minhash-components", s, d) {
      ConnectedComponents.run(minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
    }

  val q41DedupCanonical: Q = (s, d) =>
    dedupComponents(s, d)
      .select(col("vertex").as("doc_id"), col("label").as("keep_id"))
      .orderBy(col("doc_id"))

  /** q174: FUZZY-dedup bias audit — q151's kept-vs-removed quality check
    * applied to the MINHASH near-dup tier (q56's ≥ 0.8-Jaccard closure)
    * instead of the exact-fingerprint groups: does what the near-dup
    * pass REMOVES skew in quality? The FineWeb-class release review runs
    * exactly this pair of audits — exact and fuzzy tiers can be biased
    * in opposite directions (boilerplate dups are low-quality; template
    * near-dups can be the GOOD half of a source), and a large kept-vs-
    * removed gap on either tier says retention should switch to the
    * q108 quality-aware policy THERE. Reads the session's persisted
    * component artifact (closure computed once, every consumer joins a
    * duplicate-docs-sized table); docs outside the closure keep
    * themselves. One doc-level left join + one source-sized agg; means
    * over the rounded-4 quality artifact go through the exact idiom. */
  val q174FuzzyDedupBias: Q = (s, d) => {
    val comp = dedupComponents(s, d)
      .select(col("vertex").as("doc_id"), col("label").as("keep_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), TextOps.qualityCol.as("quality"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("kept",
        col("keep_id").isNull || col("doc_id") === col("keep_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((!col("kept")).cast("long")).cast("long").as("n_removed"),
        ExactMean.mean4(when(col("kept"), col("quality"))).as("q_kept"),
        ExactMean.mean4(when(!col("kept"), col("quality"))).as("q_removed"))
      .orderBy(col("source"))
  }

  /** q181: cross-source SYNDICATION matrix — which source pairs share
    * near-duplicate content, from the session's MinHash component
    * artifact. For every unordered source pair (diagonal included: a
    * source syndicating against itself is template reuse), the number
    * of shared components and the number of near-dup DOC pairs between
    * them. The release-review reading: a hot (src_a, src_b) cell means
    * one feed is republishing the other — dedup THERE changes the mix
    * (q136) and the bias audit (q174) for both sources at once.
    *
    * Scale shape: doc pairs are counted ARITHMETICALLY from per-
    * (component, source) counts (n_a·n_b cross, n·(n−1)/2 diagonal) —
    * never enumerated, so a mega-component costs one row per source it
    * touches, not k² pairs (the q164/q153 occupancy-fold discipline).
    * The self-join keys on the component label — an equi-join on a
    * duplicate-docs-sized table. Exact integer algebra end to end. */
  val q181SyndicationMatrix: Q = (s, d) =>
    syndicationMatrixOf(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      dedupComponents(s, d).select(
        col("vertex").as("doc_id"), col("label").as("comp")))

  /** The pair algebra over any (doc_id, source) × (doc_id, comp) pair of
    * frames — unit-tested on planted components. */
  private[graft] def syndicationMatrixOf(
      docs: DataFrame, comps: DataFrame): DataFrame = {
    val bySrc = docs.join(comps, Seq("doc_id"))
      .groupBy(col("comp"), col("source"))
      .agg(count(lit(1)).as("n"))
    bySrc.as("a").join(bySrc.as("b"),
        col("a.comp") === col("b.comp") &&
          col("a.source") <= col("b.source"))
      .filter(!(col("a.source") === col("b.source") && col("a.n") < 2))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).cast("long").as("n_comps"),
        sum(when(col("a.source") === col("b.source"),
            expr("(a.n * (a.n - 1)) div 2"))
          .otherwise(col("a.n") * col("b.n"))).cast("long").as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** END-TO-END corpus cleaning — the composed pipeline a pretraining-data
    * user actually runs, as ONE query: quality gate → exact dedup among
    * survivors → fuzzy canonicalization among survivors → per-doc
    * disposition. Stage order is part of the semantics (cheap predicates
    * first — at 100 TB the quality gate prunes the corpus BEFORE any
    * dedup shuffle; exact dedup prunes before the LSH joins). Each stage
    * is an already-certified operator (q34/q36/q38/q56); the oracle
    * recomputes the whole composition, certifying the wiring too.
    * dup_exact never fires on this corpus (no exact clones planted) —
    * the branch is exercised with planted clones in DedupSpec. */
  val q79CleanPipeline: Q = (s, d) =>
    cleanCorpus(Tables.documents(s, d), minhashPairs(s, d)).orderBy(col("doc_id"))

  /** The composition over an arbitrary (doc_id, text, n_chars) frame —
    * unit tests plant exact clones to exercise the dup_exact branch.
    *
    * @param pairs the MinHash near-dup pair table (doc_a, doc_b, …); it
    *   MUST hold exactly the rows `minhashPairsOf(input)` produces — q79
    *   passes the session [[minhashPairs]] artifact (same kernels, same
    *   banding, materialized once per session), pipelines and tests pass
    *   `minhashPairsOf` over their own gated input.
    * @param retentionScores optional (doc_id, score: double) table: when
    *   given, BOTH dedup tiers keep the HIGHEST-scoring member of each
    *   duplicate group (doc_id tie-break) instead of the smallest id —
    *   the q108 quality-aware retention policy as a pipeline mode (score
    *   with [[graft.ops.Curation.marginCol]] or any per-doc quality
    *   signal). Docs absent from the table rank below every scored doc
    *   (a scored duplicate always beats an unscored one). With None the
    *   constant score degenerates the rank to min-doc_id — bit-identical
    *   to the historical semantics (q79's oracle still certifies it). */
  def cleanCorpus(input: DataFrame, pairs: DataFrame,
      retentionScores: Option[DataFrame] = None): DataFrame = {
    val docs = input
      .select(col("doc_id"), col("n_chars"),
        TextFns.fingerprint(col("text")).as("fp"))
    val rem1base = docs.filter(col("n_chars") >= 220)
    val rem1 = retentionScores match {
      case None => rem1base.withColumn("rk_score", lit(0.0))
      case Some(sc) => rem1base
          .join(sc.select(col("doc_id"), col("score").as("rk_score")),
            Seq("doc_id"), "left")
          .na.fill(Map("rk_score" -> Double.MinValue))
    }
    // exact dedup among quality survivors: keep the retention-rank winner
    // per fingerprint (min doc_id when unscored)
    val wfp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      .orderBy(col("rk_score").desc, col("doc_id"))
    val exact = rem1.withColumn("rn", row_number().over(wfp))
    val dupExact = exact.filter(col("rn") =!= 1).select(col("doc_id"))
    val rem2 = exact.filter(col("rn") === 1)
      .select(col("doc_id"), col("rk_score"))
    // fuzzy canonicalization among remaining docs: both pair endpoints
    // must have survived the earlier gates
    val survivingPairs = pairs
      .join(rem2.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(rem2.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .select(col("doc_a"), col("doc_b"))
    // component labels stay min-id (the CC contract); the RETENTION pick
    // within each component is the rank winner, so the component ids are
    // stable while the survivor follows the policy
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
      .orderBy(col("rk_score").desc, col("vertex"))
    val dupFuzzy = ConnectedComponents.run(survivingPairs)
      .join(rem2.select(col("doc_id").as("vertex"), col("rk_score")), Seq("vertex"))
      .withColumn("rn", row_number().over(wg))
      .filter(col("rn") =!= 1)
      .select(col("vertex").as("doc_id"))
    docs.select(col("doc_id"), col("n_chars"))
      .join(dupExact.withColumn("de", lit(1)), Seq("doc_id"), "left")
      .join(dupFuzzy.withColumn("dz", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_chars") < 220, "low_quality")
          .when(col("de") === 1, "dup_exact")
          .when(col("dz") === 1, "dup_fuzzy")
          .otherwise("kept").as("status"))
  }

  /** Exact duplicated-SUBSTRING dedup (the ExactSubstr mode of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" — the one
    * dedup tier that removes text WITHIN documents instead of dropping
    * whole documents): any 8-token span that occurs more than once in the
    * corpus (across documents or repeated within one) is duplicated text,
    * and every token covered by such a span is removed. Per document this
    * reports total tokens, covered tokens, and the md5 of the cleaned
    * (uncovered-tokens-only) text; fully-covered documents yield a null
    * fingerprint.
    *
    * Shape at 100 TB: one kernel map pass emits (start, span-hash-64) per
    * token position (no span strings materialized — 12 bytes per corpus
    * token); the duplicate-span vocabulary is a partial-aggregated count
    * ≥ 2 (map-side combine absorbs the within-doc repeats); the semi-join
    * back is AQE-broadcastable because real corpora have a SMALL dup-span
    * vocabulary relative to the span stream; covered positions reduce
    * per-doc through a length-bounded collect_list. No all-pairs stage
    * anywhere — this is the fixed-K approximation of the suffix-array
    * construction, which is the standard distributed deployment. Span
    * identity is 64-bit FNV-1a over the token window (q69's gram-index
    * trade: a collision would mark a unique span duplicated and fail the
    * string-exact oracle loudly). */
  val q91SubstrDedup: Q = (s, d) =>
    substrScrubTable(s, d).orderBy(col("doc_id"))

  /** Once-per-(session, dataset) persisted ExactSubstr scrub table
    * (doc_id, n_tokens, n_cov, clean_fp) — r22, §2.4: q91 (per-doc rows)
    * and q187 (per-source fold of the same n_tokens/n_cov) each re-ran
    * the span pass + dup-vocabulary count + coverage fold. One build per
    * session × dataset; the table is per-doc sized. Deterministic
    * kernels; consumers sort or aggregate, so row order is free. */
  private[graft] def substrScrubTable(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.table("substr-scrub", s, d)(
      substrScrubOf(Tables.documents(s, d), SpanK))

  /** (start, span-hash) emitter for every K-token window of a normalized
    * text — ONE definition shared by [[substrDedup]] (corpus-duplicate
    * spans) and [[decontamScrub]] (eval-overlap spans): same FNV-1a-64
    * span identity, same 1-based starts, so both consumers certify
    * against the same string-exact SQL slicing. */
  /** Certified span length for substring dedup / decontamination scrub. */
  private[graft] val SpanK = 8 // priced by q205 (span-length sweep: K=8 sits on the scrub/recall knee)

  private[graft] def spanKernel(K: Int) = udf { (t: String) =>
      if (t == null) Array.empty[(Int, Long)]
      else {
        val toks = t.split(' ')
        val n = toks.length - (K - 1)
        if (n <= 0) Array.empty[(Int, Long)]
        else {
          val th = toks.map { w =>
            var h = 0xcbf29ce484222325L
            var c = 0
            while (c < w.length) { h ^= w.charAt(c); h *= 0x100000001b3L; c += 1 }
            h
          }
          Array.tabulate(n) { i =>
            var h = th(i)
            var j = 1
            while (j < K) {
              h = { var x = h ^ (th(i + j) + 0x9e3779b97f4a7c15L); x *= 0x100000001b3L; x }
              j += 1
            }
            (i + 1, h) // 1-based start, matching the SQL oracle's slicing
          }
        }
      }
    }
  // (n_tokens, n_covered, cleaned text or None when everything is covered
  // — md5(null) is null on both engines, matching string_agg-of-nothing).
  // null text never reaches this kernel (filtered by the callers, matching
  // the oracle: unnest over len(NULL) emits nothing, so null-text docs have
  // no output row); the guard keeps the kernel total anyway.
  private[graft] def cleanKernel(K: Int) = udf { (t: String, starts: Seq[Int]) =>
      if (t == null) null
      else {
      val toks = t.split(' ')
      val cov = new Array[Boolean](toks.length)
      if (starts != null) starts.foreach { st =>
        var p = st - 1
        val end = math.min(p + K, toks.length)
        while (p < end) { cov(p) = true; p += 1 }
      }
      var nCov = 0L
      cov.foreach(c => if (c) nCov += 1)
      val kept =
        if (nCov == toks.length) None
        else Some(toks.iterator.zipWithIndex.collect { case (w, i) if !cov(i) => w }.mkString(" "))
      (toks.length.toLong, nCov, kept)
      }
    }

  /** The ExactSubstr pass over an arbitrary (doc_id, text) frame — unit
    * tests plant shared spans / full clones / unique docs against it. */
  def substrDedup(input: DataFrame, K: Int = SpanK): DataFrame =
    substrScrubOf(input, K).orderBy(col("doc_id"))

  /** The unordered per-doc scrub frame behind [[substrDedup]] and the
    * session [[substrScrubTable]] artifact. */
  private[graft] def substrScrubOf(input: DataFrame, K: Int): DataFrame = {
    val norm = TextFns.normText(col("text"))
    // cache: the span table feeds BOTH the dup-vocabulary count and the
    // join back (the q69 barrier pattern — one generation pass, not two)
    val spans = input
      .select(col("doc_id"), explode(spanKernel(K)(norm)).as("sp"))
      .select(col("doc_id"), col("sp._1").as("start"), col("sp._2").as("h"))
      .cache()
    val dup = spans.groupBy(col("h")).agg(count(lit(1)).as("nocc"))
      .filter(col("nocc") >= 2).select(col("h"))
    val perDoc = spans.join(dup, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("start")).as("starts"))
    Caching.materializeAndRelease(
      input
        .filter(col("text").isNotNull) // oracle twin: null-text docs emit no row
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), cleanKernel(K)(norm, col("starts")).as("r"))
        .select(col("doc_id"), col("r._1").as("n_tokens"), col("r._2").as("n_cov"),
          md5(col("r._3")).as("clean_fp")),
      spans)
  }

  /** q187: duplicated-span token share per SOURCE — the Lee et al.
    * (2022) ExactSubstr headline metric as a release-card row: what
    * fraction of each source's tokens sits inside an 8-token span that
    * occurs ≥ 2 times ANYWHERE in the corpus? The number that says how
    * much of a feed is self-plagiarized boilerplate BEFORE any dedup
    * decision (q91 is the per-doc surgical pass; q143 prices the
    * line-level tier; this is the per-source budget reading). Same
    * machinery as q91 — one span pass feeds the dup vocabulary and the
    * coverage fold — with a source-sized agg instead of per-doc rows;
    * dup_share is ONE division of two exact integer sums. */
  val q187SpanDupShare: Q = (s, d) =>
    // the per-doc scrub rows come from the session [[substrScrubTable]]
    // artifact (r22, §2.4 — q91's table, one build per session): this
    // query is exactly its per-source fold. The artifact holds one row
    // per non-null-text doc (q91's contract), so the inner join on
    // doc_id reproduces the old text IS NOT NULL filter; n_tokens/n_cov
    // are the same kernel outputs the inline form summed.
    substrScrubTable(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        sum(col("n_cov")).cast("long").as("n_dup"),
        round(sum(col("n_cov")).cast("double") / sum(col("n_tokens")), 4)
          .as("dup_share"))
      .orderBy(col("source"))

  /** q175: span-level DECONTAMINATION — the surgical tier between q69
    * (report eval overlap) and the drop-the-document gates (q82/q127):
    * any K-token span of a training document that also occurs in the
    * held-out set (doc_id < 50, the q69/q82 eval convention) is
    * contaminated text, and every token it covers is CUT from the
    * document rather than the document being discarded — the span-removal
    * decontamination production pipelines run on pretraining corpora so
    * that one quoted benchmark sentence doesn't cost an otherwise-good
    * document (the ExactSubstr machinery of Lee et al. 2022 pointed at an
    * eval index instead of the corpus-duplicate vocabulary). Per training
    * doc: token count, covered-token count, and the md5 of the cleaned
    * text (null when everything was contaminated — the caller's drop
    * signal).
    *
    * Shape at 100 TB: identical to [[substrDedup]] — one kernel pass
    * emits (start, span-hash-64) per token position, the eval side
    * reduces to its distinct span VOCABULARY (eval sets are tiny relative
    * to the corpus, so the semi-join broadcasts), covered positions
    * reduce per doc through a length-bounded collect_list. The streaming
    * twin ([[graft.streaming.Incremental.continuousDecontamScrub]])
    * serves the same kernel against a PERSISTED bucketed eval-gram index,
    * so ingest pays a pruned join, not an index rebuild. */
  val q175DecontamScrub: Q = (s, d) => decontamScores(s, d).orderBy(col("doc_id"))

  /** The memoized scrub table (doc_id, n_tokens, n_cov, clean_fp) —
    * q175 and the q178 funnel share one pass (the knScores discipline:
    * scrub once per session, every consumer reads the same table). */
  private[graft] def decontamScores(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.table("decontam", s, d)(decontamScrub(Tables.documents(s, d)))

  /** [[decontamScores]] at an arbitrary span length — K = [[SpanK]]
    * routes to the certified q175 artifact; other Ks (the q205 sweep
    * points) get their own once-per-session scrub table under
    * `decontam-k$k`. Same [[decontamScrub]] computation either way. */
  private[graft] def decontamScoresK(s: SparkSession, d: String, k: Int): DataFrame =
    if (k == SpanK) decontamScores(s, d)
    else SessionArtifacts.table(s"decontam-k$k", s, d)(
      decontamScrub(Tables.documents(s, d), K = k))

  /** q178: the decontamination FUNNEL — per-source loss accounting of
    * the q175 scrub, the number a release review reads: how much of
    * each source was eval-contaminated (docs touched, docs fully gutted,
    * tokens cut, the cut share). A source with a spiking cut_share is
    * one whose crawl overlaps the benchmark distribution — the signal
    * that decides between span-scrubbing it and dropping it from the
    * mix. One join of the memoized per-doc scrub table with the source
    * column and a per-source fold; cut_share is one division of two
    * exact integer sums (bit-identical cross-engine — no float
    * accumulation reaches the rounding). */
  val q178DecontamFunnel: Q = (s, d) =>
    decontamFunnelFold(
      decontamScores(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id")))

  /** The q178 per-source fold over a (source, n_tokens, n_cov,
    * clean_fp…) per-doc scrub table — ONE definition under the certified
    * query and the [[decontamFunnelOf]] run-report form. */
  private[graft] def decontamFunnelFold(perDoc: DataFrame): DataFrame =
    perDoc
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum((col("n_cov") > 0).cast("long")).cast("long").as("n_affected"),
        sum(col("clean_fp").isNull.cast("long")).cast("long").as("n_gutted"),
        sum(col("n_tokens")).cast("long").as("tok_total"),
        sum(col("n_cov")).cast("long").as("tok_cut"),
        round(sum(col("n_cov")).cast("double") / sum(col("n_tokens")), 4)
          .as("cut_share"))
      .orderBy(col("source"))

  /** The q178 funnel over ARBITRARY (doc_id, source, text) docs and an
    * eval frame — the run-report form [[graft.pipelines.TrainingData]]
    * emits next to its decontam stage (r15 verdict #8): per source, how
    * much of THIS run's corpus was eval-contaminated (docs touched, docs
    * fully gutted, tokens cut, cut share), priced with the same
    * [[spanKernel]]/[[cleanKernel]] definitions q175 and maintainer #19
    * certify. One span pass per side, left-semi on the span hashes,
    * per-source integer fold. */
  def decontamFunnelOf(docs: DataFrame, evalDocs: DataFrame,
      K: Int = SpanK): DataFrame = {
    val norm = TextFns.normText(col("text"))
    val evalSp = evalDocs
      .select(explode(spanKernel(K)(norm)).as("sp"))
      .select(col("sp._2").as("h")).distinct()
    val starts = docs
      .select(col("doc_id"), explode(spanKernel(K)(norm)).as("sp"))
      .select(col("doc_id"), col("sp._1").as("start"), col("sp._2").as("h"))
      .join(evalSp, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("start")).as("starts"))
    decontamFunnelFold(
      docs.filter(col("text").isNotNull)
        .join(starts, Seq("doc_id"), "left")
        .select(col("source"), cleanKernel(K)(norm, col("starts")).as("r"))
        .select(col("source"), col("r._1").as("n_tokens"),
          col("r._2").as("n_cov"), md5(col("r._3")).as("clean_fp")))
  }

  /** q195: EVAL-ITEM exposure — the q178 funnel READ FROM THE OTHER
    * SIDE: per eval document (the q175 held-out convention, doc_id <
    * 50), how many of ITS 8-token spans appear anywhere in the training
    * split and how many distinct training docs carry one. q178 prices
    * what decontamination costs each SOURCE; this is the table that
    * decides which EVAL ITEMS are already too exposed to measure
    * anything — the Lee-et-al benchmark-hygiene direction: an eval doc
    * with high exposure gets dropped from the benchmark, not scrubbed
    * from the corpus. Scale shape: one span pass per side, DISTINCT
    * (doc, span) sets, one equi-join on the span hash (never doc×doc),
    * two integer folds; exposure is one division of two exact integers. */
  val q195EvalExposure: Q = (s, d) => {
    val K = SpanK
    val norm = TextFns.normText(col("text"))
    val docs = Tables.documents(s, d)
    // one span-generation pass feeds both sides (the decontamScrub
    // discipline), released after materialization
    val spans = docs
      .select(col("doc_id"), explode(spanKernel(K)(norm)).as("sp"))
      .select(col("doc_id"), col("sp._2").as("h"))
      .cache()
    val evalSp = spans.filter(col("doc_id") < 50)
      .select(col("doc_id").as("eval_id"), col("h")).distinct()
    val trainSp = spans.filter(col("doc_id") >= 50)
      .select(col("doc_id").as("train_id"), col("h")).distinct()
    val hits = evalSp.join(trainSp, Seq("h"))
      .groupBy(col("eval_id"))
      .agg(count_distinct(col("train_id")).as("n_train_docs"),
        count_distinct(col("h")).as("n_hit_spans"))
    val nsp = evalSp.groupBy(col("eval_id")).agg(count(lit(1)).as("n_spans"))
    val out = docs.filter(col("doc_id") < 50).select(col("doc_id").as("eval_id"))
      .join(nsp, Seq("eval_id"), "left")
      .join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        coalesce(col("n_hit_spans"), lit(0L)).cast("long").as("n_hit_spans"),
        coalesce(col("n_train_docs"), lit(0L)).cast("long").as("n_train_docs"),
        round(coalesce(col("n_hit_spans").cast("double") / col("n_spans"),
          lit(0.0)), 4).as("exposure"))
      .orderBy(col("eval_id"))
    Caching.materializeAndRelease(out, spans)
  }

  /** q205: the SPAN-LENGTH sweep — what the decontamination K knob
    * costs and catches, completing the knob-curve family (q196 context
    * windows, q201 nProbe, q204 gate cut): for each candidate span
    * length (6/8/10 tokens), the corpus-wide scrub outcome — docs
    * touched, docs fully gutted, tokens cut, cut share. Shorter spans
    * catch more paraphrase-adjacent overlap but gut more text (Lee et
    * al. use 50-token spans at web scale; the right K is a curve read,
    * not a constant). Each sweep point is the CERTIFIED q175 kernel at
    * that K ([[decontamScrub]] is K-parameterized), folded globally —
    * three bounded passes, one row each. */
  val q205SpanKSweep: Q = (s, d) => {
    // each sweep point reads the session scrub table for its K (the
    // K = 8 point IS q175's [[decontamScores]] artifact — identical
    // computation, previously re-run here); the three independent
    // builds overlap on the cold pass (§2.6, the ivf-pq pattern)
    SessionArtifacts.inParallel(
      SweepSpanKs.map(k => () => { decontamScoresK(s, d, k); () }))
    SweepSpanKs.map { k =>
      decontamScoresK(s, d, k)
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum((col("n_cov") > 0).cast("long")).cast("long").as("n_affected"),
          sum(col("clean_fp").isNull.cast("long")).cast("long").as("n_gutted"),
          sum(col("n_tokens")).cast("long").as("tok_total"),
          sum(col("n_cov")).cast("long").as("tok_cut"),
          round(sum(col("n_cov")).cast("double") / sum(col("n_tokens")), 4)
            .as("cut_share"))
        .select(lit(k.toLong).as("span_k"), col("*"))
    }.reduce(_ unionByName _).orderBy(col("span_k"))
  }

  private[ops] val SweepSpanKs = Seq(6, 8, 10)

  /** The span-decontamination pass over an arbitrary (doc_id, text)
    * frame: docs with doc_id < evalMax are the held-out set (they define
    * the contaminated-span vocabulary and emit no output row); docs at or
    * above it are scrubbed. */
  def decontamScrub(input: DataFrame, evalMax: Long = 50, K: Int = SpanK): DataFrame = {
    val norm = TextFns.normText(col("text"))
    // one span-generation pass feeds both sides (the q69 barrier pattern)
    val spans = input
      .select(col("doc_id"), explode(spanKernel(K)(norm)).as("sp"))
      .select(col("doc_id"), col("sp._1").as("start"), col("sp._2").as("h"))
      .cache()
    val evalSp = spans.filter(col("doc_id") < evalMax).select(col("h")).distinct()
    val perDoc = spans.filter(col("doc_id") >= evalMax)
      .join(evalSp, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("start")).as("starts"))
    Caching.materializeAndRelease(
      input
        .filter(col("doc_id") >= evalMax && col("text").isNotNull)
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), cleanKernel(K)(norm, col("starts")).as("r"))
        .select(col("doc_id"), col("r._1").as("n_tokens"), col("r._2").as("n_cov"),
          md5(col("r._3")).as("clean_fp"))
        .orderBy(col("doc_id")),
      spans)
  }

  /** Fraction of signature components two docs agree on — the MinHash
    * Jaccard ESTIMATOR itself (E[agreement] = Jaccard). Primitive arrays,
    * one pass, like [[jaccardSorted]]. */
  private[ops] val sigAgreement = udf { (a: Array[Long], b: Array[Long]) =>
    var i = 0; var m = 0
    while (i < a.length) { if (a(i) == b(i)) m += 1; i += 1 }
    m.toDouble / a.length
  }

  /** MinHash estimator calibration (q122): per verified near-dup pair,
    * exact trigram Jaccard vs the 32-component signature estimate and the
    * absolute error — the report that says whether the LSH operating
    * point (16 bands × 2 rows at t = 0.8) still matches the corpus, read
    * before trusting the fuzzy tier's recall at a new data mix. The
    * candidate/verify path is q38's certified kernel; the oracle
    * recomputes the estimate from the EXPORTED signature table
    * ([[writeLshSupport]]) and exact Jaccard from text, so the agreement
    * arithmetic — and the signature table the serve actually uses — is
    * cross-engine certified. sf-scale error here is expectedly coarse
    * (1/32 quantization); the report's production value is the error
    * DISTRIBUTION at volume. */
  val q122LshCalibration: Q = (s, d) => {
    // r22, §2.4: the candidate-generate → merge-verify pass IS the
    // session [[minhashPairs]] artifact (same banding, same verify, same
    // ≥ 0.8 cut) — this query adds only the estimator column, so it
    // joins the pair table back to the signature artifact and computes
    // the agreement per verified pair. Same rows, same arithmetic.
    val sigs = sigTable(s, d).select(col("doc_id"), col("sig"))
    minhashPairs(s, d)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        round(sigAgreement(col("sig_a"), col("sig_b")), 4).as("est"))
      .withColumn("abs_err", round(abs(col("est") - col("jaccard")), 4))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Signature lengths for the q214 sweep — prefixes of the ONE
    * [[NumHashes]]-long certified signature (the permutation family is
    * indexed, so the length-m signature IS the first m components:
    * one exported artifact, every cut derived — the q208 doctrine). */
  private[ops] val SweepSigLens = Seq(4, 8, 16, 32)

  /** q214: the MinHash signature-LENGTH error curve — the estimator-
    * resolution knob priced the way q212 prices the KMV sketch size:
    * over the q122-certified ground-truth pairs (exact trigram Jaccard
    * ≥ 0.8), the mean and max |estimate − Jaccard| when only the first
    * m signature components are kept, m = 4…32. Signature bytes are the
    * dedup pass's shuffle payload at 100 TB (every doc ships its sig to
    * every band bucket), so this table says what halving that payload
    * costs in estimator error — the expected 1/√m decay, measured on
    * OUR shingle distribution instead of assumed. Hash-certified given
    * the exported q122 signature table: the oracle recomputes the exact
    * pairs exhaustively, cuts the same prefixes, and folds the same
    * exact mean4. */
  val q214SigLenSweep: Q = (s, d) => {
    // signatures from the session [[sigTable]] artifact (r22, §2.4);
    // the parquet scan replaces the inline cache barrier
    val docs = sigTable(s, d).select(col("doc_id"), col("sig"))
    // the ≥0.8 pair set via the prefix-filter join — structural recall 1
    // against the oracle's exhaustive enumeration (r17 ADVICE); read from
    // the once-per-session [[exactPairs08]] artifact (r21)
    val pairs = exactPairs08(s, d)
      .join(docs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("sig_a"), col("sig_b"))
      .cache()
    Caching.materializeAndRelease(
      SweepSigLens.map { m =>
        val agree = size(filter(zip_with(
          slice(col("sig_a"), 1, m), slice(col("sig_b"), 1, m),
          (x, y) => x === y), b => b))
        pairs.select(lit(m.toLong).as("m"),
          round(abs(round(agree.cast("double") / lit(m.toDouble), 4) -
            col("jaccard")), 4).as("abs_err"))
      }.reduce(_ unionByName _)
        .groupBy(col("m"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          ExactMean.mean4(col("abs_err")).as("mean_abs_err"),
          max(col("abs_err")).as("max_abs_err"))
        .orderBy(col("m")),
      pairs)
  }

  /** LSH bucket-size profile (q123): the persisted-band-table health
    * report behind the [[BucketCap]] skew guard — bucket sizes bucketed
    * by binary magnitude (integer log2, the q116 discipline), with type
    * and row mass per magnitude. A mass hump at or past the cap's
    * magnitude (2⁸) is the template-sludge signal that the guard is
    * actually load-bearing on this corpus; all-low magnitudes mean the
    * guard's triangle split never fires and candidates flow the plain
    * path. Oracle aggregates the same EXPORTED band table the candidate
    * join keys on. */
  val q123LshBucketProfile: Q = (s, d) => {
    // signatures from the session [[sigTable]] artifact (r22, §2.4)
    val docs = sigTable(s, d).select(col("doc_id"), col("sig"))
    bandsOf(docs)
      .groupBy(col("band"), col("bhash")).agg(count(lit(1)).as("m"))
      .groupBy((length(bin(col("m"))) - 1).cast("long").as("size_bucket"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("m")).as("n_rows"))
      .orderBy(col("size_bucket"))
  }

  /** Oracle support for q122/q123: the signature table and its LSH band
    * rows, as served (signatures are the GIVEN — like the exported ANN
    * index — while agreement arithmetic, candidate keys, and both
    * reports' aggregations recompute cross-engine). */
  def writeLshSupport(s: SparkSession, d: String, outDir: String): Unit = {
    // same (doc_id, sig) rows as ever, served from the session artifact
    // (r22, §2.4) — the exported support table the oracle replays against
    val docs = sigTable(s, d).select(col("doc_id"), col("sig"))
    docs.write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q122_support_sigs")
    bandsOf(docs).write.mode("overwrite")
      .parquet(s"${graft.Verify.supportDir(outDir)}/q123_support_bands")
    ()
  }

  def queries: Map[String, Q] = Map(
    "q38_minhash_dedup"   -> q38MinhashDedup,
    "q79_clean_pipeline"  -> q79CleanPipeline,
    "q39_ngram_jaccard"   -> q39NgramJaccard,
    "q40_simhash_dedup"   -> q40SimhashDedup,
    "q56_dedup_canonical" -> q41DedupCanonical,
    "q174_fuzzy_dedup_bias" -> q174FuzzyDedupBias,
    "q181_syndication_matrix" -> q181SyndicationMatrix,
    "q187_span_dup_share" -> q187SpanDupShare,
    "q78_incr_dedup"      -> q78IncrementalDedup,
    "q91_substr_dedup"    -> q91SubstrDedup,
    "q175_decontam_scrub" -> q175DecontamScrub,
    "q178_decontam_funnel" -> q178DecontamFunnel,
    "q195_eval_exposure" -> q195EvalExposure,
    "q205_span_k_sweep" -> q205SpanKSweep,
    "q122_lsh_calibration" -> q122LshCalibration,
    "q123_lsh_bucket_profile" -> q123LshBucketProfile,
    "q214_siglen_sweep" -> q214SigLenSweep,
    "q221_simhash_threshold_sweep" -> q221SimhashThresholdSweep,
    "q226_banding_sweep" -> q226BandingSweep,
    "q227_prefix_filter_join" -> q227PrefixFilterJoin,
  )

  /** DuckDB word-trigram shingle expression (mirrors TextFns.wordShingles). */
  private[graft] val DuckShingles =
    """list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |               for i in range(1, greatest(len(toks) - 1, 1))])""".stripMargin

  // the q175 scrub as a CTE body ending in scrub(doc_id, n_tokens,
  // n_cov, clean_fp) — q175 certifies it per doc, q178 folds it by source
  /** The q175 scrub CTE body at span length `k` — q175/q178 use the
    * certified K = 8 instance; the q205 sweep interpolates each
    * candidate K. */
  private def decontamCtesK(k: Int) =
    s"""t AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |sp0 AS (
      |  SELECT doc_id, unnest(range(1, len(toks) - ${k - 2})) AS st, toks
      |  FROM t WHERE len(toks) >= $k),
      |sp AS (SELECT doc_id, st, array_to_string(toks[st : st + ${k - 1}], ' ') AS span FROM sp0),
      |ev AS (SELECT DISTINCT span FROM sp WHERE doc_id < 50),
      |ds AS (SELECT sp.doc_id, sp.st FROM sp JOIN ev USING (span) WHERE sp.doc_id >= 50),
      |cov AS (SELECT DISTINCT doc_id, st + o AS p FROM ds, range(0, $k) r(o)),
      |tok0 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks
      |         FROM t WHERE doc_id >= 50),
      |tok AS (SELECT doc_id, p, toks[p] AS tk FROM tok0),
      |scrub AS (
      |  SELECT tok.doc_id,
      |    count(*) AS n_tokens,
      |    CAST(sum(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cov,
      |    md5(string_agg(CASE WHEN cov.p IS NULL THEN tok.tk END, ' ' ORDER BY tok.p)) AS clean_fp
      |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
      |  GROUP BY 1)""".stripMargin

  private val decontamCtes = decontamCtesK(8)

  def oracle: Map[String, String] = Map(
    // q38's exhaustive exact-Jaccard pair CTE + the estimator recomputed
    // component-by-component from the exported signature table; abs_err
    // from the two ROUNDED values (differences of 4-decimal values never
    // sit on a 5th-decimal half, so the final round is boundary-safe)
    "q122_lsh_calibration" ->
      s"""WITH t AS (
         |  SELECT doc_id, $DuckShingles AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3),
         |sg AS (SELECT doc_id, sig
         |       FROM read_parquet('{GRAFT_OUT}_support/q122_support_sigs/*.parquet')),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          len(list_distinct(a.sh || b.sh)), 4) AS jaccard
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.8),
         |e AS (
         |  SELECT p.doc_a, p.doc_b, p.jaccard,
         |    round(CAST(len(list_filter(range(1, 33),
         |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32, 4) AS est
         |  FROM p
         |  JOIN sg sa ON sa.doc_id = p.doc_a
         |  JOIN sg sb ON sb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, jaccard, est,
         |  round(abs(est - jaccard), 4) AS abs_err
         |FROM e ORDER BY doc_a, doc_b""".stripMargin,
    // q40's signature CTEs + exhaustive hd pairs computed ONCE at the
    // widest radius, the exhaustive Jaccard truth, every threshold cut as
    // a scalar-subquery row
    "q221_simhash_threshold_sweep" -> {
      val rows = SweepHamming.map { t =>
        s"""  SELECT CAST($t AS BIGINT) AS hd,
           |    (SELECT CAST(count(*) AS BIGINT) FROM sp WHERE hamming <= $t) AS n_pred,
           |    (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_true,
           |    (SELECT CAST(count(*) AS BIGINT) FROM sp JOIN p USING (doc_a, doc_b)
           |     WHERE sp.hamming <= $t) AS n_hit""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |  FROM documents),
         |tt AS (
         |  SELECT doc_id, $DuckShingles AS shl
         |  FROM t WHERE len(toks) >= 3),
         |sh AS (
         |  SELECT doc_id, unnest($DuckShingles) AS g
         |  FROM t WHERE len(toks) >= 3),
         |fh AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 12))::BIGINT AS h FROM sh),
         |bits AS (
         |  SELECT doc_id, k, sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM fh, range(0, 48) r(k) GROUP BY 1, 2),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN vote > 0 THEN 1::BIGINT << k ELSE 0::BIGINT END) AS BIGINT) AS s
         |  FROM bits GROUP BY 1),
         |sp AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.s, b.s)) <= ${SweepHamming.max}),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM tt a JOIN tt b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.shl, b.shl)) AS DOUBLE) /
         |        len(list_distinct(a.shl || b.shl)) >= 0.8),
         |rws AS (
         |$rows)
         |SELECT hd, n_pred, n_true, n_hit,
         |  CASE WHEN n_pred = 0 THEN 0.0
         |       ELSE round(CAST(n_hit AS DOUBLE) / n_pred, 4) END AS prec,
         |  round(CAST(n_hit AS DOUBLE) / n_true, 4) AS recall
         |FROM rws ORDER BY hd""".stripMargin
    },
    // the q122 ground-truth pairs recomputed exhaustively, the estimator
    // cut at each signature prefix from the SAME exported table, error
    // folded through the exact mean4 algebra
    "q214_siglen_sweep" ->
      s"""WITH t AS (
         |  SELECT doc_id, $DuckShingles AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3),
         |sg AS (SELECT doc_id, sig
         |       FROM read_parquet('{GRAFT_OUT}_support/q122_support_sigs/*.parquet')),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          len(list_distinct(a.sh || b.sh)), 4) AS jaccard
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.8),
         |ms AS (SELECT unnest([${SweepSigLens.mkString(", ")}]::BIGINT[]) AS m),
         |e AS (
         |  SELECT ms.m,
         |    round(abs(round(CAST(len(list_filter(range(1, CAST(ms.m AS INTEGER) + 1),
         |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / ms.m, 4) - p.jaccard), 4) AS abs_err
         |  FROM p
         |  JOIN sg sa ON sa.doc_id = p.doc_a
         |  JOIN sg sb ON sb.doc_id = p.doc_b
         |  CROSS JOIN ms)
         |SELECT m, CAST(count(*) AS BIGINT) AS n_pairs,
         |  ${graft.ops.ExactMean.mean4Sql("abs_err")} AS mean_abs_err,
         |  max(abs_err) AS max_abs_err
         |FROM e GROUP BY m ORDER BY m""".stripMargin,
    "q123_lsh_bucket_profile" ->
      """WITH m AS (
        |  SELECT band, bhash, count(*) AS m
        |  FROM read_parquet('{GRAFT_OUT}_support/q123_support_bands/*.parquet')
        |  GROUP BY 1, 2)
        |SELECT CAST(length(bin(m)) - 1 AS BIGINT) AS size_bucket,
        |  count(*) AS n_buckets, CAST(sum(m) AS BIGINT) AS n_rows
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // String-exact recomputation of the span-level decontamination: the
    // contaminated-span vocabulary is every 8-token span of an eval doc
    // (doc_id < 50); training positions covered by one are cut; cleaned-fp
    // over the uncovered tokens in position order (all-covered -> NULL on
    // both engines). Same slicing as q91's CTE chain with the dup-count
    // vocabulary swapped for the eval-membership vocabulary. q175
    // certifies the per-doc table; q178 aggregates the same CTE body.
    "q175_decontam_scrub" ->
      s"""WITH $decontamCtes
        |SELECT doc_id, n_tokens, n_cov, clean_fp FROM scrub ORDER BY doc_id""".stripMargin,
    // each sweep point replays the certified scrub CTE at its K inside
    // a parenthesized WITH-select; ORDER BY applies to the union
    "q205_span_k_sweep" -> (
      SweepSpanKs.map { k =>
        s"""(WITH ${decontamCtesK(k)}
          |SELECT CAST($k AS BIGINT) AS span_k,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN n_cov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
          |  CAST(sum(CASE WHEN clean_fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gutted,
          |  CAST(sum(n_tokens) AS BIGINT) AS tok_total,
          |  CAST(sum(n_cov) AS BIGINT) AS tok_cut,
          |  round(CAST(sum(n_cov) AS DOUBLE) / sum(n_tokens), 4) AS cut_share
          |FROM scrub)""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY span_k"),
    // the q175 span CTEs read from the eval side: distinct (doc, span)
    // sets both ways, one join on the span text (the engine joins the
    // span hash — q175's established parity), two integer folds
    "q195_eval_exposure" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |sp0 AS (
        |  SELECT doc_id, unnest(range(1, len(toks) - 6)) AS st, toks
        |  FROM t WHERE len(toks) >= 8),
        |sp AS (SELECT doc_id, st, array_to_string(toks[st : st + 7], ' ') AS span FROM sp0),
        |ev AS (SELECT DISTINCT doc_id AS eval_id, span FROM sp WHERE doc_id < 50),
        |tr AS (SELECT DISTINCT doc_id AS train_id, span FROM sp WHERE doc_id >= 50),
        |hits AS (
        |  SELECT eval_id, count(DISTINCT train_id) AS n_train_docs,
        |    count(DISTINCT span) AS n_hit_spans
        |  FROM ev JOIN tr USING (span) GROUP BY 1),
        |nsp AS (SELECT eval_id, count(*) AS n_spans FROM ev GROUP BY 1)
        |SELECT d.doc_id AS eval_id,
        |  CAST(coalesce(nsp.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(hits.n_hit_spans, 0) AS BIGINT) AS n_hit_spans,
        |  CAST(coalesce(hits.n_train_docs, 0) AS BIGINT) AS n_train_docs,
        |  round(coalesce(CAST(hits.n_hit_spans AS DOUBLE) / nsp.n_spans, 0.0), 4) AS exposure
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 50) d
        |LEFT JOIN nsp ON nsp.eval_id = d.doc_id
        |LEFT JOIN hits ON hits.eval_id = d.doc_id
        |ORDER BY 1""".stripMargin,
    "q178_decontam_funnel" ->
      s"""WITH $decontamCtes
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN s.n_cov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
        |  CAST(sum(CASE WHEN s.clean_fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gutted,
        |  CAST(sum(s.n_tokens) AS BIGINT) AS tok_total,
        |  CAST(sum(s.n_cov) AS BIGINT) AS tok_cut,
        |  round(CAST(sum(s.n_cov) AS DOUBLE) / sum(s.n_tokens), 4) AS cut_share
        |FROM scrub s JOIN documents d USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // String-exact recomputation: every 8-token span with corpus count >= 2,
    // positions covered by any such span, and the cleaned-text md5 over the
    // uncovered tokens in position order (string_agg skips the covered ones;
    // all-covered docs aggregate nothing -> NULL -> md5 NULL, both engines).
    "q91_substr_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |sp0 AS (
        |  SELECT doc_id, unnest(range(1, len(toks) - 6)) AS st, toks
        |  FROM t WHERE len(toks) >= 8),
        |sp AS (SELECT doc_id, st, array_to_string(toks[st : st + 7], ' ') AS span FROM sp0),
        |d AS (SELECT span FROM sp GROUP BY span HAVING count(*) >= 2),
        |ds AS (SELECT sp.doc_id, sp.st FROM sp JOIN d USING (span)),
        |cov AS (SELECT DISTINCT doc_id, st + o AS p FROM ds, range(0, 8) r(o)),
        |tok0 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks FROM t),
        |tok AS (SELECT doc_id, p, toks[p] AS tk FROM tok0)
        |SELECT tok.doc_id,
        |  count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cov,
        |  md5(string_agg(CASE WHEN cov.p IS NULL THEN tok.tk END, ' ' ORDER BY tok.p)) AS clean_fp
        |FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q91's string-exact span chain + the per-source fold; dup_share is
    // one division of two exact integer sums
    "q187_span_dup_share" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |sp0 AS (
        |  SELECT doc_id, unnest(range(1, len(toks) - 6)) AS st, toks
        |  FROM t WHERE len(toks) >= 8),
        |sp AS (SELECT doc_id, st, array_to_string(toks[st : st + 7], ' ') AS span FROM sp0),
        |d AS (SELECT span FROM sp GROUP BY span HAVING count(*) >= 2),
        |ds AS (SELECT sp.doc_id, sp.st FROM sp JOIN d USING (span)),
        |cov AS (SELECT DISTINCT doc_id, st + o AS p FROM ds, range(0, 8) r(o)),
        |tok0 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p FROM t),
        |pd AS (
        |  SELECT tok0.doc_id, count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
        |  FROM tok0 LEFT JOIN cov ON tok0.doc_id = cov.doc_id AND tok0.p = cov.p
        |  GROUP BY 1)
        |SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(pd.n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(pd.n_cov) AS BIGINT) AS n_dup,
        |  round(CAST(sum(pd.n_cov) AS DOUBLE) / sum(pd.n_tokens), 4) AS dup_share
        |FROM pd JOIN t USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Exhaustive Hamming<=3 over md5-based 48-bit simhashes. Equals the
    // engine's banded candidate set by pigeonhole (4 bands, radius 3), so
    // this certifies BOTH the signature computation and the LSH layout.
    "q40_simhash_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest($DuckShingles) AS g
         |  FROM t WHERE len(toks) >= 3),
         |fh AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 12))::BIGINT AS h FROM sh),
         |bits AS (
         |  SELECT doc_id, k, sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM fh, range(0, 48) r(k) GROUP BY 1, 2),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN vote > 0 THEN 1::BIGINT << k ELSE 0::BIGINT END) AS BIGINT) AS s
         |  FROM bits GROUP BY 1)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.s, b.s)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // The whole cleaning pipeline recomputed independently: quality gate,
    // exact-dedup keeper election, exhaustive fuzzy pairs among survivors,
    // recursive-CTE canonicalization — certifies the COMPOSITION of q79.
    "q79_clean_pipeline" ->
      s"""WITH RECURSIVE
         |d0 AS (SELECT doc_id, text, n_chars,
         |         md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp FROM documents),
         |rem1 AS (SELECT * FROM d0 WHERE n_chars >= 220),
         |ke AS (SELECT fp, min(doc_id) AS kid FROM rem1 GROUP BY 1),
         |dupex AS (SELECT r.doc_id FROM rem1 r JOIN ke k ON r.fp = k.fp AND r.doc_id <> k.kid),
         |rem2 AS (SELECT doc_id, text FROM rem1
         |         WHERE doc_id NOT IN (SELECT doc_id FROM dupex)),
         |t AS (
         |  SELECT doc_id, $DuckShingles AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM rem2)
         |  WHERE len(toks) >= 3),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(doc_id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src),
         |dupfz AS (SELECT doc_id FROM (SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY 1)
         |          WHERE keep_id <> doc_id)
         |SELECT d0.doc_id,
         |  CASE WHEN d0.n_chars < 220 THEN 'low_quality'
         |       WHEN d0.doc_id IN (SELECT doc_id FROM dupex) THEN 'dup_exact'
         |       WHEN d0.doc_id IN (SELECT doc_id FROM dupfz) THEN 'dup_fuzzy'
         |       ELSE 'kept' END AS status
         |FROM d0 ORDER BY d0.doc_id""".stripMargin,
    // Exhaustive cross-boundary truth: batch (>=400) x corpus (<400) pairs
    // with trigram Jaccard >= 0.8 — certifies MinHashIndex build + query.
    "q78_incr_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id, $DuckShingles AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3)
         |SELECT b.doc_id AS batch_id, a.doc_id AS corpus_id,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)), 4) AS jaccard
         |FROM t a JOIN t b ON a.doc_id < 400 AND b.doc_id >= 400
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      len(list_distinct(a.sh || b.sh)) >= 0.8
         |ORDER BY batch_id, corpus_id""".stripMargin,
    // Exhaustive-truth oracle: every pair with trigram Jaccard >= 0.8.
    // Matches q38 iff LSH recall is 1 at this scale (certified by this check).
    "q38_minhash_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id, $DuckShingles AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)), 4) AS jaccard
         |FROM t a JOIN t b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      len(list_distinct(a.sh || b.sh)) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    // exhaustive ROUNDED >=0.8 truth + every b x r banding's candidate
    // pairs recomputed from the exported q122 signature table (list-slice
    // equality per band — the same bucket-key semantics as the engine's
    // literal-component keys)
    "q226_banding_sweep" -> {
      val cands = SweepBandings.map { case (b, r) =>
        s"""cand$b AS (
           |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
           |  FROM sg a JOIN sg b2 ON a.doc_id < b2.doc_id
           |  WHERE len(list_filter(range(0, $b),
           |    j -> a.sig[j*$r+1 : j*$r+$r] = b2.sig[j*$r+1 : j*$r+$r])) > 0)""".stripMargin
      }.mkString(",\n")
      val rows = SweepBandings.map { case (b, r) =>
        s"""  SELECT CAST($b AS BIGINT) AS b, CAST($r AS BIGINT) AS r,
           |    (SELECT CAST(count(*) AS BIGINT) FROM cand$b) AS n_cand,
           |    (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_true,
           |    (SELECT CAST(count(*) AS BIGINT) FROM cand$b JOIN p USING (doc_a, doc_b)) AS n_hit""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS (
         |  SELECT doc_id, $DuckShingles AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3),
         |sg AS (SELECT doc_id, sig
         |       FROM read_parquet('{GRAFT_OUT}_support/q122_support_sigs/*.parquet')),
         |p AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |            len(list_distinct(a.sh || b.sh)), 4) AS jaccard
         |    FROM t a JOIN t b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.8),
         |$cands
         |SELECT b, r, n_cand, n_true, n_hit,
         |  round(CAST(n_hit AS DOUBLE) / n_true, 4) AS recall
         |FROM (
         |$rows)
         |ORDER BY b""".stripMargin
    },
    // the exhaustive pair scan with the ROUNDED threshold — exactly the
    // engine's verification contract (prefix filtering changes only the
    // candidate generation, never the verified set)
    "q227_prefix_filter_join" ->
      s"""WITH t AS (
         |  SELECT doc_id, $DuckShingles AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          len(list_distinct(a.sh || b.sh)), 4) AS jaccard
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    "q39_ngram_jaccard" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, bucket, $DuckShingles AS sh
         |  FROM (SELECT doc_id, lang, n_chars // 100 AS bucket,
         |          string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          len(list_distinct(a.sh || b.sh)), 4) AS jaccard
         |  FROM t a JOIN t b
         |    ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    // Transitive closure over the exhaustive >=0.8-Jaccard pair set via a
    // recursive CTE — certifies the iterative min-label propagation.
    "q56_dedup_canonical" ->
      s"""WITH RECURSIVE
         |t AS (
         |  SELECT doc_id, $DuckShingles AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(doc_id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src)
         |SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q56 closure (verbatim CTEs) + the q34 quality kernel + the
    // q151 audit algebra over it; docs outside the closure keep
    // themselves through the left-join coalesce
    "q174_fuzzy_dedup_bias" -> (
      s"""WITH RECURSIVE
         |t AS (
         |  SELECT doc_id, $DuckShingles AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(doc_id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src),
         |keepq AS (SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY 1),
         |q AS (
         |  SELECT d.doc_id, d.source,
         |    round(least(len(string_split(trim(regexp_replace(d.text, '\\s+', ' ', 'g')), ' ')) / 50.0, 1.0) *
         |      (1.0 - CAST(len(list_filter(string_split(trim(regexp_replace(d.text, '\\s+', ' ', 'g')), ' '),
         |          x -> x IN ('the','a','of','and','or','to','in'))) AS DOUBLE)
         |        / len(string_split(trim(regexp_replace(d.text, '\\s+', ' ', 'g')), ' '))), 4) AS quality,
         |    coalesce(k.keep_id, d.doc_id) = d.doc_id AS kept
         |  FROM documents d LEFT JOIN keepq k USING (doc_id))
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
         |""".stripMargin +
      s"  ${graft.ops.ExactMean.mean4Sql("CASE WHEN kept THEN quality END")} AS q_kept,\n" +
      s"  ${graft.ops.ExactMean.mean4Sql("CASE WHEN NOT kept THEN quality END")} AS q_removed\n" +
      "FROM q GROUP BY 1 ORDER BY 1"),
    // the q56 closure (verbatim CTEs) + the per-(component, source)
    // count fold + the arithmetic pair algebra (diagonal C(n,2), cross
    // n_a*n_b) — integer end to end
    "q181_syndication_matrix" ->
      s"""WITH RECURSIVE
         |t AS (
         |  SELECT doc_id, $DuckShingles AS sh
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(doc_id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src),
         |comp AS (SELECT doc_id, min(r) AS c FROM reach GROUP BY 1),
         |bysrc AS (
         |  SELECT c, source, count(*) AS n
         |  FROM comp JOIN documents USING (doc_id) GROUP BY 1, 2)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_comps,
         |  CAST(sum(CASE WHEN a.source = b.source
         |    THEN (a.n * (a.n - 1)) // 2 ELSE a.n * b.n END) AS BIGINT) AS n_pairs
         |FROM bysrc a JOIN bysrc b ON a.c = b.c AND a.source <= b.source
         |WHERE NOT (a.source = b.source AND a.n < 2)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
