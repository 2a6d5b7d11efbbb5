package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants for the round-4 training-data operators (q74
  * embedding dedup, q75 chunking, q76 packing) — value-level certification
  * is the DuckDB oracle; these pin the semantic shape at sf0.001. */
class TrainingDataOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001"

  test("rule gate: null-text docs get keep=0 (not null); predicate form drops them") {
    import spark.implicits._
    val passing = ("the quick brown fox jumps over a lazy dog of note " * 4).trim
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, passing), (3L, "too short"))
      .toDF("doc_id", "text")
    val out = graft.ops.TextOps.ruleGate(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the oracle's CASE emits 0 for null text — the engine must match, not
    // propagate null through the conjunction
    assert(!out(1L).isNullAt(4) && out(1L).getLong(4) == 0L)
    assert(out(2L).getLong(4) == 1L, s"calibrated text must pass: ${out(2L)}")
    assert(out(3L).getLong(4) == 0L)
    val kept = docs.filter(graft.ops.TextOps.ruleGateKeep())
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(2L))
  }

  test("q74: embedding dedup components match brute-force union-find over >=0.4 cosine pairs") {
    // exhaustive truth: all-pairs cosine in-test, then driver-side union-find
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val inPairs = scala.collection.mutable.Set.empty[Long]
    for (i <- vecs.indices; j <- (i + 1) until vecs.length)
      if (cos(vecs(i)._2, vecs(j)._2) >= 0.4) {
        union(vecs(i)._1, vecs(j)._1)
        inPairs += vecs(i)._1; inPairs += vecs(j)._1
      }
    val truth = inPairs.map(v => v -> find(v)).toMap
    val got = ops.Similarity.q74EmbedDedup(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(truth.nonEmpty, "test embeddings should produce >=0.4 pairs")
    assert(got == truth)
  }

  test("q75: chunk grid covers every token exactly on the 48-stride, 64-window contract") {
    val chunks = ops.TextOps.q75Chunk(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1)
    val nTokens = Tables.documents(spark, sf)
      .select(col("doc_id"), functions.TextFns.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(chunks.keySet == nTokens.keySet)
    chunks.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      val n = nTokens(doc)
      // starts are exactly 1, 49, 97, ... up to n
      assert(sorted.map(_._2).toSeq == (1 to n by 48).toSeq, s"doc $doc chunk grid")
      // each chunk takes 64 tokens or whatever remains (stride 48 < window
      // 64 means the last TWO chunks can both be truncated)
      sorted.foreach { case (_, start, len) =>
        assert(len == math.min(64, n - start + 1), s"doc $doc chunk at $start")
      }
      val (_, lastStart, lastLen) = sorted.last
      assert(lastStart + lastLen - 1 == n, s"doc $doc last chunk must end at token $n")
    }
  }

  test("q79 composition: planted exact clones and near-dups get the right disposition") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 8 // 8 tokens x 8
    val docs = Seq(
      (1L, base, base.trim.length),                        // kept (canonical)
      (2L, base, base.trim.length),                        // exact clone of 1 -> dup_exact
      (3L, base + "iota", base.length + 4),                // near-dup of 1 -> dup_fuzzy
      (4L, "tiny", 4),                                     // low_quality
      (5L, ("omega psi chi phi upsilon tau sigma rho " * 8).trim,
        ("omega psi chi phi upsilon tau sigma rho " * 8).trim.length) // kept
    ).toDF("doc_id", "text", "n_chars")
    val got = ops.Dedup.cleanCorpus(docs, ops.Dedup.minhashPairsOf(docs))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "kept", 2L -> "dup_exact", 3L -> "dup_fuzzy",
      4L -> "low_quality", 5L -> "kept"))
  }

  test("cleanCorpus retention scores flip the survivor in BOTH dedup tiers") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 8
    val docs = Seq(
      (1L, base, base.trim.length),                        // exact group {1,2}
      (2L, base, base.trim.length),
      (3L, base + "iota", base.length + 4),                // fuzzy near-dup of the winner
      (5L, ("omega psi chi phi upsilon tau sigma rho " * 8).trim,
        ("omega psi chi phi upsilon tau sigma rho " * 8).trim.length)
    ).toDF("doc_id", "text", "n_chars")
    // score favors the HIGHER ids — the opposite of min-id retention
    val scores = Seq((1L, 0.1), (2L, 0.9), (3L, 2.0), (5L, 0.5))
      .toDF("doc_id", "score")
    val got = ops.Dedup.cleanCorpus(docs, ops.Dedup.minhashPairsOf(docs), Some(scores))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // exact tier: 2 beats 1; fuzzy tier: 3 (score 2.0) beats 2 (0.9)
    assert(got == Map(1L -> "dup_exact", 2L -> "dup_fuzzy", 3L -> "kept",
      5L -> "kept"), got.toString)
    // an unscored duplicate always loses to a scored one
    val partial = Seq((2L, 0.9), (3L, 0.1), (5L, 0.5)).toDF("doc_id", "score")
    val got2 = ops.Dedup.cleanCorpus(docs, ops.Dedup.minhashPairsOf(docs), Some(partial))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2(1L) == "dup_exact" && got2(2L) == "kept" && got2(3L) == "dup_fuzzy",
      got2.toString)
  }

  test("q80: approx percentiles stay within 5% relative error of the exact q72") {
    val exact = ops.Relational.q72Percentiles(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = ops.Relational.q80ApproxPercentiles(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (lang, (p50, p90)) =>
      val (e50, e90) = exact(lang)
      assert(math.abs(p50 - e50).toDouble / e50 <= 0.05, s"$lang p50 $p50 vs $e50")
      assert(math.abs(p90 - e90).toDouble / e90 <= 0.05, s"$lang p90 $p90 vs $e90")
    }
  }

  test("q76: bins are contiguous per source, conserve tokens/docs, and respect the 512 budget grid") {
    val bins = ops.TextOps.q76Pack(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val totals = Tables.documents(spark, sf)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(functions.TextFns.tokenCount(col("text")).cast("long")).as("toks"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bins.keySet == totals.keySet)
    bins.foreach { case (src, bs) =>
      val sorted = bs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until sorted.length.toLong).toSeq,
        s"source $src bins must be contiguous from 0")
      assert(sorted.map(_._3).sum == totals(src)._1, s"source $src doc conservation")
      assert(sorted.map(_._4).sum == totals(src)._2, s"source $src token conservation")
      // bin b>0 starts only after the prior bins crossed the b*512 boundary
      var cum = 0L
      sorted.foreach { case (_, b, _, toks) =>
        if (b > 0) assert(cum >= b * 512, s"source $src bin $b opened early at cum=$cum")
        cum += toks
      }
    }
  }

  private def md5hex2(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .take(1).map(b => f"${b & 0xff}%02x").mkString

  private def md5hex32(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private def toksOf(text: String): Array[String] =
    text.trim.replaceAll("\\s+", " ").split(" ")

  test("q82: bloom prefilter + exact verify equals the full exact join (q69 restricted)") {
    // the sketch admits false positives; the verify join must remove every
    // one of them, so q82 == q69's contaminated subset exactly
    val exact = ops.TextOps.q69Contamination(spark, sf)
      .filter(col("n_overlap") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = ops.Scoring.q82BloomDecontam(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty, "fixture should contain contaminated docs")
    assert(got == exact)
  }

  test("q83: mixture multiplicities match a driver-side md5 reference") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val ref = docs.map { case (id, src, text) =>
      val grp = src.drop(3).toInt % 4
      val (base, thr) = grp match {
        case 0 => (2, "80"); case 1 => (1, "00"); case 2 => (0, "40"); case _ => (0, "00")
      }
      val n = base + (if (md5hex2(id) < thr) 1 else 0)
      (src, id, toksOf(text).length.toLong, n)
    }.filter(_._4 > 0).groupBy(_._1).map { case (src, rs) =>
      src -> (rs.map(_._2).distinct.length.toLong, rs.map(_._4.toLong).sum,
        rs.map(r => r._3 * r._4).sum)
    }
    val got = ops.Scoring.q83WeightedMix(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == ref)
    // the mixture must actually up- AND down-sample: grp0 sources emit more
    // rows than docs, grp2 fewer than 25, grp3 none
    assert(got("src0")._2 > got("src0")._1, "src0 should be upsampled")
    assert(!got.contains("src3"), "src3 has weight 0 and must be dropped")
  }

  test("q84/q85: BM25 and perplexity match independent driver-side references") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), toksOf(r.getString(1))))
    // BM25 reference
    val qTerms = Seq("spark", "join", "data")
    val nDocs = docs.length.toDouble
    val avgdl = docs.map(_._2.length).sum / nDocs
    val dfT = qTerms.map(t => t -> docs.count(_._2.contains(t))).toMap
    val scores = docs.map { case (id, toks) =>
      val s = qTerms.map { t =>
        val tf = toks.count(_ == t)
        if (tf == 0) 0.0
        else {
          val idf = math.log((nDocs - dfT(t) + 0.5) / (dfT(t) + 0.5) + 1)
          idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * toks.length / avgdl))
        }
      }.sum
      (id, s)
    }.filter(_._2 > 0)
    val top = scores.map { case (id, s) =>
      (id, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, s) => (-s, id) }.take(20)
    val gotBm = ops.Scoring.q84Bm25(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(gotBm.length == 20)
    gotBm.zip(top).foreach { case ((gid, gs), (wid, ws)) =>
      assert(gid == wid && math.abs(gs - ws) <= 2e-4, s"doc $gid: $gs vs $wid: $ws")
    }
    // perplexity reference: mean negative log-likelihood under the
    // corpus-fit unigram model
    val uni = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = uni.values.sum.toDouble
    val gotP = ops.Scoring.q85Perplexity(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(gotP.length == docs.length)
    val byId = docs.toMap
    gotP.foreach { case (id, nToks, nll) =>
      val toks = byId(id)
      assert(nToks == toks.length)
      val want = -toks.map(t => math.log(uni(t) / total)).sum / toks.length
      assert(math.abs(nll - want) <= 2e-4, s"doc $id: nll $nll vs $want")
      assert(nll > 0)
    }
  }

  test("q87: stratified sample takes exactly 5 per source via the native top-k plan") {
    val df = ops.Scoring.q87StratifiedSample(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"expected the native operator:\n$plan")
    assert(!plan.toLowerCase.contains("window"), "no window sort on the sample path")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.groupBy(_._1).forall(_._2.length == 5), "exactly 5 docs per source")
    // reference selection: k smallest md5 per stratum
    val want = Tables.documents(spark, sf).select(col("source"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy(r => (md5hex32(r._2), r._2)).take(5).toSeq
      }.toSet
    assert(got.toSet == want)
  }

  test("q87/q191 redraw salt: a non-default salt yields a different, equally-sized sample (r15 verdict #7)") {
    val base = ops.Scoring.stratifiedSampleOf(spark, sf, 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val redraw = ops.Scoring.stratifiedSampleOf(spark, sf, 5, salt = "redraw1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // same shape: exactly 5 per source on both draws
    assert(base.groupBy(_._1).forall(_._2.length == 5))
    assert(redraw.groupBy(_._1).forall(_._2.length == 5))
    assert(base.map(_._1).toSet == redraw.map(_._1).toSet)
    // an independent permutation: the draws differ (md5 of salted ids)
    assert(base.toSet != redraw.toSet,
      "a different salt must redraw the sample")
    // and the default salt IS the certified q87 draw, row for row
    val q87 = ops.Scoring.q87StratifiedSample(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(base.toSet == q87.toSet)
    // the audit under a redraw salt keeps its per-source corpus stats
    // (only the sample columns may move)
    val a0 = ops.Scoring.sampleAuditOf(spark, sf, "")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    val a1 = ops.Scoring.sampleAuditOf(spark, sf, "redraw1")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    assert(a0.toSeq == a1.toSeq, "n_docs/q_corpus must not depend on the salt")
  }

  test("q88: CMS prefilter + exact verify equals the exact heavy-hitter set") {
    val exact = Tables.documents(spark, sf)
      .select(explode(functions.TextFns.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 900)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = ops.Scoring.q88HeavyHitters(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty, "fixture should contain heavy tokens")
    assert(got == exact, "sketch overestimates must be removed by the exact verify")
  }

  test("q89: weighted sample matches the A-Res reference and favors heavy docs") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def uOf(id: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.take(13)
      (java.lang.Long.parseLong(hex, 16) + 0.5) / 4503599627370496.0
    }
    val want = docs.map { case (id, w) => (id, w, math.log(uOf(id)) / w) }
      .sortBy { case (id, _, k) => (-k, id) }.take(20).map(t => (t._1, t._2)).toSet
    val got = ops.Scoring.q89WeightedSample(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 20 && got.toSet == want)
    // weight-proportional selection must visibly favor long documents
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    val sampleMean = got.map(_._2).sum.toDouble / got.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("q110: boilerplate scrub drops planted template trigrams, keeps unique content") {
    import spark.implicits._
    val template = "all rights reserved worldwide"  // 4 tokens → 2 trigrams
    // 150 docs so the 1% relative threshold bites (df·100 ≥ 150 ⇒ df ≥ 2):
    // 30 share the template (df 30), each with unique content before/after;
    // 120 are fully unique — every trigram of theirs has df 1 and must
    // come back verbatim. The filler-template boundary trigrams (e.g.
    // "alpha7 beta7 all") occur once each and stay under threshold too.
    val docs = ((0 until 30).map { i =>
      (i.toLong, s"alpha$i beta$i $template gamma$i delta$i")
    } ++ (30 until 150).map { i =>
      (i.toLong, s"unique$i content$i here$i stays$i intact$i")
    }).toDF("doc_id", "text")
    val out = ops.TextOps.boilerplateScrubOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    (0 until 30).foreach { i =>
      val (n, drop, clean) = out(i.toLong)
      assert(n == 8 && drop == 4, s"doc $i: template tokens dropped, got $drop of $n")
      assert(clean == s"alpha$i beta$i gamma$i delta$i",
        s"doc $i: unique content must survive in order, got '$clean'")
    }
    (30 until 150).foreach { i =>
      val (n, drop, clean) = out(i.toLong)
      assert(n == 5 && drop == 0 && clean.startsWith(s"unique$i"),
        s"doc $i must be untouched, got '$clean'")
    }
  }

  test("q133: run collapse keeps one survivor per run, reports the longest run, and is idempotent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c a"),      // runs: a×3, b×2 → collapsed 3, max 3
      (2L, "x y z"),              // no runs
      (3L, "t t t t t"),          // one run of 5 → "t"
      (4L, "p  q\tq\nq r")        // whitespace-normalized BEFORE run detection
    ).toDF("doc_id", "text")
    val out = ops.TextOps.runCollapseOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == ((7L, 3L, 3L, "a b c a")),
      s"interleaved runs collapse per run, later recurrence survives: ${out(1L)}")
    assert(out(2L) == ((3L, 0L, 1L, "x y z")))
    assert(out(3L) == ((5L, 4L, 5L, "t")))
    assert(out(4L) == ((5L, 2L, 3L, "p q r")),
      s"runs split by whitespace only must still collapse: ${out(4L)}")
    // idempotent: scrubbing the scrubbed text changes nothing
    val again = ops.TextOps.runCollapseOf(
        ops.TextOps.runCollapseOf(docs).select(col("doc_id"), col("clean_text").as("text")))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
    assert(again.forall(_._2 == 0L), s"second pass must collapse nothing: ${again.mkString(",")}")
  }

  test("q135: perplexity terciles cover the corpus and order head < tail by nll") {
    val out = ops.Scoring.q135CcnetBuckets(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out.keySet == Set("head", "middle", "tail"))
    val n = Tables.documents(spark, sf).count()
    assert(out.values.map(_._1).sum == n, "buckets must partition the corpus")
    // discrete cuts put ties low, so head/middle can exceed n/3 slightly
    assert(out("head")._1 >= n / 3 && out("head")._1 <= n / 3 + 5, out("head"))
    assert(out("head")._4 <= out("middle")._3 + 1e-9, "head max nll <= middle min")
    assert(out("middle")._4 <= out("tail")._3 + 1e-9, "middle max nll <= tail min")
  }

  test("q136: every shard mixes every source (entropy near the global mix at this sf)") {
    val rows = ops.Scoring.q136ShardMix(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == (0L until 8L).toSet, "all 8 shards present")
    val nSources = Tables.documents(spark, sf)
      .select(col("source")).distinct().count()
    rows.foreach { r =>
      // ~60-doc shards over 20 sources: coupon-collector says a shard may
      // miss a source or two at this sf; the MIX signal is the entropy
      assert(r.getLong(2) >= nSources - 3, s"shard ${r.getLong(0)} missing many sources: $r")
      val maxEnt = math.log(nSources.toDouble)
      assert(r.getDouble(3) > 0.85 * maxEnt && r.getDouble(3) <= maxEnt + 1e-9,
        s"shard ${r.getLong(0)} entropy ${r.getDouble(3)} far from uniform bound $maxEnt")
    }
  }

  test("q138 kernel: hand-computed recall/MRR/nDCG on a planted ranking") {
    import spark.implicits._
    val ranked = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3), (0L, 13L, 4), (0L, 14L, 5),
      (1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3)).toDF("query_id", "doc_id", "rn")
    val rel = Seq((0L, 11L), (0L, 13L), (0L, 99L), (1L, 50L)).toDF("query_id", "doc_id")
    val nrel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val got = ops.Scoring.rankingMetricsOf(ranked, rel, nrel, 5).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // q0: hits at ranks 2 and 4 of rel-set {11,13,99} → recall 2/3,
    // MRR 1/2, nDCG (1/ln3 + 1/ln5)/(1/ln2 + 1/ln3 + 1/ln4) = 0.4982
    assert(got(0L) == ((3L, 2L, 0.6667, 0.5, 0.4982)), got(0L).toString)
    // q1: nothing relevant retrieved → all three metrics zero
    assert(got(1L) == ((1L, 0L, 0.0, 0.0, 0.0)), got(1L).toString)
  }

  test("q138 kernel: a query with NO relevant documents reports zero metrics, not a dropped row") {
    import spark.implicits._
    val ranked = Seq((0L, 10L, 1), (0L, 11L, 2),
      (7L, 20L, 1), (7L, 21L, 2)).toDF("query_id", "doc_id", "rn")
    val rel = Seq((0L, 11L)).toDF("query_id", "doc_id") // query 7: n_rel = 0
    val nrel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val got = ops.Scoring.rankingMetricsOf(ranked, rel, nrel, 5).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got.keySet == Set(0L, 7L), s"the evaluation batch must not shrink: $got")
    assert(got(7L) == ((0L, 0L, 0.0, 0.0, 0.0)), got(7L).toString)
  }

  test("q147 bigram NLL: bounded by the smoothing ceiling, pair counts consistent with q85") {
    val bi = ops.Scoring.q147BigramPerplexity(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val uni = ops.Scoring.q85Perplexity(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFns.tokens(col("text"))).as("w"))
      .distinct().count()
    val totalPairs = bi.values.map(_._1).sum
    assert(bi.nonEmpty && bi.keySet == uni.filter(_._2 >= 2).keySet,
      "every >=2-token doc scores, none other")
    bi.foreach { case (id, (nPairs, nll2)) =>
      assert(nPairs == uni(id) - 1, s"doc $id: n_pairs != n_toks - 1")
      // add-1 smoothing floor/ceiling: seen-pair prob >= (1+1)/(ca+V)
      // >= 2/(totalPairs+V); prob <= 1 => 0 < nll2 <= ln((totalPairs+V)/2)
      assert(nll2 > 0.0 && nll2 <= math.log((totalPairs + v) / 2.0) + 1e-9,
        s"doc $id: nll2 $nll2 outside the smoothing bounds")
    }
  }

  test("ppl gate rejects an unknown smoothing tier instead of serving add-1") {
    val docs = spark.createDataFrame(Seq((1L, "alpha beta gamma")))
      .toDF("doc_id", "text")
    // a case typo must not fall through to the add-1 tier
    val ex = intercept[IllegalArgumentException] {
      ops.Scoring.pplGateKeep(docs, smoothing = "KN")
    }
    assert(ex.getMessage.contains("add1, kn"), ex.getMessage)
  }

  test("q142: calibration bins rank the gate label (low bins fail, high bins pass)") {
    val rows = ops.Curation.q142ClassifierCalibration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.length >= 3, "expected a spread of log-odds bins")
    assert(rows.forall { case (_, _, rate) => rate >= 0.0 && rate <= 1.0 })
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum == n, "bins must partition the corpus")
    // the classifier was bootstrapped FROM this label: deep-negative bins
    // must underperform deep-positive ones by a wide margin
    assert(rows.head._3 + 0.5 <= rows.last._3,
      s"margin must rank the gate label: ${rows.head} vs ${rows.last}")
  }

  test("q111: semantic decontam hits are sound (true cosine >= floor) with full recall at this sf") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val evalIds = vecs.keys.filter(_ % ops.Curation.DecontamEvalMod == 0).toSeq
    val truth = (for {
      e <- evalIds; (m, mv) <- vecs if m != e
      if cos(vecs(e), mv) >= ops.Curation.DecontamCos
    } yield (m, e)).toSet
    val got = ops.Curation.q111SemDecontam(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // soundness: every reported pair is a true over-threshold match
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth)}")
    // at this sf the 16-of-32-cell probe schedule (2 replicas) recovers
    // the exhaustive set; any future recall loss from retuning must be a
    // deliberate, visible trade
    assert(got == truth,
      s"missed ${truth.diff(got).size} of ${truth.size} true matches")
  }

  test("q86: shard plan covers all docs with balanced md5 shards") {
    val got = ops.Scoring.q86ShardPlan(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.map(_._1).toSeq == (0L until 8L), "all 8 shards present")
    assert(got.map(_._2).sum == 500L, "every doc assigned exactly once")
    got.foreach { case (sh, n, toks, lo, hi) =>
      assert(n > 0 && toks > 0 && lo <= hi, s"shard $sh degenerate")
    }
  }

  test("q162 entropy signals separate degenerate and repetitive docs from healthy text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaaaaaaaaaaaaaaaaaa"),                       // one symbol: char H = 0
      (2L, "spam spam spam spam spam spam"),              // one word:  tok H = 0
      (3L, "the quick brown fox jumps over a lazy dog"))  // healthy
      .toDF("doc_id", "text")
    val got = graft.ops.TextOps.entropySignals(docs).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(4)))).toMap
    assert(got(1L)._1 == 0.0, s"single-char doc must read char entropy 0: $got")
    assert(got(2L)._2 == 0.0, s"single-word doc must read token entropy 0: $got")
    assert(got(3L)._1 > got(1L)._1 && got(3L)._2 > got(2L)._2,
      s"healthy text must score above the degenerate fixtures: $got")
    // token entropy sees what surface ratios miss: doc 2 would PASS a
    // mean-word-length gate while its token distribution is degenerate
    assert(got(2L)._1 > 0.0, "repetitive words still have char spread")
  }

  test("q165 KN kernel: planted corpus matches an independent reference; P(·|a) sums to 1") {
    import spark.implicits._
    val fixture = Map(
      1L -> "a b a b a c", 2L -> "b a b a", 3L -> "c c a b",
      5L -> "a c a c") // gives ca count 2, so n2 > 0 and D is proper
    val docs = (fixture.toSeq :+ (4L -> "onetoken")).toDF("doc_id", "text")
    val got = ops.Scoring.knNllOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // independent reference: plain count maps + the interpolated
    // absolute-discount formula, written from the paper, not the engine
    val toks = fixture.map { case (k, v) => k -> v.split(" ").toSeq }
    val cab = toks.values.flatMap(ts => ts.zip(ts.tail)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val ca = cab.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    val n1a = cab.groupBy(_._1._1).map { case (a, m) => a -> m.size.toLong }
    val pre = cab.groupBy(_._1._2).map { case (b, m) => b -> m.size.toLong }
    val tt = cab.size.toDouble
    val n1 = cab.values.count(_ == 1L)
    val n2 = cab.values.count(_ == 2L)
    val dd = n1.toDouble / math.max(n1 + 2 * n2, 1)
    assert(dd > 0.0 && dd < 1.0, s"Ney discount must be a proper discount: $dd")
    def p(a: String, b: String): Double =
      ((cab((a, b)) - dd) + dd * n1a(a) * (pre(b) / tt)) / ca(a)
    // the defining property of interpolated KN: a proper conditional —
    // sum over the continuation vocabulary is 1 for every context
    ca.keys.foreach { a =>
      val mass = pre.keys.map { b =>
        (math.max(cab.getOrElse((a, b), 0L) - dd, 0.0) +
          dd * n1a(a) * (pre(b) / tt)) / ca(a)
      }.sum
      assert(math.abs(mass - 1.0) < 1e-12, s"P(.|$a) sums to $mass, not 1")
    }
    toks.foreach { case (id, ts) =>
      val ps = ts.zip(ts.tail)
      val exp = BigDecimal(-ps.map(x => math.log(p(x._1, x._2))).sum / ps.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (n, nll) = got(id)
      assert(n == ps.size, s"doc $id: n_pairs $n != ${ps.size}")
      assert(math.abs(nll - exp) < 1e-6, s"doc $id: nll_kn $nll != reference $exp")
    }
    assert(!got.contains(4L), "a 1-token doc has nothing to score")
  }

  test("q176 trigram-KN kernel: planted corpus matches an independent reference; P(·|ab) sums to 1") {
    import spark.implicits._
    val fixture = Map(
      1L -> "a b c a b c x",
      2L -> "b c a b c a",
      3L -> "a b d",
      5L -> "c a b d c a b")
    val docs = (fixture.toSeq ++ Seq(4L -> "two toks", 6L -> "one"))
      .toDF("doc_id", "text")
    val got = ops.Scoring.kn3NllOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // independent reference, written from the formula: the q165 bigram-KN
    // model over ALL >=2-token docs (the lower order sees every pair),
    // then the trigram layer over the >=3-token docs
    val toks2 = (fixture + (4L -> "two toks")).map { case (k, v) => k -> v.split(" ").toSeq }
    val cab = toks2.values.flatMap(ts => ts.zip(ts.tail)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val ca = cab.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    val n1a = cab.groupBy(_._1._1).map { case (a, m) => a -> m.size.toLong }
    val pre = cab.groupBy(_._1._2).map { case (b, m) => b -> m.size.toLong }
    val tt = cab.size.toDouble
    val dd = {
      val n1 = cab.values.count(_ == 1L); val n2 = cab.values.count(_ == 2L)
      n1.toDouble / math.max(n1 + 2 * n2, 1)
    }
    def p2(b: String, c: String): Double =
      ((math.max(cab.getOrElse((b, c), 0L) - dd, 0.0)) +
        dd * n1a(b) * (pre(c) / tt)) / ca(b)
    val toks3 = fixture.map { case (k, v) => k -> v.split(" ").toSeq }
    val tri = toks3.values.flatMap(ts =>
      ts.lazyZip(ts.tail).lazyZip(ts.tail.tail).toSeq).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val cab2 = tri.groupBy(t => (t._1._1, t._1._2)).map { case (k, m) => k -> m.values.sum }
    val n1ab = tri.groupBy(t => (t._1._1, t._1._2)).map { case (k, m) => k -> m.size.toLong }
    val d3 = {
      val n1 = tri.values.count(_ == 1L); val n2 = tri.values.count(_ == 2L)
      n1.toDouble / math.max(n1 + 2 * n2, 1)
    }
    assert(d3 > 0.0 && d3 < 1.0, s"trigram Ney discount must be proper: $d3")
    def p3(a: String, b: String, c: String): Double =
      (math.max(tri.getOrElse((a, b, c), 0L) - d3, 0.0) +
        d3 * n1ab((a, b)) * p2(b, c)) / cab2((a, b))
    // the defining property one order up: for every seen context (a,b),
    // the interpolated trigram conditional sums to 1 over the
    // continuation vocabulary (because P_KN2(·|b) does)
    cab2.keys.foreach { case (a, b) =>
      // .toSeq: pre.keys is a Set, and the unseen-continuation terms are
      // EQUAL doubles — a mapped Set would collapse them before the sum
      val mass = pre.keys.toSeq.map(c => p3(a, b, c)).sum
      assert(math.abs(mass - 1.0) < 1e-12, s"P(.|$a $b) sums to $mass, not 1")
    }
    toks3.foreach { case (id, ts) =>
      val tris = ts.lazyZip(ts.tail).lazyZip(ts.tail.tail).toSeq
      val exp = BigDecimal(-tris.map(t => math.log(p3(t._1, t._2, t._3))).sum / tris.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (n, nll) = got(id)
      assert(n == tris.size, s"doc $id: n_tri $n != ${tris.size}")
      assert(math.abs(nll - exp) < 1e-6, s"doc $id: nll_kn3 $nll != reference $exp")
    }
    assert(!got.contains(4L) && !got.contains(6L),
      "docs under 3 tokens have no trigram to score")
  }

  test("q177 on the corpus: order-3 tightens the in-model fit that order 2 certified") {
    val rows = ops.Scoring.q177Ladder3(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (src, nDocs, nTri) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(nTri <= nDocs, s"$src: $nTri scored of $nDocs")
      // in-model, the higher order fits tighter on average — the
      // direction that justifies the ladder (corpus-level, like the
      // q165-vs-q147 direction check)
      assert(r.getDouble(5) > 0.0,
        s"$src: order_gain ${r.getDouble(5)} should be positive in-model")
    }
  }

  test("q179 on the corpus: own-source models fit tighter than the global model overall") {
    val rows = ops.Scoring.q179SourceLmSpecificity(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0.0 && r.getDouble(3) > 0.0,
        s"${r.getString(0)}: NLLs must be positive (${r.getDouble(2)}, ${r.getDouble(3)})")
    }
    // direction, doc-weighted across sources: a model fit on its own
    // domain explains the domain at least as well as the pooled model
    // does ON AVERAGE (corpus-level like the q165-vs-q147 direction
    // check — individual sources can read either way)
    val wSpec = rows.map(r => r.getLong(1) * r.getDouble(4)).sum /
      rows.map(_.getLong(1)).sum
    assert(wSpec > 0.0, s"doc-weighted mean specificity $wSpec should be positive")
  }

  test("q165 vs q147 on the corpus: same doc set and pair counts, different smoothing") {
    val kn = ops.Scoring.q165KnPerplexity(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val add1 = ops.Scoring.q147BigramPerplexity(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(kn.keySet == add1.keySet, "both smoothings score exactly the >=2-token docs")
    kn.foreach { case (id, (n, nll)) =>
      assert(n == add1(id)._1, s"doc $id: pair counts must agree")
      assert(nll > 0.0 && java.lang.Double.isFinite(nll), s"doc $id: nll_kn $nll")
    }
    // add-1 drains mass from SEEN bigrams toward the uniform V-term, so
    // on a corpus scored in-model KN should read lower on average — the
    // reason KN is the production smoothing (direction, not a theorem,
    // hence corpus-level, not per-doc)
    val meanKn = kn.values.map(_._2).sum / kn.size
    val meanAdd1 = add1.values.map(_._2).sum / add1.size
    assert(meanKn < meanAdd1,
      s"KN mean nll $meanKn should undercut add-1 $meanAdd1 in-model")
  }

  test("q166 AUC kernel: midrank fold equals brute-force pair counting; single-class source reads 0.5") {
    import spark.implicits._
    val rows = Seq(
      ("s1", 0.1, 0L), ("s1", 0.2, 0L), ("s1", 0.2, 1L), ("s1", 0.3, 1L),
      ("s1", 0.3, 0L), ("s1", 0.9, 1L),
      ("s2", 0.5, 1L), ("s2", 0.6, 1L), // all-positive: nothing to rank
      ("s3", 0.4, 0L), ("s3", 0.4, 1L), ("s3", 0.4, 0L)) // all tied
    val got = ops.Curation.aucBySource(rows.toDF("source", "score", "label"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    def brute(rs: Seq[(String, Double, Long)]): Double = {
      val pos = rs.filter(_._3 == 1L).map(_._2)
      val neg = rs.filter(_._3 == 0L).map(_._2)
      val s = (for (p <- pos; n <- neg)
        yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
      BigDecimal(s / (pos.size * neg.size))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got("s1") == ((6L, 3L, 3L, brute(rows.filter(_._1 == "s1")))))
    assert(got("s2") == ((2L, 2L, 0L, 0.5)), "single-class source: chance by convention")
    assert(got("s3")._4 == 0.5, "all-tied scores rank nothing: exactly chance")
  }

  test("q167 vs q145: same vocabulary rows, lossless pieces, every piece in the induced vocab") {
    val mm = ops.TextOps.q167MaxmatchSegment(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    val bpe = ops.TextOps.q145BpeSegment(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mm.keySet == bpe.keySet, "both segmenters cover the same word counts")
    val merges = ops.TextOps.bpeMergesOf(spark, sf)
    val mergeSyms = merges.map { case (a, b) => a + b }.toSet
    mm.foreach { case (w, (n, seg, nSyms)) =>
      assert(n == bpe(w), s"$w: counts must agree")
      val pieces = seg.split(" ").toSeq
      assert(pieces.length == nSyms)
      assert(pieces.mkString("") == w, s"$w: lossless reconstruction")
      pieces.foreach { p =>
        assert(mergeSyms.contains(p) ||
          graft.ml.BpeTrain.codePointSyms(p).length == 1,
          s"$w: piece '$p' is neither a merge symbol nor a single codepoint")
      }
    }
  }

  test("q168 ladder: coverage ordering, per-source KN gain positive, tiers read from one scoring pass") {
    val rows = ops.Scoring.q168LmLadder(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum == n, "sources partition the corpus")
    rows.foreach { case (src, nDocs, nUni, nBi, _, add1, kn, gain) =>
      assert(nUni >= nBi, s"$src: unigram scores a superset of bigram-scorable docs")
      assert(nBi <= nDocs)
      if (nBi > 0) {
        assert(math.abs((add1 - kn) - gain) < 0.05,
          s"$src: mean-of-diffs must track diff-of-means: $add1 - $kn vs $gain")
      }
    }
    // KN-beats-add-1 is a corpus-level property, not per-source (a tiny
    // singleton-heavy source can read a hair negative at this sf): the
    // token-weighted mean gain must be clearly positive
    val scored = rows.filter(_._4 > 0)
    val wGain = scored.map(r => r._8 * r._4).sum / scored.map(_._4).sum
    assert(wGain > 0.0, s"weighted KN gain $wGain must be positive in-model")
  }

  test("q171 vs q157: identical coverage, upper-tercile drop mass, tail scores above kept") {
    def byId(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    val kn = byId(ops.Scoring.q171KnGateFunnel(spark, sf).collect())
    val a1 = byId(ops.Scoring.q157PplGateFunnel(spark, sf).collect())
    assert(kn.keySet == a1.keySet, "both funnels report every source")
    kn.foreach { case (src, (nDocs, nScored, nDropped, kept, dropped)) =>
      assert((nDocs, nScored) == ((a1(src)._1, a1(src)._2)),
        s"$src: coverage is tier-independent")
      assert(nDropped <= nScored)
      if (nDropped > 0 && nDropped < nScored)
        assert(dropped > kept, s"$src: the tail must score worse: $kept vs $dropped")
    }
    // the cut is the upper tercile: total drop mass reads ~1/3 of scored
    val totScored = kn.values.map(_._2).sum
    val totDropped = kn.values.map(_._3).sum
    assert(math.abs(totDropped.toDouble / totScored - 1.0 / 3) < 0.05,
      s"tercile cut: $totDropped of $totScored dropped")
  }

  test("q166 on the corpus: bins partition the docs and the margin ranks its own label") {
    val rows = ops.Curation.q166ClassifierAuc(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum == n, "per-source counts must partition the corpus")
    rows.foreach { case (src, nd, np, nn, auc) =>
      assert(np + nn == nd, s"$src: pos + neg != docs")
      assert(auc >= 0.0 && auc <= 1.0, s"$src: AUC $auc out of range")
    }
    // the classifier was bootstrapped FROM this label: it must rank it
    // clearly better than chance on the corpus-weighted average
    val rankable = rows.filter(r => r._3 > 0 && r._4 > 0)
    assert(rankable.nonEmpty)
    val wAuc = rankable.map(r => r._5 * r._2).sum / rankable.map(_._2).sum
    assert(wAuc > 0.7, s"weighted AUC $wAuc should beat chance decisively")
  }
}
