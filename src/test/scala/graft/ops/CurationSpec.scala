package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Curation-operator invariants beyond the DuckDB hash certification:
  * the classifier actually learns the gate it distills, the filtered
  * search honors its predicate, semdedup's engine edges equal the brute
  * within-cell pair set, and the prototype cut drops exactly the
  * per-cell closest fraction. */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001"

  private def embMap(): Map[Long, Array[Float]] =
    graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap

  private def assignment(): Map[Long, Long] =
    IvfIndex.load(spark, Similarity.dedupIvfDir(spark, sf)).cells
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dp / (math.sqrt(na) * math.sqrt(nb))
  }

  test("q101: the distilled classifier agrees with the rule gate it was trained on") {
    val out = Curation.queries("q101_quality_classifier")(spark, sf)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val gate = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.ruleGateKeep().cast("long").as("g"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val agree = out.count { case (id, k) => gate(id) == k }
    val acc = agree.toDouble / out.size
    // the (n, n²) pair lets the margin carve the gate's n_words band;
    // exact equality is still not the contract (measured 0.96 at sf0.01,
    // up from 0.84 with the linear-n feature set)
    assert(acc >= 0.85, s"classifier/gate agreement $acc below floor")
    assert(out.values.toSet == Set(0L, 1L), "both verdicts must occur")
  }

  test("q101: margins are finite and keep is exactly sign(margin)") {
    val rows = Curation.queries("q101_quality_classifier")(spark, sf)
      .select(col("margin"), col("keep")).collect()
    rows.foreach { r =>
      val m = r.getDouble(0)
      assert(!m.isNaN && !m.isInfinite, s"non-finite margin $m")
      assert(r.getLong(1) == (if (m > 0) 1L else 0L))
    }
  }

  test("q102: every served neighbor satisfies the label predicate; no self matches") {
    val labels = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val rows = Curation.queries("q102_ann_filtered")(spark, sf)
      .select(col("vec_id"), col("rn"), col("nn_id")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, nn) = (r.getLong(0), r.getLong(2))
      assert(q != nn, "self match")
      assert(Curation.FilteredLabels.contains(labels(nn)),
        s"neighbor $nn has disallowed label ${labels(nn)}")
    }
    // ranks are dense from 1 per query
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length),
        s"ranks not dense for query $q")
    }
  }

  test("q103: engine edges equal the brute within-cell >=t pair set") {
    val emb = embMap()
    val asg = assignment()
    val brute = (for {
      a <- asg.keys; b <- asg.keys
      if a < b && asg(a) == asg(b) && cos(emb(a), emb(b)) >= Curation.SemDedupCosT
    } yield (a, b)).toSet
    val members = IvfIndex.load(spark, Similarity.dedupIvfDir(spark, sf)).cells
      .select(col("cell").cast("long").as("cell"), col("vec_id"), col("embedding"))
    val engine = Curation.withinCellEdges(spark, members, Curation.SemDedupCosT)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(engine == brute,
      s"missing=${(brute -- engine).take(5)} extra=${(engine -- brute).take(5)}")
    assert(brute.nonEmpty, "fixture must exercise a non-trivial edge set")
  }

  test("q103: hot-cell guard preserves the exact edge set under forced splitting") {
    // one giant cell (every vector) plus a forced tiny cap: the triangle
    // decomposition must still produce each qualifying unordered pair
    // exactly once — equality against the unguarded single-task sweep,
    // and no duplicate emissions
    val emb = embMap()
    val members = graft.Tables.embeddings(spark, sf)
      .select(lit(0L).as("cell"), col("vec_id"), col("embedding"))
    val plain = (for {
      a <- emb.keys; b <- emb.keys
      if a < b && cos(emb(a), emb(b)) >= Curation.SemDedupCosT
    } yield (a, b)).toSet
    val guarded = Curation.withinCellEdges(spark, members,
        Curation.SemDedupCosT, cap = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(guarded.length == guarded.toSet.size, "duplicate pair emissions")
    assert(guarded.toSet == plain,
      s"missing=${(plain -- guarded.toSet).take(5)} extra=${(guarded.toSet -- plain).take(5)}")
    assert(plain.nonEmpty, "fixture must exercise a non-trivial edge set")
  }

  test("q103: representatives are component minima and stay within the cell") {
    val asg = assignment()
    val rows = Curation.queries("q103_semdedup")(spark, sf)
      .select(col("vec_id"), col("cell"), col("keep_id"), col("is_dup"))
      .collect()
    rows.foreach { r =>
      val (v, c, k) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(k <= v, "representative must be the min id")
      assert(asg(v) == c, "reported cell must match the assignment")
      assert(asg(k) == c, "representative must live in the same cell")
      assert(r.getLong(3) == (if (v == k) 0L else 1L))
    }
  }

  test("q107: exported rates equal an independent fit; the mix rebalances toward the tail") {
    val perDoc = graft.Tables.documents(spark, sf)
      .select(col("lang"), graft.functions.TextFns.tokenCount(col("text")).as("nt"))
      .collect().map(r => (r.getString(0), r.getInt(1).toLong))
    val toks = perDoc.groupBy(_._1).map { case (l, xs) => (l, xs.map(_._2).sum) }
    val total = toks.values.sum.toDouble
    val langs = toks.keys.toSeq.sorted
    val mass = langs.map(l => math.sqrt(toks(l) / total))
    val z = mass.sum
    val budget = total * Curation.MixBudgetFrac
    val expThr = langs.zip(mass).map { case (l, m) =>
      val rate =
        if (toks(l) == 0L) 1.0 else math.min(1.0, (m / z) * budget / toks(l))
      (l, math.min(65536L, math.round(rate * 65536)))
    }.toMap
    val fit = Curation.tempMix(spark, sf)
      .select(col("lang"), col("tokens_in"), col("thr16")).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(fit.keySet == toks.keySet)
    fit.foreach { case (l, (tin, thr)) =>
      assert(tin == toks(l), s"tokens_in mismatch for $l")
      assert(thr == expThr(l), s"thr16 mismatch for $l: $thr vs ${expThr(l)}")
    }
    // funnel arithmetic + rebalancing direction: the head language loses
    // token share, some tail language gains (τ=0.5 damps the head)
    val out = Curation.queries("q107_temp_mix")(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    out.foreach { case (l, (nd, tin, dk, tk)) =>
      assert(dk <= nd && tk <= tin, s"funnel inconsistency for $l")
      assert(tin == toks(l))
    }
    val keptTotal = out.values.map(_._4).sum.toDouble
    val head = toks.maxBy(_._2)._1
    def inShare(l: String) = toks(l) / total
    def outShare(l: String) = out(l)._4 / keptTotal
    assert(outShare(head) < inShare(head), "head language must be damped")
    assert(langs.exists(l => l != head && outShare(l) > inShare(l)),
      "some tail language must gain share")
  }

  test("q108: exactly one keep per group, and it is the margin argmax") {
    val rows = Curation.queries("q108_quality_retention")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty, "fixture must contain near-dup groups")
    // groups equal the q56 canonical-group vertex sets
    val q56 = graft.SparkEntry.queries("q56_dedup_canonical")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.map(_._1).toSet == q56.keySet,
      "q108 must score exactly the q56 component vertex set")
    rows.groupBy(_._2).foreach { case (g, mem) =>
      assert(mem.count(_._4 == 1L) == 1, s"group $g must keep exactly one member")
      val kept = mem.find(_._4 == 1L).get
      val best = mem.minBy(m => (-m._3, m._1))
      assert(kept._1 == best._1,
        s"group $g kept ${kept._1} but argmax is ${best._1}")
      // group ids are consistent with the q56 labels
      mem.foreach { m => assert(q56(m._1) == mem.map(_._1).min) }
    }
  }

  test("q109: every doc is assigned; near-dup groups never straddle the split") {
    val rows = Curation.queries("q109_leakage_split")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, "every document must receive a split")
    // group coherence: one split per group — the leakage guarantee
    rows.groupBy(_._2).foreach { case (g, mem) =>
      assert(mem.map(_._3).distinct.length == 1,
        s"group $g straddles the split: ${mem.toSeq}")
    }
    // the q56 components are the non-singleton groups
    val q56 = graft.SparkEntry.queries("q56_dedup_canonical")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.foreach { case (doc, g, _) =>
      assert(g == q56.getOrElse(doc, doc),
        s"doc $doc group $g must be its component label (or itself)")
    }
    // both splits occur and val is minority (10% target, loose band)
    val valFrac = rows.count(_._3 == "val").toDouble / rows.length
    assert(valFrac > 0.0 && valFrac < 0.3, s"val fraction $valFrac out of band")
  }

  test("q105: engine weights equal a scala-side recomputation of the DSIR model") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def buckets(text: String): Seq[String] = {
      val toks = text.trim.replaceAll("\\s+", " ").split(" ", -1).toSeq
      if (toks.length < 2) Seq.empty
      else toks.sliding(2).map { p =>
        java.security.MessageDigest.getInstance("MD5")
          .digest((p(0) + " " + p(1)).getBytes("UTF-8"))
          .take(1).map(b => f"${b & 0xff}%02x").mkString
      }.toSeq
    }
    // independent model fit: raw/target bucket counts, add-1 smoothing,
    // micro-unit rounding — the engine's exported math, re-derived
    val all = docs.flatMap { case (_, t, l) => buckets(t).map((_, l)) }
    val ct = all.filter(_._2 == Curation.DsirTargetLang).groupBy(_._1)
      .view.mapValues(_.length.toLong).toMap
    val cr = all.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val (nt, nr) = (ct.values.sum.toDouble, cr.values.sum.toDouble)
    val lr = cr.keys.map { b =>
      (b, math.round((math.log((ct.getOrElse(b, 0L) + 1.0) / (nt + Curation.DsirBuckets)) -
        math.log((cr(b) + 1.0) / (nr + Curation.DsirBuckets))) * 1e6))
    }.toMap
    val out = Curation.queries("q105_dsir_weights")(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == docs.length, "one row per document")
    docs.foreach { case (id, t, _) =>
      val bs = buckets(t)
      val w = bs.map(lr).sum
      val (nG, wM, sel) = out(id)
      assert(nG == bs.length.toLong, s"doc $id n_grams")
      assert(wM == w, s"doc $id weight: engine $wM vs recomputed $w")
      assert(sel == (if (w > 0) 1L else 0L), s"doc $id selected")
    }
    val sels = out.values.map(_._3).toSet
    assert(sels == Set(0L, 1L), "both selection verdicts must occur")
  }

  test("q106: negatives equal the brute label-mismatch ranking over probed cells") {
    val emb = embMap()
    val labels = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val idx = IvfIndex.load(spark, Similarity.ivfDir(spark, sf))
    val cells = idx.cells.select(col("cell").cast("long"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val out = Curation.queries("q106_hard_negatives")(spark, sf)
      .select(col("vec_id"), col("rn"), col("neg_id"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val byQ = out.groupBy(_._1)
    emb.keys.filter(_ < Similarity.ServeBatchMaxId).foreach { q =>
      val probed = IvfIndex.nearestCells(idx.centroids, IvfIndex.unit(emb(q)),
        Similarity.ServeNProbe)
      val expected = probed.toSeq.flatMap(c => cells.getOrElse(c.toLong, Seq.empty))
        .distinct
        .filter(c => c != q && labels(c) != labels(q))
        .map(c => (c, cos(emb(q), emb(c))))
        .filterNot(_._2.isNaN)
        .sortBy { case (id, cs) => (-cs, id) }.take(Curation.HardNegK)
      val got = byQ.getOrElse(q, Array.empty).sortBy(_._2).toSeq
      assert(got.map(_._3) == expected.map(_._1), s"query $q negative ids")
      got.map(_._4).zip(expected.map(_._2)).foreach { case (gc, ec) =>
        val want = BigDecimal(ec).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(gc - want) < 1e-9, s"query $q cos $gc vs $want")
      }
      got.foreach { case (_, _, n, _) =>
        assert(labels(n) != labels(q), s"negative $n shares query $q's label") }
    }
  }

  test("q104: the cut drops exactly the per-cell closest ceil(frac*n) vectors") {
    val rows = Curation.queries("q104_proto_prune")(spark, sf)
      .select(col("vec_id"), col("cell"), col("dist2"), col("rn"),
        col("n_cell"), col("keep")).collect()
    val asg = assignment()
    assert(rows.length == asg.size, "one row per indexed vector")
    rows.groupBy(_.getLong(1)).foreach { case (cell, rs) =>
      val n = rs.length
      assert(rs.forall(_.getLong(4) == n), s"n_cell mismatch in cell $cell")
      val dropped = rs.filter(_.getLong(5) == 0L)
      val cut = math.ceil(Curation.PruneFrac * n).toLong
      assert(dropped.length.toLong == cut,
        s"cell $cell: dropped ${dropped.length}, expected $cut of $n")
      // the dropped set is exactly the rank prefix (closest to centroid)
      val byRank = rs.sortBy(_.getInt(3))
      assert(byRank.take(dropped.length).forall(_.getLong(5) == 0L))
      assert(byRank.drop(dropped.length).forall(_.getLong(5) == 1L))
    }
  }
}
