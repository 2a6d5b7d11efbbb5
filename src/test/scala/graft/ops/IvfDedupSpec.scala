package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** q74's index-backed edge generator: the cell-pair bound must reproduce
  * the exhaustive ≥t cosine pair set EXACTLY (the bound is a theorem, but
  * the implementation — float unit rounding, radius aggregation, task
  * replication — is what these tests pin), and must actually PRUNE when
  * the data clusters (the 100 TB payoff the bound exists for). */
class IvfDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("vec_a").cast("long"), col("vec_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("index-backed edges equal the exhaustive >=0.4 pair set (diffuse corpus)") {
    val exact = pairSet(Similarity.cosinePairsExact(spark, sf))
    val indexed = pairSet(Similarity.ivfDedupEdges(spark, sf))
    assert(indexed == exact,
      s"missing=${(exact -- indexed).take(5)} extra=${(indexed -- exact).take(5)}")
    assert(exact.nonEmpty, "fixture must exercise a non-trivial edge set")
  }

  /** Mixture-of-Gaussians fixture: 8 well-separated unit-ish clusters. The
    * diffuse test corpus is the bound's no-prune worst case; this is the
    * shape real embedding corpora have, where the bound must discard most
    * cell pairs. */
  private def clustered(n: Int, dim: Int, k: Int, seed: Long): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(k) {
      val c = Array.fill(dim)(rnd.nextGaussian())
      val nrm = math.sqrt(c.map(x => x * x).sum)
      c.map(x => (x / nrm) * 10.0) // spread centers far apart
    }
    (0 until n).map { i =>
      val c = centers(i % k)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }
  }

  test("cell-pair bound prunes on clustered data and stays exact") {
    import spark.implicits._
    val t = 0.9 // the production near-dup threshold regime
    val emb = clustered(n = 400, dim = 16, k = 8, seed = 42L)
      .toDF("vec_id", "embedding")
    val idx = IvfIndex.build(spark, emb, nCells = 8, seed = 11L, nReplicas = 1)
    // materialize cells once (build's assignment is lazy)
    val cells = idx.cells.cache()
    val idx2 = IvfIndex(idx.centroids, cells, idx.nReplicas)

    val edges = pairSet(Similarity.ivfCellPairEdges(spark, idx2, t))

    // brute-force truth in the test
    val vecs = emb.as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      if cos(vecs(i)._2, vecs(j)._2) >= t
    } yield (math.min(vecs(i)._1, vecs(j)._1), math.max(vecs(i)._1, vecs(j)._1))).toSet
    assert(truth.nonEmpty, "clustered fixture must produce near-dup pairs")
    assert(edges == truth,
      s"missing=${(truth -- edges).take(5)} extra=${(edges -- truth).take(5)}")

    // the pruning claim: with 8 tight far-apart clusters and t=0.9 the
    // bound must keep roughly the diagonal, not all 36 cell pairs
    val radii = {
      val bc = spark.sparkContext.broadcast(idx2.centroids)
      cells.select(col("cell").cast("long").as("cell"), col("embedding"))
        .as[(Long, Array[Float])]
        .map { case (cell, v) =>
          val u = IvfIndex.unit(v); val ct = bc.value(cell.toInt)
          var s2 = 0.0; var i = 0
          while (i < u.length) { val dv = u(i).toDouble - ct(i); s2 += dv * dv; i += 1 }
          (cell, math.sqrt(s2))
        }.toDF("cell", "d").groupBy("cell").agg(max("d").as("r"))
        .as[(Long, Double)].collect().toMap
    }
    val kept = Similarity.candidateCellPairs(idx2.centroids, radii, t).length
    val all = 8 * 9 / 2
    assert(kept < all / 2,
      s"expected meaningful cell-pair pruning on clustered data: kept $kept of $all")
    cells.unpersist()
    ()
  }
}
