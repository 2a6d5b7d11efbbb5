package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** Focused pins for the r22 optimization round's operator-internal
  * changes: the dedup-family session artifacts (signature tables, the
  * LSH pair set, the substr scrub table, the per-K decontam tables) must
  * serve EXACTLY what the inline per-query passes computed. */
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
}
