package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternal
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Caching's stage barrier: the frame it hands on is one leaf over the
  * cached rows (same schema, same row multiset, no recompute of the
  * lineage), and one release unpersists every barrier it took. */
class CachingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._
  import SparkTestSession.cachedRdds

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  test("barrier returns its count and a single-leaf frame of the same rows") {
    // duplicate rows, a null and a shuffle above the barrier
    val input = Seq((1L, "a"), (1L, "a"), (2L, null), (3L, "c"), (3L, "c"))
      .toDF("id", "s")
      .repartition(3, col("id"))
      .withColumn("len", length(col("s")))
    val barrier = new Caching.Barriers
    try {
      val (n, leaf) = barrier(input)
      assert(GraftInternal.logicalPlan(leaf).children.isEmpty,
        GraftInternal.logicalPlan(leaf).treeString)
      assert(leaf.schema == input.schema)
      assert(n == 5L && leaf.count() == n)
      assert(multiset(leaf) == multiset(input))
    } finally barrier.release()
  }

  test("the barrier's leaf reads the cached rows, not the lineage above them") {
    val calls = spark.sparkContext.longAccumulator("barrier-calls")
    val twice = udf { (x: Long) => calls.add(1); x * 2 }
    val barrier = new Caching.Barriers
    try {
      val (n, leaf) = barrier(spark.range(0, 50, 1, 4).select(twice(col("id")).as("y")))
      val afterCount = calls.value
      assert(n == 50L && afterCount >= 50L)
      assert(leaf.agg(sum(col("y"))).head.getLong(0) == 2L * (0L until 50L).sum)
      assert(leaf.filter(col("y") > 10).count() == 44L)
      assert(calls.value == afterCount, "a leaf action re-ran the cached stage's lineage")
    } finally barrier.release()
  }

  test("release unpersists every barrier taken, and only those") {
    val before = cachedRdds
    val barrier = new Caching.Barriers
    try {
      val (_, first) = barrier(spark.range(0, 100, 1, 4).toDF("id"))
      val (n2, second) = barrier(first.filter(col("id") % 3 === 0))
      assert(n2 == 34L && second.count() == 34L)
      assert((cachedRdds -- before).size == 2, "each barrier caches one RDD")
    } finally barrier.release()
    assert(cachedRdds == before)
  }
}
