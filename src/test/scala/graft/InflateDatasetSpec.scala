package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.InflateDataset

/** InflateDataset is the scaling instrument: a ×N directory must carry
  * every base table (directory-form ones included, not as empty dirs) and
  * must refuse a base whose doc_ids would collide across offset copies. */
class InflateDatasetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private def baseDir(maxDocId: Long): String = {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-inflate-base").toString
    Seq((1L, "alpha beta", "en", "s1", 10L), (maxDocId, "gamma delta", "en", "s2", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    // directory-form table: Spark writes part files under region.parquet/
    Seq((0L, "AFRICA"), (1L, "AMERICA"), (2L, "ASIA"))
      .toDF("r_regionkey", "r_name").repartition(2)
      .write.parquet(s"$base/region.parquet")
    base
  }

  test("x3 inflation copies directory-form tables and offsets doc_ids") {
    val base = baseDir(maxDocId = 2L)
    val out = Files.createTempDirectory("graft-inflate-out").toString
    InflateDataset.inflate(spark, base, out, 3)
    assert(spark.read.parquet(s"$out/region.parquet").count() == 3)
    val ids = spark.read.parquet(s"$out/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val stride = InflateDataset.CopyStride
    assert(ids == (0L until 3L).flatMap(k => Seq(1L, 2L).map(_ + k * stride)))
  }

  test("a base doc_id at the copy stride is refused before anything is written") {
    val base = baseDir(maxDocId = InflateDataset.CopyStride)
    val out = Files.createTempDirectory("graft-inflate-out").toString
    val e = intercept[IllegalArgumentException] {
      InflateDataset.inflate(spark, base, out, 2)
    }
    assert(e.getMessage.contains("copy stride"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/documents.parquet")))
  }
}
