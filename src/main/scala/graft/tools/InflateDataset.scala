package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev utility (r21 verdict #7/#9): materialize an INFLATED copy of a
  * testdata dir so the bench/profiler can read scaling ratios and
  * shuffle/spill numbers at a size where sf0.1 stops being
  * fixed-overhead-bound. `documents` is replaced by `mult` disjoint
  * copies (doc_ids offset by [[CopyStride]] per copy, per-copy word
  * prefixes so per-copy candidate/vocabulary structure matches the base);
  * every other table is copied byte-for-byte, file- or directory-form.
  * NOT part of any query path — a measurement instrument only.
  *
  * Scaling curve over the registered queries: inflate, then profile each
  * ×N directory with [[ProfileQuery]]:
  * {{{
  * sbt "runMain graft.tools.InflateDataset /root/testdata/sf0.1 /tmp/sfx16 16"
  * sbt "runMain graft.tools.ProfileQuery /tmp/sfx16 8 q38_minhash_dedup"
  * }}}
  */
object InflateDataset {

  /** doc_id offset between copies: copy k holds base ids + k·CopyStride,
    * so copies stay disjoint only while every base id is below it. */
  private[graft] val CopyStride = 10_000_000L

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: InflateDataset <baseDir> <outDir> <mult>")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    inflate(spark, args(0), args(1), args(2).toInt)
    println(s"[inflate] wrote ${args(1)} (documents x${args(2)})")
    spark.stop()
  }

  def inflate(spark: SparkSession, base: String, out: String, mult: Int): Unit = {
    val docs = graft.Tables.documents(spark, base)
    val maxId = docs.agg(max(col("doc_id").cast("long"))).head()
    require(maxId.isNullAt(0) || maxId.getLong(0) < CopyStride,
      s"base max(doc_id)=${maxId.get(0)} reaches the copy stride $CopyStride; " +
        "offset copies would collide")
    new java.io.File(out).mkdirs()
    val cols = docs.columns
    val scaled = (0 until mult).map { k =>
      docs.select(cols.map {
        case "doc_id" => (col("doc_id") + lit(k * CopyStride)).as("doc_id")
        case "text"   => regexp_replace(col("text"), "(\\w+)", s"c${k}_$$1").as("text")
        case c        => col(c)
      }: _*)
    }.reduce(_ unionByName _)
    scaled.write.mode("overwrite").parquet(s"$out/documents.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings")) {
      val src = Paths.get(s"$base/$t.parquet")
      if (Files.exists(src)) copyTree(src, Paths.get(s"$out/$t.parquet"))
    }
  }

  /** Copy a file, or a directory with everything under it. */
  private def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
}
