package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.TextFns

/** Persistable Bloom sketch over a Long column — the compact, shippable
  * summary behind sketch-side decontamination (q82 batch tier;
  * [[graft.streaming.Incremental.continuousDecontam]] streaming tier).
  *
  * Build is DISTRIBUTED (`stat.bloomFilter` merges per-partition sketches —
  * raw values never collect to the driver); the result is a fixed-size bit
  * array (64 KB at 65k items / 1% fpp) that broadcasts to any number of
  * executors and persists as a 1-row binary parquet — no engine-private
  * format, any Spark session can load and probe it. No false negatives
  * ever; false-positive rate is the build-time `fpp`. */
object BloomSketch {

  /** Build over `df.col(column)` (LongType). */
  // fpp priced by q224 (sizing sweep: measured FP scrub rate tracks
  // (1−e^(−k/bpk))^k; fpp 1 % ⇒ ~9.6 bits/key, between the (8,6)/(16,11) rows)
  def build(df: DataFrame, column: String,
      expectedItems: Long = 1L << 16, fpp: Double = 0.01): BloomFilter =
    df.stat.bloomFilter(column, expectedItems, fpp)

  /** The sketch of an eval set's distinct 5-gram hashes (q82's gram kernel). */
  def ofEvalGrams(evalDocs: DataFrame): BloomFilter =
    build(evalDocs
      .select(explode(TextFns.distinctGramHashes(col("text"), 5)).as("gh"))
      .distinct(), "gh")

  /** The Bloom drop predicate over a row's `text`: the sketch admits one
    * of its distinct 5-gram hashes. One UDF over the per-doc hash array
    * (no explode, no shuffle). The caller broadcasts the sketch and owns
    * that broadcast: it destroys it when its run ends (a pipeline through
    * [[Caching.Barriers.broadcast]]), so a long-lived session does not
    * keep one sketch per run. */
  def contaminated(sketch: Broadcast[BloomFilter]): Column = {
    val hit = udf { (ghs: Seq[Long]) =>
      ghs != null && ghs.exists(sketch.value.mightContainLong)
    }
    hit(TextFns.distinctGramHashes(col("text"), 5))
  }

  /** Persist as `dir` (1-row parquet, binary column `sketch`). */
  def save(spark: SparkSession, sketch: BloomFilter, dir: String): Unit = {
    import spark.implicits._
    val bos = new java.io.ByteArrayOutputStream()
    sketch.writeTo(bos)
    Seq(bos.toByteArray).toDF("sketch").coalesce(1)
      .write.mode("overwrite").parquet(dir)
  }

  def load(spark: SparkSession, dir: String): BloomFilter = {
    val bytes = spark.read.parquet(dir).head().getAs[Array[Byte]]("sketch")
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  }
}
