package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Dev utility (r21): isolate the per-pass cost of the shared text
  * kernels the heavy query families sit on (LM folds, shingle/minhash),
  * so optimization targets the measured component, not folklore.
  * Run: sbt "runMain graft.tools.MicroBench /root/testdata/sf0.1 32"
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(1).getOrElse("32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(name: String, reps: Int = 3)(f: => Unit): Unit = {
      f // warm
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"[micro] $name%-46s min=${ts.min}%7.3f med=${ts.sorted.apply(reps / 2)}%7.3f")
    }

    time("scan only")(noop(docs))
    time("normText")(noop(docs.select(col("doc_id"), TextFns.normText(col("text")).as("t"))))
    time("tokens (split)")(noop(docs.select(col("doc_id"), TextFns.tokens(col("text")).as("t"))))
    time("tokens exploded count")(noop(docs.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("w")).groupBy("w").count()))
    time("bigram zip_with explode only")(noop(docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1)," +
          " (a, b) -> struct(a, b))")).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))))
    time("bigramRowsOf (per-row bigram_counts)")(noop(graft.ops.Scoring.bigramRowsOf(docs)))
    time("bigramFoldOf (bigram_counts+groupBy)")(noop(graft.ops.Scoring.bigramFoldOf(docs)))
    // the rule gate's predicate as a filter, at q97's calibration and at
    // the pipeline's word-count floor (one kernel call per row either way)
    time("ruleGateKeep filter (q97 gate)")(noop(docs.filter(graft.ops.TextOps.ruleGateKeep())))
    time("ruleGateKeep filter (pipeline gate)")(noop(
      docs.filter(graft.ops.TextOps.ruleGateKeep(graft.pipelines.TrainingData.DefaultGate))))
    time("trigramFoldOf")(noop(graft.ops.Scoring.trigramFoldOf(docs)))
    time("shingleHashes")(noop(docs.select(col("doc_id"),
      graft.ops.Dedup.shingleHashes(TextFns.normText(col("text"))).as("hs"))))
    time("shingle+sig+bands (bandRowsOf)")(noop(graft.ops.Dedup.bandRowsOf(docs)))
    // q25 parse variants: full-map from_json vs key-only json_object_keys
    val ev = Tables.events(spark, d)
    import org.apache.spark.sql.types.{MapType, StringType}
    time("q25 from_json map_keys")(noop(ev
      .withColumn("detected", exists(map_keys(
        from_json(col("props"), MapType(StringType, StringType))),
        k => k.startsWith("k")))
      .groupBy(col("detected")).agg(count(lit(1)).as("n"))))
    time("q25 json_object_keys")(noop(ev
      .withColumn("detected", exists(json_object_keys(col("props")),
        k => k.startsWith("k")))
      .groupBy(col("detected")).agg(count(lit(1)).as("n"))))
    // parity probe: any row where the two predicates disagree?
    val diff = ev.withColumn("a", exists(map_keys(
        from_json(col("props"), MapType(StringType, StringType))),
        k => k.startsWith("k")))
      .withColumn("b", exists(json_object_keys(col("props")), k => k.startsWith("k")))
      .filter(!(col("a") <=> col("b"))).count()
    println(s"[micro] q25 predicate disagreements: $diff")
    spark.stop()
  }
}
