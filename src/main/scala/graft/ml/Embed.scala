package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The sentence-embedding SEAM (SURVEY M1; reference
  * /root/reference/code/embeddings.py:60,113-123 — SentenceTransformer
  * all-MiniLM-L6-v2, batched encode, L2-normalized float32 output).
  *
  * An implementation maps a BATCH of texts to unit-norm float vectors of
  * a fixed `dim`. The contract every implementation must satisfy (pinned
  * by MlSpec's embedder-contract cases, which any new implementation
  * should be run through):
  *   - output length == `dim` for every input;
  *   - L2 norm == 1 for non-degenerate text, 0 (never NaN) otherwise;
  *   - determinism: same text → same vector;
  *   - batch-size invariance: a text's vector does not depend on which
  *     batch it arrived in.
  *
  * Implementations are Serializable CONFIGURATION (a model path, a dim) —
  * heavyweight runtime state (an ONNX session, tokenizer tables) must be
  * created lazily on the executor, not captured in the closure.
  */
trait Embedder extends Serializable {
  def dim: Int
  def encodeBatch(texts: Seq[String]): Seq[Array[Float]]
}

/** The certified default: token feature-hashing into `dim` buckets with a
  * sign hash, then L2 normalization — the classic hashing-trick
  * embedding. Deterministic and dependency-free, so it is the offline
  * stand-in for the reference's transformer encode; q49 and every
  * embedding artifact are certified against it. */
case object HashingEmbedder extends Embedder {
  val dim = 64
  def encodeBatch(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
    val v = new Array[Float](dim)
    val toks = Option(t).getOrElse("").toLowerCase.split("\\s+").filter(_.nonEmpty)
    toks.foreach { tok =>
      val h = scala.util.hashing.MurmurHash3.stringHash(tok, 0x9747b28c)
      val idx = math.floorMod(h, dim)
      val sign = if (math.floorMod(h >> 16, 2) == 0) 1.0f else -1.0f
      v(idx) += sign
    }
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n > 0) v.map(x => (x / n).toFloat) else v
  }
}

/** The transformer plug — CONFIGURATION ONLY in this environment (no
  * model weights offline, the one environment-blocked M1 leg). A real
  * deployment points `graft.embedder` at an exported all-MiniLM-L6-v2
  * ONNX file; the execution shape is already decided by [[Embed.embed]]
  * (per-partition batching, load-once-per-partition), so plugging the
  * model is configuration, not surgery:
  *
  *   - lazily open one `OrtSession` per executor (lazy val below — the
  *     class ships only the PATH across the wire);
  *   - tokenize the batch (the matching wordpiece vocab rides next to
  *     the .onnx file), run the session, mean-pool, L2-normalize —
  *     exactly the reference's encode loop (embeddings.py:113-123);
  *   - dim 384 for MiniLM-L6; the contract spec is dim-parametric.
  *
  * Until weights exist here, encode fails loudly naming the block rather
  * than silently degrading to the hashing tier (choosing the stand-in is
  * an explicit config decision, never a fallback). */
final class OnnxEmbedder(modelPath: String, val dim: Int = 384)
    extends Embedder {
  def encodeBatch(texts: Seq[String]): Seq[Array[Float]] =
    throw new UnsupportedOperationException(
      s"OnnxEmbedder($modelPath): no ONNX runtime/weights in this " +
        "environment (SURVEY M1, environment-blocked); set " +
        "graft.embedder=hashing for the certified deterministic tier")
}

/** The M1 operator over a pluggable [[Embedder]].
  *
  * Scale: mapPartitions is narrow — no shuffle; batch size bounds peak
  * memory exactly like the reference's adaptive batching
  * (embeddings.py:47-56); model state loads once per partition, not per
  * row. The embedder is selected by the `graft.embedder` session config
  * ("hashing", the certified default, or "onnx:<path>"), so swapping the
  * transformer in is configuration, not surgery (r15 verdict #3).
  */
object Embed {

  /** Dimension of the DEFAULT embedder — the certified artifact shape. */
  val Dim = HashingEmbedder.dim

  /** Resolve the session's embedder from the `graft.embedder` config. */
  def fromConf(spark: SparkSession): Embedder =
    spark.conf.getOption("graft.embedder").getOrElse("hashing") match {
      case "hashing" => HashingEmbedder
      case s if s.startsWith("onnx:") => new OnnxEmbedder(s.stripPrefix("onnx:"))
      case other => throw new IllegalArgumentException(
        s"graft.embedder=$other — expected 'hashing' or 'onnx:<path>'")
    }

  /** The default encoder, kept as a stable entry point for the scorer
    * paths that embed a handful of query strings driver-side. */
  def encodeBatch(texts: Seq[String]): Seq[Array[Float]] =
    HashingEmbedder.encodeBatch(texts)

  /** The M1 operator: batched per-partition embedding. */
  def embed(ds: Dataset[(Long, String)], batchSize: Int = 256,
      embedder: Option[Embedder] = None): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    val e = embedder.getOrElse(fromConf(spark))
    ds.mapPartitions { it =>
      // heavyweight model state (an ONNX session) instantiates lazily
      // HERE, once per partition — `e` carries only configuration
      it.grouped(batchSize).flatMap { batch =>
        val vecs = e.encodeBatch(batch.map(_._2))
        batch.map(_._1).zip(vecs)
      }
    }.toDF("doc_id", "embedding")
  }

  /** Convenience: embed the documents table. The table feeds q49 AND the
    * topic pipeline, so it is computed ONCE per (session, dataset) and
    * PERSISTED AS PARQUET (the reference's memmap'd embedding matrix,
    * embeddings.py:82-87, and the same artifact contract as the q45 IVF /
    * q93 inverted index); every consumer serves from the scan. A pinned
    * `.cache()` here would hold a corpus-sized block set for the session's
    * life — at 100 TB the parquet artifact is the right shape (prunes
    * columns, evicts for free, survives executor loss). */
  def embedDocuments(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SessionArtifacts.table("embed", spark, dir) {
      import spark.implicits._
      embed(graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)])
    }
}
